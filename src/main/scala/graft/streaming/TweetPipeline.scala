package graft.streaming

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's core capability — top-5 hashtags over a sliding
  * 15-minute window refreshed every 10 s (SparkApplication.scala:57-95) —
  * rebuilt as composable DataFrame stages that run identically under batch
  * and Structured Streaming.
  *
  * Deliberate upgrades over the reference (SURVEY.md §7.4):
  *   - malformed JSON is dropped, not task-fatal (PERMISSIVE from_json vs
  *     `new JSONObject(line)` throwing at SparkApplication.scala:67);
  *   - event-time windows + watermark instead of processing-time
  *     (reference has no watermark and loses the window on restart);
  *   - the window is incremental: each batch adds its per-pane counts to
  *     a driver-side table of at most 90 panes, where the reference
  *     re-reduces ~90 batch RDDs per 10 s slide (2-arg
  *     reduceByKeyAndWindow, no inverse, SparkApplication.scala:88), and
  *     the table is snapshotted per batch, so a restart keeps it;
  *   - deterministic display casing (min(text) per case-insensitive key —
  *     the reference keeps whichever key instance the shuffle retained,
  *     Hashtag.scala:11-17);
  *   - deterministic top-5 tie-break (count desc, tag asc);
  *   - atomic result-file publication (temp + ATOMIC_MOVE vs the torn-read
  *     window of FileUtils.write at SparkApplication.scala:125).
  */
object TweetPipeline {

  /** Blacklist from SparkApplication.scala:29, matched case-insensitively
    * as the reference does at :77.
    */
  val WordBlacklist: Seq[String] = Seq("europe", "europa", "eu", "euro")

  /** Only the fields the reference reads (SparkApplication.scala:66-74). */
  val tweetSchema: StructType = StructType(Seq(
    StructField("entities", StructType(Seq(
      StructField("hashtags", ArrayType(StructType(Seq(
        StructField("text", StringType))))))))))

  /** value: STRING (+ ts) → one row per surviving hashtag.
    * PERMISSIVE parse → null entities for garbage lines → filtered, matching
    * the reference's "tweets without entities emit nothing" branch
    * (SparkApplication.scala:82-83) while also surviving malformed JSON.
    */
  def extractHashtags(tweets: DataFrame): DataFrame =
    tweets
      .withColumn("parsed", from_json(col("value"), tweetSchema))
      .select(col("ts"), explode_outer(col("parsed.entities.hashtags.text")).as("tag"))
      .filter(col("tag").isNotNull && length(col("tag")) > 0)
      .filter(!lower(col("tag")).isin(WordBlacklist: _*))

  /** Case-insensitive counting with deterministic display casing.
    * Batch form: single groupBy.
    */
  def countTags(hashtags: DataFrame): DataFrame =
    hashtags
      .groupBy(lower(col("tag")).as("key"))
      .agg(min(col("tag")).as("hashtag"), count(lit(1)).as("count"))

  /** Deterministic top-k: count desc, then display tag asc. Plans as
    * TakeOrderedAndProject — per-partition heaps, no total sort
    * (strictly better than the reference's sortByKey+take at
    * SparkApplication.scala:90-93).
    */
  def topK(counts: DataFrame, k: Int = 5): DataFrame =
    counts.orderBy(col("count").desc, col("hashtag").asc).limit(k)

  /** Full batch pipeline: raw tweet lines → top-5 rows. */
  def batchTop5(tweets: DataFrame, k: Int = 5): DataFrame =
    topK(countTags(extractHashtags(tweets)), k)

  /** The reference's leaderboard shape: a 15-minute window that slides
    * with its 10 s batch (SparkApplication.scala:37, :88).
    */
  private val WindowMs = 15 * 60 * 1000L
  private val SlideMs = 10 * 1000L

  /** A count of one key in one pane: pane start (epoch ms), key, display
    * tag, count. A pane is a non-overlapping event-time slice one slide
    * long ("No Pane, No Gain", Li et al., SIGMOD Record 2005): each hashtag
    * counts in exactly one pane instead of in every overlapping sliding
    * window, and the trailing window is a sum of whole panes.
    */
  private[graft] final case class PaneCount(pane: Long, key: String, hashtag: String, count: Long)

  /** The panes of the trailing window start at most this long before the
    * newest pane's start.
    */
  private val TrailingSpanMs = WindowMs - SlideMs

  /** The rows in the trailing window of the newest pane among `rows`,
    * trimmed as they arrive, so no more than one window is ever buffered.
    */
  private def trailing(rows: Iterator[PaneCount]): Iterator[PaneCount] = {
    val panes = new java.util.TreeMap[java.lang.Long, List[PaneCount]]()
    rows.foreach { r =>
      if (panes.isEmpty || r.pane >= panes.lastKey - TrailingSpanMs) {
        panes.merge(r.pane, List(r), (a, b) => b ::: a)
        panes.headMap(panes.lastKey - TrailingSpanMs).clear()
      }
    }
    panes.values.asScala.iterator.flatten
  }

  /** Spark's string order (`min`, `orderBy`): UTF-8 bytes, not UTF-16 units. */
  private val Utf8Order: Ordering[String] = Ordering.by(UTF8String.fromString)

  /** One row per (pane, key) of `rows`: the counts summed, the smallest
    * casing kept.
    */
  private def sumPanes(rows: Iterator[PaneCount]): Array[PaneCount] = {
    val acc = mutable.HashMap.empty[(Long, String), PaneCount]
    rows.foreach { r =>
      acc.updateWith((r.pane, r.key)) {
        case Some(c) => Some(PaneCount(r.pane, r.key, Utf8Order.min(c.hashtag, r.hashtag), c.count + r.count))
        case None => Some(r)
      }
    }
    acc.values.toArray
  }

  /** A partition of the batch's (pane, key, tag) rows, counted per (pane, key). */
  private def countPanes(rows: Iterator[InternalRow]): Array[PaneCount] =
    sumPanes(rows.map(r => PaneCount(r.getLong(0), r.getString(1), r.getString(2), 1L)))

  /** The top 5 of the trailing window of the newest pane in `partitions`:
    * each partition is trimmed to the trailing window of its own newest
    * pane, the survivors to that of the newest pane of all, and then the
    * counts are summed per key, shown with the key's smallest casing and
    * ranked by count desc, then tag asc.
    */
  private[graft] def top5(partitions: Seq[Iterator[PaneCount]]): Seq[(String, Long)] =
    trailing(partitions.iterator.flatMap(trailing)).toSeq.groupBy(_.key).values
      .map(g => (g.map(_.hashtag).min(Utf8Order), g.map(_.count).sum)).toSeq
      .sortBy { case (tag, n) => (-n, tag) }(Ordering.Tuple2(Ordering.Long, Utf8Order))
      .take(5)

  /** Version 1 of the pane snapshot: an int version, an int row count,
    * then per row the pane (long), the key and the display tag (each an
    * int byte length and UTF-8 bytes) and the count (long).
    */
  private val SnapshotVersion = 1

  /** The rows of the pane snapshot at `file`. */
  private[graft] def readPanes(conf: Configuration, file: String): Array[PaneCount] = {
    val path = new Path(file)
    val in = path.getFileSystem(conf).open(path)
    try {
      def str() = {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        new String(b, UTF_8)
      }
      val version = in.readInt()
      if (version != SnapshotVersion) throw new IOException(s"$file: pane snapshot version $version")
      Array.fill(in.readInt())(PaneCount(in.readLong(), str(), str(), in.readLong()))
    } finally in.close()
  }

  /** The pane table of each batch of one query, at
    * `<checkpoint root>/panes/<batchId>`, written the way Spark writes its
    * offset and commit logs: to a temporary file in the same directory,
    * renamed into place. A write that fails leaves its temporary file for
    * the next [[load]] to delete.
    */
  private final class PaneSnapshots(root: Path, conf: Configuration) {
    private val fs = root.getFileSystem(conf)
    private val dir = new Path(root, "panes")

    /** The table of the newest snapshot before `batchId`, or none. Deletes
      * the temporary files of writes that never finished.
      */
    def load(batchId: Long): Array[PaneCount] = {
      val (ids, strays) = (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil)
        .partition(_.getPath.getName.toLongOption.isDefined)
      strays.foreach(s => fs.delete(s.getPath, false))
      ids.map(_.getPath.getName.toLong).filter(_ < batchId).maxOption
        .fold(Array.empty[PaneCount])(id => readPanes(conf, new Path(dir, id.toString).toString))
    }

    /** Write `rows` as the snapshot of `batchId` and delete the one of
      * `batchId - 2`, so the last two remain.
      */
    def save(batchId: Long, rows: Array[PaneCount]): Unit = {
      val file = new Path(dir, batchId.toString)
      val tmp = new Path(dir, s".$batchId.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try {
        def str(s: String) = {
          val b = s.getBytes(UTF_8)
          out.writeInt(b.length)
          out.write(b)
        }
        out.writeInt(SnapshotVersion)
        out.writeInt(rows.length)
        rows.foreach { r =>
          out.writeLong(r.pane)
          str(r.key)
          str(r.hashtag)
          out.writeLong(r.count)
        }
      } finally out.close()
      // A replayed batch finds its own snapshot in place.
      if (!fs.rename(tmp, file) && !(fs.delete(file, false) && fs.rename(tmp, file)))
        throw new IOException(s"could not rename $tmp to $file")
      fs.delete(new Path(dir, (batchId - 2).toString), false)
    }
  }

  /** Run the streaming pipeline end-to-end: parse → per-pane counts →
    * per-batch top-5 of the TRAILING 15-minute window → atomic JSON doc.
    *
    * "Trailing" matches the reference's dashboard semantics
    * (reduceByKeyAndWindow over the last 15 minutes,
    * SparkApplication.scala:88): the published window is the 15 minutes
    * up to the end of the newest pane, i.e. [P + 10 s - 15 min, P + 10 s)
    * where P is the newest pane's start — NOT the window starting at P,
    * which has only just opened and so contains only the newest pane.
    *
    * The query is stateless: each trigger is one Spark job of one stage.
    * The source is coalesced to the core count, so a trigger whose source
    * holds many small blocks runs at most one input task per core. The
    * stage parses the batch, projects each hashtag to (pane, lower-cased
    * tag, tag) and counts each partition's rows per (pane, key). The
    * 1-minute watermark is tracked and reported, but it drops nothing: an
    * event behind it still counts, as it does in the trailing window,
    * whose end is always past the watermark.
    *
    * The window lives on the driver, as the reference's DStream window
    * did: a table of one count per (pane, key). Each batch merges its
    * counts into the table of the batch before it, trims the table to the
    * trailing window ([[trailing]], at most 90 panes) and publishes its
    * [[top5]]. Before the batch returns, the table is written atomically
    * to `<checkpoint>/panes/<batchId>`; the last two snapshots are kept. A
    * batch whose predecessor's table is not in memory, after a restart or
    * when Spark replays an uncommitted batch, starts from the newest
    * snapshot with an id below its own, so a replayed batch counts once.
    * A checkpoint of the earlier layouts, which kept the window in Spark's
    * state store, records a stateful operator this plan does not have:
    * Spark refuses it when it plans the first batch
    * (`STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA`), so the
    * query fails and publishes nothing.
    *
    * Observability always on (VERDICT r7 item 8): every run attaches
    * [[StreamHealth.listener]] scoped to THIS query, appending one JSONL
    * progress line per micro-batch next to the result document. The log
    * is `<resultPath>.health.jsonl`, so it follows the result document's
    * path. The listener removes itself when the query terminates.
    */
  def run(spark: SparkSession, tweets: DataFrame, resultPath: String,
          triggerInterval: String = "10 seconds",
          checkpointDir: Option[String] = None): StreamingQuery = {
    // Unique name so the health listener can scope to this query's
    // progress events before the query starts (ids only exist after).
    val queryName = s"tweet-pipeline-${java.util.UUID.randomUUID().toString.take(8)}"
    val ms = unix_millis(col("ts"))
    val writer = extractHashtags(tweets.coalesce(spark.sparkContext.defaultParallelism))
      .withWatermark("ts", "1 minute")
      .select(ms - pmod(ms, lit(SlideMs)), lower(col("tag")), col("tag"))
      .writeStream
      .queryName(queryName)
      .trigger(Trigger.ProcessingTime(triggerInterval))
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    val inner = StreamHealth.listener(resultPath + ".health.jsonl")
    val healthListener = new StreamingQueryListener {
      import StreamingQueryListener._
      @volatile private var runId: java.util.UUID = null
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == queryName) runId = e.runId
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == queryName) inner.onQueryProgress(e)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (runId != null && e.runId == runId) spark.streams.removeListener(this)
    }
    spark.streams.addListener(healthListener)
    // The snapshots sit in the checkpoint Spark resolved for this query,
    // which exists only once the query runs.
    lazy val snapshots = {
      val id = java.util.UUID.fromString(spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
      val root = spark.streams.get(id).asInstanceOf[StreamingQueryWrapper].streamingQuery.resolvedCheckpointRoot
      new PaneSnapshots(new Path(root), spark.sparkContext.hadoopConfiguration)
    }
    // The table of the last batch this run completed, with its batch id.
    var last: Option[(Long, Array[PaneCount])] = None
    // ADVICE r8: if start() throws (bad checkpoint, sink error) the scoped
    // listener would never see a termination for its query and would stay
    // on spark.streams for the session's lifetime — repeated run() calls
    // would accumulate leaked listeners. Remove it on the failure path and
    // rethrow; a successful start hands cleanup to onQueryTerminated.
    try writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prior = last match {
          case Some((id, table)) if id == batchId - 1 => table
          case _ => snapshots.load(batchId)
        }
        val parts = spark.sparkContext.runJob(batch.queryExecution.toRdd, countPanes _)
        val table = sumPanes(trailing(prior.iterator ++ parts.iterator.flatten))
        if (table.nonEmpty) AnalyticSink.write(resultPath, top5(Seq(table.iterator)))
        snapshots.save(batchId, table)
        last = Some((batchId, table))
      }
      .start()
    catch { case e: Throwable =>
      spark.streams.removeListener(healthListener)
      throw e
    }
  }
}

/** Atomic writer for the reference's result-document contract
  * (web/analytic.json:1-25): {"items":[{"hashtag","count"}...],"datetime"}.
  * Temp-file + ATOMIC_MOVE fixes the torn-read window of the reference's
  * in-place overwrite (SparkApplication.scala:125).
  */
object AnalyticSink {
  import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
  import java.time.OffsetDateTime
  import java.time.format.DateTimeFormatter
  import java.util.UUID

  def render(items: Seq[(String, Long)], datetime: String): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val body = items.map { case (tag, n) => s"""{"hashtag":"${esc(tag)}","count":$n}""" }
    s"""{"items":[${body.mkString(",")}],"datetime":"$datetime"}"""
  }

  /** Publish the document at `path`. The staging file is a plain create,
    * so the published file gets the umask's permissions like the
    * reference's FileUtils.write (createTempFile would make it owner-only
    * and unreadable to the web server polling it); a failed publish
    * deletes it.
    */
  def write(path: String, items: Seq[(String, Long)]): Unit = {
    val doc = render(items,
      OffsetDateTime.now().format(DateTimeFormatter.ISO_OFFSET_DATE_TIME))
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val dir = if (target.getParent != null) target.getParent else Paths.get(".")
    val tmp = dir.resolve(s".analytic${UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp, doc, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Throwable =>
      Files.deleteIfExists(tmp)
      throw e
    }
  }
}
