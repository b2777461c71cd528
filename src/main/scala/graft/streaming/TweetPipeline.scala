package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
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
  *   - Structured Streaming's stateful agg is incremental — the reference
  *     re-reduces ~90 batch RDDs per 10 s slide (2-arg
  *     reduceByKeyAndWindow, no inverse, SparkApplication.scala:88);
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

  /** Streaming form of the leaderboard state: one row per (pane, key),
    * where a pane is a non-overlapping event-time slice one slide long
    * ("No Pane, No Gain", Li et al., SIGMOD Record 2005). Each hashtag
    * updates exactly one row instead of one per overlapping sliding
    * window, and the trailing window is a sum of whole panes. The key is
    * a plain timestamp, not a window struct, so a checkpoint of
    * sliding-window state fails the state-schema check instead of being
    * read back as panes. It carries no watermark metadata, so no row is
    * dropped as late: an event behind the watermark still counts, as it
    * did in the trailing sliding window, whose end is always past the
    * watermark.
    */
  private def paneCounts(tweets: DataFrame): DataFrame = {
    val micros = unix_micros(col("ts"))
    extractHashtags(tweets)
      .withWatermark("ts", "1 minute")
      .groupBy(timestamp_micros(micros - pmod(micros, lit(SlideMs * 1000L))).as("pane"),
        lower(col("tag")).as("key"))
      .agg(min(col("tag")).as("hashtag"), count(lit(1)).as("count"))
  }

  /** A row of the sink batch: pane start (epoch ms), key, display tag, count. */
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
    * The query runs in complete mode: every trigger hands the whole
    * [[paneCounts]] state to the sink. Complete mode never evicts state,
    * so the state grows with the event-time span the query has seen: one
    * row per (pane, tag) seen, where sliding windows kept one per
    * (window, tag), 90 times as many. A checkpoint written before panes
    * (sliding-window state) cannot be resumed.
    *
    * Each trigger is one Spark job. The source is coalesced to the core
    * count, so a trigger whose source holds many small blocks runs at
    * most one input task per core. The sink runs the stateful stage once
    * and keeps, per partition, only the trailing window of that
    * partition's newest pane; the driver ranks what is left ([[top5]]).
    * A partition's newest pane is never later than the batch's newest
    * pane P, so its trailing window starts no later than P's, and the
    * rows it keeps include every row of P's trailing window.
    *
    * Observability always on (VERDICT r7 item 8): every run attaches
    * [[StreamHealth.listener]] scoped to THIS query, appending one JSONL
    * progress line per micro-batch next to the result document — so
    * watermark drops and state size are visible in the reference-parity
    * pipeline, not only in the monitor-frame API. The log is
    * `<resultPath>.health.jsonl`, so it follows the result document's
    * path. The listener removes itself when the query terminates.
    */
  def run(spark: SparkSession, tweets: DataFrame, resultPath: String,
          triggerInterval: String = "10 seconds",
          checkpointDir: Option[String] = None): StreamingQuery = {
    // Unique name so the health listener can scope to this query's
    // progress events before the query starts (ids only exist after).
    val queryName = s"tweet-pipeline-${java.util.UUID.randomUUID().toString.take(8)}"
    val writer = paneCounts(tweets.coalesce(spark.sparkContext.defaultParallelism))
      .writeStream
      .queryName(queryName)
      .outputMode("complete")
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
    // ADVICE r8: if start() throws (bad checkpoint, sink error) the scoped
    // listener would never see a termination for its query and would stay
    // on spark.streams for the session's lifetime — repeated run() calls
    // would accumulate leaked listeners. Remove it on the failure path and
    // rethrow; a successful start hands cleanup to onQueryTerminated.
    try writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch
          .select(unix_millis(col("pane")).as("pane"), col("key"), col("hashtag"), col("count"))
          .as(Encoders.product[PaneCount]).rdd
        val parts = spark.sparkContext.runJob(rows, (it: Iterator[PaneCount]) => trailing(it).toArray)
        if (parts.exists(_.nonEmpty)) AnalyticSink.write(resultPath, top5(parts.toSeq.map(_.iterator)))
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
