package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.streaming.{StatefulOps, TweetPipeline}
import graft.streaming.StatefulOps.Event

/** Streaming semantics via MemoryStream + processAllAvailable
  * (SURVEY.md §5 item 2): the tweet pipeline's pane state and its
  * trailing 15-minute top 5, incremental updates, stateful
  * sessionization, watermark-bounded dedup.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def tweetAt(time: String, tags: String*): (String, Timestamp) =
    (s"""{"entities":{"hashtags":[${tags.map(t => s"""{"text":"$t"}""").mkString(",")}]}}""",
      ts(time))

  test("windowed aggregation runs on the RocksDB state store (at-scale state backend)") {
    // HDFS-backed state lives on executor heaps — at 100 TB of keyed state
    // that's an OOM; RocksDB spills to local disk with incremental
    // checkpointing. Same query semantics, swapped provider. The query is
    // the trending tags' sliding-window aggregation, 15 minutes every 10 s.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val q = TweetPipeline.extractHashtags(in.toDF().toDF("value", "ts"))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "15 minutes", "10 seconds"), lower(col("tag")).as("key"))
      .agg(min(col("tag")).as("hashtag"), count(lit(1)).as("count"))
      .writeStream.format("memory").queryName("rocks_windows")
      .outputMode("complete")
      .option("checkpointLocation", tempDir("rocks_ckpt").toString)
      .start()
    try {
      in.addData(tweetAt("2024-01-01 00:01:00", "A", "B"))
      q.processAllAvailable()
      in.addData(tweetAt("2024-01-01 00:06:00", "A"))
      q.processAllAvailable()
      // The trailing window of the newest event: [23:51:10, 00:06:10).
      val trailing = spark.table("rocks_windows")
        .filter(col("window.end") === lit(ts("2024-01-01 00:06:10")))
        .orderBy(col("count").desc, col("hashtag"))
        .select("hashtag", "count").as[(String, Long)].collect().toSeq
      assert(trailing == Seq("A" -> 2L, "B" -> 1L))
      // The provider must actually be RocksDB, not a silent fallback.
      val usedRocks = q.lastProgress != null &&
        q.lastProgress.stateOperators.nonEmpty &&
        Option(q.lastProgress.stateOperators(0).customMetrics)
          .exists(m => !m.isEmpty && m.keySet.toString.toLowerCase.contains("rocksdb"))
      assert(usedRocks, s"RocksDB metrics absent: ${q.lastProgress}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  /** The rows of `run()`'s pane snapshot of batch `batchId` under `ckpt`. */
  private def snapshot(ckpt: String, batchId: Long): Seq[TweetPipeline.PaneCount] =
    TweetPipeline.readPanes(spark.sparkContext.hadoopConfiguration, s"$ckpt/panes/$batchId").toSeq

  test("run() keeps one state row per (10 s pane, lower-cased tag)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val path = tempDir("panes").resolve("analytic.json").toString
    val ckpt = tempDir("panes_ckpt").toString
    val q = TweetPipeline.run(spark, in.toDF().toDF("value", "ts"), path,
      triggerInterval = "0 seconds", checkpointDir = Some(ckpt))
    try {
      in.addData(tweetAt("2024-01-01 00:00:01", "A", "a", "B"),
        tweetAt("2024-01-01 00:00:12", "A"))
      q.processAllAvailable()
      in.addData(tweetAt("2024-01-01 00:00:15", "c"), tweetAt("2024-01-01 00:00:19", "a"))
      q.processAllAvailable()
      // (00:00:00, a), (00:00:00, b), (00:00:10, a), (00:00:10, c): 5 s
      // panes would hold 5 rows, and a sliding 15-minute window every 10 s
      // would hold each tag in 90 rows. The rows are the driver's, in the
      // batch's snapshot: Spark keeps no operator state.
      val last = q.recentProgress.filter(_.numInputRows > 0).last
      assert(last.batchId == 1L && last.stateOperators.isEmpty, last.json)
      val p0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      assert(snapshot(ckpt, 1).map(r => (r.pane - p0, r.key)).sorted ==
        Seq((0L, "a"), (0L, "b"), (10000L, "a"), (10000L, "c")))
      assert(publishedItems(path) == Seq("A" -> 4L, "B" -> 1L, "c" -> 1L))
    } finally q.stop()
  }

  test("StreamHealth surfaces watermark drops and state size; planted late events are counted") {
    // The watermark path drops late rows silently (VERDICT r6 item 5);
    // plant events BEHIND an advanced watermark and assert the monitor
    // frame reports exactly them, alongside non-trivial state gauges.
    implicit val ctx = spark.sqlContext
    val dir = tempDir("stream-health").toString
    val logPath = s"$dir/progress.jsonl"
    val hl = graft.streaming.StreamHealth.listener(logPath)
    spark.streams.addListener(hl)
    val in = MemoryStream[(String, Timestamp)]
    val counts = TweetPipeline.extractHashtags(in.toDF().toDF("value", "ts"))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "5 minutes"), lower(col("tag")).as("key"))
      .agg(count(lit(1)).as("count"))
    val q = counts.writeStream.format("memory").queryName("health_counts")
      .outputMode("append").start()
    try {
      in.addData(tweetAt("2024-01-01 00:01:00", "A"))
      q.processAllAvailable()
      // Advance the watermark to 00:09 (max event time 00:10 - 1 min).
      in.addData(tweetAt("2024-01-01 00:10:00", "B"))
      q.processAllAvailable()
      // Two tags arriving behind the watermark: both must be dropped by
      // the stateful operator AND counted — one tweet row explodes to two
      // tag rows, so the counter speaks post-explode row units.
      in.addData(tweetAt("2024-01-01 00:02:00", "late1", "late2"))
      q.processAllAvailable()
      assert(graft.streaming.StreamHealth.droppedByWatermark(q) == 2L,
        s"expected exactly the 2 planted late rows: ${q.recentProgress.toSeq.map(_.json)}")
      val f = graft.streaming.StreamHealth.frame(spark, q)
      val cols = f.columns.toSet
      assert(Set("batch_id", "input_rows", "watermark", "op",
        "dropped_by_watermark", "state_rows", "state_mem_bytes").subsetOf(cols), cols)
      val agg = f.filter(col("dropped_by_watermark").isNotNull)
      assert(agg.agg(sum("dropped_by_watermark")).first().getLong(0) == 2L)
      // State gauges are live: the open + closed windows hold rows, in
      // nonzero store memory.
      assert(agg.agg(max("state_rows")).first().getLong(0) >= 1L)
      assert(agg.agg(max("state_mem_bytes")).first().getLong(0) > 0L)
      // And none of the dropped rows made it into any window output.
      val out = spark.table("health_counts").select(col("key")).as[String].collect()
      assert(!out.exists(_.startsWith("late")), out.mkString(","))
      // Push surface: the JSONL log holds one line per progress event,
      // each a full engine-rendered progress document.
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(logPath))
      assert(lines.size() >= 3, s"expected >=3 progress lines, got ${lines.size()}")
      assert(lines.toArray.mkString.contains("numRowsDroppedByWatermark"))
    } finally {
      q.stop()
      spark.streams.removeListener(hl)
    }
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val out = StatefulOps.sessionize(in.toDS(), gapSeconds = 600)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      in.addData(
        Event(1L, ts("2024-01-01 00:00:00"), 1.0),
        Event(1L, ts("2024-01-01 00:05:00"), 2.0))
      q.processAllAvailable()
      // A >10-min gap: the first session closes inline when the next batch's
      // events arrive past the gap.
      in.addData(Event(1L, ts("2024-01-01 01:00:00"), 5.0))
      q.processAllAvailable()
      in.addData(Event(2L, ts("2024-01-01 02:00:00"), 0.0)) // advance watermark
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[StatefulOps.SessionOut].collect()
        .filter(_.userId == 1L).sortBy(_.startMs)
      assert(sessions.length >= 1)
      assert(sessions.head.nEvents == 2 && sessions.head.total == 3.0)
      assert(sessions.head.endMs - sessions.head.startMs == 5 * 60 * 1000)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes same-key re-deliveries") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val out = StatefulOps.dedupWithinWatermark(in.toDS(), watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      val e = Event(7L, ts("2024-01-01 00:00:00"), 1.0)
      in.addData(e, e) // duplicate within one batch
      q.processAllAvailable()
      in.addData(e) // re-delivery in a later batch, still inside watermark
      q.processAllAvailable()
      assert(spark.table("deduped").count() == 1)
    } finally q.stop()
  }

  test("streaming near-dup sketch flags a planted pair across micro-batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StatefulOps.DocEvent]
    val out = StatefulOps.nearDupCandidates(in.toDS())
    val q = out.writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    try {
      val dup = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill"
      val other = "completely different content about distributed state stores and incremental checkpointing"
      in.addData(StatefulOps.DocEvent(1L, dup), StatefulOps.DocEvent(3L, other))
      q.processAllAvailable()
      // The near-dup arrives in a LATER micro-batch: identical text means
      // identical signature, so every band bucket already holds doc 1.
      in.addData(StatefulOps.DocEvent(2L, dup))
      q.processAllAvailable()
      val pairs = spark.table("neardup").select("id1", "id2").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)), s"planted pair missing: $pairs")
      // The dissimilar doc must not collide with anything: band equality
      // needs 4 identical signature slots (~(1/P)^4 for unrelated text).
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs.toString)
    } finally q.stop()
  }

  test("heavy-hitters monitor: stream report ⊇ exact heavy set, overestimates only, exactly-once replay") {
    implicit val ctx = spark.sqlContext
    val root = tempDir("hh-monitor").toString
    val ckpt = tempDir("hh-ckpt").toString
    val in = MemoryStream[String]
    val q = graft.streaming.HeavyHitters.monitor(
      in.toDF().toDF("tok"), root, ckpt, ratio = 10, k = 10)
    try {
      // 'hot' is heavy overall but appears ONLY in the first two batches —
      // the candidate-retention property (a true heavy hitter, once a
      // candidate, is never evicted by the rising threshold) is what keeps
      // it in the final report.
      in.addData(Seq.fill(30)("hot") ++ (1 to 10).map(i => s"a$i"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(10)("hot") ++ (11 to 20).map(i => s"a$i"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(25)("warm") ++ (21 to 35).map(i => s"a$i"): _*)
      q.processAllAvailable()
      val batches = new java.io.File(s"$root/report").listFiles()
        .map(_.getName).filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).sorted
      assert(batches.length == 3, batches.mkString(","))
      val last = batches.max
      val report = spark.read.parquet(s"$root/report/batch_id=$last")
        .as[(String, Long)].collect().toMap
      // Exact heavy set over the full stream: hot 40/100, warm 25/100 at
      // ratio 10 (threshold 10); every a_i is 1.
      assert(report.contains("hot") && report.contains("warm"), report.toString)
      assert(report.keySet.intersect((1 to 35).map(i => s"a$i").toSet).isEmpty,
        s"light token leaked into the report: $report")
      // CM never underestimates.
      assert(report("hot") >= 40L && report("warm") >= 25L, report.toString)
      // Exactly-once: replaying the LAST batch through the exposed step
      // must leave the report byte-identical (reads only < batchId state).
      val before = spark.read.parquet(s"$root/report/batch_id=$last")
        .collect().map(_.toSeq).toSet
      val replayToks = (Seq.fill(25)("warm") ++ (21 to 35).map(i => s"a$i")).toDF("tok")
      graft.streaming.HeavyHitters.processBatch(replayToks, root, last, ratio = 10, k = 10)
      val after = spark.read.parquet(s"$root/report/batch_id=$last")
        .collect().map(_.toSeq).toSet
      assert(before == after, "replay changed the published report")
      // State retention: cells/cand keep only {last-1, last} (pruned —
      // a long-lived monitor must not grow one state dir per batch);
      // report keeps the full consumable log.
      def stateIds(sub: String) = new java.io.File(s"$root/$sub").listFiles()
        .map(_.getName).filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).sorted.toSeq
      assert(stateIds("cells") == Seq(last - 1, last), stateIds("cells").toString)
      assert(stateIds("cand") == Seq(last - 1, last), stateIds("cand").toString)
      // Convergence with the batch operator: the stream's final cells
      // equal batch cmCells over the concatenated stream (same grid).
      val allToks = (Seq.fill(40)("hot") ++ Seq.fill(25)("warm")
        ++ (1 to 35).map(i => s"a$i")).toDF("tok")
      val batchCells = graft.ops.Sketches.cmCells(allToks)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val streamCells = spark.read.parquet(s"$root/cells/batch_id=$last")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(streamCells == batchCells, "stream cells diverged from batch cells")
    } finally q.stop()
  }

  test("streaming KMV sketch state runs on RocksDB (at-scale state backend), same estimates") {
    // The KmvAgg buffer must survive the RocksDB serialize/restore path
    // bit-for-bit — per-source state is ~k longs on local disk instead of
    // executor heap, the posture a 100 TB keyed-state deployment needs.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val est = graft.streaming.HeavyHitters.kmvDistinctEstimates(
      in.toDF().toDF("doc_id", "source", "text"))
    val q = est.writeStream.format("memory").queryName("kmv_rocks")
      .outputMode("complete").start()
    try {
      def docs(lo: Int, hi: Int) = (lo to hi).map(i =>
        (i.toLong, "r", (1 to 40).map(j => s"r${(i * 13 + j) % 90}").mkString(" ")))
      in.addData(docs(1, 30): _*)
      q.processAllAvailable()
      in.addData(docs(31, 60): _*)
      q.processAllAvailable()
      val live = spark.table("kmv_rocks").select("source", "kk", "hk", "kmv_est")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val batch = graft.ops.Sketches.kmvDistinctSketch(
        docs(1, 60).toDF("doc_id", "source", "text"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(live == batch, s"live=$live batch=$batch")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming KMV distinct estimates are bit-identical to batch q128b over the same data") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)] // (doc_id, source, text)
    val est = graft.streaming.HeavyHitters.kmvDistinctEstimates(
      in.toDF().toDF("doc_id", "source", "text"))
    val q = est.writeStream.format("memory").queryName("kmv_live")
      .outputMode("complete").start()
    try {
      def docs(src: String, lo: Int, hi: Int) = (lo to hi).map(i =>
        (i.toLong, src, (1 to 40).map(j => s"$src${(i * 13 + j) % 90}").mkString(" ")))
      in.addData(docs("a", 1, 30) ++ docs("b", 1, 10): _*)
      q.processAllAvailable()
      in.addData(docs("a", 31, 60) ++ docs("b", 11, 50): _*)
      q.processAllAvailable()
      val live = spark.table("kmv_live")
        .select("source", "kk", "hk", "kmv_est")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // Batch q128b over the concatenated stream: order-invariance of
      // "k smallest distinct" makes the equality exact, and the engine's
      // state-store merge path is what produced the left side.
      val all = (docs("a", 1, 60) ++ docs("b", 1, 50))
        .toDF("doc_id", "source", "text")
      val batch = graft.ops.Sketches.kmvDistinctSketch(all)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(live == batch, s"live=$live batch=$batch")
      // The sketches actually saturated (estimate, not trivial small-set).
      assert(live("a")._1 == 64L, live.toString)
    } finally q.stop()
  }

  test("mapGroupsWithState running totals update incrementally") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val out = StatefulOps.runningTotals(in.toDS())
    val q = out.writeStream.format("memory").queryName("totals")
      .outputMode("update").start()
    try {
      in.addData(Event(1L, ts("2024-01-01 00:00:00"), 2.0))
      q.processAllAvailable()
      in.addData(Event(1L, ts("2024-01-01 00:01:00"), 3.0))
      q.processAllAvailable()
      val last = spark.table("totals").as[StatefulOps.KeyTotal].collect()
        .filter(_.userId == 1L).maxBy(_.n)
      assert(last.n == 2 && last.total == 5.0)
    } finally q.stop()
  }

  test("q118's classifier scores a stream identically to batch (same column expressions)") {
    // The scoring path is stateless per-row arithmetic + one keyed
    // aggregation, so the SAME library function must run over a stream
    // unchanged — the curation-filter-on-ingest deployment shape.
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val scored = ops.TextAnalysis.classifierScore(in.toDF().toDF("doc_id", "text"))
    val q = scored.writeStream.format("memory").queryName("stream_scores")
      .outputMode("complete").start()
    try {
      val docs = Seq((1L, "the quick brown fox"), (2L, "merge window spark merge"),
        (3L, "single"), (4L, "a a a a a a"))
      in.addData(docs.take(2))
      q.processAllAvailable()
      in.addData(docs.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("stream_scores")
        .select("doc_id", "margin_fx", "score_r", "keep")
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
      val batch = ops.TextAnalysis.classifierScore(docs.toDF("doc_id", "text"))
        .select("doc_id", "margin_fx", "score_r", "keep")
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("end-to-end streaming pipeline writes the analytic.json document") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val dir = tempDir("stream_sink")
    val path = dir.resolve("analytic.json").toString
    val q = TweetPipeline.run(spark, in.toDF().toDF("value", "ts"), path,
      triggerInterval = "0 seconds")
    try {
      in.addData(tweetAt("2024-01-01 00:01:00", "Brexit", "Brexit", "Remain"))
      q.processAllAvailable()
      val content = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      assert(content.contains(""""hashtag":"Brexit","count":2"""))
      assert(content.contains(""""datetime":"""))
      // run() ships with StreamHealth on by default (VERDICT r7 item 8):
      // the per-batch progress JSONL must appear next to the result doc.
      // Listener delivery is async on the listener bus — poll briefly.
      val health = java.nio.file.Paths.get(path + ".health.jsonl")
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!(java.nio.file.Files.exists(health) &&
               java.nio.file.Files.size(health) > 0) &&
             System.nanoTime() < deadline) Thread.sleep(50)
      assert(java.nio.file.Files.exists(health) && java.nio.file.Files.size(health) > 0,
        "default StreamHealth JSONL missing for run()")
      val line = java.nio.file.Files.readAllLines(health).get(0)
      assert(line.contains("\"batchId\""), line)
    } finally q.stop()
  }

  /** Plain-Scala top-k of the trailing window [S + slide - window, S + slide),
    * S the newest kept tag's event time rounded down to a multiple of the
    * slide: case-insensitive keys, the smallest casing shown, the blacklist
    * dropped, ties by count desc then tag asc.
    */
  private def trailingTop(events: Seq[(Long, Seq[String])], windowMs: Long,
                          slideMs: Long, k: Int = 5): Seq[(String, Long)] = {
    def keep(t: String) = t.nonEmpty && !TweetPipeline.WordBlacklist.contains(t.toLowerCase)
    val kept = for ((ms, tags) <- events; t <- tags if keep(t)) yield (ms, t)
    if (kept.isEmpty) Seq.empty else {
      val end = Math.floorDiv(kept.map(_._1).max, slideMs) * slideMs + slideMs
      kept.filter { case (ms, _) => ms >= end - windowMs && ms < end }
        .groupBy(_._2.toLowerCase).values
        .map(g => (g.map(_._2).min, g.size.toLong)).toSeq
        .sortBy { case (t, n) => (-n, t) }.take(k)
    }
  }

  private def publishedItems(path: String): Seq[(String, Long)] =
    """\{"hashtag":"((?:[^"\\]|\\.)*)","count":(\d+)\}""".r
      .findAllMatchIn(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      .map(m => (m.group(1), m.group(2).toLong)).toSeq

  test("run() publishes the top 5 of exactly the trailing window (15 minutes / 10 seconds)") {
    implicit val ctx = spark.sqlContext
    val windowMs = 900000L
    val slideMs = 10000L
    val after1 = Seq("Edge" -> 3L, "BREXIT" -> 2L, "gamma" -> 2L, "tieB" -> 2L, "zeta" -> 2L)
    val after2 = Seq("BREXIT" -> 4L, "Edge" -> 3L, "gamma" -> 2L, "tieA" -> 2L, "tieB" -> 2L)
    val t0 = java.time.Instant.parse("2024-01-01T01:00:00Z").toEpochMilli // a multiple of the slide
    val start = t0 + slideMs - windowMs // trailing window once the newest event is t0 + 7 s
    val first = Seq(
      (t0 + 7000, Seq("BREXIT")),
      (start, Seq("Edge")),                // just inside
      (start - 1, Seq("Edge", "zeta")),    // just outside
      (t0, Seq("Edge", "brexit", "tieB", "gamma", "zeta")),
      (t0 + 1000, Seq("Edge", "tieA", "tieB", "gamma", "zeta")),
      (t0 + 2000, Seq("EU", "eu", "Euro", "EUROPA", "europe", "EU", "Eu")),
      (start - windowMs, Seq.fill(10)("old")))
    val late = t0 - 120000
    val second = Seq(
      (t0 - 5000, Seq("Brexit", "tieA")),  // out of order, within the 1-minute watermark
      (late, Seq("brexit", "delta")))      // behind the watermark
    val in = MemoryStream[(String, Timestamp)]
    val dir = tempDir("trailing")
    val path = dir.resolve("analytic.json").toString
    val q = TweetPipeline.run(spark, in.toDF().toDF("value", "ts"), path,
      triggerInterval = "0 seconds")
    def feed(events: Seq[(Long, Seq[String])]): Unit = {
      in.addData(events.map { case (ms, tags) =>
        (tweetAt("2024-01-01 00:00:00", tags: _*)._1, new Timestamp(ms)) })
      q.processAllAvailable()
    }
    try {
      feed(first)
      assert(trailingTop(first, windowMs, slideMs) == after1)
      assert(publishedItems(path) == after1)
      feed(second)
      val watermark = java.time.Instant.parse(q.lastProgress.eventTime.get("watermark"))
      assert(watermark.toEpochMilli > late, s"event at $late is not behind the watermark $watermark")
      assert(trailingTop(first ++ second, windowMs, slideMs) == after2)
      assert(publishedItems(path) == after2)
    } finally q.stop()
  }

  test("run() keeps at most 90 panes over two hours of event time and publishes the trailing top 5 each batch") {
    implicit val ctx = spark.sqlContext
    val windowMs = 900000L
    val slideMs = 10000L
    val rnd = new scala.util.Random(17)
    val tags = Seq("Alpha", "alpha", "Beta", "gamma", "GAMMA", "delta", "eps", "EU", "zeta", "eta")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val in = MemoryStream[(String, Timestamp)]
    val path = tempDir("two_hours").resolve("analytic.json").toString
    val ckpt = tempDir("two_hours_ckpt").toString
    val q = TweetPipeline.run(spark, in.toDF().toDF("value", "ts"), path,
      triggerInterval = "0 seconds", checkpointDir = Some(ckpt))
    try {
      // 25 batches of 5 minutes of event time each: 2 h 5 min in all. Some
      // events arrive up to 20 minutes late, some of them behind the
      // trailing window.
      val all = (0 until 25).foldLeft(Seq.empty[(Long, Seq[String])]) { (seen, b) =>
        val batch = Seq.fill(40) {
          val late = if (rnd.nextInt(10) == 0) rnd.nextInt(1200000) else 0
          val ms = t0 + b * 300000L + rnd.nextInt(300000) - late
          (ms, Seq.fill(1 + rnd.nextInt(3))(tags(rnd.nextInt(tags.size))))
        }
        in.addData(batch.map { case (ms, tg) => (tweetAt("2024-01-01 00:00:00", tg: _*)._1, new Timestamp(ms)) })
        q.processAllAvailable()
        val fed = seen ++ batch
        val panes = snapshot(ckpt, q.recentProgress.filter(_.numInputRows > 0).last.batchId)
          .map(_.pane).distinct
        assert(panes.size <= 90, s"batch $b: ${panes.size} panes")
        assert(publishedItems(path) == trailingTop(fed, windowMs, slideMs), s"batch $b")
        fed
      }
      assert(all.map(_._1).max - t0 >= 2 * 3600 * 1000L)
    } finally q.stop()
  }

  test("run() runs a trigger as one Spark job with at most one input task per core") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    // Eight blocks before the start: the first trigger reads all of them,
    // and the memory source plans one partition per block.
    (1 to 8).foreach(i => in.addData(tweetAt(f"2024-01-01 00:00:$i%02d", s"t$i")))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val sentinel = s"one-job-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    def prop(e: SparkListenerJobStart, k: String) = Option(e.properties).map(_.getProperty(k)).orNull
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val path = tempDir("one_job").resolve("analytic.json").toString
    val q = TweetPipeline.run(spark, in.toDF().toDF("value", "ts"), path,
      triggerInterval = "0 seconds")
    try {
      q.processAllAvailable()
      assert(publishedItems(path) == (1 to 5).map(i => s"t$i" -> 1L))
      // The listener sees events in order: once it has seen the sentinel
      // job, it has seen every job of the trigger.
      sc.setJobGroup(sentinel, "StreamingSpec sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(prop(_, "spark.jobGroup.id") == sentinel) &&
             System.nanoTime() < deadline) Thread.sleep(10)
      val batch0 = jobs.asScala.filter(j => prop(j, "sql.streaming.queryId") == q.id.toString &&
        prop(j, "streaming.sql.batchId") == "0").toSeq
      val jobIds = batch0.map(_.jobId)
      val firstStageTasks = batch0.flatMap(_.stageInfos).minBy(_.stageId).numTasks
      val cores = sc.defaultParallelism
      assert(jobIds.size == 1, s"jobs of batch 0: $jobIds; $firstStageTasks tasks in the first stage")
      assert(firstStageTasks <= cores, s"$firstStageTasks tasks in the first stage, $cores cores")
    } finally {
      q.stop()
      sc.removeSparkListener(listener)
    }
  }

  test("StreamHealth.listener moves a log that an append would take past 4 MiB to <path>.1") {
    implicit val ctx = spark.sqlContext
    val log = tempDir("health_rotate").resolve("health.jsonl")
    val rotated = java.nio.file.Paths.get(s"$log.1")
    java.nio.file.Files.writeString(rotated, "an older log\n")
    val full = Array.fill[Byte](4 * 1024 * 1024)('x'.toByte)
    java.nio.file.Files.write(log, full)
    val name = s"health_rotate_${java.util.UUID.randomUUID().toString.take(8)}"
    val inner = graft.streaming.StreamHealth.listener(log.toString)
    val scoped = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name) inner.onQueryProgress(e)
    }
    spark.streams.addListener(scoped)
    val in = MemoryStream[Int]
    in.addData(1, 2, 3)
    // One batch, then the query ends: exactly one progress event.
    val q = in.toDF().writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!(java.nio.file.Files.exists(log) && java.nio.file.Files.size(log) < full.length) &&
             System.nanoTime() < deadline) Thread.sleep(10)
      assert(java.nio.file.Files.readAllBytes(rotated).sameElements(full))
      val lines = java.nio.file.Files.readAllLines(log).asScala
      assert(lines.size == 1 && lines.head.contains("\"batchId\":0"), lines.mkString("\n"))
    } finally {
      q.stop()
      spark.streams.removeListener(scoped)
    }
  }

  test("run() removes its health listener when start() throws (no leak across failed runs)") {
    // ADVICE r8: the scoped listener only self-removes on termination of a
    // run it saw start; a start() failure (bad checkpoint scheme here)
    // would otherwise leave it on spark.streams forever, and repeated
    // run() calls would accumulate leaked listeners.
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val dir = tempDir("fail_start")
    val before = spark.streams.listListeners().length
    intercept[Exception] {
      TweetPipeline.run(spark, in.toDF().toDF("value", "ts"),
        dir.resolve("analytic.json").toString,
        checkpointDir = Some("nosuchfs://invalid/checkpoint"))
    }
    assert(spark.streams.listListeners().length == before,
      "failed start() leaked the scoped StreamHealth listener")
  }
}
