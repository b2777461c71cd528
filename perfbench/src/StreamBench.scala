package perfbench

import java.nio.file.{Files, Paths, StandardWatchEventKinds}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.streaming.{TweetPipeline, TweetSource}

/** Stream workload: one generator thread feeds `TweetSource.memory` open
  * loop while `TweetPipeline.run` publishes the trailing-window top 5.
  *
  * Set-up runs from session start to the first publish; after a warm-in of
  * `WarmTriggers` full triggers, the next `seconds` of generated blocks are
  * the latency samples; then the generator stops and the run waits for the
  * pipeline to consume every appended block.
  */
final class StreamBench(spark: SparkSession, shape: StreamShape, seed: Long, seconds: Int,
                        work: String, sessionStartNs: Long,
                        tracer: Option[ExecTracer], spans: SpanLog, cores: Int) {

  private final case class Block(k: Int, dueNs: Long, appendNs: Long, offset: Long,
                                 rows: Int, cumRows: Long)
  private final case class Seen(ns: Long, p: StreamingQueryProgress) {
    def consumed: Long = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
    def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def startMs: Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  }

  private val Sec = 1000L * 1000 * 1000
  val blacklist: Set[String] = TweetGen.Blacklist.map(_.toLowerCase(java.util.Locale.ROOT)).toSet

  private def waitUntil(timeoutS: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutS * Sec
    while (!cond && System.nanoTime() < deadline) Thread.sleep(2)
    cond
  }


  def run(): Outcome = {
    val gen = new TweetGen(seed, shape)
    val sent = mutable.ArrayBuffer[Tweet]()
    val blocks = mutable.ArrayBuffer[Block]()
    val seen = new ConcurrentLinkedQueue[Seen]()
    val resultPath = s"$work/analytic.json"
    Files.createDirectories(Paths.get(work))
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        seen.add(Seen(System.nanoTime(), e.progress))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    // Result-file versions, seen as renames into the result path (traced only).
    val publishes = new ConcurrentLinkedQueue[java.lang.Long]()
    val watcher = if (tracer.isEmpty) None else {
      val ws = Paths.get(work).getFileSystem.newWatchService()
      Paths.get(work).register(ws, StandardWatchEventKinds.ENTRY_CREATE)
      val t = new Thread(() => {
        try while (true) {
          val key = ws.take()
          val now = System.nanoTime()
          key.pollEvents().asScala.foreach { ev =>
            if (String.valueOf(ev.context()) == "analytic.json") publishes.add(now)
          }
          key.reset()
        } catch { case _: InterruptedException | _: java.nio.file.ClosedWatchServiceException => () }
      }, "perfbench-publish-watch")
      t.setDaemon(true)
      t.start()
      Some((ws, t))
    }

    tracer.foreach(_.label("stream"))
    val b0 = System.nanoTime()
    val (mem, df) = TweetSource.memory(spark)
    val b1 = System.nanoTime()

    def append(k: Int, due: Long, cum: Long): Long = {
      val b = gen.block(k)
      val off = mem.addData(b.toSeq.map(t => (t.line, new Timestamp(t.tsMs)))).json().trim.toLong
      val app = System.nanoTime()
      blocks.synchronized { blocks += Block(k, due, app, off, b.length, cum + b.length) }
      sent ++= b
      cum + b.length
    }
    // Block 0 alone warms the pipeline up to its first publish. It is in
    // the source before the query starts, so the first trigger always takes
    // it; the open loop starts after that publish, so the cold first trigger
    // leaves no backlog.
    val warmRows = append(0, System.nanoTime(), 0L)
    val b2 = System.nanoTime()
    val q = TweetPipeline.run(spark, df, resultPath,
      triggerInterval = s"${shape.triggerMs} milliseconds", checkpointDir = Some(s"$work/checkpoint"))
    val buildS = (b1 - b0 + System.nanoTime() - b2) / 1e9

    @volatile var stop = false
    @volatile var genError: Throwable = null
    val genThread = new Thread(() => {
      try {
        val t0 = System.nanoTime()
        var k = 1
        var cum = warmRows
        while (!stop) {
          val due = t0 + (k - 1).toLong * shape.tickMs * 1000L * 1000
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          if (!stop) {
            cum = append(k, due, cum)
            k += 1
          }
        }
      } catch { case e: Throwable => genError = e }
    }, "perfbench-generator")

    var heapMb = 0.0
    var mStart = 0L
    var mEnd = 0L
    var drained = false
    try {
      val published = waitUntil(120) {
        seen.asScala.exists(s => s.p.numInputRows > 0) && Files.exists(Paths.get(resultPath))
      }
      if (!published) throw new IllegalStateException("no publish within 120 s of the start")
      val setupS = (System.nanoTime() - sessionStartNs) / 1e9
      heapMb = Heap.liveMb()
      val loopStartMs = Clock.nowMs
      genThread.start()
      // Warm-in: sampling starts when WarmTriggers full triggers have
      // completed. The triggers that start within one interval of the open
      // loop take a part of an interval that varies with the phase of the
      // trigger clock; every later one takes a full interval of blocks.
      // Trigger times still fall for a few triggers as the JIT settles, so
      // counting full triggers, not seconds, puts the same point of the
      // warm-up in every run's sample.
      val warmed = waitUntil(120)(seen.asScala.count(s =>
        s.startMs >= loopStartMs + shape.triggerMs) >= StreamBench.WarmTriggers)
      if (!warmed) throw new IllegalStateException("warm-in triggers did not complete within 120 s")
      mStart = System.nanoTime()
      mEnd = mStart + seconds * Sec
      while (System.nanoTime() < mEnd) Thread.sleep(math.max(1L, (mEnd - System.nanoTime()) / 1000000L))
      stop = true
      genThread.join()
      if (genError != null) throw genError
      val lastOffset = blocks.synchronized(blocks.last.offset)
      drained = waitUntil(60)(seen.asScala.exists(_.consumed >= lastOffset))
      heapMb = math.max(heapMb, Heap.liveMb())
      summarize(q.id, sent.toSeq, blocks.synchronized(blocks.toList), seen.asScala.toList,
        publishes.asScala.map(_.longValue).toList, resultPath, setupS, buildS, heapMb,
        mStart, mEnd, drained)
    } finally {
      stop = true
      genThread.join()
      q.stop()
      spark.streams.removeListener(listener)
      watcher.foreach { case (ws, t) => ws.close(); t.interrupt(); t.join() }
    }
  }

  private def summarize(queryId: java.util.UUID, sent: Seq[Tweet], blocks: Seq[Block],
                        seenAll: Seq[Seen], publishNs: Seq[Long], resultPath: String,
                        setupS: Double, buildS: Double, heapMb: Double,
                        mStart: Long, mEnd: Long, drained: Boolean): Outcome = {
    val seen = seenAll.filter(_.p.id == queryId).sortBy(_.ns)
    // Latency of each block due inside the measured window: from its due
    // time to the receipt of the first progress whose end offset covers it.
    // One sample per block: the tweets of a block share their due time and
    // their trigger, so counting them one by one would repeat one value.
    def consumer(b: Block): Option[Seen] = seen.find(_.consumed >= b.offset)
    val measured = blocks.filter(b => b.dueNs >= mStart && b.dueNs < mEnd)
    val sampled = measured.flatMap(b => consumer(b).map(s => (s.p.batchId, (s.ns - b.dueNs) / 1e6)))
    val lat = sampled.map(_._2)
    val unpublished = blocks.filter(b => consumer(b).isEmpty).map(_.rows.toLong).sum
    val tailP = Stats.tailPercentile(lat.size)
    val tailMs = tailP.map(p => Stats.percentile(lat, p)).getOrElse(Double.NaN)

    // Triggers that started inside the sampling window: the trigger clock
    // ticks every interval, so as many start in every run, and each takes a
    // full interval of blocks.
    val window = seen.filter(s => s.startMs >= Clock.ms(mStart) && s.startMs < Clock.ms(mEnd) &&
      s.p.numInputRows > 0)
    val trigMs = window.map(_.dur("triggerExecution"))
    val inputRows = window.map(_.p.numInputRows.toDouble).sum
    val capacity = Stats.ratio(inputRows, trigMs.sum / 1000.0)

    val doc = new String(Files.readAllBytes(Paths.get(resultPath)), "UTF-8")
    val items = """\{"hashtag":"((?:[^"\\]|\\.)*)","count":(\d+)\}""".r
      .findAllMatchIn(doc).map(m => (m.group(1), m.group(2).toLong)).toList
    val expected = Top5.trailing(sent, blacklist)
    val correct = drained && unpublished == 0 && items == expected

    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p99_ms" -> tailMs,
      "throughput_per_s" -> capacity,
      "live_heap_mb" -> heapMb)

    val layers = tracer.map { tr =>
      tr.drain()
      val batchIds = window.map(_.p.batchId).toSet
      val js = tr.jobsWhere(j => j.batchId.exists(batchIds))
      val n = window.size.toDouble
      def phase(k: String) = window.map(_.dur(k))
      val ops = window.flatMap(_.p.stateOperators.headOption)
      val lastOp = seen.lastOption.flatMap(_.p.stateOperators.headOption)
      def appendedBy(ns: Long) = blocks.filter(_.appendNs <= ns).lastOption.map(_.cumRows).getOrElse(0L)
      def consumedRows(off: Long) = blocks.filter(_.offset <= off).lastOption.map(_.cumRows).getOrElse(0L)
      val lag = window.map(s => (appendedBy(s.ns) - consumedRows(s.consumed)).toDouble)
      val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      val covered = window.map(s => phases.map(s.dur).sum).sum
      val mb = 1024.0 * 1024.0
      val exec = ExecMetrics(tr, js, cores, 1.0)
      val fixed = Map[String, Double](
        "build_s" -> buildS,
        "build_jobs" -> tr.jobsWhere(j => j.label == "stream" && j.batchId.isEmpty).size.toDouble,
        "plan_s" -> phase("queryPlanning").sum / 1000.0,
        "driver_s" -> math.max(0.0, phase("addBatch").sum / 1000.0 - exec("exec_s")),
        "pinned_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
        // Complete mode hands the whole state to the sink every trigger.
        "rows_out" -> ops.map(_.numRowsTotal.toDouble).sum,
        "unaccounted_frac" -> Stats.ratio(trigMs.sum - covered, trigMs.sum),
        "ops" -> n,
        "op_ms_p50" -> Stats.median(trigMs),
        "op_ms_sum" -> trigMs.sum,
        "plan_ms_p50" -> Stats.median(phase("queryPlanning")),
        "exec_ms_p50" -> Stats.median(phase("addBatch")),
        "jobs_per_op" -> Stats.ratio(js.size, n),
        "shuffle_write_mb_per_op" -> Stats.ratio(exec("shuffle_write_mb"), n),
        "rows_per_op" -> Stats.ratio(inputRows, n),
        "wal_commit_frac" -> Stats.ratio(phase("walCommit").sum, trigMs.sum),
        "state_commit_frac" -> Stats.ratio(ops.map(_.commitTimeMs.toDouble).sum, trigMs.sum),
        "state_rows_end" -> lastOp.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state_mem_mb_end" -> lastOp.map(_.memoryUsedBytes / mb).getOrElse(0.0),
        "rows_dropped_by_watermark" -> seen.flatMap(_.p.stateOperators.headOption)
          .map(_.numRowsDroppedByWatermark.toDouble).sum,
        "state_updates_per_input" -> Stats.ratio(ops.map(_.numRowsUpdated.toDouble).sum, inputRows),
        "source_lag_rows_p50" -> Stats.median(lag),
        "source_lag_rows_max" -> (if (lag.isEmpty) 0.0 else lag.max),
        // Versions seen while each sampled trigger ran (the watcher wakes
        // a little after the rename, hence the slack after its end).
        "publishes_per_trigger" -> Stats.ratio(window.map { s =>
          publishNs.count { ns =>
            val t = Clock.ms(ns)
            t >= s.startMs && t <= s.startMs + s.dur("triggerExecution") + 100
          }.toDouble
        }.sum, n),
        "latency_samples" -> lat.size.toDouble)
      recordSpans(tr, seen, blocks, phases)
      exec ++ fixed
    }.getOrElse(Map.empty)

    Outcome(correct, sent.size.toLong, unpublished + (if (items == expected) 0L else 1L),
      e2e, layers, Map(
        "latency_percentile" -> tailP.getOrElse(Double.NaN),
        "latency_samples" -> lat.size,
        "latency_triggers" -> sampled.map(_._1).distinct.size,
        "latency_tail_triggers" -> sampled.filter(_._2 > tailMs).map(_._1).distinct.size,
        "published_items" -> items.map { case (t, c) => s"$t:$c" },
        "expected_items" -> expected.map { case (t, c) => s"$t:$c" },
        "unpublished_rows" -> unpublished,
        "drained" -> drained,
        "blocks" -> blocks.size,
        "triggers" -> window.size,
        "trigger_rows" -> seen.map(_.p.numInputRows),
        "trigger_ms" -> seen.map(_.dur("triggerExecution")),
        "gen_late_ms_p99" -> Stats.percentile(blocks.map(b => (b.appendNs - b.dueNs) / 1e6), 99)))
  }

  /** Trigger spans with their progress phases laid end to end in the order
    * the micro-batch runs them, Spark jobs under their trigger, and each
    * generator append under the trigger that consumed it.
    */
  private def recordSpans(tr: ExecTracer, seen: Seq[Seen], blocks: Seq[Block],
                          phases: Seq[String]): Unit = {
    val byBatch = tr.jobsWhere(_.batchId.isDefined).groupBy(_.batchId.get)
    seen.foreach { s =>
      val id = s"trigger-${s.p.batchId}"
      val start = s.startMs
      val wall = s.dur("triggerExecution")
      spans.add(Span(id, "", id, "trigger", start, start + wall, Map(
        "rows" -> s.p.numInputRows, "end_offset" -> s.consumed)))
      var at = start
      phases.foreach { ph =>
        val d = s.dur(ph)
        spans.add(Span(s"$id/$ph", id, ph, "phase", at, at + d))
        at += d
      }
      byBatch.getOrElse(s.p.batchId, Nil).foreach { j =>
        spans.add(Span(s"job-${j.id}", id, s"job ${j.id}", "job", j.startMs.toDouble, j.endMs.toDouble,
          Map("stages" -> j.stagesRun)))
      }
    }
    blocks.foreach { b =>
      val c = seen.find(_.consumed >= b.offset)
      spans.add(Span(s"append-${b.k}", c.map(s => s"trigger-${s.p.batchId}").getOrElse(""),
        s"append ${b.k}", "append", Clock.ms(b.dueNs), c.map(s => Clock.ms(s.ns)).getOrElse(Double.NaN),
        Map("rows" -> b.rows, "late_ms" -> (b.appendNs - b.dueNs) / 1e6)))
    }
  }
}

object StreamBench {
  /** Full triggers of the open loop that run before sampling. */
  val WarmTriggers = 2
}
