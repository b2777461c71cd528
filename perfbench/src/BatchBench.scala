package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry

/** Batch workload: the listed registered queries over the generated tables.
  *
  * Set-up runs from session start through two untimed passes: one writes
  * every query's full result as parquet for the oracle check, the next runs
  * each query as timed so the JIT settles. Timed passes then run every
  * query, each a noop-sink write of its full plan as `graft.Bench` does,
  * until `seconds` have been measured and at least `MinPasses` passes are
  * complete. Only complete passes are timed.
  */
final class BatchBench(spark: SparkSession, names: Seq[String], dataDir: String, seconds: Int,
                       outDir: String, sessionStartNs: Long,
                       tracer: Option[ExecTracer], spans: SpanLog, cores: Int) {

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = names.map { n =>
    SparkEntry.queries.get(n).map(n -> _)
      .getOrElse(throw new IllegalArgumentException(s"no registered query $n"))
  }

  /** Catalyst phase durations of every query execution, keyed by the epoch
    * millisecond its first phase started (traced only).
    */
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) phases.add((ps.map(_.startTimeMs).min, ps.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def release(): Unit = {
    graft.ops.StorageHandle.releaseDefaults()
    spark.catalog.clearCache()
  }

  private final case class Timing(pass: Int, name: String, startNs: Long, builtNs: Long, endNs: Long,
                                  pinned: Int) {
    def wallS: Double = (endNs - startNs) / 1e9
    def id: String = s"p$pass/$name"
  }

  def run(): Outcome = {
    tracer.foreach(_ => spark.listenerManager.register(qeListener))
    val failed = mutable.LinkedHashMap[String, String]()
    var attempted = 0L
    queries.foreach { case (name, fn) =>
      attempted += 1
      try fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$name")
      catch { case e: Throwable => failed(name) = s"set-up pass: ${e.getMessage}" }
      release()
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$outDir/results/oracle_sql.json"), Json(oracle))
    // An untimed pass of noop writes, as timed, lets the JIT settle.
    for ((name, fn) <- queries if !failed.contains(name)) {
      attempted += 1
      try fn(spark, dataDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => failed(name) = s"warm-up pass: ${e.getMessage}" }
      release()
    }
    val setupS = (System.nanoTime() - sessionStartNs) / 1e9
    val setupHeapMb = Heap.liveMb()

    // Timed phase: complete passes over the queries, each a noop write of
    // its full plan, until `seconds` have passed and at least MinPasses
    // passes are done. The set-up's noop pass is the discarded first pass.
    val timings = mutable.ArrayBuffer[Timing]()
    val live = queries.filterNot { case (n, _) => failed.contains(n) }
    val t0 = System.nanoTime()
    var pass = 1
    while (live.nonEmpty && (pass <= BatchBench.MinPasses || System.nanoTime() - t0 < seconds * 1000L * 1000 * 1000)) {
      for ((name, fn) <- live if !failed.contains(name)) {
        attempted += 1
        try {
          tracer.foreach(_.label(s"p$pass/$name/build"))
          val s = System.nanoTime()
          val df = fn(spark, dataDir)
          val b = System.nanoTime()
          tracer.foreach(_.label(s"p$pass/$name/write"))
          df.write.mode("overwrite").format("noop").save()
          val e = System.nanoTime()
          timings += Timing(pass, name, s, b, e, spark.sparkContext.getPersistentRDDs.size)
        } catch { case e: Throwable => failed(name) = s"timed pass $pass: ${e.getMessage}" }
        tracer.foreach(_.label(null))
        release()
      }
      pass += 1
    }
    val heapMb = math.max(setupHeapMb, Heap.liveMb())
    tracer.foreach(_ => spark.listenerManager.unregister(qeListener))

    // A query that failed in any run counts as failed and keeps no timing.
    // The gated figures come from each query's median over the passes.
    val ok = timings.filterNot(t => failed.contains(t.name)).toSeq
    val perQuery = ok.groupBy(_.name).map { case (n, ts) => n -> Stats.median(ts.map(_.wallS)) }
    val suiteS = perQuery.values.sum
    val queryP50S = Stats.median(perQuery.values.toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> queryP50S * 1000,
      "latency_p99_ms" -> (if (perQuery.isEmpty) Double.NaN else perQuery.values.max * 1000),
      "throughput_per_s" -> Stats.ratio(perQuery.size, suiteS),
      "live_heap_mb" -> heapMb)

    val layers = tracer.map(tr => layerMetrics(tr, ok)).getOrElse(Map.empty)
    Outcome(failed.isEmpty, attempted, failed.size.toLong, e2e, layers, Map(
      "runs" -> ok.size,
      "passes" -> ok.map(_.pass).distinct.size,
      "suite_s" -> suiteS,
      "query_p50_s" -> queryP50S,
      "query_s" -> perQuery.toSeq.sortBy(_._1).toMap,
      "query_runs_s" -> ok.groupBy(_.name).map { case (n, ts) => n -> ts.map(_.wallS) },
      "failures" -> failed.toMap))
  }

  /** Per-pass averages (query runs / distinct queries) of the build, Catalyst
    * and execution layers, and one span per query with its build, plan,
    * job and driver-side execution children.
    */
  private def layerMetrics(tr: ExecTracer, ok: Seq[Timing]): Map[String, Double] = {
    tr.drain()
    val ph = phases.asScala.toList
    var buildS, planS, execS, driverS, wallS, covered = 0.0
    var buildJobs = 0
    val allJobs = mutable.ArrayBuffer[JobRec]()
    val planMs, execMs = mutable.ArrayBuffer[Double]()
    ok.foreach { t =>
      val (s, b, e) = (Clock.ms(t.startNs), Clock.ms(t.builtNs), Clock.ms(t.endNs))
      val bj = tr.jobsWhere(_.label == s"${t.id}/build")
      val wj = tr.jobsWhere(_.label == s"${t.id}/write")
      val plan = ph.filter { case (st, _) => st >= b - 1 && st <= e }.map(_._2).sum / 1000.0
      val exec = Stats.unionLength(wj.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))) / 1000.0
      // Driver-side execution work around the jobs (code generation,
      // broadcasts, adaptive re-planning, the sink commit): the SQL
      // executions' span, which holds the write's planning, less the
      // planning and the time covered by jobs.
      val sqlS = Stats.unionLength(tr.sqlExecutionsIn(b, e)) / 1000.0
      val driver = math.max(0.0, sqlS - exec - plan)
      buildS += (b - s) / 1000.0
      planS += plan
      execS += exec
      driverS += driver
      planMs += plan * 1000
      execMs += exec * 1000
      wallS += t.wallS
      covered += (b - s) / 1000.0 + plan + exec + driver
      buildJobs += bj.size
      allJobs ++= bj ++= wj
      spans.add(Span(t.id, "", t.name, "query", s, e, Map("pass" -> t.pass, "pinned_rdds" -> t.pinned)))
      spans.add(Span(s"${t.id}/build", t.id, "build", "build", s, b, Map("jobs" -> bj.size)))
      spans.add(Span(s"${t.id}/plan", t.id, "plan", "plan", b, b + plan * 1000))
      spans.add(Span(s"${t.id}/exec", t.id, "exec", "exec", b + plan * 1000, b + plan * 1000 + exec * 1000,
        Map("jobs" -> wj.size)))
      spans.add(Span(s"${t.id}/driver", t.id, "driver", "driver", b + (plan + exec) * 1000,
        b + (plan + exec + driver) * 1000))
      for ((js, parent) <- Seq(bj -> "build", wj -> "exec"); j <- js)
        spans.add(Span(s"job-${j.id}", s"${t.id}/$parent", s"job ${j.id}", "job",
          j.startMs.toDouble, j.endMs.toDouble, Map("stages" -> j.stagesRun)))
    }
    val per = ok.size.toDouble / math.max(1, ok.map(_.name).distinct.size)
    val exec = ExecMetrics(tr, allJobs.toSeq, cores, per)
    exec ++ Map(
      "ops" -> ok.size / per,
      "op_ms_p50" -> Stats.median(ok.map(_.wallS * 1000)),
      "op_ms_sum" -> wallS * 1000 / per,
      "plan_ms_p50" -> Stats.median(planMs.toSeq),
      "exec_ms_p50" -> Stats.median(execMs.toSeq),
      "jobs_per_op" -> Stats.ratio(allJobs.size, ok.size),
      "shuffle_write_mb_per_op" -> Stats.ratio(exec("shuffle_write_mb") * per, ok.size),
      "build_s" -> buildS / per,
      "build_jobs" -> buildJobs / per,
      "plan_s" -> planS / per,
      "exec_s" -> execS / per,
      "driver_s" -> driverS / per,
      "pinned_rdds" -> ok.map(_.pinned).sum / per,
      "unaccounted_frac" -> Stats.ratio(wallS - covered, wallS))
  }
}

object BatchBench {
  /** Timed passes per run, at least: each query's median is over this many
    * runs. Four passes outlast the default 15 s on a 4-core host, so every
    * run times the same passes of the JIT warm-up. */
  val MinPasses = 4
}
