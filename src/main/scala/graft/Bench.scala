package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Sum of collection counts / ms across all collector beans. */
  private def gcTotals(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  private def heapUsedMb(): Long = {
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / (1024L * 1024L)
  }

  /** A line's machine speed: the fastest of its headline and mid-suite
    * anchor readings. The headline anchor follows a one-query warm-up and
    * reads up to twice the mid-suite ones, so alone it measures a cold
    * JVM, not the machine.
    */
  private[graft] def speed(anchor: Double, anchors: Seq[Double]): Double =
    (anchor +: anchors).min

  /** A prior full bench line: its anchor readings, its qNN -> sec map, and
    * the sf / cpus / commit stamps naming what it measured.
    */
  private[graft] final case class Prior(anchor: Double, anchors: Seq[Double],
                                        queries: Map[String, Double],
                                        sf: Option[String], cpus: Option[String],
                                        commit: Option[String]) {
    def speed: Double = Bench.speed(anchor, anchors)
  }

  /** The bench line in `path`, or None when the file is missing, is not
    * exactly one JSON document, or has no anchor or queries.
    */
  private[graft] def loadPrior(path: String): Option[Prior] =
    try {
      val j = new com.fasterxml.jackson.databind.ObjectMapper()
        .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
        .readTree(new java.io.File(path))
      import scala.jdk.CollectionConverters._
      val queries = Option(j.get("queries")).toSeq.flatMap(_.properties().asScala)
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
      val anchors = Option(j.get("anchors")).toSeq.flatMap(_.elements().asScala)
        .filter(_.isNumber).map(_.asDouble())
      def text(f: String) = Option(j.get(f)).map(_.asText())
      Option(j.get("anchor")).filter(_.isNumber && queries.nonEmpty)
        .map(a => Prior(a.asDouble(), anchors, queries, text("sf"), text("cpus"), text("commit")))
    } catch { case _: Throwable => None }

  /** The prior a run adjudicates against: the bench line in `path` (the
    * root file of the run's CPU count), used only by a full-suite run
    * and only when the line's sf and cpus stamps equal the run's. Left
    * says why no prior is used.
    */
  private[graft] def choosePrior(path: String, fullSuite: Boolean, sfDir: String,
                                 cpus: String): Either[String, Prior] =
    if (!fullSuite) Left("subset run (SPARK_GRAFT_ONLY), no adjudication")
    else loadPrior(path) match {
      case None => Left(s"$path is missing or not one bench line")
      case Some(p) if !p.cpus.contains(cpus) =>
        Left(s"$path has cpus ${p.cpus.getOrElse("unstamped")}, this run $cpus")
      case Some(p) if !p.sf.contains(sfDir) =>
        Left(s"$path has sf ${p.sf.getOrElse("unstamped")}, this run $sfDir")
      case Some(p) => Right(p)
    }

  private val flagRatio = 1.5

  /** Whether a query's first-pass time `sec` is re-measured: it is over
    * `flagRatio` × the prior's time for the same qNN once each is divided
    * by its own line's machine speed ([[speed]]).
    */
  private[graft] def remeasure(p: Prior, runSpeed: Double, short: String, sec: Double): Boolean =
    p.queries.get(short).exists(old => old > 0 && (sec / old) / (runSpeed / p.speed) > flagRatio)

  /** Root-level file for a full-suite sf0.1 bench line: the canonical
    * 32-CPU run owns BENCH_FULL.json; a run at any other CPU count writes
    * BENCH_FULL_c<cpus>.json, so a run at one core count never overwrites
    * another's.
    */
  private[graft] def fullBenchFile(cpus: String): String =
    if (cpus == "32") "BENCH_FULL.json" else s"BENCH_FULL_c$cpus.json"

  /** Where a run's bench line goes: a full-suite run at sf0.1 (the last
    * element of `sfDir`) owns its root file; every other run writes to
    * `benchOut` ($SPARK_GRAFT_BENCH_OUT), so a subset or another scale
    * never replaces the root line or its prior.
    */
  private[graft] def benchOutPath(fullSuite: Boolean, sfDir: String, cpus: String,
                                  benchOut: String): String =
    if (fullSuite && Option(java.nio.file.Paths.get(sfDir).getFileName).exists(_.toString == "sf0.1"))
      fullBenchFile(cpus)
    else benchOut

  private def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Minimal-width 2-decimal JSON number (1.30 -> 1.3, 2.00 -> 2). */
  private def r2(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    .bigDecimal.stripTrailingZeros.toPlainString

  /** The one bench line. `results` and `audit` are keyed by full query
    * name and emitted by qNN prefix; "audit" lists the ground-truth audit
    * baselines (corpus-scale formulations paired with registered
    * production postures) so tooling can separate them mechanically.
    * The line ends with the sf, the CPU count and the commit it measured.
    */
  private[graft] def benchLine(results: Map[String, Double], remeasured: Seq[(String, Double)],
                               anchor: Double, anchors: Seq[Double], audit: Seq[String],
                               sfDir: String, cpus: String, commit: String): String = {
    def short(name: String) = name.takeWhile(_ != '_')
    val shortKeys = results.keys.map(short).toSeq
    require(shortKeys.distinct.size == shortKeys.size,
      "qNN prefixes must stay unique — a collision would emit duplicate JSON keys: " +
        shortKeys.diff(shortKeys.distinct).mkString(", "))
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + short(k) + "\":" + r2(v) }.mkString("{", ",", "}")
    val auditJson = audit.sorted.map(n => "\"" + short(n) + "\"").mkString("[", ",", "]")
    val remeasJson =
      if (remeasured.isEmpty) ""
      else remeasured.map { case (k, v) => s"\"$k\":${r2(v)}" }
        .mkString(""","remeasured":{""", ",", "}")
    val anchorsJson = anchors.map(r3).mkString("[", ",", "]")
    s"""{"metric":"total","unit":"sec","audit":$auditJson,"anchors":$anchorsJson$remeasJson,""" +
      s""""queries":$qs,"value":${r3(results.values.sum)},"anchor":${r3(anchor)},""" +
      s""""sf":"$sfDir","cpus":$cpus,"commit":"$commit"}"""
  }

  private def headCommit(): String =
    try sys.process.Process(Seq("git", "rev-parse", "HEAD")).!!.trim
    catch { case _: Throwable => "unknown" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // The status store retains per-execution/stage/task state even with
      // the UI off; at 136 queries x 3 runs the defaults (1000 executions,
      // 1000 stages) hold tens of thousands of plan graphs in driver heap
      // for queries that will never be inspected. Keep a short tail only.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      // Belt-and-braces for the explicit per-query gc below: the context
      // cleaner's own fallback GC fires every 30 min by default — longer
      // than the whole suite, so without this broadcast/shuffle blocks
      // whose driver references died are never actually removed.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JIT/codegen/session init otherwise lands entirely on
    // whichever query the Map iterates first (observed ~4s skew).
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Three timed executions per query, report the min: steady-state cost,
    // robust to shared-machine noise (runs on this box show ±20-40% ambient
    // variance; round 2's driver bench recorded 2-4× outliers on queries
    // that re-measured clean, so buy extra noise immunity here).
    // Optional subset filter for scaling probes (e.g. the BASELINE.md sf1
    // runs, which replicate only documents/embeddings); unset = full suite,
    // the only run that writes a root file or uses a prior. Entries match a
    // full query name OR its qNN prefix (the keys this main itself prints),
    // and unmatched entries warn loudly — a typo'd filter must not record
    // an empty suite as a legitimate 0-second measurement.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { filters =>
      val known = SparkEntry.queries.keySet
      val unmatched = filters.filterNot(f =>
        known.contains(f) || known.exists(_.takeWhile(_ != '_') == f))
      if (unmatched.nonEmpty)
        System.err.println(s"[bench] SPARK_GRAFT_ONLY entries match no query: " +
          unmatched.mkString(", "))
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(f => f.contains(name) || f.contains(name.takeWhile(_ != '_'))) }
    // An all-typo filter must fail loudly, not record an empty suite as a
    // legitimate 0-second total a downstream parser would trust (ADVICE r4).
    if (only.isDefined && selected.isEmpty) {
      System.err.println(s"[bench] SPARK_GRAFT_ONLY matched zero queries: " +
        only.get.mkString(", "))
      spark.stop()
      sys.exit(2)
    }
    // The bench line's destination, and the prior: the root line of this
    // CPU count, read now, before a full sf0.1 run overwrites it.
    val outPath = benchOutPath(only.isEmpty, sfDir, cpus,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json"))
    val prior = choosePrior(fullBenchFile(cpus), only.isEmpty, sfDir, cpus)
    System.err.println(prior match {
      case Right(p) => s"[bench] prior: ${fullBenchFile(cpus)} (commit ${p.commit.getOrElse("?")}, " +
        s"${p.queries.size} queries, anchor ${p.anchor}, speed ${p.speed})"
      case Left(why) => s"[bench] no prior: $why"
    })
    // Machine-speed anchor: a fixed DATA-INDEPENDENT workload (hash-sum
    // over a generated range — no I/O, no testdata dependency) timed the
    // same min-of-N way. Cross-round comparisons divide query times by
    // the anchor ratio to cancel the ±20-40% ambient machine variance this
    // box shows, instead of caveating it in prose (VERDICT r4 item 8).
    def measureAnchor(n: Int): Double = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      // % bounds the summand so the 20M-row sum stays ANSI-safe (a raw
      // xxhash64 sum overflows LONG and throws under Spark 4's ANSI mode).
      spark.range(20000000L).selectExpr("sum(xxhash64(id) % 1000000)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    val anchor = measureAnchor(3)
    // Timed execution = a noop-format write of the FULL plan. count() let
    // Catalyst's EliminateSorts drop each query's terminal presentation
    // sort beneath the count aggregate, so the deterministic-ordering tail
    // most queries end with was never in the timed path (VERDICT r6 item
    // 2). The noop v2 sink consumes every row through the complete plan —
    // sorts, projections and all — with zero serialization cost. Expect a
    // small one-time level shift vs rounds <= 6 (recorded in BASELINE.md).
    def timedRun(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 name: String): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() } catch {
        case e: Throwable =>
          // Surface loudly: a bench-only failure (sf0.1) would otherwise
          // hide behind a normal-looking timing.
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Per-query caches must not leak across timings; releaseDefaults
      // also frees localCheckpoint blocks clearCache can't see.
      ops.StorageHandle.releaseDefaults()
      spark.catalog.clearCache()
      dt
    }
    // Round 5 post-mortem: the official 136-query run inflated 2-16× vs
    // isolated re-runs of the same queries on the same machine — cumulative
    // single-JVM state (broadcast blocks the ContextCleaner never reclaims
    // because the driver heap is big enough that GC never runs, status-store
    // growth), not the operators. Three countermeasures, all UNTIMED:
    //   1. a System.gc() after each query's timings, so dead broadcast/RDD
    //      references actually reach the cleaner's reference queue;
    //   2. the anchor re-measured every `anchorEvery` queries and emitted as
    //      "anchors": a flat series = ambient machine speed held AND the JVM
    //      stayed healthy; a rising series = cumulative degradation, making
    //      ambient-vs-cumulative decidable from the JSON line alone;
    //   3. per-query heap/GC telemetry appended to a JSONL side file AS
    //      EACH QUERY COMPLETES (a buffered single final write would lose
    //      everything to exactly the mid-suite OOM the telemetry exists to
    //      diagnose — ADVICE r6).
    val anchorEvery = 20
    val telemetryPath = sys.env.getOrElse(
      "SPARK_GRAFT_TELEMETRY", "target/bench_telemetry.jsonl")
    val telemetryFile = {
      try {
        val p = java.nio.file.Paths.get(telemetryPath)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, Array.emptyByteArray) // truncate prior run
        Some(p)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] telemetry file unavailable: ${e.getMessage}")
        None
      }
    }
    def telemetryAppend(line: String): Unit = telemetryFile.foreach { p =>
      try java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Throwable =>
        System.err.println(s"[bench] telemetry append failed: ${e.getMessage}")
      }
    }
    val anchors = scala.collection.mutable.ArrayBuffer[Double]()
    val firstPass = selected.zipWithIndex
      .map { case ((name, fn), qi) =>
        // Mid-suite anchors use the same min-of-3 as the headline anchor:
        // on a box with ±40% ambient swing, 2-sample anchors fed the
        // comparator's rising-trend heuristic false positives (ADVICE r6).
        if (qi > 0 && qi % anchorEvery == 0) anchors += measureAnchor(3)
        val (gcN0, gcMs0) = gcTotals()
        // Untimed gc BETWEEN runs, not just between queries: with a 24 g
        // heap nothing collects during a query's 3 back-to-back runs, so
        // dead broadcast/shuffle references never reach the
        // ContextCleaner's queue and runs 2-3 execute against a block
        // manager full of the earlier runs' corpses — observed this round
        // as monotonic within-query inflation (q115 3.8→9.5→15.0 s,
        // q140 11.5→14.7→25.2 s) under flat mid-suite anchors.
        val times = (1 to 3).map { _ =>
          val dt = timedRun(fn, name); System.gc(); dt
        }
        val (gcN1, gcMs1) = gcTotals()
        telemetryAppend(
          s"""{"q":"$name","sec":${r3(times.min)},"runs":[${times.map(r3).mkString(",")}],""" +
            s""""heap_mb":${heapUsedMb()},"gc_n":${gcN1 - gcN0},"gc_ms":${gcMs1 - gcMs0}}""")
        name -> times.min
      }
    anchors += measureAnchor(3)
    // Self-adjudicating regression flags (VERDICT r6 item 4): round 6's
    // comparator produced 6 false positives from ambient drift between
    // anchor readings — each cleared only by a manual isolated re-run.
    // Automate that adjudication: against the prior line (choosePrior),
    // re-measure — once, at suite end, min-of-3 — every query whose
    // speed-normalized ratio vs the prior exceeds 1.5× (`remeasure`),
    // and report min(first pass, re-run). The min over all measured runs is the same
    // steady-state estimator the 3-run minimum already is; the re-run
    // happens after the suite's memory pressure has been GC'd away, which
    // is exactly the isolated condition the manual adjudications used.
    val byName = selected.toMap
    val remeasured = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results: Map[String, Double] = prior match {
      case Right(p) =>
        val runSpeed = speed(anchor, anchors.toSeq)
        firstPass.toMap.map { case (name, sec) =>
          val short = name.takeWhile(_ != '_')
          if (!remeasure(p, runSpeed, short, sec)) name -> sec
          else {
            val re = (1 to 3).map(_ => timedRun(byName(name), name)).min
            System.gc()
            remeasured += short -> re
            telemetryAppend(s"""{"q":"$name","remeasured_sec":${r3(re)},"first_pass_sec":${r3(sec)}}""")
            name -> math.min(sec, re)
          }
        }
      case Left(_) => firstPass.toMap
    }
    val line = benchLine(results, remeasured.toSeq, anchor, anchors.toSeq,
      SparkEntry.auditBaselines.toSeq, sfDir, cpus, headCommit())
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench line write failed ($outPath): ${e.getMessage}")
    }
    println(line)
    spark.stop()
  }
}
