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

  /** Prior-round bench data, if available: (anchor, short-key -> sec,
    * prior sf if recoverable) for the self-adjudication pass. Accepts the
    * r11+ chunked stdout emission (bench_chunk lines + a minimal total
    * line), a legacy single bench line (full or minimal), the driver's
    * {"tail": "..."} wrapper around either, or — the r07 failure mode —
    * a HEAD-TRUNCATED fragment (the driver's bounded stdout capture
    * keeps the LAST 2000 chars).
    *
    * A file can hold MORE than one bench run (ad-hoc re-runs appended to
    * a capture); merging qNN pairs across the whole file while taking the
    * anchor from the first match would pair a round-N anchor with
    * round-M timings (ADVICE r8). So: chunk lines accumulate only until
    * the next total line closes the run, and the LAST closed run wins.
    * Only when no total line parses at all does the legacy fragment
    * regex run, scoped to the text after the last `{"metric":"total"`
    * opener; within one legacy line, "qNN" keys can appear in both
    * "remeasured" and "queries" — "queries" is emitted LAST, so the
    * later (min-adjudicated) value wins the fold. The "audit" array's
    * bare "qNN" strings never match (no colon-digit suffix).
    */
  private[graft] def loadPrior(path: String): Option[(Double, Map[String, Double], Option[String])] = {
    try {
      val txt0 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      // Driver wrapper: the bench line lives (escaped) inside "tail".
      val txtFull = try {
        val w = om.readTree(txt0)
        if (w != null && w.has("tail")) w.get("tail").asText() else txt0
      } catch { case _: Throwable => txt0 }
      def readQs(qNode: com.fasterxml.jackson.databind.JsonNode): Map[String, Double] = {
        val it = qNode.fieldNames()
        val qs = scala.collection.mutable.Map[String, Double]()
        while (it.hasNext) { val k = it.next(); qs += k -> qNode.get(k).asDouble() }
        qs.toMap
      }
      // Preferred path: walk the capture in line order. `"bench_chunk"`
      // lines (the r11 chunked emission — each a complete JSON object
      // holding a slice of the per-query map) accumulate until a
      // `"metric":"total"` line closes the run; that line's own
      // "queries" map (legacy full/minimal emissions carry one, chunked
      // emissions don't) merges OVER the accumulated chunks. The LAST
      // closed run wins, and the accumulator resets at every total line
      // — parseable or not — so two runs appended to one capture never
      // mix (ADVICE r8). A head-truncated capture loses only its leading
      // chunk lines (they fail to parse and are skipped); the total line
      // and every surviving chunk still parse as complete JSON.
      var chunkAcc = scala.collection.mutable.Map[String, Double]()
      var complete: Option[(Double, Map[String, Double], Option[String])] = None
      txtFull.linesIterator.foreach { raw =>
        if (raw.contains("\"bench_chunk\"")) {
          try {
            val j = om.readTree(raw.substring(raw.indexOf("{\"bench_chunk\"")))
            if (j != null && j.has("queries")) chunkAcc ++= readQs(j.get("queries"))
          } catch { case _: Throwable => () }
        } else if (raw.contains("\"metric\":\"total\"")) {
          try {
            val j = om.readTree(raw.dropWhile(_ != '{'))
            if (j != null && j.has("anchor")) {
              val qs = chunkAcc.toMap ++
                (if (j.has("queries")) readQs(j.get("queries")) else Map.empty[String, Double])
              if (qs.nonEmpty)
                complete = Some((j.get("anchor").asDouble(), qs,
                  Option(j.get("sf")).map(_.asText())))
            }
          } catch { case _: Throwable => () }
          chunkAcc = scala.collection.mutable.Map[String, Double]()
        }
      }
      complete.orElse {
        // Fragment path: scope to the LAST line's text so anchor/queries/sf
        // never mix across lines.
        val start = txtFull.lastIndexOf("{\"metric\":\"total\"")
        val txt = if (start >= 0) txtFull.substring(start) else txtFull
        val num = """([0-9]+(?:\.[0-9]+)?)"""
        val qs = (s""""(q\\d+[a-z]*)":$num""").r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq
        val anchor = (s""""anchor":$num""").r.findFirstMatchIn(txt).map(_.group(1).toDouble)
          .orElse(""""anchors":\[([^\]]*)\]""".r.findFirstMatchIn(txt)
            .flatMap(_.group(1).split(",").lastOption.filter(_.trim.nonEmpty))
            .map(_.trim.toDouble))
        val sf = """"sf":"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1))
        anchor match {
          case Some(a) if qs.nonEmpty => Some((a, qs.toMap, sf))
          case _ => None
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] prior bench load failed ($path): ${e.getMessage}")
      None
    }
  }

  /** SPARK_GRAFT_PRIOR, defaulting to the newest prior in the working
    * directory (the repo root for both sbt and run_local.sh invocations)
    * — the driver's official run never set the env var, so the
    * self-adjudication pass built for VERDICT r6 item 4 sat idle while
    * ambient 3-5× readings shipped unadjudicated (VERDICT r7 item 6).
    * Candidates: the driver's BENCH_r*.json captures AND the close-out
    * ritual's archived full lines (probes/r*&#47;bench_full_r*.json); the
    * highest round wins, and at the same round the archive wins — it is
    * complete by construction while the driver capture is a bounded tail
    * (ADVICE r10). Set SPARK_GRAFT_PRIOR=none to disable.
    */
  private[graft] def priorPath(base: String = "."): Option[String] =
    sys.env.get("SPARK_GRAFT_PRIOR") match {
      case Some("none") | Some("") => None
      case Some(p) => Some(p)
      case None =>
        val re = """BENCH_r(\d+)\.json""".r
        val fullRe = """bench_full_r(\d+)\.json""".r
        val driver = Option(new java.io.File(base).listFiles()).getOrElse(Array.empty[java.io.File])
          .flatMap(f => f.getName match {
            case re(n) => Some((n.toInt, 0, f.getPath)); case _ => None })
        val archived = Option(new java.io.File(base, "probes").listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.isDirectory)
          .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File]))
          .flatMap(f => f.getName match {
            case fullRe(n) => Some((n.toInt, 1, f.getPath)); case _ => None })
        (driver ++ archived).sortBy(t => (t._1, t._2)).lastOption.map(_._3)
    }

  /** Root-level file for a run's full bench line: the canonical 32-CPU
    * run owns BENCH_FULL.json; a run at any other CPU count writes
    * BENCH_FULL_c<cpus>.json, so a probe at another core count never
    * overwrites the canonical artifact.
    */
  private[graft] def fullBenchFile(cpus: String): String =
    if (cpus == "32") "BENCH_FULL.json" else s"BENCH_FULL_c$cpus.json"

  /** The JSON fields naming what a full bench line measured: the CPU
    * count and the commit (`git rev-parse HEAD` in the working directory,
    * "unknown" outside a git checkout).
    */
  private[graft] def runStamp(cpus: String, commit: String): String =
    s""""cpus":$cpus,"commit":"$commit""""

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
    // which is what the driver runs. Entries match a full query name OR its
    // qNN prefix (the keys this main itself prints), and unmatched entries
    // warn loudly — a typo'd filter must not record an empty suite as a
    // legitimate 0-second measurement.
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
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
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
    // Automate that adjudication: when a prior bench line is supplied
    // (SPARK_GRAFT_PRIOR), re-measure — once, at suite end, min-of-3 —
    // every query whose anchor-normalized ratio vs the prior round
    // exceeds the flag threshold, and report min(first pass, re-run).
    // The min over all measured runs is the same steady-state estimator
    // the 3-run minimum already is; the re-run happens after the suite's
    // memory pressure has been GC'd away, which is exactly the isolated
    // condition the manual adjudications used.
    // ADVICE r8: priorPath() defaults to the newest BENCH_r*.json in cwd,
    // which the driver records at sf0.1 — an ad-hoc sf1/sf10 run from the
    // repo root would silently adjudicate against the wrong scale, flag
    // nearly everything, and triple-run the suite. Skip adjudication on a
    // scale mismatch ("sf" is emitted last, so it survives head
    // truncation; a prior with no recoverable sf adjudicates as before).
    val prior = priorPath().flatMap(loadPrior).filter {
      case (_, _, priorSf) =>
        val ok = priorSf.forall(_ == sfDir)
        if (!ok) System.err.println(
          s"[bench] prior sf ${priorSf.get} != current $sfDir — skipping adjudication")
        ok
    }
    val flagThreshold = sys.env.get("SPARK_GRAFT_FLAG_RATIO").map(_.toDouble).getOrElse(1.5)
    val byName = selected.toMap
    val remeasured = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results: Map[String, Double] = prior match {
      case Some((priorAnchor, priorQs, _)) =>
        val anchorRatio = anchor / priorAnchor
        firstPass.toMap.map { case (name, sec) =>
          val short = name.takeWhile(_ != '_')
          val flagged = priorQs.get(short).exists { old =>
            old > 0 && (sec / old) / anchorRatio > flagThreshold }
          if (!flagged) name -> sec
          else {
            val re = (1 to 3).map(_ => timedRun(byName(name), name)).min
            System.gc()
            remeasured += short -> re
            telemetryAppend(s"""{"q":"$name","remeasured_sec":${r3(re)},"first_pass_sec":${r3(sec)}}""")
            name -> math.min(sec, re)
          }
        }
      case None => firstPass.toMap
    }
    // The driver's stdout capture is the LAST 2000 chars of the sbt run
    // (measured: BENCH_r09/r10 "tail" is exactly 2000 chars ending in the
    // sbt [success] epilogue). A 168-query map alone is ~2.2 KB, so NO
    // single-line emission can survive the capture whole, and every
    // constant trim (round 10 dropped ~200 bytes of extras) is outgrown
    // as queries are registered — r10's capture still lost q01-q05.
    // Chunked emission instead (VERDICT r10 item 3): the per-query map
    // goes out as self-identifying {"bench_chunk":i,"of":N,"queries":…}
    // lines, each a small complete JSON object, FOLLOWED by a minimal
    // total line with the scalars + audit array. Tail truncation then
    // costs only the LEADING chunk lines — everything captured parses as
    // complete JSON (no fragment regex), the total line always survives,
    // and "of" names exactly which chunks were lost. The FULL single
    // line still goes to the SPARK_GRAFT_BENCH_OUT side file, which the
    // close-out ritual archives to probes/rNN/ — the authoritative
    // round-over-round prior (see priorPath).
    val shortKeys = results.keys.map(_.takeWhile(_ != '_')).toSeq
    require(shortKeys.distinct.size == shortKeys.size,
      "qNN prefixes must stay unique — a collision would emit duplicate JSON keys: " +
        shortKeys.diff(shortKeys.distinct).mkString(", "))
    // Minimal-width JSON numbers (1.30 -> 1.3, 2.00 -> 2): same 2-decimal
    // resolution, fewer bytes through the bounded pipe.
    def r2(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString
    val entryStrs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + r2(v) }
    val qs = entryStrs.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val anchorsJson = anchors.map(r3).mkString("[", ",", "]")
    // "audit": ground-truth audit baselines (intentionally corpus-scale
    // formulations paired with registered production postures) — emitted
    // so downstream tooling separates them mechanically (VERDICT r6 item 3).
    val auditJson = SparkEntry.auditBaselines.toSeq.sorted
      .map(n => "\"" + n.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")
    val remeasJson =
      if (remeasured.isEmpty) ""
      else remeasured.map { case (k, v) => s"\"$k\":${r2(v)}" }
        .mkString(""","remeasured":{""", ",", "}")
    // Two emissions (VERDICT r9 item 8 / r10 item 3):
    //   1. stdout gets the chunk lines + the minimal total line (see the
    //      capture-budget comment above);
    //   2. the FULL single line (anchors/remeasured extras + the whole
    //      queries map) goes to a side file the close-out ritual archives
    //      and adjudicates from, so no information is lost — it just
    //      stops traveling through the bounded pipe.
    val fullLine = s"""{"metric":"total","unit":"sec","audit":$auditJson,"anchors":$anchorsJson$remeasJson,"queries":$qs,"value":${r3(total)},"anchor":${r3(anchor)},"sf":"$sfDir",${runStamp(cpus, headCommit())}}"""
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
    try {
      val p = java.nio.file.Paths.get(fullPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, fullLine + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full-line write failed ($fullPath): ${e.getMessage}")
    }
    // Stable driver/judge-readable artifact (VERDICT r13 item 2): the
    // driver's stdout capture keeps only the last 2000 chars, so the full
    // per-query map cannot travel through the pipe and both r12 and r13
    // PERF comparisons came back empty ("parsed": null). The full line is
    // therefore ALSO written to a fixed root-level file — cwd is the repo
    // root for both sbt and run_local.sh invocations — on FULL-SUITE runs
    // only (a SPARK_GRAFT_ONLY subset must not overwrite the authoritative
    // artifact with a partial map). Written after all timing completes;
    // the timed path is unchanged.
    if (only.isEmpty) {
      val fullFile = fullBenchFile(cpus)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(fullFile), fullLine + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] $fullFile write failed: ${e.getMessage}")
      }
    }
    val chunks = entryStrs.grouped(24).toSeq
    chunks.zipWithIndex.foreach { case (es, i) =>
      println(s"""{"bench_chunk":${i + 1},"of":${chunks.size},"queries":${es.mkString("{", ",", "}")}}""")
    }
    println(s"""{"metric":"total","unit":"sec","chunks":${chunks.size},"audit":$auditJson,"value":${r3(total)},"anchor":${r3(anchor)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
