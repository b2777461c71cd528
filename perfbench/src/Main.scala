package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** What one workload run measured. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         e2e: Map[String, Double], layers: Map[String, Double],
                         details: Map[String, Any])

/** The benchmark's workloads. Stream rates are fixed tweets per second;
  * batch workloads list registered query keys in run order.
  */
object Workloads {
  val stream: Map[String, StreamShape] = Map(
    "stream_trending" -> StreamShape(vocab = 300, zipfS = 1.1, rate = 200, tickMs = 100,
      accel = 90, triggerMs = 5000))

  val batch: Map[String, Seq[String]] = Map(
    "batch_olap" -> Seq("q01_pricing_summary", "q04_join_broadcast", "q05_join_multiway",
      "q13_rollup", "q20_window_rank", "q33_json_funcs", "q37_hashtag_topk", "q46_asof_join"))

  val names: Seq[String] = (stream.keys ++ batch.keys).toSeq.sorted
}

/** Runs one workload and writes `result.json` (and `spans.jsonl` when
  * traced) to the output directory.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --out DIR --work DIR [--data DIR]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val out = args("out")
    val work = args("work")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    Files.createDirectories(Paths.get(out))
    val cores = Runtime.getRuntime.availableProcessors()

    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) {
      val t = new ExecTracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val spans = new SpanLog
    val outcome =
      try Workloads.stream.get(workload) match {
        case Some(shape) =>
          new StreamBench(spark, shape, seed, seconds, s"$work/stream", sessionStart,
            tracer, spans, cores).run()
        case None =>
          new BatchBench(spark, Workloads.batch(workload), args("data"), seconds, out, sessionStart,
            tracer, spans, cores).run()
      } finally spark.stop()
    if (traced) spans.write(s"$out/spans.jsonl")
    Files.writeString(Paths.get(s"$out/result.json"), Json(Map(
      "workload" -> workload, "kind" -> (if (Workloads.stream.contains(workload)) "stream" else "batch"),
      "seed" -> seed, "cores" -> cores, "trace" -> traced,
      "correct" -> outcome.correct, "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "e2e" -> outcome.e2e, "layers" -> outcome.layers, "details" -> outcome.details)))
  }
}
