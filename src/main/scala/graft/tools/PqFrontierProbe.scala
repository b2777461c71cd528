package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured recall/cost frontier of the hierarchical PQ8 encoder across
  * the (group split, stage-1 beam) plane (VERDICT r9 item 4: the family
  * forces a bad choice — flat q159 holds recall 0.73 but carries the
  * Θ(n·M·256) encode knee; the scale-safe q160/q161 pay recall
  * 0.58/0.66 — find the beam-dial point that holds recall ≥ ~0.7 at
  * sub-Θ(n·M·K) encode and register IT as the 100× posture).
  *
  * Recall is vs the exact q55 brute-force top-5 (the PqSpec convention),
  * cost is the analytic dots-per-(vector, subspace) count
  * `256/groupSize + beam·groupSize` plus the measured wall time of the
  * full query at the probe SF. One JSON line per point.
  *
  * Usage: tools/run_local.sh graft.tools.PqFrontierProbe <sfDir>
  */
object PqFrontierProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def topk(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val exact = topk(graft.ops.Similarity.q55AnnBruteforce(spark, sfDir))
    println(s"""{"truth":"q55_exact_top5","pairs":${exact.size}}""")

    def timedRecall(label: String, cells: Int,
                    fn: () => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val got = topk(fn())
      val dt = (System.nanoTime() - t0) / 1e9
      val recall = (got & exact).size.toDouble / exact.size
      println(f"""{"posture":"$label","cells_scanned":$cells,""" +
        f""""recall":$recall%.3f,"sec":$dt%.2f}""")
      spark.catalog.clearCache()
    }

    timedRecall("flat256", 256, () => graft.ops.Similarity.pqServe(spark, sfDir, 8, None))
    for (refine <- Seq(false, true); gs <- Seq(16, 8);
         beam <- 1 to (if (gs == 16) 4 else 6)) {
      // With refined (Lloyd-round) groups the sizes are data-dependent;
      // 256/gs + beam*gs is the expected count at balanced groups either way.
      val cells = 256 / gs + beam * gs
      val tag = if (refine) "_lloyd" else ""
      timedRecall(s"${256 / gs}x${gs}_beam$beam$tag", cells,
        () => graft.ops.Similarity.pqServe(spark, sfDir, 8, Some((beam, gs, refine))))
    }
    spark.stop()
  }
}
