package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Measurement tooling (optimization guide §1.1/§7.2): dump
  * `.explain("formatted")` for every registered query to one file per
  * query, so plan-shape claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema, WholeStageCodegen spans) are checkable
  * from a file. Most queries are only built and planned, but building a
  * DataFrame is not always free of Spark jobs: builders that collect a
  * value or write a persisted index while they build (e.g. the ANN
  * index queries q140/q144/q163/q164, and the geometry `head()` reads
  * and resident counts in `Similarity`) execute those jobs here, so a
  * full 172-query dump takes minutes. Table schemas are inferred once
  * per file version (`Tables`), so plain table reads add no job after
  * the first.
  *
  * Usage: PlanDump <sfDir> <outDir> [suffix]
  *   writes <outDir>/<qNN>_<suffix>.txt (suffix defaults to "plan").
  * Honors SPARK_GRAFT_ONLY (full names or qNN prefixes, like Bench)
  * and SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "plan"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(f => f.contains(name) || f.contains(name.takeWhile(_ != '_'))) }
    selected.foreach { case (name, fn) =>
      val short = name.takeWhile(_ != '_')
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${short}_$suffix.txt"),
          s"-- $name @ $sfDir\n" + txt)
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      graft.ops.StorageHandle.releaseDefaults()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
