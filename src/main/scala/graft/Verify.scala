package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (same contract as Bench's): the driver never
    // sets it, so the driver run always dumps the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.filter { case (n, _) => f(n) })
    // Per-query status ledger, written INCREMENTALLY after every query
    // (VERDICT r9 item 1: the round-9 driver correctness artifact came
    // back '{}' while the code was green — with no in-repo record of
    // which side broke, the failure was undiagnosable for a full round.
    // This file is the in-dump proof of what Verify itself produced; an
    // empty driver compare against a populated status file indicts the
    // driver leg, an absent/partial status file indicts this main).
    // JSONL so a mid-suite crash still leaves every completed row.
    val statusPath = Paths.get(s"$outDir/verify_status.jsonl")
    Files.writeString(statusPath, "")
    def statusAppend(line: String): Unit =
      try Files.writeString(statusPath, line + "\n",
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Throwable =>
        System.err.println(s"[verify] status append failed: ${e.getMessage}") }
    selected.foreach { case (name, fn) =>
      try {
        val result = fn(spark, sfDir)
        result.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // Row count by re-reading the just-written file: parquet count()
        // resolves from footer row-group metadata — cheaper than a
        // pre-write count(), which would recompute the whole query plan a
        // second time (ADVICE r10). Reading with the result's own schema
        // skips schema inference, which would be a Spark job of its own;
        // what is left is the count's two small jobs (with adaptive
        // execution, the partial counts' stage and the final one).
        val rows = spark.read.schema(result.schema).parquet(s"$outDir/$name").count()
        statusAppend(s"""{"q":"$name","ok":true,"rows":$rows}""")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = String.valueOf(e.getMessage).replaceAll("[\"\\\\\\n\\r\\t]", " ").take(300)
        statusAppend(s"""{"q":"$name","ok":false,"error":"$msg"}""")
      }
      // Queries cache intermediates (shingle sets, signatures); drop them
      // so 100+ queries in one session don't accumulate storage pressure.
      // releaseDefaults also frees localCheckpoint blocks, which live at
      // the RDD layer where clearCache can't see them.
      ops.StorageHandle.releaseDefaults()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
