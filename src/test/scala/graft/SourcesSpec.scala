package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format coverage (SURVEY.md §2.2 "Scans" row): parquet is
  * exercised by every oracle query; this spec covers CSV and JSON read/
  * write round-trips and the streaming file source — same DataFrame code
  * paths a 100 TB deployment uses, minus scale.
  */
class SourcesSpec extends SparkSpec {

  private def tmp(prefix: String) =
    tempDir(prefix).toString

  test("csv round-trip preserves schema and values (header + explicit schema)") {
    val dir = tmp("csv") + "/nation"
    val src = graft.sources.Tables.t(spark, sfDir, "nation")
    src.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(src.schema).csv(dir)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      src.orderBy("n_nationkey").collect().toSeq)
  }

  test("binaryFile source reads opaque payloads with metadata (multimodal ingest path)") {
    val dir = tmp("binf")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bin"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.bin"),
      "hello".getBytes("UTF-8"))
    val df = spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("length"), col("content"))
    val rows = df.collect().map(r =>
      (r.getString(0).split('/').last, r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0) == ("a.bin", 3L, Seq[Byte](1, 2, 3)))
    assert(rows(1)._2 == 5L && new String(rows(1)._3.toArray, "UTF-8") == "hello")
  }

  test("orc round-trip preserves schema and values") {
    val dir = tmp("orc") + "/supplier"
    val src = graft.sources.Tables.t(spark, sfDir, "supplier")
    src.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("json-lines round-trip preserves values; corrupt lines surface in PERMISSIVE mode") {
    val dir = tmp("json") + "/region"
    val src = graft.sources.Tables.t(spark, sfDir, "region")
    src.write.json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      src.orderBy("r_regionkey").collect().toSeq)
    // Corrupt line tolerance — the engine-wide contract (TweetPipeline too).
    val mixed = tmp("jsonbad")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(mixed, "part-0.json"),
      "{\"r_regionkey\": 99, \"r_name\": \"OK\"}\n{broken\n")
    val read = spark.read.schema(
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))
      .json(mixed)
    assert(read.count() == 2) // corrupt row becomes all-null, not a crash
    assert(read.filter(col("r_regionkey") === 99).count() == 1)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tmp("part") + "/orders"
    graft.sources.Tables.t(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"), plan)
    assert(pruned.count() ==
      graft.sources.Tables.t(spark, sfDir, "orders")
        .filter(year(col("o_orderdate")) === 1997).count())
  }

  test("streaming file source replays a directory of JSON as a stream") {
    val dir = tmp("stream_src")
    val schema = StructType(Seq(
      StructField("value", StringType), StructField("ts", TimestampType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "batch0.json"),
      """{"value": "{\"entities\":{\"hashtags\":[{\"text\":\"Brexit\"}]}}", "ts": "2024-01-01T00:01:00.000Z"}""" + "\n")
    val stream = spark.readStream.schema(schema).json(dir)
    assert(stream.isStreaming)
    val resultPath = tmp("stream_out") + "/analytic.json"
    val q = graft.streaming.TweetPipeline.run(spark, stream, resultPath,
      triggerInterval = "0 seconds")
    try {
      q.processAllAvailable()
      val doc = java.nio.file.Files.readString(java.nio.file.Paths.get(resultPath))
      assert(doc.contains(""""items":[{"hashtag":"Brexit","count":1}]"""), doc)
    } finally q.stop()
  }
}
