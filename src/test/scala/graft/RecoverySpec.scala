package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Checkpoint recovery: the reference loses its whole 15-minute window on
  * restart (no ssc.checkpoint, offsets never committed —
  * SparkApplication.scala:45-52, SURVEY.md §4 fault-tolerance row). The
  * rebuild's pane snapshots + checkpointLocation must instead resume with
  * the window intact and process each input exactly once.
  */
class RecoverySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("value", StringType), StructField("ts", TimestampType)))

  private def writeTweet(dir: String, file: String, time: String, tags: String*): Unit = {
    val hashtags = tags.map(t => s"""{\\"text\\":\\"$t\\"}""").mkString(",")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, file),
      s"""{"value": "{\\"entities\\":{\\"hashtags\\":[$hashtags]}}", "ts": "$time"}""" + "\n")
  }

  private def runPipeline(srcDir: String, resultPath: String, ckpt: String) =
    graft.streaming.TweetPipeline.run(spark, spark.readStream.schema(schema).json(srcDir),
      resultPath, triggerInterval = "0 seconds", checkpointDir = Some(ckpt))

  test("run() resumes from its checkpoint: events before and after a restart count once") {
    val srcDir = tempDir("recov_run_src").toString
    val ckpt = tempDir("recov_run_ckpt").toString
    val resultPath = tempDir("recov_run_out")
      .resolve("analytic.json").toString
    writeTweet(srcDir, "batch0.json", "2024-01-01T00:01:00.000Z", "Brexit", "Remain")
    val q1 = runPipeline(srcDir, resultPath, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    writeTweet(srcDir, "batch1.json", "2024-01-01T00:02:00.000Z", "brexit")
    val q2 = runPipeline(srcDir, resultPath, ckpt)
    try {
      q2.processAllAvailable()
      val doc = java.nio.file.Files.readString(java.nio.file.Paths.get(resultPath))
      // 2 and 1, not 3 and 2: batch0 was not reprocessed after the restart.
      assert(doc.contains(""""items":[{"hashtag":"Brexit","count":2},{"hashtag":"Remain","count":1}]"""),
        doc)
    } finally q2.stop()
  }

  /** Runs `layout`, a stateful aggregation of the hashtags that an
    * earlier `run()` kept in Spark's state store, over one batch with a
    * checkpoint, then restarts the pipeline on that checkpoint after a
    * second batch arrives: the pipeline must fail and publish nothing.
    */
  private def assertRefuses(name: String, layout: DataFrame => DataFrame): Unit = {
    val srcDir = tempDir(s"recov_${name}_src").toString
    val ckpt = tempDir(s"recov_${name}_ckpt").toString
    val resultPath = tempDir(s"recov_${name}_out")
      .resolve("analytic.json").toString
    writeTweet(srcDir, "batch0.json", "2024-01-01T00:01:00.000Z", "Brexit")
    val old = layout(graft.streaming.TweetPipeline
      .extractHashtags(spark.readStream.schema(schema).json(srcDir))
      .withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName(s"recov_${name}_counts")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()
    try { old.processAllAvailable() } finally old.stop()
    writeTweet(srcDir, "batch1.json", "2024-01-01T00:02:00.000Z", "brexit")
    // The checkpoint records a stateful operator that the pipeline's plan
    // does not have: Spark refuses it when it plans the first batch after
    // the restart, before anything executes.
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = runPipeline(srcDir, resultPath, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"), e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(resultPath)),
      "a publish came from a checkpoint of another layout")
  }

  test("run() refuses a checkpoint of sliding-window state and publishes nothing") {
    // The sliding-window state that run() kept before its pane layout.
    assertRefuses("old", _
      .groupBy(window(col("ts"), "15 minutes", "10 seconds"), lower(col("tag")).as("key"))
      .agg(min(col("tag")).as("hashtag"), count(lit(1)).as("count")))
  }

  test("run() refuses a checkpoint of pane state kept in Spark's state store and publishes nothing") {
    // The pane state that run() kept before it moved the window to the driver.
    assertRefuses("panes", { tags =>
      val micros = unix_micros(col("ts"))
      tags.groupBy(timestamp_micros(micros - pmod(micros, lit(10000000L))).as("pane"),
          lower(col("tag")).as("key"))
        .agg(min(col("tag")).as("hashtag"), count(lit(1)).as("count"))
    })
  }

  test("run() counts a replayed batch once: it starts from the snapshot before its own") {
    val srcDir = tempDir("recov_replay_src").toString
    val ckpt = tempDir("recov_replay_ckpt").toString
    val resultPath = tempDir("recov_replay_out")
      .resolve("analytic.json").toString
    writeTweet(srcDir, "batch0.json", "2024-01-01T00:01:00.000Z", "Brexit", "Remain")
    val q1 = runPipeline(srcDir, resultPath, ckpt)
    try {
      q1.processAllAvailable()
      writeTweet(srcDir, "batch1.json", "2024-01-01T00:02:00.000Z", "brexit")
      q1.processAllAvailable()
      assert(q1.lastProgress.batchId == 1L, q1.lastProgress.json)
    } finally q1.stop()
    // Batch 1 ran and wrote its snapshot, but its commit is lost, so the
    // restart runs it again; a write of a snapshot that never finished is
    // left beside it.
    val panes = java.nio.file.Paths.get(ckpt, "panes")
    Seq("1", ".1.crc").foreach(f =>
      assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", f)), f))
    java.nio.file.Files.copy(panes.resolve("1"), panes.resolve(s".1.${java.util.UUID.randomUUID()}.tmp"))
    val q2 = runPipeline(srcDir, resultPath, ckpt)
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq == Seq(1L),
        q2.recentProgress.map(_.json).mkString)
      val doc = java.nio.file.Files.readString(java.nio.file.Paths.get(resultPath))
      // One pass over the input: Brexit twice, Remain once.
      assert(doc.contains(""""items":[{"hashtag":"Brexit","count":2},{"hashtag":"Remain","count":1}]"""),
        doc)
    } finally q2.stop()
    val left = java.nio.file.Files.list(panes)
    try assert(left.noneMatch(_.getFileName.toString.endsWith(".tmp")))
    finally left.close()
  }
}
