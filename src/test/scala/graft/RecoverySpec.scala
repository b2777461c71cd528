package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Checkpoint recovery: the reference loses its whole 15-minute window on
  * restart (no ssc.checkpoint, offsets never committed —
  * SparkApplication.scala:45-52, SURVEY.md §4 fault-tolerance row). The
  * rebuild's stateful aggregation + checkpointLocation must instead resume
  * with state intact and process each input exactly once.
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

  test("run() refuses a checkpoint of sliding-window state and publishes nothing") {
    val srcDir = tempDir("recov_old_src").toString
    val ckpt = tempDir("recov_old_ckpt").toString
    val resultPath = tempDir("recov_old_out")
      .resolve("analytic.json").toString
    writeTweet(srcDir, "batch0.json", "2024-01-01T00:01:00.000Z", "Brexit")
    // The sliding-window state that run() kept before its pane layout.
    val old = graft.streaming.TweetPipeline
      .extractHashtags(spark.readStream.schema(schema).json(srcDir))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "15 minutes", "10 seconds"), lower(col("tag")).as("key"))
      .agg(min(col("tag")).as("hashtag"), count(lit(1)).as("count"))
      .writeStream.format("memory").queryName("recov_old_counts")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()
    try { old.processAllAvailable() } finally old.stop()
    writeTweet(srcDir, "batch1.json", "2024-01-01T00:02:00.000Z", "brexit")
    // The schema check runs when the first batch after the restart is
    // planned, before anything executes.
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = runPipeline(srcDir, resultPath, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"), e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(resultPath)),
      "a publish came from state read back under the wrong schema")
  }
}
