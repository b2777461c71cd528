package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** spark-submit parity with the reference's `SparkApplication.main`
  * (SparkApplication.scala:33-41 config wiring, :109-130 result publication):
  * env → source → top-5 of the trailing 15 minutes → atomic analytic.json,
  * refreshed per trigger. The window and its 10 s slide are fixed, as in the
  * reference (SparkApplication.scala:37, :88).
  *
  * Environment surface (reference's in parentheses):
  *   RESULT_FILENAME   result document path   (same var, default analytic.json)
  *   TWEET_SOURCE      file|rate|kafka        (reference: kafka only)
  *   TWEET_SOURCE_PATH file-source directory
  *   KAFKA_*           bootstrap/topic/offsets/group — see [[TweetSource]]
  *   TRIGGER_INTERVAL  batch cadence          (reference: Durations.seconds(10))
  *   CHECKPOINT_DIR    recovery checkpoint    (reference: none — it lost the
  *                     15-min window on every restart; see RecoverySpec)
  */
object TweetApp {

  /** Wire config → source → pipeline and start the query. Separated from
    * [[main]] so the e2e spec can drive it with an injected env and session.
    */
  def start(spark: SparkSession, env: String => Option[String]): StreamingQuery = {
    val source = TweetSource.resolve(spark, TweetSource.fromEnv(env))
    TweetPipeline.run(
      spark,
      source,
      resultPath = env("RESULT_FILENAME").getOrElse("analytic.json"),
      triggerInterval = env("TRIGGER_INTERVAL").getOrElse("10 seconds"),
      checkpointDir = env("CHECKPOINT_DIR"))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("MrTweety Analytic")
      .getOrCreate()
    val query = start(spark, sys.env.get)
    query.awaitTermination()
  }
}
