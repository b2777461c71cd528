package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source resolver for the tweet pipeline — the landing point a user of the
  * reference hits first (KafkaUtils.createDirectStream at
  * SparkApplication.scala:45-61). Every branch yields the pipeline's input
  * contract: a streaming DataFrame with columns (value STRING, ts TIMESTAMP).
  *
  *   - `kafka`  — Structured Streaming's kafka source carrying the
  *     reference's consumer config: topic `tweet`, `auto.offset.reset=latest`
  *     → `startingOffsets=latest`, group id `tweet`
  *     (SparkApplication.scala:46-55). `enable.auto.commit=false` needs no
  *     mapping: Structured Streaming tracks offsets in the checkpoint, never
  *     via Kafka commits. This branch compiles against the stock DataSource
  *     API but is NOT testable here (no Kafka jar / broker in the
  *     environment — SURVEY.md §7.4.5); resolution happens at runtime via
  *     `format("kafka")`, so adding spark-sql-kafka to the classpath is the
  *     only deployment step.
  *   - `file`   — JSON-lines directory, the replayable stand-in used by every
  *     spec and the driver fixtures ({"value": "<tweet json>", "ts": ...}).
  *   - `rate`   — self-ticking synthetic tweets for smoke runs with no data.
  *
  * [[memory]] is not a `TWEET_SOURCE` kind: a MemoryStream is fed through
  * the handle it returns, which only in-process callers (specs, benches)
  * hold, so the app started from the environment would never publish.
  */
object TweetSource {

  /** Reference consumer defaults: SparkApplication.scala:46-55. */
  final case class Config(
      kind: String = "file",
      path: String = "tweets",
      bootstrapServers: String = "localhost:9092",
      topic: String = "tweet",
      startingOffsets: String = "latest",
      groupId: String = "tweet",
      rowsPerSecond: Int = 10)

  /** Environment surface: TWEET_SOURCE=file|rate|kafka, TWEET_SOURCE_PATH,
    * the KAFKA_* knobs and RATE_ROWS_PER_SECOND. Takes a lookup function
    * instead of sys.env so specs can inject maps.
    */
  def fromEnv(env: String => Option[String]): Config = {
    val d = Config()
    Config(
      kind = env("TWEET_SOURCE").getOrElse(d.kind),
      path = env("TWEET_SOURCE_PATH").getOrElse(d.path),
      bootstrapServers = env("KAFKA_BOOTSTRAP_SERVERS").getOrElse(d.bootstrapServers),
      topic = env("KAFKA_TOPIC").getOrElse(d.topic),
      startingOffsets = env("KAFKA_STARTING_OFFSETS").getOrElse(d.startingOffsets),
      groupId = env("KAFKA_GROUP_ID").getOrElse(d.groupId),
      rowsPerSecond = env("RATE_ROWS_PER_SECOND").map(_.toInt).getOrElse(d.rowsPerSecond))
  }

  /** The pipeline's input schema — what every branch must emit. */
  val inputSchema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("ts", TimestampType)))

  def resolve(spark: SparkSession, cfg: Config): DataFrame = cfg.kind match {
    case "file"   => file(spark, cfg.path)
    case "rate"   => rate(spark, cfg.rowsPerSecond)
    case "kafka"  => kafka(spark, cfg)
    case other => throw new IllegalArgumentException(
      s"unknown TWEET_SOURCE '$other' (expected file|rate|kafka)")
  }

  /** JSON-lines directory source; new files are discovered per trigger. */
  def file(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(inputSchema).json(dir)

  /** Kafka topic → (value, ts): value bytes decoded as UTF-8 tweet JSON, the
    * broker append time as event time (the reference had no event time at
    * all — processing-time windows only).
    */
  def kafka(spark: SparkSession, cfg: Config): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.topic)
      .option("startingOffsets", cfg.startingOffsets)
      .option("kafka.group.id", cfg.groupId)
      .load()
      .select(col("value").cast("string").as("value"), col("timestamp").as("ts"))

  /** Deterministic synthetic tweets off the rate source — one hashtag drawn
    * from a small rotating pool per tick, so the dashboard moves with zero
    * external dependencies.
    */
  def rate(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .select(
        concat(
          lit("""{"entities":{"hashtags":[{"text":"tag"""),
          pmod(col("value"), lit(7)),
          lit(""""}]}}""")).as("value"),
        col("timestamp").as("ts"))

  /** In-process source for specs and benches: push (tweetJson, ts) pairs
    * through the returned MemoryStream handle.
    */
  def memory(spark: SparkSession): (MemoryStream[(String, java.sql.Timestamp)], DataFrame) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[(String, java.sql.Timestamp)] =
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP)
    val ms = MemoryStream[(String, java.sql.Timestamp)]
    (ms, ms.toDF().toDF("value", "ts"))
  }
}
