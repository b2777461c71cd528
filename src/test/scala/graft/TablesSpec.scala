package graft

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** `Tables` infers a parquet table's schema once per file version and
  * parquet conf: a repeated read starts no Spark job, while a rewrite or a
  * conf change is seen on the next read. Also pins the `events.ts`
  * normalization for the encodings Spark writes and for TIMESTAMP(NANOS),
  * none of which changes the session.
  */
class TablesSpec extends SparkSpec {

  private def tmp(prefix: String) =
    tempDir(prefix).toString

  /** The result of `body` and the number of Spark jobs it started. Jobs are
    * tagged with a job group; a sentinel job submitted after `body` marks
    * the point where the listener has seen every earlier job start.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val groups = new ConcurrentLinkedQueue[String]()
    val sentinelSeen = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          if (g == s"$group-end") sentinelSeen.set(true) else groups.add(g)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "TablesSpec")
      val result = body
      sc.setJobGroup(s"$group-end", "TablesSpec sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!sentinelSeen.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen.get, "listener never saw the sentinel job")
      var n = 0
      groups.forEach(g => if (g == group) n += 1)
      (result, n)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("a repeated read of an unchanged table starts no Spark job") {
    val dir = tmp("tables-memo")
    spark.range(5).select(col("id").as("r_regionkey"), concat(lit("r"), col("id")).as("r_name"))
      .write.parquet(s"$dir/region.parquet")
    val (first, firstJobs) = jobsDuring(Tables.t(spark, dir, "region"))
    assert(firstJobs >= 1, "the first read infers the schema with a Spark job")
    val (second, secondJobs) = jobsDuring(Tables.t(spark, dir, "region"))
    assert(secondJobs == 0)
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first))
    assert(rows(second).length == 5)
  }

  test("a table rewritten in place shows its new column on the next read") {
    val dir = tmp("tables-rewrite")
    val path = s"$dir/nation.parquet"
    spark.range(3).select(col("id").as("n_nationkey")).write.parquet(path)
    assert(Tables.t(spark, dir, "nation").columns.toSeq == Seq("n_nationkey"))
    spark.range(3).select(col("id").as("n_nationkey"), (col("id") * 10).as("n_regionkey"))
      .write.mode("overwrite").parquet(path)
    val after = Tables.t(spark, dir, "nation")
    assert(after.columns.toSeq == Seq("n_nationkey", "n_regionkey"))
    assert(rows(after) == Seq(Seq(0L, 0L), Seq(1L, 10L), Seq(2L, 20L)))
  }

  test("flipping spark.sql.parquet.binaryAsString between reads changes the read type") {
    // Written without Spark's schema metadata (Spark would honour its own
    // recorded type over the conf), as a plain parquet BINARY column.
    val dir = tmp("tables-conf")
    val schema = MessageTypeParser.parseMessageType(
      "message part { required int64 p_partkey; required binary p_name; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> "bolt", 2L -> "nut").foreach { case (k, n) =>
      writer.write(groups.newGroup().append("p_partkey", k).append("p_name", Binary.fromString(n)))
    } finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.t(spark, dir, "part").schema("p_name").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.t(spark, dir, "part")
      assert(asString.schema("p_name").dataType == StringType)
      assert(rows(asString) == Seq(Seq(1L, "bolt"), Seq(2L, "nut")))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("events normalizes ts to TimestampType for TIMESTAMP_NTZ and TIMESTAMP, first and repeated read") {
    val base = spark.range(3).select(col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1500000L).as("ts"))
    val expected = rows(base)
    Seq("ntz" -> TimestampNTZType, "ltz" -> TimestampType).foreach { case (tag, written) =>
      val dir = tmp(s"tables-events-$tag")
      base.withColumn("ts", col("ts").cast(written)).write.parquet(s"$dir/events.parquet")
      assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == written)
      Seq("first", "repeated").foreach { read =>
        val ev = Tables.t(spark, dir, "events")
        assert(ev.schema("ts").dataType == TimestampType, s"$tag, $read read")
        assert(rows(ev) == expected, s"$tag, $read read")
      }
    }
  }

  test("reading events leaves the session alone: region, events, region cost 1, 1, 0 jobs") {
    val dir = tmp("tables-events-session")
    spark.range(5).select(col("id").as("r_regionkey")).write.parquet(s"$dir/region.parquet")
    spark.range(3).select(col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id")).cast(TimestampNTZType).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val confs = spark.conf.getAll
    val jobs = Seq("region", "events", "region").map(n => jobsDuring(Tables.t(spark, dir, n))._2)
    assert(jobs == Seq(1, 1, 0))
    assert(spark.conf.getAll == confs)
  }

  test("events reads a TIMESTAMP(NANOS) ts as microseconds without setting the nanos flag on the session") {
    val dir = tmp("tables-events-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    val nanos = Seq(1700000000000000123L, 1700000001500000999L)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(flag)
    val ev = Tables.t(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(col("event_id"), unix_micros(col("ts"))).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .sorted == Seq(0L -> 1700000000000000L, 1L -> 1700000001500000L))
    assert(spark.conf.getOption(flag) == before)
  }
}
