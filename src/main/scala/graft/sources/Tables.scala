package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's deterministic parquet tables (TESTDATA.md).
  *
  * Scale notes: each table is a single parquet file locally, but the loaders
  * take a directory so a 100 TB deployment can point the same code at a
  * partitioned parquet dataset (directory of files) unchanged —
  * `spark.read.parquet` handles both. Column pruning and predicate pushdown
  * are left to Catalyst; callers must select/filter declaratively so the
  * pushdown reaches the scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** Schemas Spark inferred, keyed by (qualified path, (name, length, mtime)
    * of every file under it, the session's parquet SQL confs). A table
    * rewritten in place or a changed conf is a new key, so it is inferred
    * again; the oldest keys are dropped past `maxSchemas`.
    */
  private type SchemaKey = (String, Vector[(String, Long, Long)], Vector[(String, String)])
  private val maxSchemas = 64
  private val schemas = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size > maxSchemas
  }

  /** `spark.read.parquet(path)` with the schema Spark inferred on the first
    * read of this file version under these confs: the plan is the same, but
    * the inference, a Spark job of its own, runs once per table instead of
    * once per read (every query re-reads the same tables).
    */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val files = fs.listFiles(qualified, true) // a file lists as itself
    val key: SchemaKey = (qualified.toString,
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted,
      spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") && k.contains("parquet") }
        .toVector.sorted)
    val schema = schemas.synchronized(Option(schemas.get(key))).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemas.synchronized(schemas.put(key, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` arrives in whatever timestamp encoding the data
    * generator's arrow version emitted — TIMESTAMP(NANOS), TIMESTAMP(MICROS)
    * without timezone (read as TIMESTAMP_NTZ), or plain TIMESTAMP.
    * Normalize all three to a microsecond TimestampType column so
    * downstream operators see one type; the session timezone is UTC
    * everywhere (SparkEntry builders + specs), so the NTZ→LTZ cast is a
    * wall-clock identity, and the nanos→micros division is exact integer
    * arithmetic. The scan still prunes/pushes on other columns.
    *
    * Spark reads TIMESTAMP(NANOS) only as a long, and only under the
    * `spark.sql.legacy.parquet.nanosAsLong` flag, which the scan takes
    * from the session its relation was resolved in. Such a file is
    * resolved in a new session with the caller's SQL confs and the flag,
    * and its relation is read here, so the caller's session is never
    * changed.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$dir/events.parquet"
    val raw = if (!nanosTs(spark, path)) parquet(spark, path) else {
      val own = spark.newSession()
      spark.conf.getAll.foreach { case (k, v) => if (spark.conf.isModifiable(k)) own.conf.set(k, v) }
      own.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.baseRelationToDataFrame(parquet(own, path).queryExecution.analyzed
        .collectFirst { case l: LogicalRelation => l.relation }.get)
    }
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet type $other")
    }
  }

  /** Whether `ts` is a TIMESTAMP(NANOS) column, read from the footer of
    * the first data file under `path`.
    */
  private def nanosTs(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val files = p.getFileSystem(conf).listFiles(p, true)
    val file = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .find(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }
    } finally reader.close()
  }

  /** Register every table as a temp view (idempotent) so SQL-front-end
    * queries (grouping sets, subqueries) can run against the same data the
    * DataFrame queries use. Returns the session for chaining.
    */
  def registerViews(spark: SparkSession, dir: String): SparkSession = {
    all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark
  }
}
