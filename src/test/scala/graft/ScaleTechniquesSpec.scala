package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Scale techniques that need their own setup rather than a driver query:
  * bucketed co-located joins (no exchange), stream-stream joins with
  * watermarked interval conditions, extension-based function install.
  */
class ScaleTechniquesSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    // External tables (explicit path) — warehouse dir is static config.
    val wh = tempDir("warehouse").toString
    val li = graft.sources.Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = graft.sources.Tables.t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderpriority")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$wh/li_b").saveAsTable("li_b")
    ord.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$wh/ord_b").saveAsTable("ord_b")
    try {
      // Disable broadcast so the co-located SMJ is observable.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join must not shuffle:\n" + plan)
      assert(joined.count() == li.count()) // every lineitem has its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("stream-stream interval join with watermarks on both sides") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val purchases = MemoryStream[(Long, Timestamp)]
    val signups = MemoryStream[(Long, Timestamp)]
    val p = purchases.toDF().toDF("user_id", "p_ts").withWatermark("p_ts", "10 minutes")
    val sg = signups.toDF().toDF("s_user_id", "s_ts").withWatermark("s_ts", "10 minutes")
    // purchase joined to a signup at most 1 hour earlier (bounded state on
    // both sides thanks to watermark + interval condition).
    val joined = p.join(sg,
      col("user_id") === col("s_user_id") &&
        col("p_ts") >= col("s_ts") && col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      signups.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:00")))
      purchases.addData((1L, ts("2024-01-01 00:30:00"))) // inside the hour
      purchases.addData((2L, ts("2024-01-01 02:00:00"))) // outside -> no match
      q.processAllAvailable()
      val rows = spark.table("ss_join").select("user_id").as[Long].collect().toSeq
      assert(rows == Seq(1L))
    } finally q.stop()
  }

  test("stream-static join: streaming facts enrich against a static dimension") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val events = MemoryStream[(Long, Timestamp)]
    val dim = graft.sources.Tables.t(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("nation_id"), col("n_name"))
    val enriched = events.toDF().toDF("nation_id", "ts").join(dim, Seq("nation_id"))
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      events.addData((1L, ts("2024-01-01 00:00:00")), (3L, ts("2024-01-01 00:01:00")))
      q.processAllAvailable()
      val names = spark.table("enriched").select("n_name").as[String].collect()
      assert(names.length == 2 && names.forall(_.nonEmpty))
    } finally q.stop()
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    val base = tempDir("dpp").toString
    graft.sources.Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    // DPP requires a selective predicate over a real dim SCAN (a literal
    // LocalRelation constant-folds away and fails the heuristic) — the
    // production shape: a file-backed dim filtered at query time.
    Seq(("R", "returned"), ("A", "accepted"), ("N", "none"))
      .toDF("flag", "label").write.mode("overwrite").parquet(s"$base/dim")
    val dim = spark.read.parquet(s"$base/dim").filter(col("label") === "returned")
    val joined = fact.join(dim, col("l_returnflag") === col("flag"))
    joined.collect()
    // The fact scan must carry a dynamic pruning predicate on the partition
    // column — the mechanism that keeps a 100 TB date-partitioned fact from
    // full-scanning when the dim side is selective.
    val formatted = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).toLowerCase
    assert(formatted.contains("dynamicpruning"), formatted)
    assert(joined.count() ==
      fact.filter(col("l_returnflag") === "R").count())
  }

  test("runtime bloom filter prunes the shuffle-join big side on a selective dim") {
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = graft.sources.Tables.t(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity")
      val supp = graft.sources.Tables.t(spark, sfDir, "supplier")
        .filter(col("s_acctbal") > 9000) // selective creation side
        .select("s_suppkey")
      val joined = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString.toLowerCase
      // InjectRuntimeFilter adds a bloom-filter semi-join reduction on the
      // big side (might_contain over a bloom_filter_agg of the dim keys).
      assert(optimized.contains("might_contain") || optimized.contains("bloomfilter"),
        optimized)
      // Semantics unchanged vs the plain join.
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      assert(joined.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("custom functions: one builder list feeds SQL registration and the extensions hook") {
    // register() and GraftExtensions.apply iterate the SAME builders list,
    // so surface drift is structurally impossible; this test pins the
    // list's contents and exercises both the smoke path and arity errors.
    val names = graft.functions.VectorExpressions.builders.map(_._1).toSet
    assert(names == Set("graft_dot", "graft_lsh_buckets", "graft_shingle_hashes",
      "graft_minhash_sig", "graft_minhash_bands", "graft_simhash", "graft_ahash",
      "graft_char_entropy", "graft_char_trigrams",
      "graft_argmax_dot", "graft_top_dots", "graft_pq_hier_code"), names)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    graft.functions.VectorExpressions.register(spark)
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
    // Every function reachable from pure SQL, including the
    // graft_lsh_buckets bits-per-table dial (2-arg form).
    Seq("graft_lsh_buckets(array(1.0D))",
      "graft_lsh_buckets(array(1.0D), 8)",
      "graft_shingle_hashes(array('a','b','c','d'))",
      "graft_minhash_sig(graft_shingle_hashes(array('a','b','c','d')))",
      "graft_minhash_bands(graft_shingle_hashes(array('a','b','c','d')))",
      "graft_simhash(array('a','b'))",
      "graft_ahash('abcdef')",
      "graft_char_entropy('aabbb').ent_micro",
      "graft_char_trigrams('abcab')['abc']",
      // r13 argmax family: candidates as array<struct<int, array<double>>>.
      "graft_argmax_dot(array(1.0D, 0.0D), array(named_struct('cell', 3, 'cent', array(0.5D, 0.0D)), named_struct('cell', 1, 'cent', array(0.5D, 0.0D))))",
      "graft_top_dots(array(1.0D), array(named_struct('cell', 2, 'cent', array(0.1D)), named_struct('cell', 1, 'cent', array(0.9D))), 2)[0].cell",
      "graft_pq_hier_code(array(1.0D), array(named_struct('g', 0, 'scent', array(1.0D))), map(0, array(named_struct('cell', 7, 'cent', array(1.0D)))), 1)").foreach { call =>
      assert(spark.sql(s"SELECT $call AS v").collect().length == 1, call)
    }
    // The argmax tie rule (equal score -> LOWEST id) — the ordering
    // parity every PQ/IVF oracle hash rides on.
    assert(spark.sql("SELECT graft_argmax_dot(array(1.0D), array(" +
      "named_struct('cell', 3, 'cent', array(0.5D)), " +
      "named_struct('cell', 1, 'cent', array(0.5D)))) AS v")
      .collect()(0).getInt(0) == 1)
    // Wrong arity raises (not silently dropped) — same builder both paths.
    intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0D))").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT graft_simhash(array('a'), 2)").collect()
    }
  }

  test("AQE splits a hot LSH band bucket in the dedup band-join shape (skew=true)") {
    // The dedup self-joins are uniform on the synthetic corpus (VERDICT r4
    // item 7) — this is the adversarial case they never exercise: a corpus
    // where one band bucket holds thousands of documents (e.g. boilerplate
    // near-identical docs all landing in one MinHash band). The band join
    // then has one shuffle partition carrying the hot bucket's whole mass,
    // and AQE's skew-join must split it at runtime. Thresholds are lowered
    // so spec-sized data crosses them; the mechanism is identical at TB
    // partition sizes. (The PREVENTIVE analog is the same df-cap posture
    // [[graft.ops.Dedup.hashedShingles]] uses for hot shingles: count band
    // keys, broadcast anti-join away buckets with df > cap — a bucket
    // shared by thousands of docs carries no dedup signal either. AQE is
    // the runtime net under whatever the cap lets through.)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // Adversarial banding: 300k of 400k docs share band key 0 (the hot
      // partition measures ~4.9 MB vs a 468 KB median). The hashed-payload
      // column keeps shuffle blocks incompressible — sequential ids alone
      // compress below the skew threshold. The right side must reach the
      // join as a PLAIN shuffle (like the real band self-join, where both
      // sides are the exploded bands frame): the skew rule's pattern is
      // SMJ(Sort(shuffle), Sort(shuffle)), so an aggregate between
      // shuffle and join — whose partitions cannot be split without
      // breaking the aggregate — correctly disables it.
      val bands = spark.range(400000).select(col("id").as("doc_id"),
        when(col("id") < 300000, lit(0L)).otherwise(col("id")).as("bkey"),
        expr("xxhash64(id)").as("sig"))
      val reps = spark.range(400000).select(col("id").as("bkey"), col("id").as("rep"))
      val joined = bands.join(reps, "bkey")
      // Execute THIS frame's queryExecution (a write/count would plan its
      // own) so the adaptive plan finalizes and the skew split is visible.
      assert(joined.collect().length == 400000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE did not split the hot band bucket:\n" + plan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join returns exactly the plain join result (semantics preserved)") {
    val salted = ops.Skew.q57SaltedJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val plain = graft.sources.Tables.t(spark, sfDir, "lineitem")
      .join(graft.sources.Tables.t(spark, sfDir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_items"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)").as("revenue"))
      .orderBy(col("s_suppkey"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(salted == plain)
  }
}
