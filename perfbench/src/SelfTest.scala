package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own checks: generator determinism, the statistics
  * helpers on known inputs, and the independent top 5 against the
  * pipeline's batch top 5. Exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (ok) "PASS" else "FAIL"}  $name")
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val shape = Workloads.stream("stream_trending")
    check("same seed gives identical events") {
      val (a, b) = (new TweetGen(7, shape), new TweetGen(7, shape))
      (0 until 20).forall(k => a.block(k).toSeq == b.block(k).toSeq)
    }
    check("another seed gives other events") {
      new TweetGen(7, shape).block(3).toSeq != new TweetGen(8, shape).block(3).toSeq
    }
    check("event times stay inside their block, less the lateness allowance") {
      (0 until 20).forall { k =>
        val start = TweetGen.EpochMs + k * shape.blockSpanMs
        new TweetGen(1, shape).block(k)
          .forall(t => t.tsMs >= start - shape.maxLateMs - 1 && t.tsMs < start + shape.blockSpanMs)
      }
    }
    check("percentile interpolates like numpy") {
      val xs = Seq(1.0, 2, 3, 4)
      close(Stats.percentile(xs, 50), 2.5) && close(Stats.percentile(xs, 0), 1) &&
        close(Stats.percentile(xs, 100), 4) && close(Stats.percentile(xs, 25), 1.75) &&
        close(Stats.median(Seq(5.0, 1, 3)), 3) && Stats.percentile(Nil, 50).isNaN
    }
    check("tail percentile keeps ten samples beyond it") {
      Stats.tailPercentile(1000).contains(99) && Stats.tailPercentile(999).contains(95) &&
        Stats.tailPercentile(100).contains(90) && Stats.tailPercentile(20).contains(50) &&
        Stats.tailPercentile(19).isEmpty
    }
    check("ratio and interval union") {
      close(Stats.ratio(3, 4), 0.75) && Stats.ratio(1, 0) == 0 &&
        Stats.unionLength(Seq((0L, 10L), (5L, 12L), (20L, 25L), (21L, 22L), (30L, 30L))) == 17
    }
    check("top 5 applies case folding, blacklist and the tie-break") {
      val t = TweetGen.EpochMs
      val tw = Seq(Tweet("", t, Seq("Beta", "beta", "EU", "")), Tweet("", t + 1, Seq("alpha", "BETA")),
        Tweet("", t + 2, Seq("Alpha", "gamma")), Tweet("", t + 3, Seq("delta", "eps", "zeta", "Europe")))
      Top5.trailing(tw, Set("eu", "europe")) ==
        Seq(("BETA", 3L), ("Alpha", 2L), ("delta", 1L), ("eps", 1L), ("gamma", 1L))
    }
    check("top 5 counts only the trailing window") {
      val t = TweetGen.EpochMs
      val tw = Seq(Tweet("", t, Seq("old")), Tweet("", t, Seq("old")),
        Tweet("", t + 20 * 60 * 1000L, Seq("new")))
      Top5.trailing(tw, Set.empty) == Seq(("new", 1L))
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", args.headOption.getOrElse("target") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      for (seed <- Seq(1L, 2L)) check(s"independent top 5 matches TweetPipeline.batchTop5 (seed $seed)") {
        val tweets = (0 until 10).flatMap(k => new TweetGen(seed, shape).block(k))
        val df = tweets.map(t => (t.line, new java.sql.Timestamp(t.tsMs))).toDF("value", "ts")
        val got = graft.streaming.TweetPipeline.batchTop5(df).collect()
          .map(r => (r.getString(r.fieldIndex("hashtag")), r.getLong(r.fieldIndex("count")))).toSeq
        val blacklist = TweetGen.Blacklist.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val want = Top5.trailing(tweets, blacklist, windowMs = 3650L * 24 * 3600 * 1000)
        if (got != want) println(s"  spark=$got\n  plain=$want")
        got == want && want.size == 5
      }
    } finally spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
