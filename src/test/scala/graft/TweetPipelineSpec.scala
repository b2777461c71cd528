package graft

import org.apache.spark.sql.functions._
import graft.streaming.{AnalyticSink, TweetPipeline}

/** Reference-parity semantics (SURVEY.md §5 rebuild strategy, fixtures per
  * FIXTURES.md §A): parse tolerance, blacklist, case-insensitive keying,
  * deterministic casing + tie-break, result-document contract.
  */
class TweetPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tweets(lines: String*) =
    lines.toSeq.toDF("value")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))

  private def tweet(tags: String*): String =
    s"""{"entities":{"hashtags":[${tags.map(t => s"""{"text":"$t"}""").mkString(",")}]}}"""

  test("malformed JSON and missing entities are dropped, not fatal") {
    val df = TweetPipeline.batchTop5(tweets(
      "{not json at all", """{"no_entities": 1}""", tweet("Brexit")))
    assert(df.collect().map(r => (r.getString(1), r.getLong(2))).toSeq == Seq(("Brexit", 1L)))
  }

  test("blacklist is case-insensitive (reference SparkApplication.scala:29,77)") {
    val df = TweetPipeline.batchTop5(tweets(
      tweet("EU"), tweet("eu"), tweet("Europe"), tweet("EURO"), tweet("europa"), tweet("Brexit")))
    assert(df.select("hashtag").as[String].collect().toSeq == Seq("Brexit"))
  }

  test("case-insensitive grouping with deterministic display casing (Hashtag.scala:11-17)") {
    val df = TweetPipeline.batchTop5(tweets(
      tweet("brexit"), tweet("BREXIT"), tweet("Brexit"), tweet("zzz")))
    val rows = df.collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    // min(text): uppercase sorts before lowercase -> "BREXIT" displayed.
    assert(rows == Seq(("BREXIT", 3L), ("zzz", 1L)))
  }

  test("top-5 with deterministic tie-break (count desc, tag asc)") {
    val df = TweetPipeline.batchTop5(tweets(
      tweet("b", "b", "b"), tweet("a", "a"), tweet("c", "c"), tweet("d"), tweet("e"), tweet("f")))
    val tags = df.select("hashtag").as[String].collect().toSeq
    assert(tags == Seq("b", "a", "c", "d", "e"))
  }

  test("multiple hashtags per tweet each count once") {
    val df = TweetPipeline.batchTop5(tweets(tweet("x", "y"), tweet("x")))
    val rows = df.collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("x", 2L), ("y", 1L)))
  }

  test("top5 trims each partition to its own trailing window and ranks in Spark's UTF-8 order") {
    import TweetPipeline.PaneCount
    val p = java.time.Instant.parse("2024-01-01T01:00:00Z").toEpochMilli // the newest pane
    val start = p + 10000 - 900000 // the trailing window's first pane
    // Newest pane 100 s older than p: one row a pane before p's window
    // (inside this partition's own trailing window) and one a pane before
    // this partition's own window.
    val older = Seq(
      PaneCount(start - 10000, "brexit", "Brexit", 10),
      PaneCount(p - 100000, "k", "K", 4),
      PaneCount(start, "b", "b", 3),
      PaneCount(start - 110000, "old", "old", 50))
    val newest = Seq(
      PaneCount(p, "ａx", "Ａx", 2),
      PaneCount(p, "brexit", "brexit", 3),
      PaneCount(p, "😀x", "😀x", 2),
      PaneCount(p, "k", "k", 1),
      PaneCount(p, "a", "a", 4))
    val partitions = Seq(older, Seq.empty, newest)
    // The parent's publish: Spark's max(pane), filter, groupBy(key) and
    // orderBy(count desc, hashtag asc) over the same rows.
    val all = partitions.flatten.toDF()
    val newestPane = all.agg(max(col("pane"))).first().getLong(0)
    val expected = TweetPipeline.topK(all.filter(col("pane") >= newestPane + 10000 - 900000)
      .groupBy(col("key"))
      .agg(min(col("hashtag")).as("hashtag"), sum(col("count")).as("count"))
      .select(col("hashtag"), col("count")), 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // "Ａx" (U+FF21) sorts before "😀x" (U+1F600) in UTF-8 bytes, after it
    // in UTF-16 units: only the first makes the cut at count 2.
    assert(expected == Seq("K" -> 5L, "a" -> 4L, "b" -> 3L, "brexit" -> 3L, "Ａx" -> 2L))
    assert(TweetPipeline.top5(partitions.map(_.iterator)) == expected)
    assert(TweetPipeline.top5(partitions.reverse.map(_.reverse.iterator)) == expected)
    assert(TweetPipeline.top5(Seq(Iterator.empty, Iterator.empty)) == Seq.empty)
  }

  test("result document matches the reference contract (web/analytic.json shape)") {
    val doc = AnalyticSink.render(Seq(("Brexit", 42L), ("Remain", 7L)), "2026-08-12T00:00:00Z")
    assert(doc ==
      """{"items":[{"hashtag":"Brexit","count":42},{"hashtag":"Remain","count":7}],"datetime":"2026-08-12T00:00:00Z"}""")
    // Empty window -> empty items array, still a valid doc (reference writes it too).
    assert(AnalyticSink.render(Seq.empty, "t") == """{"items":[],"datetime":"t"}""")
  }

  test("atomic write publishes a parseable complete file") {
    val dir = tempDir("sink")
    val path = dir.resolve("analytic.json").toString
    AnalyticSink.write(path, Seq(("A", 1L)))
    val content = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(content.startsWith("""{"items":[{"hashtag":"A","count":1}]"""))
    AnalyticSink.write(path, Seq(("B", 2L))) // overwrite is atomic, no residue
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)).contains("\"B\""))
  }

  test("published file has the permissions of a plain create in the same directory") {
    import java.nio.file.Files
    val dir = tempDir("sink_perms")
    val published = dir.resolve("analytic.json")
    AnalyticSink.write(published.toString, Seq(("A", 1L)))
    val plain = Files.createFile(dir.resolve("plain.json"))
    assert(Files.getPosixFilePermissions(published) == Files.getPosixFilePermissions(plain))
  }

  test("a failed publish throws and leaves no staging file behind") {
    import java.nio.file.Files
    val dir = tempDir("sink_fail")
    // A non-empty directory at the target path: the publish move must fail.
    val target = dir.resolve("analytic.json")
    Files.createFile(Files.createDirectories(target).resolve("occupant"))
    intercept[java.io.IOException](AnalyticSink.write(target.toString, Seq(("A", 1L))))
    val leftovers = Files.list(dir)
    try assert(leftovers.noneMatch(_.getFileName.toString.endsWith(".tmp")))
    finally leftovers.close()
  }
}
