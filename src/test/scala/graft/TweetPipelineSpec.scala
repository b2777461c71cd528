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

  test("result document matches the reference contract (web/analytic.json shape)") {
    val doc = AnalyticSink.render(Seq(("Brexit", 42L), ("Remain", 7L)), "2026-08-12T00:00:00Z")
    assert(doc ==
      """{"items":[{"hashtag":"Brexit","count":42},{"hashtag":"Remain","count":7}],"datetime":"2026-08-12T00:00:00Z"}""")
    // Empty window -> empty items array, still a valid doc (reference writes it too).
    assert(AnalyticSink.render(Seq.empty, "t") == """{"items":[],"datetime":"t"}""")
  }

  test("atomic write publishes a parseable complete file") {
    val dir = java.nio.file.Files.createTempDirectory("sink")
    val path = dir.resolve("analytic.json").toString
    AnalyticSink.write(path, Seq(("A", 1L)))
    val content = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(content.startsWith("""{"items":[{"hashtag":"A","count":1}]"""))
    AnalyticSink.write(path, Seq(("B", 2L))) // overwrite is atomic, no residue
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)).contains("\"B\""))
  }

  test("published file has the permissions of a plain create in the same directory") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("sink_perms")
    val published = dir.resolve("analytic.json")
    AnalyticSink.write(published.toString, Seq(("A", 1L)))
    val plain = Files.createFile(dir.resolve("plain.json"))
    assert(Files.getPosixFilePermissions(published) == Files.getPosixFilePermissions(plain))
  }

  test("a failed publish throws and leaves no staging file behind") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("sink_fail")
    // A non-empty directory at the target path: the publish move must fail.
    val target = dir.resolve("analytic.json")
    Files.createFile(Files.createDirectories(target).resolve("occupant"))
    intercept[java.io.IOException](AnalyticSink.write(target.toString, Seq(("A", 1L))))
    val leftovers = Files.list(dir)
    try assert(leftovers.noneMatch(_.getFileName.toString.endsWith(".tmp")))
    finally leftovers.close()
  }
}
