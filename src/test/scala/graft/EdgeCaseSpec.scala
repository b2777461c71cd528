package graft

import org.apache.spark.sql.functions._

/** Edge cases surfaced by review: inputs the synthetic corpus never
  * produces but a general corpus will.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: (Long, String)*): String = {
    val dir = tempDir("edge").toString
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("jaccard/minhash dedup tolerate documents under 3 tokens (no shingles, no crash)") {
    val dir = docsDir(
      (0L, "one"), (1L, "two words"),
      (2L, "a full length document with plenty of tokens here"),
      (3L, "a full length document with plenty of tokens here"))
    val jacc = ops.Dedup.q51DedupJaccard(spark, dir)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(jacc == Set((2L, 3L))) // short docs contribute nothing, dup pair found
    val lsh = ops.Dedup.q52MinhashLsh(spark, dir)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(lsh == Set((2L, 3L)))
  }

  test("char n-grams of short texts emit nothing (not duplicated whole-text rows)") {
    val dir = docsDir((0L, "ab"), (1L, "x"), (2L, "abcd"))
    val grams = ops.TextAnalysis.q65CharNgrams(spark, dir)
      .select("trigram", "n").as[(String, Long)].collect().toMap
    assert(grams == Map("abc" -> 1L, "bcd" -> 1L))
  }

  test("hashtag parity query drops JSON-unsafe tokens in both formulations") {
    val dir = docsDir(
      (1L, """he said "hi" there today okay now"""),
      (2L, "spark spark data data data flow"))
    val top = ops.Hashtags.q37HashtagTopk(spark, dir)
      .select("hashtag", "count").as[(String, Long)].collect().toMap
    // Quoted token "hi" excluded; plain words counted.
    assert(!top.keys.exists(_.contains("\"")))
    assert(top("data") == 3L && top("spark") == 2L)
  }

  test("mixed-case corpus: q37 counts case-insensitively with min-casing display") {
    val dir = docsDir(
      (1L, "Brexit BREXIT brexit other words here"),
      (2L, "Unrelated tokens entirely different here now"))
    val top = ops.Hashtags.q37HashtagTopk(spark, dir)
      .select("hashtag", "count").as[(String, Long)].collect().toMap
    assert(top("BREXIT") == 3L) // one key, min() display casing
    assert(!top.contains("brexit") && !top.contains("Brexit"))
  }
}
