package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables.t
import graft.streaming.TweetPipeline.WordBlacklist

/** Driver-checkable batch parity for the tweet/hashtag pipeline
  * (streaming.TweetPipeline — the reference's whole dataflow,
  * SparkApplication.scala:57-95). Tweets are synthesized deterministically
  * from `documents`: each doc's first 5 tokens become its hashtags, and
  * every 97th doc emits a malformed line (which the PERMISSIVE parse must
  * swallow — the reference would crash the task, SparkApplication.scala:67).
  * The JSON detour (to_json-shaped string → from_json → explode) is the
  * point: it proves the parse/flatten/filter/count/top-k chain end-to-end,
  * while the oracle computes the same counts straight from the tokens.
  */
object Hashtags {

  def q37HashtagTopk(s: SparkSession, dir: String): DataFrame = {
    // Tokens restricted to JSON-safe word characters in BOTH engines —
    // raw concatenation would otherwise build invalid JSON for a token
    // containing a quote/backslash, silently dropping that doc's tags in
    // Spark while the oracle still counted them.
    val tweets = t(s, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(97)) === 0, lit("{not json!"))
          .otherwise(concat(lit("""{"entities":{"hashtags":["""),
            concat_ws(",", expr(
              """transform(
                   filter(slice(split(text, ' '), 1, 5), t -> t rlike '^[A-Za-z0-9_]+$'),
                   t -> concat('{"text":"', t, '"}'))""")),
            lit("]}}"))).as("value"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
    graft.streaming.TweetPipeline.batchTop5(tweets, 10)
      .select(col("hashtag"), col("count"))
  }

  /** Mirrors TweetPipeline.countTags exactly: case-insensitive key,
    * min(tag) display casing, count-desc/tag-asc top-k.
    */
  val q37Sql: String =
    """SELECT MIN(tag) AS hashtag, COUNT(*) AS count
       FROM (SELECT unnest(string_split(text, ' ')[1:5]) AS tag
             FROM documents WHERE doc_id % 97 <> 0)
       WHERE lower(tag) NOT IN ('europe', 'europa', 'eu', 'euro')
         AND regexp_full_match(tag, '[A-Za-z0-9_]+')
       GROUP BY lower(tag) ORDER BY count DESC, hashtag ASC LIMIT 10"""

  /** Co-trending pairs — the natural next question over the reference's
    * domain (which tags trend TOGETHER, not just which trend): for every
    * unordered pair of distinct case-insensitive hashtags appearing in
    * the same tweet, the co-occurrence count, top-15. Same tweet
    * synthesis, blacklist, and malformed-line rule as q37.
    *
    * Scale: the self-join key is doc_id with ≤5 tags per doc, so pair
    * fan-out is ≤C(5,2) per tweet — output rows ∝ tweets, never tags²;
    * one partial-aggregated shuffle on the pair.
    */
  def q127TagCooccurrence(s: SparkSession, dir: String): DataFrame = {
    val blacklist = WordBlacklist.map(w => s"'$w'").mkString(", ")
    val tags = t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(
             filter(slice(split(text, ' '), 1, 5),
                    t -> t rlike '^[A-Za-z0-9_]+$$'
                         AND NOT lower(t) IN ($blacklist)),
             t -> lower(t)))""")).as("tag"))
    tags.as("a").join(tags.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tag") < col("b.tag"))
      .select(col("a.tag").as("tag1"), col("b.tag").as("tag2"))
      .groupBy(col("tag1"), col("tag2")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tag1").asc, col("tag2").asc).limit(15)
  }

  val q127Sql: String =
    """WITH tags AS (
         SELECT DISTINCT doc_id, lower(tag) AS tag
         FROM (SELECT doc_id, unnest(string_split(text, ' ')[1:5]) AS tag
               FROM documents WHERE doc_id % 97 <> 0)
         WHERE regexp_full_match(tag, '[A-Za-z0-9_]+')
           AND lower(tag) NOT IN ('europe', 'europa', 'eu', 'euro'))
       SELECT a.tag AS tag1, b.tag AS tag2, COUNT(*) AS n
       FROM tags a JOIN tags b ON a.doc_id = b.doc_id AND a.tag < b.tag
       GROUP BY 1, 2 ORDER BY n DESC, tag1 ASC, tag2 ASC LIMIT 15"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_hashtag_topk" -> (q37HashtagTopk _),
    "q127_tag_cooccurrence" -> (q127TagCooccurrence _))

  val oracle: Map[String, String] = Map(
    "q37_hashtag_topk" -> q37Sql,
    "q127_tag_cooccurrence" -> q127Sql)
}
