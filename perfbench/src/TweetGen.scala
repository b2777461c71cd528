package perfbench

import java.util.Locale
import scala.collection.mutable

/** One generated tweet: the JSON line the pipeline reads, its event time,
  * and the raw hashtag texts a correct parser finds in it (empty for
  * malformed and tag-less lines).
  */
final case class Tweet(line: String, tsMs: Long, tags: Seq[String])

/** Shape of a stream workload's input and schedule.
  *
  * The generator is open loop: block `k` of `rate * tickMs / 1000` tweets is
  * due at `k * tickMs` after the start, whatever the pipeline is doing. Event
  * time runs `accel` times faster than wall time, so the 15-minute window
  * slides and closes within a run.
  */
final case class StreamShape(
    vocab: Int,
    zipfS: Double,
    rate: Int,
    tickMs: Int,
    accel: Int,
    triggerMs: Long,
    maxTags: Int = 3,
    outOfOrder: Double = 0.02,
    maxLateMs: Long = 45000L,
    malformed: Double = 0.01,
    noEntities: Double = 0.02,
    tagless: Double = 0.05,
    blacklisted: Double = 0.3,
    upper: Double = 0.1,
    capitalized: Double = 0.2) {
  def perBlock: Int = rate * tickMs / 1000
  def blockSpanMs: Long = tickMs.toLong * accel
}

/** Deterministic tweet generator: block `k` depends only on (seed, k). */
final class TweetGen(seed: Long, shape: StreamShape) {
  import TweetGen._

  /** Zipf CDF over the tag vocabulary, rank 1 most frequent. */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(shape.vocab)(i => 1.0 / math.pow(i + 1, shape.zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def drawTag(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    val base = "topic" + Integer.toString(math.min(i, shape.vocab - 1), 36)
    val c = r.nextDouble()
    if (c < shape.upper) base.toUpperCase(Locale.ROOT)
    else if (c < shape.upper + shape.capitalized) base.capitalize
    else base
  }

  def block(k: Int): Array[Tweet] = {
    val r = new java.util.SplittableRandom(mix(seed, k))
    val start = EpochMs + k * shape.blockSpanMs
    Array.tabulate(shape.perBlock) { i =>
      val id = k.toLong * shape.perBlock + i
      var ts = start + r.nextLong(shape.blockSpanMs)
      if (r.nextDouble() < shape.outOfOrder) ts -= 1 + r.nextLong(shape.maxLateMs)
      val kind = r.nextDouble()
      if (kind < shape.malformed)
        Tweet(s"""{"id":$id,"entities":{"hashtags":[{"text":"${drawTag(r)}"""", ts, Nil)
      else if (kind < shape.malformed + shape.noEntities)
        Tweet(s"""{"id":$id,"text":"no entities"}""", ts, Nil)
      else if (kind < shape.malformed + shape.noEntities + shape.tagless)
        Tweet(s"""{"id":$id,"text":"no tags","entities":{"hashtags":[]}}""", ts, Nil)
      else {
        val tags = mutable.ArrayBuffer.fill(1 + r.nextInt(shape.maxTags))(drawTag(r))
        if (r.nextDouble() < shape.blacklisted)
          tags += Blacklist(r.nextInt(Blacklist.size))
        val body = tags.map(t => s"""{"text":"$t"}""").mkString(",")
        Tweet(s"""{"id":$id,"text":"tweet $id","entities":{"hashtags":[$body]}}""", ts, tags.toList)
      }
    }
  }
}

object TweetGen {
  /** 2024-01-01T00:00:00Z: event time of block 0. */
  val EpochMs: Long = 1704067200000L

  /** Blacklisted tags in the casings the generator mixes in. */
  val Blacklist: IndexedSeq[String] = IndexedSeq("EU", "Europe", "euro", "EUROPA", "eu")

  private[perfbench] def mix(seed: Long, k: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + k
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Top-k of the trailing sliding window, computed in plain Scala from the
  * generated tweets, independently of Spark: case-insensitive keys, the
  * smallest casing as display text, the blacklist dropped, and ties broken
  * by count descending, then display text ascending. The trailing window
  * ends at the newest slide boundary after the latest tagged tweet.
  */
object Top5 {
  def trailing(tweets: Iterable[Tweet], blacklist: Set[String],
               windowMs: Long = 15 * 60 * 1000L, slideMs: Long = 10 * 1000L,
               k: Int = 5): Seq[(String, Long)] = {
    def keep(tag: String) = tag.nonEmpty && !blacklist.contains(tag.toLowerCase(Locale.ROOT))
    val tagged = tweets.filter(_.tags.exists(keep))
    if (tagged.isEmpty) Seq.empty
    else {
      val end = Math.floorDiv(tagged.map(_.tsMs).max, slideMs) * slideMs + slideMs
      val start = end - windowMs
      val counts = mutable.HashMap[String, (String, Long)]()
      for (t <- tagged if t.tsMs >= start && t.tsMs < end; tag <- t.tags if keep(tag)) {
        val key = tag.toLowerCase(Locale.ROOT)
        counts(key) = counts.get(key) match {
          case Some((shown, n)) => (if (tag < shown) tag else shown, n + 1)
          case None => (tag, 1L)
        }
      }
      counts.values.toSeq
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        .take(k)
    }
  }
}
