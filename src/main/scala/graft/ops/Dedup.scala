package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables.t

/** Deduplication operators for LLM training-data pipelines (north-star
  * extension surface; the reference has nothing comparable — its only
  * "identity" notion is the case-insensitive hashtag key,
  * Hashtag.scala:11-17).
  *
  * Families over `documents`:
  *   - exact (content-hash groupBy)                          → q50
  *   - n-gram Jaccard via shingle inverted index             → q51
  *       · df-capped production posture                      → q79
  *       · AllPairs/PPJoin prefix-filtered formulation       → q81
  *   - MinHash + LSH banding, exact-verified                 → q52
  *   - SimHash + pigeonhole banding for hamming ≤ 3          → q53
  * plus embedding-cosine near-dup pairs on `embeddings`      → [[nearDups]]
  * and the three signals' consensus vote                     → [[consensusLegs]].
  *
  * Scale design: nothing here is O(n²) in the corpus. q51/q52 generate
  * candidate pairs only for documents sharing a shingle (q51) or an LSH
  * band bucket (q52) — the standard inverted-index / banding formulations
  * that run at 100 TB as a few shuffles. Verification joins are
  * candidate-proportional. Hot shingles (stop-phrases) are the one skew
  * hazard: the config-gated `maxShingleDf` cap on [[shingles]] removes
  * them via a broadcast anti-join (default off so the oracle sees
  * identical semantics; see the df-cap spec in DedupSpec).
  */
object Dedup {
  private val P: Long = 2147483647L // 2^31-1, Mersenne prime hash modulus

  /** Per-row distinct word-3-gram shingle ARRAY — [[shingles]]'s kernel.
    * Distinctness is per document, so it is computed with `array_distinct`
    * inside the row (codegen'd, free) instead of a corpus-wide
    * `distinct()` — which round 3 paid as a full (doc, shingle) shuffle in
    * every Jaccard-family query. Same rows out, one shuffle fewer in.
    *
    * Documents under 3 tokens yield no shingles — guarded with IF, because
    * Spark's sequence(1, 0) is the DESCENDING [1, 0] (not empty like
    * DuckDB's generate_series) and slice(toks, 0, _) throws.
    */
  private val shingleArr: String =
    """array_distinct(IF(size(toks) >= 3,
          transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3))),
          array()))"""

  /** Word 3-gram shingle set, one row per distinct (doc, shingle).
    *
    * `maxDf`: the config-gated hot-shingle cap (VERDICT r1 item 6).
    * Real corpora have stop-phrases whose shingles appear in a large
    * fraction of documents; in the inverted-index self-join each such
    * shingle contributes df·(df−1)/2 candidate pairs to ONE reducer — the
    * unbounded skew that kills q51 at 100 TB. With the cap, shingles with
    * document frequency > maxDf are removed from the shingle universe
    * (index, set sizes, common counts alike — they carry no dedup signal,
    * so this is the standard stop-shingle semantics). The hot set is tiny
    * by construction, so the filter is a broadcast anti-join: the big
    * (doc, shingle) stream never shuffles on the skewed key. Default off
    * — the DuckDB oracle sees identical semantics.
    */
  private[graft] def shingles(docs: DataFrame, maxDf: Option[Long] = None): DataFrame = {
    val base = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(shingleArr)).as("shingle"))
    maxDf.fold(base) { cap =>
      val hot = base.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") > cap)
        .select(col("shingle"))
      base.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
  }

  /** Exact dedup: group by content hash (md5 — stable across engines),
    * keep the lowest doc_id deterministically. `dropDuplicates` keeps an
    * arbitrary row; min-per-group is the reproducible form. One shuffle on
    * the hash — embarrassingly scalable, no skew (hashes are uniform).
    */
  def q50DedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val q50Sql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
       FROM documents GROUP BY 1 ORDER BY keep_id"""

  /** Near-dup pairs by word-3-gram Jaccard ≥ 0.6, via the shingle inverted
    * index: self-join on shingle (only co-shingled pairs materialize),
    * count common, Jaccard = |∩| / (|A|+|B|−|∩|) in exact integer terms →
    * one final double division, bit-identical across engines.
    */
  def q51DedupJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardNearDups(t(s, dir, "documents"))

  /** One row per distinct (doc, shingle HASH) — the hashed counterpart of
    * [[shingles]], built per-row by the codegen'd
    * [[graft.functions.ShingleHashesExpr]] so the shuffled join key is an
    * 8-byte long instead of a ~3-word string. Document frequencies,
    * co-occurrence counts, and set sizes on the hashes equal the
    * string-shingle values modulo 64-bit collisions (~n²/2⁶⁴ per document
    * — negligible; see [[hashedShingleSets]]). The df-cap drops hot
    * HASHES via the same broadcast anti-join posture as [[shingles]].
    */
  private[graft] def hashedShingles(docs: DataFrame, maxDf: Option[Long] = None): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    val base = docs.select(col("doc_id"),
      explode(expr("graft_shingle_hashes(split(text, ' '))")).as("h"))
    maxDf.fold(base) { cap =>
      val hot = base.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > cap)
        .select(col("h"))
      base.join(broadcast(hot), Seq("h"), "left_anti")
    }
  }

  /** Library form of q51: near-dup pairs over any (doc_id, text) frame,
    * with the optional hot-shingle df-cap (see [[shingles]]) and the
    * cache-lifecycle contract (see [[StorageHandle]] — call
    * `handle.release()` once the result is materialized).
    *
    * Round 4: the inverted index runs on HASHED shingles — the self-join
    * shuffles and compares 8-byte longs instead of shingle strings
    * (identical counts modulo 64-bit collisions, which the string-based
    * DuckDB oracle would catch; same trade as [[minhashNearDups]]'s
    * verify). The string formulation remains in [[shingles]] /
    * [[q51Pairs]] as the oracle-side definition.
    */
  def jaccardNearDups(docs: DataFrame, threshold: Double = 0.6,
                      maxShingleDf: Option[Long] = None,
                      handle: StorageHandle = StorageHandle.sessionDefault(),
                      sorted: Boolean = true): DataFrame = {
    val sh = handle.pin(hashedShingles(docs, maxShingleDf))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("c"))
    val out = common
      .join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / (col("s1.n") + col("s2.n") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // r14 (guide §2.4): the presentation sort is a range exchange
    // (sampling pass + sort); composition consumers — vote joins,
    // connected components, per-source aggregations — are order-
    // independent and end with their own deterministic ORDER BY, so
    // they take sorted = false. Registered pair queries keep the sort.
    if (sorted) out.orderBy(col("id1"), col("id2")) else out
  }

  /** The J ≥ 0.6 pair set as an unordered SELECT — reused as a derived
    * table by Curation's connected-components oracle (q73), which needs the
    * edge set without the presentation ORDER BY.
    */
  private[ops] val q51Pairs: String =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
              FROM docs, UNNEST(generate_series(1, greatest(len(toks)-2, 0))) AS t(i)),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
                  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT id1, id2, c * 1.0 / (s1.n + s2.n - c) AS jaccard
       FROM common JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
       WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6"""

  /** Shared oracle for q51 and q52 (q52's LSH+verify returns exactly the
    * J ≥ 0.6 pairs; see recall note on q52).
    */
  val q51Sql: String = q51Pairs + "\n       ORDER BY id1, id2"

  /** MinHash(128) + LSH banding (32 bands × 4 rows), then exact Jaccard
    * verification of the candidates. This is the 100 TB dedup path: the
    * full-inverted-index self-join of q51 is replaced by a bucket join on
    * band signatures, so shuffle volume is O(corpus), candidates ≈ true
    * pairs, and only candidates pay the verification join.
    *
    * Recall: the driver's oracle is the exact J ≥ 0.6 set (q51Sql). All
    * planted near-dups in this corpus sit at J ≥ 0.8, where miss
    * probability per pair is (1 − 0.8⁴)³² ≈ 5e-8 — zero expected misses
    * at any tested sf. False candidates are removed exactly.
    *
    * Implementation: shingle → h = xxhash64 mod P, then 128 universal
    * hashes h_j = (a_j·h + b_j) mod P aggregated with min() — partial
    * aggregation keeps state bounded (128 longs/doc) map-side, unlike a
    * collect_list. Bands join on the 4-slot value arrays directly.
    */
  def q52MinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashNearDups(t(s, dir, "documents"))

  /** The shared MinHash permutation parameters (seed 42), sourced from
    * [[graft.functions.MinHashSigExpr]] so the codegen'd expression, the
    * MinHashAgg UDAF, and any caller agree on one parameter set.
    */
  private[graft] def minhashAB: Array[(Long, Long)] = graft.functions.MinHashSigExpr.AB

  /** Per-document sorted distinct HASHED shingle arrays `(doc_id, hs, n)`,
    * n ≥ 1 — documents with no shingles are dropped (they cannot be
    * near-dups; matches the inverted-index formulations, where such docs
    * simply have no rows). Built by the codegen'd
    * [[graft.functions.ShingleHashesExpr]] entirely inside the corpus
    * scan (zero shuffles uncapped; the strings never leave the row). Set
    * size, intersection, and document frequency on the hashes
    * equal the string-shingle values modulo 64-bit collisions (~n²/2⁶⁴
    * per document — negligible at any real document size; the standard
    * large-scale MinHash trade). With the df-cap, hot HASHES are removed
    * by the same broadcast anti-join posture as [[shingles]].
    */
  private[graft] def hashedShingleSets(docs: DataFrame, maxDf: Option[Long] = None): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    val base = docs
      .select(col("doc_id"), expr("graft_shingle_hashes(split(text, ' '))").as("hs"))
      .withColumn("n", size(col("hs")).cast("long"))
      .filter(col("n") > 0)
    maxDf.fold(base) { cap =>
      val hot = base.select(explode(col("hs")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > cap)
        .select(col("h"))
      base.select(col("doc_id"), explode(col("hs")).as("h"))
        .join(broadcast(hot), Seq("h"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("hs"), count(lit(1)).as("n"))
    }
  }

  /** Library form of q52, with the optional hot-shingle df-cap applied to
    * the whole shingle universe (signatures, sizes, common counts — see
    * [[shingles]]), so banding probabilities and the exact verify agree on
    * the same capped Jaccard.
    *
    * Round-4 shape (VERDICT r3 item 1): everything before the bucket
    * self-join is a PER-ROW map — shingle sets, the codegen'd 128-hash
    * signature ([[graft.functions.MinHashSigExpr]]), and band keys are all
    * computed inside the corpus scan, so the first shuffle any byte pays
    * is the band-bucket join itself. Each band's 4 signature slots are
    * packed with the band index into a single BIGINT (xxhash64), so that
    * join shuffles and compares scalars, not arrays. A 64-bit key
    * collision can only ADD a candidate pair (two docs hashing different
    * band values to one key), never drop one, and every candidate is
    * exact-verified — so the result set is unchanged. The verify reuses
    * the same cached sets frame via one array_intersect pass per
    * candidate instead of re-shuffling a (doc, shingle) stream.
    *
    * Band-bucket skew: a real corpus with thousands of near-identical
    * boilerplate documents puts them all in ONE band bucket, making the
    * bucket join's partition for that key df²-sized — the same hazard
    * class as hot shingles. Two nets, both proven: preventively, the
    * df-cap posture of [[hashedShingles]] applies verbatim to band keys
    * (count keys, broadcast anti-join buckets with df > cap — such a
    * bucket carries no pairwise signal worth df² candidates); at runtime,
    * AQE's skew-join splits whatever a cap lets through
    * (ScaleTechniquesSpec pins the split on an adversarial hot bucket).
    */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.6,
                      maxShingleDf: Option[Long] = None,
                      handle: StorageHandle = StorageHandle.sessionDefault(),
                      sorted: Boolean = true): DataFrame = {
    val sets = handle.pin(hashedShingleSets(docs, maxShingleDf))
    // Fused signature+banding kernel: one codegen'd pass from hashed
    // shingles to the 32 packed band keys (DedupSpec pins equivalence to
    // the transform/xxhash64/slice SQL formulation).
    val bands = sets
      .select(col("doc_id"), explode(expr("graft_minhash_bands(hs)")).as("bkey"))
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
    // Exact verification, candidate-proportional: one primitive-long set
    // intersection per candidate pair against the shared cached sets.
    val out = cands
      .join(sets.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sets.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("s1.hs"), col("s2.hs"))).cast("long").as("c"),
        col("s1.n").as("n1"), col("s2.n").as("n2"))
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / (col("n1") + col("n2") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // sorted = false for composition consumers — see jaccardNearDups.
    if (sorted) out.orderBy(col("id1"), col("id2")) else out
  }

  /** SimHash near-dup pairs with hamming distance ≤ 3, exact by pigeonhole:
    * split the 60-bit signature into 4 × 15-bit chunks; any pair within
    * hamming 3 must agree on ≥ 1 chunk, so a bucket join on (chunk index,
    * chunk value) has perfect recall — then the exact hamming (bit_count of
    * xor) filters. Signature: per token-hash bit, +weight if set else
    * −weight (weight = token multiplicity), bit = 1 iff the sum > 0.
    *
    * Token hash = first 15 hex chars of md5 parsed as an integer: 60
    * uniform bits that BOTH engines can compute (round 1 used Spark-internal
    * xxhash64, which forced a rows-only check; md5 makes q53 fully
    * hash-checkable against DuckDB — see q53Sql).
    */
  private val SimhashBits = 60 // 15 md5 hex chars; fits a signed 64-bit long
  def q53Simhash(s: SparkSession, dir: String): DataFrame =
    simhashPairs(t(s, dir, "documents"))

  /** Library form of q53 over any (doc_id, text) frame — also the SimHash
    * leg of the q137 consensus ensemble.
    */
  def simhashPairs(docs: DataFrame, sorted: Boolean = true): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    // Per-row signature ([[graft.functions.SimHashExpr]] — a bit-exact
    // replica of the grouped SQL formulation, DedupSpec-pinned): the
    // corpus scan emits (doc_id, simhash) directly, replacing round 3's
    // two token-carrying shuffles (explode → groupBy(doc, h) → 60-column
    // groupBy(doc)); the only shuffle left is the pigeonhole chunk join
    // on scalar keys.
    val sigs = docs
      .select(col("doc_id"), expr("graft_simhash(split(text, ' '))").as("simhash"))
    val chunks = sigs.select(col("doc_id"), col("simhash"), posexplode(
      expr("transform(sequence(0, 3), c -> (simhash >> (c * 15)) & 32767)")).as(Seq("chunk", "cval")))
    val out = chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cval") === col("y.cval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    // sorted = false for composition consumers — see jaccardNearDups.
    if (sorted) out.orderBy(col("id1"), col("id2")) else out
  }

  /** DuckDB replica of q53: identical md5-derived 60-bit token hash (hex
    * parsed by a strpos fold), identical ±weight bit sums, signature
    * assembly, pigeonhole chunk join and exact hamming filter. Generated
    * per bit index so both engines aggregate the same way.
    */
  private[ops] val q53Pairs: String = {
    val bitSums = (0 until SimhashBits)
      .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN w ELSE -w END) AS s$i").mkString(", ")
    val sigBits = (0 until SimhashBits)
      .map(i => s"CASE WHEN s$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END").mkString(" + ")
    s"""WITH toks AS (
         SELECT doc_id,
                list_reduce([strpos('0123456789abcdef', substring(md5(tok), i, 1)) - 1
                             FOR i IN generate_series(1, 15)]::BIGINT[],
                            (a, v) -> a * 16 + v) AS h,
                COUNT(*) AS w
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY 1, 2),
       bitsums AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id),
       sigs AS (SELECT doc_id, CAST($sigBits AS BIGINT) AS simhash FROM bitsums),
       chunks AS (SELECT doc_id, simhash, c, (simhash >> (c * 15)) & 32767 AS cval
                  FROM sigs, UNNEST(generate_series(0, 3)) AS g(c)),
       pairs AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
                        CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
                 FROM chunks x JOIN chunks y
                   ON x.c = y.c AND x.cval = y.cval AND x.doc_id < y.doc_id)
       SELECT id1, id2, hamming FROM pairs WHERE hamming <= 3"""
  }

  /** q53's driver oracle: [[q53Pairs]] (the unordered hamming ≤ 3 set,
    * reused as a derived table by the consensus ensemble oracle, q137)
    * plus the deterministic presentation sort.
    */
  val q53Sql: String = q53Pairs + "\n       ORDER BY id1, id2"


  /** Embedding-cosine near-dup pairs (cos ≥ `threshold`) over any
    * (vec_id, emb: array<double>) frame — the semantic-dedup primitive in
    * its LSH-bucketed form. Candidates are pairs sharing a hyperplane-LSH
    * bucket in ≥ 1 table (the deterministic shared planes of
    * [[graft.functions.Hyperplanes]]); the exact codegen'd `graft_dot`
    * verify keeps true pairs only, so every posture's output is a subset
    * of the exact pair set (DedupSpec keeps the all-pairs form as the
    * recall baseline).
    *
    * Oracle-checkable exactly despite being approximate: DuckDB computes
    * the identical bucket ids (bit-identical double folds over identical
    * plane literals), so both engines select the same candidates.
    *
    * The geometry is the corpus-growth dial: with b bits (2^b buckets)
    * per table the bucket self-join produces ∝ n²·tables/2^b candidates,
    * so linear-in-n work needs b ≈ log₂(n) + const, and the tables count
    * (held or grown L) and 1-bit multi-probing buy back the recall that
    * raising b costs threshold-grazing pairs. `numTables = -1` keeps the
    * legacy ⌊64/b⌋ grouping of the first 64 planes. The registered
    * geometries are the [[nearDups]] rows; BASELINE.md holds their
    * measured recall/cost frontier.
    *
    * Scale shape: one signature pass, bucket equi-join on (table, bucket)
    * — no cartesian anywhere — candidate ids deduped BEFORE vectors are
    * joined back, so the wide rows never hit the big shuffle.
    */
  def embeddingNearDups(e: DataFrame, threshold: Double = 0.45,
                        bitsPerTable: Int = graft.functions.Hyperplanes.bits,
                        multiProbe: Boolean = false,
                        numTables: Int = -1,
                        sorted: Boolean = true): DataFrame = {
    val cands = embeddingCandidates(e, bitsPerTable, multiProbe, numTables)
    val out = cands
      .join(e.as("a"), col("id1") === col("a.vec_id"))
      .join(e.as("b"), col("id2") === col("b.vec_id"))
      .select(col("id1"), col("id2"), expr("graft_dot(a.emb, b.emb)").as("cosine"))
      .filter(col("cosine") >= threshold)
    // sorted = false for composition consumers — see jaccardNearDups.
    if (sorted) out.orderBy(col("id1"), col("id2")) else out
  }

  /** Candidate pairs for [[embeddingNearDups]]: vec_id pairs sharing a
    * bucket in ≥ 1 table, optionally widened by MULTI-PROBING (q84's trick
    * composed into the near-dup miner — the recall buy-back for the
    * high-bits geometry): with multiProbe, a pair is a candidate when its
    * bucket values in some table differ by AT MOST ONE BIT (home bucket +
    * the bitsPerTable one-bit flips). One-bit perturbation is symmetric
    * (a ∈ flips(b) ⟺ b ∈ flips(a)), so expanding ONE join side suffices
    * for full hamming ≤ 1 recall — the index side stays unexpanded, which
    * is what makes this a candidate-volume dial rather than an index
    * rebuild: ~(1 + bits)× more probe rows, same corpus-side shuffle.
    *
    * Geometry containment (DedupSpec-pinned): an r=8+probes candidate set
    * sits BETWEEN plain r=8 and r=4 — a one-bit mismatch in an 8-bit table
    * leaves one of its two 4-bit halves agreeing fully, so every
    * multi-probe candidate is also an r=4 candidate.
    */
  private[graft] def embeddingCandidates(e: DataFrame, bitsPerTable: Int,
                                         multiProbe: Boolean,
                                         numTables: Int = -1): DataFrame = {
    val bucketsExpr =
      if (numTables == -1) graft.functions.Hyperplanes.sparkBucketsExpr("emb", bitsPerTable)
      else graft.functions.Hyperplanes.sparkBucketsExpr("emb", bitsPerTable, numTables)
    val bands = e.select(col("vec_id"), posexplode(expr(bucketsExpr))
      .as(Seq("tbl", "bucket")))
    val probes =
      if (!multiProbe) bands
      else bands.select(col("vec_id"), col("tbl"), explode(expr(
        s"concat(array(bucket), transform(sequence(0, ${bitsPerTable - 1}), b -> bucket ^ shiftleft(1, b)))"))
        .as("bucket"))
    probes.as("x")
      .join(bands.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
      .distinct()
  }

  /** Same candidate-then-verify semantics in DuckDB: per-vector signature
    * list from identical plane literals, pairs colliding in ≥ 1 table
    * (hamming ≤ 1 per table when multi-probing), exact dot ≥ 0.45.
    * Parameterized by the same (bitsPerTable, multiProbe) dial as
    * [[embeddingNearDups]] so every registered geometry is hash-checked
    * end to end.
    */
  private def neardupOracleSql(bitsPerTable: Int, multiProbe: Boolean,
                               numTables: Int = -1,
                               from: String = "embeddings"): String = {
    val nt = if (numTables == -1) graft.functions.Hyperplanes.legacyTables(bitsPerTable)
             else numTables
    val sig = graft.functions.Hyperplanes.duckBucketsSql("embedding", bitsPerTable, nt)
    val collide =
      if (multiProbe) "bit_count(xor(a.sig[i], b.sig[i])) <= 1"
      else "a.sig[i] = b.sig[i]"
    s"""WITH sig AS (SELECT vec_id, embedding, $sig AS sig FROM $from),
       pairs AS (
         SELECT a.vec_id AS id1, b.vec_id AS id2,
                list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                             FOR i IN generate_series(1, len(a.embedding))],
                            (acc, v) -> acc + v) AS cosine
         FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         WHERE list_contains([$collide FOR i IN generate_series(1, $nt)], true))
       SELECT id1, id2, cosine FROM pairs WHERE cosine >= 0.45 ORDER BY id1, id2"""
  }

  /** The `embeddings` table as (vec_id, emb: array<double>). */
  private def doubleEmbeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))

  /** Guaranteed-surviving fixture for the high-bit postures: the corpus
    * plus three EXACT duplicate embeddings (vec_id + 10,000,000 clones of
    * vec_id < 3). An exact duplicate hashes into the SAME bucket in EVERY
    * table at ANY geometry (all plane dots are bit-identical), and the
    * corpus is unit-norm, so each clone pair is a provable candidate with
    * exact cosine 1.0 ≥ 0.45 — a posture that returns 0 rows at the verify
    * SF would otherwise pass its hash gate even with an emptied candidate
    * path.
    */
  private[ops] def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = doubleEmbeddings(s, dir)
    e.unionByName(e.filter(col("vec_id") < 3)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"), col("emb")))
  }

  /** DuckDB replica of [[plantedEmbeddings]] as a FROM subselect. */
  private[ops] lazy val plantedEmbeddingsSql: String =
    """(SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id < 3)"""

  /** One registered [[embeddingNearDups]] geometry: `tables = -1` is the
    * legacy ⌊64/bits⌋ grouping; `planted` runs over [[plantedEmbeddings]]
    * so postures too sparse for the verify SFs still return rows there.
    */
  private[graft] case class NearDup(key: String, bits: Int, tables: Int,
                                    multiProbe: Boolean, planted: Boolean)

  /** The embedding-LSH near-dup postures, per corpus decade: b steps with
    * log₂(n) to hold candidate volume linear, L and probes buy recall
    * back. Their measured recall/cost frontier is in BASELINE.md.
    */
  private[graft] val nearDups: Seq[NearDup] = Seq(
    // sf0.1 recall baseline, 16×4: the exact-verified reference of the family.
    NearDup("q54_embedding_neardup", 4, -1, multiProbe = false, planted = false),
    // sf1 cost posture, 8×8: 16×4's candidates blow up at 10× the bench corpus.
    NearDup("q101_embedding_neardup_r8", 8, -1, multiProbe = false, planted = false),
    // sf1 recall posture, 8×8 + 1-bit probes.
    NearDup("q102_embedding_neardup_multiprobe", 8, -1, multiProbe = true, planted = false),
    // sf10 cost posture with the 64-plane pool's shrunk L, 5×11.
    NearDup("q143_embedding_neardup_r11", 11, -1, multiProbe = false, planted = true),
    // sf100 cost posture with shrunk L, 4×14.
    NearDup("q146_embedding_neardup_r14", 14, -1, multiProbe = false, planted = true),
    // sf10 recall posture of q143: L held at 16, 16×11.
    NearDup("q148_embedding_neardup_wide11", 11, 16, multiProbe = false, planted = true),
    // sf1 cost posture with held L, 16×14.
    NearDup("q149_embedding_neardup_wide14", 14, 16, multiProbe = false, planted = true),
    // sf1 recall midpoint, 16×14 + 1-bit probes.
    NearDup("q151_embedding_neardup_wide14_mp", 14, 16, multiProbe = true, planted = true),
    // sf1 recall grade, 32×11 + 1-bit probes.
    NearDup("q152_embedding_neardup_recall", 11, 32, multiProbe = true, planted = true),
    // sf10 cost posture, 16×17.
    NearDup("q157_embedding_neardup_wide17", 17, 16, multiProbe = false, planted = true),
    // sf10 recall midpoint, 16×17 + 1-bit probes.
    NearDup("q166_embedding_neardup_wide17_mp", 17, 16, multiProbe = true, planted = true),
    // sf10 recall grade, 32×17 + 1-bit probes.
    NearDup("q167_embedding_neardup_recall17", 17, 32, multiProbe = true, planted = true),
    // sf100 cost posture, 16×20.
    NearDup("q168_embedding_neardup_wide20", 20, 16, multiProbe = false, planted = true),
    // sf100 recall posture, 32×20: grown L, since probing 20-bit tables fills the disk.
    NearDup("q169_embedding_neardup_recall20", 20, 32, multiProbe = false, planted = true))

  private def nearDupQuery(p: NearDup)(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    embeddingNearDups(if (p.planted) plantedEmbeddings(s, dir) else doubleEmbeddings(s, dir),
      bitsPerTable = p.bits, multiProbe = p.multiProbe, numTables = p.tables)
  }

  private def nearDupSql(p: NearDup): String =
    neardupOracleSql(p.bits, p.multiProbe, p.tables,
      if (p.planted) plantedEmbeddingsSql else "embeddings")

  /** Prefix-filtered Jaccard self-join (AllPairs/PPJoin family — Bayardo,
    * Ma, Srikant, "Scaling Up All Pairs Similarity Search", WWW'07): index
    * only each document's PREFIX — its |A| − ⌈t·|A|⌉ + 1 globally-rarest
    * shingles — for candidate generation. Any pair with J ≥ t must share
    * at least ⌈t·|A|⌉ shingles, so its globally-smallest common shingle
    * provably lies inside BOTH prefixes; pairs that only share frequent
    * (suffix) shingles never become candidates. A size filter
    * (t·|A| ≤ |B| ≤ |A|/t) prunes further before the exact verify, which
    * recomputes Jaccard on the FULL shingle sets — so the result set is
    * IDENTICAL to q51's (same oracle), only the candidate volume changes.
    *
    * Scale: this is the standard answer to the inverted-index join's
    * quadratic tail. The index shrinks to ~40% of the corpus rows at
    * t=0.6, and — decisively — the highest-df shingles sort LAST in the
    * rare-first order, so they drop out of every prefix: candidate pairs
    * stop being ∝ Σ df² over hot shingles. Costs one extra df join +
    * per-doc rank window.
    *
    * Measured honestly (sf0.1, local[32]): candidates 1.13M → 193k
    * (5.8×), index rows 260k → 107k, wall-clock ≈ q51 — this synthetic
    * corpus has NO frequent-shingle mass (max df ≈ 7), so the overhead
    * exactly offsets the cut. On Zipfian real text the cut grows
    * unboundedly while the overhead stays fixed; q51 remains the
    * low-constant baseline, this is the 100 TB path.
    */
  def q81DedupJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    jaccardNearDupsPrefix(t(s, dir, "documents"))

  def jaccardNearDupsPrefix(docs: DataFrame, threshold: Double = 0.6,
                            handle: StorageHandle = StorageHandle.sessionDefault()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Hashed shingles throughout (round 4, same trade as
    // [[jaccardNearDups]]): the df join, the rank window, and the
    // candidate self-join all move 8-byte longs. The rare-first global
    // order becomes (df asc, HASH asc) — the prefix-filter guarantee
    // holds for ANY fixed total order on the shingle universe, so the
    // candidate superset property (and the exact-verified result) is
    // unchanged.
    val sh = hashedShingles(docs)
    // Per-doc sorted hashed-set arrays: one row per doc, built per-row
    // (zero shuffles — see [[hashedShingleSets]]), reused by the prefix
    // index AND the verify (docs are bounded, so the array is too).
    val sets = handle.pin(hashedShingleSets(docs))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // ⌈t·n⌉ with an epsilon guard: plain ceil(t*n) in doubles can exceed
    // the exact rational ⌈t·n⌉ when t·n rounds up past an integer (e.g.
    // t = 0.1, n = 10 → 1.0000000000000002 → ceil 2), which would SHORTEN
    // the prefix / over-tighten the size filter and silently drop true
    // pairs. Subtracting an epsilon far above double ulp but far below
    // 1/n for any real document errs the other way only: at worst one
    // extra prefix shingle / candidate, which the exact verify removes.
    def ceilTn(n: Column): Column = ceil(lit(threshold) * n - lit(1e-9))
    // Rare-first global order (df asc, hash asc for determinism);
    // per-doc rank, keep the first n - ceil(t*n) + 1. Pinned: both sides
    // of the candidate self-join read it (uncached, the whole upstream
    // chain would compute twice).
    val prefix = handle.pin(sh.join(dfreq, "h")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("h").asc)))
      .join(sets.select(col("doc_id"), col("n")), "doc_id")
      .filter(col("rk") <= col("n") - ceilTn(col("n")) + 1)
      .select(col("doc_id"), col("h"), col("n")))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= ceilTn(col("a.n")) &&
          col("b.n") * lit(threshold) <= col("a.n") + lit(1e-9))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    // Exact verify, candidate-proportional: join both docs' set arrays and
    // intersect in one codegen'd pass — identical semantics to q51 (the
    // per-shingle verify join would rematerialize |candidates|·|A| rows).
    cands
      .join(sets.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sets.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("s1.hs"), col("s2.hs"))).cast("long").as("c"),
        col("s1.n").as("n1"), col("s2.n").as("n2"))
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / (col("n1") + col("n2") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  /** The production posture of q51: hot-shingle df-cap ON (df > 50 shingles
    * dropped from the whole universe before the self-join — see
    * [[shingles]]). Exists as its own query so the scale-hardened path is
    * ORACLE-verified, not just spec-balanced: the DuckDB oracle applies the
    * identical cap, proving the capped semantics end to end. Cap = 50 docs:
    * a shingle in >50 documents is stop-phrase boilerplate carrying no
    * dedup signal, and in the inverted index it would contribute >1225
    * candidate pairs to one reducer.
    */
  def q79DedupJaccardCapped(s: SparkSession, dir: String): DataFrame =
    jaccardNearDups(t(s, dir, "documents"), maxShingleDf = Some(50L))

  val q79Sql: String =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       sh0 AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
               FROM docs, UNNEST(generate_series(1, greatest(len(toks)-2, 0))) AS t(i)),
       hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 50),
       sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
                  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT id1, id2, c * 1.0 / (s1.n + s2.n - c) AS jaccard
       FROM common JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
       WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
       ORDER BY id1, id2"""

  /** Exact-substring repeated-span report — the span-level dedup signal
    * from Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022): for every document, find the maximal token spans
    * whose every 5-token window also occurs elsewhere in the corpus
    * (another document, or another position of the same document), and
    * report the span count and the fraction of the document's tokens they
    * cover. Complements [[q89 chunk dedup|Curation.q89ChunkDedup]]: chunks
    * are fixed 16-token boundaries (a shifted copy misses), while windows
    * slide — a duplicated passage is caught at ANY alignment, which is why
    * ExactSubstr is the production standard for substring-level dedup.
    *
    * Shape: positional 5-gram explode → groupBy on the gram's md5 (16-byte
    * key, never the gram string) keeps keys with total occurrence count
    * > 1 → semi-join marks duplicated windows → per-document interval
    * merge of [pos, pos+4] windows via one bounded window function (rows
    * per partition = windows per document, not corpus-sized) → integer
    * span stats, one rounded division.
    *
    * Scale: the gram-frequency groupBy is the only corpus-wide shuffle and
    * it moves 16-byte hashes with partial aggregation; hot grams (corpus
    * boilerplate) are exactly the df-capped-shingle skew case and would
    * take the same broadcast anti-join posture as [[shingles]] (a gram
    * repeated everywhere is definitionally a dup — capping only its
    * PAIRING, never its flag, is semantics-preserving here because the
    * flag needs count > 1, not the full count).
    */
  def q115RepeatedSpans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"), col("toks"))
    val grams = docs
      .select(col("doc_id"), col("n_tokens"), posexplode(expr(
        """IF(size(toks) >= 5,
              transform(sequence(1, size(toks) - 4), i -> concat_ws(' ', slice(toks, i, 5))),
              array())""")).as(Seq("p", "gram")))
      .select(col("doc_id"), col("n_tokens"), (col("p") + 1).cast("long").as("pos"),
        md5(col("gram").cast("binary")).as("gh"))
    val dupGrams = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("gh"))
    val dupWindows = grams.join(dupGrams, Seq("gh"), "left_semi")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dupWindows
      .withColumn("prev_end",
        max(col("pos") + 4).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("is_new")).over(byDoc))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + 4).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s") + 1).as("n_dup_tokens"))
    docs.select(col("doc_id"), col("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        round(coalesce(col("n_dup_tokens"), lit(0L)) * 1.0 / col("n_tokens"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: identical positional 5-grams, count-over-corpus > 1 flag,
    * identical interval merge (windows touching or overlapping fuse:
    * pos <= prev_end + 1) via the same two window functions.
    */
  val q115Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       grams AS (SELECT doc_id, len(toks) AS n_tokens, CAST(i AS BIGINT) AS pos,
                        md5(array_to_string(toks[i : i+4], ' ')) AS gh
                 FROM d, UNNEST(generate_series(1, len(toks) - 4)) AS g(i)),
       dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) > 1),
       dw AS (SELECT doc_id, n_tokens, pos FROM grams WHERE gh IN (SELECT gh FROM dup)),
       marked AS (SELECT doc_id, n_tokens, pos,
                         MAX(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
                  FROM dw),
       sp AS (SELECT doc_id, n_tokens, pos,
                     SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
              FROM marked),
       merged AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 4 AS e
                  FROM sp GROUP BY doc_id, span_id),
       per_doc AS (SELECT doc_id, COUNT(*) AS n_spans,
                          SUM(e - s + 1) AS n_dup_tokens
                   FROM merged GROUP BY doc_id)
       SELECT d2.doc_id, CAST(len(d2.toks) AS BIGINT) AS n_tokens,
              CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
              CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
              ROUND(COALESCE(p.n_dup_tokens, 0) * 1.0 / len(d2.toks), 6) AS dup_frac
       FROM d d2 LEFT JOIN per_doc p USING (doc_id) ORDER BY doc_id"""

  /** Consensus-ensemble near-dup detection: the three independent
    * dup signals (lexical MinHash J ≥ 0.6, structural SimHash hamming ≤ 3,
    * semantic embedding-cosine ≥ 0.45) voted per pair, keeping pairs at
    * least two detectors agree on. This is how a production curation
    * pipeline actually ships dedup — single-signal rules either over-kill
    * (cosine flags paraphrases sharing no text) or under-kill (MinHash
    * misses re-encodings); the 2-of-3 vote is the standard
    * precision-recall compromise, and the per-detector flags are kept so
    * downstream can audit WHY a pair died.
    *
    * Scale: each leg is its bucketed production form (LSH bands /
    * pigeonhole chunks / hyperplane buckets — no all-pairs anywhere); the
    * vote is a union + three equi left-joins on (id1, id2) pair keys, all
    * candidate-proportional. Oracle: the same three pair sets as DuckDB
    * derived tables (each leg's own proven oracle SQL), outer-voted the
    * same way.
    */
  def consensusNearDups(docs: DataFrame, emb: DataFrame,
                        minVotes: Int = 2,
                        embBits: Int = graft.functions.Hyperplanes.bits,
                        embTables: Int = -1,
                        handle: StorageHandle = StorageHandle.sessionDefault()): DataFrame = {
    // sorted = false (r14, guide §2.4): each leg's presentation sort was
    // a range exchange cached into the pin; the union + vote joins are
    // order-independent and the ensemble ends with its own ORDER BY.
    val mh = handle.pin(minhashNearDups(docs, handle = handle, sorted = false)
      .select(col("id1"), col("id2")))
    val sh = handle.pin(simhashPairs(docs, sorted = false).select(col("id1"), col("id2")))
    // r14 (VERDICT r13 item 5): the embedding leg reads its normalized
    // input four times (bucket self-join ×2 + exact-verify re-attach ×2)
    // — pin it once per query. One narrow (vec_id, emb) frame, released
    // with the handle; the leg's plan drops to one embeddings scan.
    val embP = handle.pin(emb)
    val em = handle.pin(embeddingNearDups(embP, bitsPerTable = embBits, numTables = embTables,
        sorted = false)
      .select(col("id1"), col("id2")))
    val ids = mh.unionByName(sh).unionByName(em).distinct()
    ids
      .join(mh.withColumn("by_minhash", lit(true)), Seq("id1", "id2"), "left_outer")
      .join(sh.withColumn("by_simhash", lit(true)), Seq("id1", "id2"), "left_outer")
      .join(em.withColumn("by_embedding", lit(true)), Seq("id1", "id2"), "left_outer")
      .na.fill(false, Seq("by_minhash", "by_simhash", "by_embedding"))
      .withColumn("votes",
        col("by_minhash").cast("long") + col("by_simhash").cast("long")
          + col("by_embedding").cast("long"))
      .filter(col("votes") >= minVotes)
      .select(col("id1"), col("id2"), col("by_minhash"), col("by_simhash"),
        col("by_embedding"), col("votes"))
      .orderBy(col("id1"), col("id2"))
  }

  /** The registered ensembles: (key, embedding leg bits, tables) — the
    * MinHash and SimHash legs are corpus-size-indifferent, so only the
    * embedding leg steps with the corpus, composing the near-dup family's
    * cost postures decade by decade (the 4-bit leg turned q137 into a
    * 102.6 s query at sf1). The leg runs over the real embeddings; the
    * lexical legs keep every ensemble non-empty at every SF.
    */
  private val consensusLegs: Seq[(String, Int, Int)] = Seq(
    ("q137_consensus_dedup", 8, -1),         // sf1 decade: q101's 8×8 leg.
    ("q145_consensus_dedup_r11", 11, -1),    // sf10 decade, shrunk L: q143's 5×11 leg.
    ("q153_consensus_dedup_wide14", 14, 16), // sf10 decade, held L: q149's 16×14 leg.
    ("q158_consensus_dedup_wide17", 17, 16), // sf10 cost posture: q157's 16×17 leg.
    ("q170_consensus_dedup_wide20", 20, 16)) // sf100 cost posture: q168's 16×20 leg.

  private def consensusQuery(bits: Int, tables: Int)(s: SparkSession, dir: String): DataFrame =
    consensusNearDups(t(s, dir, "documents"), doubleEmbeddings(s, dir),
      embBits = bits, embTables = tables)

  private def consensusSql(embLegSql: String): String =
    s"""WITH m AS (SELECT id1, id2 FROM ($q51Pairs)),
       s AS (SELECT id1, id2 FROM ($q53Pairs)),
       e AS (SELECT id1, id2 FROM ($embLegSql)),
       u AS (SELECT id1, id2 FROM m UNION SELECT id1, id2 FROM s
             UNION SELECT id1, id2 FROM e),
       voted AS (
         SELECT u.id1, u.id2,
                (m.id1 IS NOT NULL) AS by_minhash,
                (s.id1 IS NOT NULL) AS by_simhash,
                (e.id1 IS NOT NULL) AS by_embedding,
                CAST((m.id1 IS NOT NULL)::INT + (s.id1 IS NOT NULL)::INT
                     + (e.id1 IS NOT NULL)::INT AS BIGINT) AS votes
         FROM u LEFT JOIN m ON u.id1 = m.id1 AND u.id2 = m.id2
                LEFT JOIN s ON u.id1 = s.id1 AND u.id2 = s.id2
                LEFT JOIN e ON u.id1 = e.id1 AND u.id2 = e.id2)
       SELECT id1, id2, by_minhash, by_simhash, by_embedding, votes
       FROM voted WHERE votes >= 2 ORDER BY id1, id2"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q50_dedup_exact" -> (q50DedupExact _),
    "q51_dedup_jaccard" -> (q51DedupJaccard _),
    "q52_minhash_lsh" -> (q52MinhashLsh _),
    "q53_simhash" -> (q53Simhash _),
    "q79_dedup_jaccard_capped" -> (q79DedupJaccardCapped _),
    "q81_dedup_jaccard_prefix" -> (q81DedupJaccardPrefix _),
    "q115_repeated_spans" -> (q115RepeatedSpans _)) ++
    nearDups.map(p => p.key -> (nearDupQuery(p) _)) ++
    consensusLegs.map { case (key, bits, tables) => key -> (consensusQuery(bits, tables) _) }

  val oracle: Map[String, String] = Map(
    "q50_dedup_exact" -> q50Sql,
    "q51_dedup_jaccard" -> q51Sql,
    "q52_minhash_lsh" -> q51Sql, // LSH+verify reproduces the exact J>=0.6 set
    "q53_simhash" -> q53Sql,
    "q79_dedup_jaccard_capped" -> q79Sql,
    // Prefix filtering changes candidate generation only — the exact
    // verify reproduces the full J >= 0.6 set, so q51's oracle applies.
    "q81_dedup_jaccard_prefix" -> q51Sql,
    "q115_repeated_spans" -> q115Sql) ++
    nearDups.map(p => p.key -> nearDupSql(p)) ++
    consensusLegs.map { case (key, bits, tables) =>
      key -> consensusSql(neardupOracleSql(bits, multiProbe = false, numTables = tables)) }
}
