package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables.t

/** Similarity search over the embedding column (`embeddings.embedding`,
  * Array[Float], unit-normalized so dot product = cosine).
  *
  * q55 is the exact baseline: brute-force top-k per query via a broadcast
  * cross join + per-query heap (TakeOrderedAndProject shape through a
  * row_number window). q56 is the scale path: random-hyperplane LSH
  * restricts each probe to its bucket, turning O(|Q|·|N|) into
  * O(|Q|·|N|/2^bits) expected — the standard recall/cost dial. Both share
  * the same fold-ordered DOUBLE dot product so results are reproducible
  * bit-for-bit.
  */
object Similarity {
  private val H = graft.functions.Hyperplanes

  /** Left-to-right fold dot product in DOUBLE (graft_dot, the codegen'd
    * expression in graft.functions) — identical evaluation order to the
    * DuckDB oracle's list_reduce, hence bit-identical results.
    */
  private val dot =
    "graft_dot(transform(q.embedding, x -> CAST(x AS DOUBLE)), transform(n.embedding, x -> CAST(x AS DOUBLE)))"

  /** DuckDB replica of the graft_dot fold over the float `embedding`
    * columns of relations `a` and `b`.
    */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce([CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)
                             FOR i IN generate_series(1, len($a.embedding))],
                            (acc, v) -> acc + v)"""

  /** (vec_id, emb array<double>) of an embeddings frame — the form every
    * hyperplane, centroid and dot expression here reads.
    */
  private def doubles(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))

  private def vectors(s: SparkSession, dir: String): DataFrame =
    doubles(t(s, dir, "embeddings"))

  /** The exact top-k tail of every ANN query: rank each query's scored
    * (query_id, neighbor_id, cosine) rows by cosine desc, neighbor id
    * asc, keep rank <= k and emit (query_id, rank, neighbor_id, out…).
    * Ranking runs on the full-precision cosine; only `cos_r` is rounded.
    */
  private def topK(scored: DataFrame, k: Int = 5,
                   out: Seq[Column] = Seq(round(col("cosine"), 6).as("cos_r"))): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id")) ++ out: _*)
      .orderBy(col("query_id"), col("rank"))

  /** DuckDB replica of [[topK]] (k = 5) over relation `from`. */
  private def topKSql(from: String, out: String = "ROUND(cosine, 6) AS cos_r"): String =
    s"""SELECT query_id, rank, neighbor_id, $out FROM (
         SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         FROM $from)
       WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Exact k-NN: 20 query vectors (vec_id < 20) against the full corpus.
    * The query side is tiny → broadcast; the corpus streams partition-local
    * with zero shuffle of the big side; the only shuffle is the per-query
    * top-k window over |Q|·|N| scored rows, which AQE coalesces.
    */
  def q55AnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 20)
    topK(broadcast(queries.as("q")).join(e.as("n"), col("q.vec_id") =!= col("n.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("n.vec_id").as("neighbor_id"),
        expr(dot).as("cosine")))
  }

  val q55Sql: String =
    s"""WITH scored AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                list_reduce([CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)
                             for i in generate_series(1, len(q.embedding))],
                            (acc, v) -> acc + v) AS cosine
         FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
         WHERE q.vec_id < 20)
       ${topKSql("scored")}"""

  /** Multi-table hyperplane-LSH candidates: 16 tables of 4 sign bits
    * from the shared plane set ([[graft.functions.Hyperplanes]], one
    * codegen'd graft_lsh_buckets pass per row); a probe (vec_id <
    * `nQueries`) pairs with every vector sharing its bucket in ≥ 1 table.
    * `multiProbe` also searches the four one-bit-flipped buckets per
    * table (Lv et al., "Multi-Probe LSH", VLDB'07) — a strict superset of
    * the home-bucket candidates, growing only the probe side, never the
    * corpus index. Distinct on the ids, NOT on rows carrying vectors: a
    * pair may collide in several tables.
    */
  private def lshCandidates(e: DataFrame, nQueries: Int, multiProbe: Boolean): DataFrame = {
    val tabbed = e.select(col("vec_id"),
      posexplode(expr(H.sparkBucketsExpr("emb"))).as(Seq("tbl", "bucket")))
    val homes = tabbed.filter(col("vec_id") < nQueries)
    val probes = if (!multiProbe) homes else homes.select(col("vec_id"), col("tbl"),
      explode(expr("array(bucket, bucket ^ 8, bucket ^ 4, bucket ^ 2, bucket ^ 1)")).as("bucket"))
    broadcast(probes.as("q"))
      .join(tabbed.as("n"),
        col("q.tbl") === col("n.tbl") && col("q.bucket") === col("n.bucket") &&
          col("q.vec_id") =!= col("n.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("n.vec_id").as("neighbor_id"))
      .distinct()
  }

  /** DuckDB replica of [[lshCandidates]] as `sig`/`cands` CTEs over
    * `embeddings`: identical bucket lists from the shared plane literals,
    * a candidate = a `where` pair colliding in any table.
    */
  private def lshCandsSql(where: String, multiProbe: Boolean = false,
                          geometry: (Int, Int) = (H.bits, H.tables)): String = {
    val sig = H.duckBucketsSql("embedding", geometry._1, geometry._2)
    val hit = if (!multiProbe) "q.sig[i] = n.sig[i]"
      else """n.sig[i] = q.sig[i] OR n.sig[i] = xor(q.sig[i], 8)
                              OR n.sig[i] = xor(q.sig[i], 4) OR n.sig[i] = xor(q.sig[i], 2)
                              OR n.sig[i] = xor(q.sig[i], 1)"""
    s"""sig AS (SELECT vec_id, $sig AS sig FROM embeddings),
       cands AS (
         SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
         FROM sig q JOIN sig n ON q.vec_id <> n.vec_id
         WHERE $where
           AND list_contains([$hit
                              FOR i IN generate_series(1, ${geometry._2})], true))"""
  }

  /** Attach column `c` of `vecs` (vec_id, c) to (query_id, neighbor_id)
    * pairs as `q_c` (the probes, broadcast) and `n_c` (the corpus side).
    */
  private def withPairVecs(pairs: DataFrame, vecs: DataFrame, nQueries: Int,
                           c: String): DataFrame =
    pairs
      .join(broadcast(vecs.filter(col("vec_id") < nQueries).withColumnRenamed(c, s"q_$c")),
        col("query_id") === col("vec_id")).drop("vec_id")
      .join(vecs.withColumnRenamed(c, s"n_$c"), col("neighbor_id") === col("vec_id"))

  /** Exact cosine of each candidate pair, `carry` columns kept. */
  private def exactScored(pairs: DataFrame, e: DataFrame, nQueries: Int,
                          carry: String*): DataFrame =
    withPairVecs(pairs, e, nQueries, "emb")
      .select((Seq("query_id", "neighbor_id") ++ carry).map(col)
        :+ expr("graft_dot(q_emb, n_emb)").as("cosine"): _*)

  /** LSH ANN: [[lshCandidates]] → exact score → optional `maxCos`
    * exclusion BEFORE the window → top-k. Recall per table for angle θ
    * is (1 − θ/π)^4, so at cos ≈ 0.5 recall across 16 tables is
    * 1 − (1 − (2/3)⁴)¹⁶ ≈ 0.97, while a random pair collides somewhere
    * with prob 1 − (1 − 1/16)¹⁶ ≈ 0.64 — the near-uniform fixture is
    * hyperplane LSH's worst case. Deterministic: both engines hash with
    * the same plane literals, so candidates, scores and id-tie-broken
    * ranks agree with the DuckDB oracle bit-for-bit.
    */
  private def lshTopK(e: DataFrame, multiProbe: Boolean, maxCos: Option[Double],
                      k: Int = 5, nQueries: Int = 20): DataFrame = {
    val scored = exactScored(lshCandidates(e, nQueries, multiProbe), e, nQueries)
    topK(maxCos.fold(scored)(c => scored.filter(col("cosine") < c)), k)
  }

  private def lshTopKSql(where: String, multiProbe: Boolean, maxCos: Option[Double],
                         geometry: (Int, Int) = (H.bits, H.tables)): String =
    s"""WITH ${lshCandsSql(where, multiProbe, geometry)},
       scored AS (
         SELECT c.query_id, c.neighbor_id,
                ${dotSql("a", "b")} AS cosine
         FROM cands c JOIN embeddings a ON c.query_id = a.vec_id
                      JOIN embeddings b ON c.neighbor_id = b.vec_id)
       ${topKSql(maxCos.fold("scored")(c => s"scored WHERE cosine < $c"))}"""

  /** The registered LSH queries: (key, multiProbe, maxCos).
    * q124 is contrastive hard-negative mining — the highest-cosine
    * candidates that are NOT near-duplicates (cosine < 0.45, q107's dedup
    * threshold): dups train nothing, random negatives are too easy.
    */
  private val lshPostures: Seq[(String, Boolean, Option[Double])] = Seq(
    ("q56_ann_lsh", false, None),
    ("q84_ann_multiprobe", true, None),
    ("q124_hard_negatives", true, Some(0.45)))

  /** q124's operator over any embeddings frame: multi-probe candidates,
    * exact rescoring, the `dupCos` exclusion as a pre-window filter.
    */
  def hardNegatives(emb: DataFrame, k: Int = 5, dupCos: Double = 0.45,
                    nQueries: Int = 20): DataFrame =
    lshTopK(doubles(emb), multiProbe = true, Some(dupCos), k, nQueries)

  /** Shared IVF coarse quantizer: deterministic cellBits-bit seed cells
    * (sign bits of the shared planes) → fixed-point integer-mean
    * centroids (order-independent, so identical under any partitioning
    * and in DuckDB) → one exact Lloyd step. Returns (emb, cents, scored):
    * cents = (cell, centroid array<double>), scored = (vec_id, cell, d)
    * with d the vector's dot with each centroid.
    */
  private[graft] def ivfModel(s: SparkSession, dir: String,
                              cellBits: Int = 4): (DataFrame, DataFrame, DataFrame) = {
    graft.functions.VectorExpressions.register(s)
    val emb = vectors(s, dir)
    // Seed partition: one cellBits-bit sign-cell per vector.
    val seeded = emb.withColumn("cell0", expr(H.sparkCellExprN("emb", cellBits)))
    // Pinned (≤ 2^cellBits tiny rows): every consumer references the
    // codebook at least twice, and each un-pinned reference re-ran the
    // corpus-scale training aggregation.
    val cents = StorageHandle.sessionDefault().pin(
      fxCentroids(fxSums(seeded, Seq("cell0"), "emb"), Seq("cell0"))
        .select(col("cell0").as("cell"), col("centroid")))
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        expr("graft_dot(emb, centroid)").as("d"))
    (emb, cents, scored)
  }

  /** Fixed-point sums of `vec` per (`keys`, dim): exact integer adds, so
    * the centroids [[fxCentroids]] derives are identical under any
    * partitioning and in DuckDB.
    */
  private def fxSums(df: DataFrame, keys: Seq[String], vec: String): DataFrame =
    df.select(keys.map(col) :+ posexplode(
        expr(s"transform($vec, x -> CAST(ROUND(x * 10000000) AS BIGINT))")).as(Seq("dim", "fx")): _*)
      .groupBy((keys :+ "dim").map(col): _*)
      .agg(sum(col("fx")).as("sfx"), count(lit(1)).as("n"))

  /** Per-`keys` centroid arrays of [[fxSums]] rows, dims in order. */
  private def fxCentroids(sums: DataFrame, keys: Seq[String],
                          name: String = "centroid"): DataFrame =
    sums.groupBy(keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(dim, sfx, n))), e -> CAST(e.sfx AS DOUBLE) / e.n / 10000000)").as(name))

  /** [[ivfModel]]'s scored dots plus the per-vector centroid ranking
    * window (rn = 1 is the assignment, rn <= nProbe the probe list) — the
    * reference form the per-row routing expressions are pinned against.
    */
  private[graft] def ivfRanked(s: SparkSession, dir: String,
                               cellBits: Int = 4): (DataFrame, DataFrame) = {
    val (emb, _, scored) = ivfModel(s, dir, cellBits)
    (emb, scored.withColumn("rn", row_number().over(
      Window.partitionBy(col("vec_id")).orderBy(col("d").desc, col("cell").asc))))
  }

  /** One-row broadcast form of an IVF codebook: `cands` =
    * array<struct<cell int, cent array<double>>>, cell ascending — a
    * ≤ 2^cellBits-row aggregation, independent of corpus size.
    */
  private def ivfCentsRow(cents: DataFrame): DataFrame =
    cents.agg(expr("transform(array_sort(collect_list(struct(cell, centroid))), e -> named_struct('cell', e.cell, 'cent', e.centroid))").as("cands"))

  /** Each vector's IVF cell: graft_argmax_dot against the one-row
    * codebook IS [[ivfRanked]]'s rn = 1 (same d DESC / cell ASC
    * tie-break; ordering parity in graft.functions.ArgmaxExpressions).
    */
  private def ivfAssigned(emb: DataFrame, ivfRow: DataFrame, as: String = "cell"): DataFrame =
    emb.crossJoin(broadcast(ivfRow))
      .select(col("vec_id"), col("emb"), expr("graft_argmax_dot(emb, cands)").as(as))

  /** IVF routing: each of the 20 probes' 4 nearest cells — graft_top_dots
    * IS [[ivfRanked]]'s rn <= 4 slice. Emits (query_id, [q_emb], cell,
    * [qc]) with qc the probe's dot with the cell centroid.
    */
  private def ivfProbeCells(emb: DataFrame, ivfRow: DataFrame,
                            withEmb: Boolean = false, withQc: Boolean = false): DataFrame = {
    val (qEmb, qEmbOut) =
      if (withEmb) (Seq(col("emb").as("q_emb")), Seq(col("q_emb"))) else (Nil, Nil)
    val qc = if (withQc) Seq(col("p.d").as("qc")) else Nil
    emb.filter(col("vec_id") < 20)
      .crossJoin(broadcast(ivfRow))
      .select((col("vec_id").as("query_id") +: qEmb)
        :+ explode(expr("graft_top_dots(emb, cands, 4)")).as("p"): _*)
      .select((col("query_id") +: qEmbOut) ++ (col("p.cell").as("cell") +: qc): _*)
  }

  /** IVF (inverted-file) ANN: the coarse quantizer partitions the corpus
    * into 16 cells; each probe scores only the vectors in its 4 nearest
    * cells (expected candidate fraction 4/16). Assignment and routing
    * are per-row expressions against the one-row broadcast codebook, so
    * neither the n·16 scored explosion nor its ranking window is planned.
    * A pair appears once (one cell per vector, distinct probe cells).
    */
  def q58AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val (emb, cents, _) = ivfModel(s, dir)
    val centsRow = ivfCentsRow(cents)
    topK(broadcast(ivfProbeCells(emb, centsRow, withEmb = true))
      .join(ivfAssigned(emb, centsRow), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("graft_dot(q_emb, emb)").as("cosine")))
  }

  /** DuckDB replica of the IVF quantizer as CTEs named `p`-prefixed
    * (identical seed cells via shared plane literals, identical
    * fixed-point centroids, identical centroid-dot ranking and
    * tie-break), ending at the `assigned` cell-assignment CTE.
    */
  private def ivfCteSql(cellBits: Int, p: String = ""): String = {
    val cell0 = H.duckCellSqlN("embedding", cellBits)
    s"""${p}seeded AS (SELECT vec_id, embedding, $cell0 AS cell0 FROM embeddings),
       ${fxCentSql(p, Seq("cell0"), "cell", "embedding", embDims)},
       ${p}ranked AS (
         SELECT e.vec_id, c.cell,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                  list_reduce([CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]
                               FOR i IN generate_series(1, len(e.embedding))],
                              (acc, v) -> acc + v) DESC, c.cell ASC) AS rn
         FROM embeddings e CROSS JOIN ${p}cent c),
       ${p}assigned AS (SELECT vec_id, cell FROM ${p}ranked WHERE rn = 1)"""
  }

  /** DuckDB replica of [[fxSums]] + [[fxCentroids]]: `p`-prefixed
    * comps/sums/cent CTEs over `${p}seeded`, summing `vec[i]` for i in
    * `dims` per `keys`; `cent` renames the last key to `alias`.
    */
  private def fxCentSql(p: String, keys: Seq[String], alias: String, vec: String,
                        dims: String): String = {
    val k = keys.mkString(", ")
    val groups = (1 to keys.size + 1).mkString(", ")
    val cell = (keys.init :+ s"${keys.last} AS $alias").mkString(", ")
    s"""${p}comps AS (SELECT $k, i - 1 AS dim,
                        CAST(ROUND(CAST($vec[i] AS DOUBLE) * 10000000) AS BIGINT) AS fx
                 FROM ${p}seeded, $dims AS t(i)),
       ${p}sums AS (SELECT $k, dim, SUM(fx) AS sfx, COUNT(*) AS n FROM ${p}comps GROUP BY $groups),
       ${p}cent AS (SELECT $cell, list(CAST(sfx AS DOUBLE) / n / 10000000 ORDER BY dim) AS centroid
                FROM ${p}sums GROUP BY $k)"""
  }

  private def embDims = "UNNEST(generate_series(1, len(embedding)))"

  /** [[ivfCteSql]] at 16 cells plus the `probecells` routing CTE. */
  private def ivfRouteSql(p: String): String =
    s"""${ivfCteSql(4, p)},
       probecells AS (SELECT vec_id AS query_id, cell FROM ${p}ranked WHERE rn <= 4 AND vec_id < 20)"""

  def q58Sql: String =
    s"""WITH ${ivfRouteSql("")},
       scored AS (
         SELECT p.query_id, a.vec_id AS neighbor_id,
                ${dotSql("qe", "ne")} AS cosine
         FROM probecells p JOIN assigned a USING (cell)
              JOIN embeddings qe ON p.query_id = qe.vec_id
              JOIN embeddings ne ON a.vec_id = ne.vec_id
         WHERE a.vec_id <> p.query_id)
       ${topKSql("scored")}"""

  /** Quantized ANN serving shape: LSH candidates → cheap INT8 scoring →
    * exact rerank of the short list. The int8 codes (q85's symmetric
    * per-vector quantization, 1 byte/dim + one scale) are what a large
    * vector corpus keeps hot; the float vectors are only touched for the
    * top-2k rerank. The int8 score is an EXACT integer dot product
    * (|q_i| ≤ 127, 64 dims → |score| ≤ 2²⁰), so cross-engine equality is
    * free; per query the top-2k = 10 by int score (ties to neighbor id)
    * rerank with the shared double fold.
    */
  def q87AnnQuantRescore(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val emb = vectors(s, dir)
    val codes = emb
      .withColumn("amax", expr("array_max(transform(emb, x -> abs(x)))"))
      .select(col("vec_id"),
        expr("transform(emb, x -> CAST(ROUND(x * 127 / amax) AS BIGINT))").as("code"))
    val shortlist = withPairVecs(lshCandidates(emb, 20, multiProbe = false), codes, 20, "code")
      .select(col("query_id"), col("neighbor_id"),
        expr("aggregate(zip_with(q_code, n_code, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
          .as("int_score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("int_score").desc, col("neighbor_id").asc)))
      .filter(col("rn") <= 10)
    topK(exactScored(shortlist, emb, 20, "int_score"),
      out = Seq(col("int_score"), round(col("cosine"), 6).as("cos_r")))
  }

  /** DuckDB replica of q87: q56's candidates, identical ROUND-half-up
    * int8 codes (q85's), exact integer shortlist, identical rerank fold.
    */
  def q87Sql: String =
    s"""WITH ${lshCandsSql("q.vec_id < 20")},
       v AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb FROM embeddings),
       codes AS (
         SELECT vec_id,
                [CAST(ROUND(x * 127 / list_max([abs(y) FOR y IN emb])) AS BIGINT)
                 FOR x IN emb] AS code
         FROM v),
       shortlist AS (
         SELECT query_id, neighbor_id, int_score FROM (
           SELECT c.query_id, c.neighbor_id,
                  CAST(list_reduce([qc.code[i] * nc.code[i]
                                    FOR i IN generate_series(1, len(qc.code))],
                                   (a, b) -> a + b) AS BIGINT) AS int_score,
                  ROW_NUMBER() OVER (PARTITION BY c.query_id
                    ORDER BY CAST(list_reduce([qc.code[i] * nc.code[i]
                                    FOR i IN generate_series(1, len(qc.code))],
                                   (a, b) -> a + b) AS BIGINT) DESC,
                             c.neighbor_id ASC) AS rn
           FROM cands c JOIN codes qc ON c.query_id = qc.vec_id
                        JOIN codes nc ON c.neighbor_id = nc.vec_id)
         WHERE rn <= 10),
       reranked AS (
         SELECT s.query_id, s.neighbor_id, s.int_score,
                ${dotSql("a", "b")} AS cosine
         FROM shortlist s JOIN embeddings a ON s.query_id = a.vec_id
                          JOIN embeddings b ON s.neighbor_id = b.vec_id)
       ${topKSql("reranked", "int_score, ROUND(cosine, 6) AS cos_r")}"""

  /** Near-duplicate pairs within each cell of `assigned` (vec_id, emb,
    * cell): the same-cell self-join, exact cosine, threshold 0.45 (the
    * q54 family's, so outputs are comparable).
    */
  private def cellPairs(assigned: DataFrame): DataFrame =
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        col("a.cell").as("cell"),
        expr("graft_dot(a.emb, b.emb)").as("cosine"))
      .filter(col("cosine") >= 0.45)
      .select(col("id1"), col("id2"), col("cell"), round(col("cosine"), 6).as("cos_r"))
      .orderBy(col("id1"), col("id2"))

  /** DuckDB replica of [[cellPairs]] over an `assigned` CTE whose vectors
    * live in relation `vecs`.
    */
  private def cellPairsSql(vecs: String): String =
    s"""pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.cell
                 FROM assigned a JOIN assigned b
                   ON a.cell = b.cell AND a.vec_id < b.vec_id),
       scored AS (
         SELECT id1, id2, cell,
                ${dotSql("e1", "e2")} AS cosine
         FROM pairs JOIN $vecs e1 ON id1 = e1.vec_id
                    JOIN $vecs e2 ON id2 = e2.vec_id)
       SELECT id1, id2, cell, ROUND(cosine, 6) AS cos_r
       FROM scored WHERE cosine >= 0.45 ORDER BY id1, id2"""

  /** Semantic dedup (the SemDeDup shape — cluster, then mine pairs only
    * within a cluster): embedding near-duplicate pairs generated WITHIN
    * the IVF coarse-quantizer cells. Candidate volume is Σ_cells |cell|²
    * instead of n²; candidates are ranked against data-derived structure,
    * which is why SemDeDup finds semantic (not just lexical) duplicates.
    * One narrow shuffle on cell for the self-join (AQE splits a hot cell
    * like a hot LSH band).
    *
    * 2^cellBits cells: at B× the corpus, raise cellBits by log2(B) to
    * hold cell size (and per-cell quadratic cost) constant. The
    * registered cell counts are the [[semanticCells]] rows.
    */
  def semanticDedup(s: SparkSession, dir: String, cellBits: Int): DataFrame = {
    val (emb, cents, _) = ivfModel(s, dir, cellBits)
    // A per-row graft_argmax_dot, not a ranking or a struct-ordered max
    // (not hash-aggregable: a corpus-scale SortAggregate pair per
    // self-join side). Pinning the narrow frame instead was tried and
    // reverted — cache barrier, probes/r13opt.
    cellPairs(ivfAssigned(emb, ivfCentsRow(cents)))
  }

  /** The registered SemDeDup cell counts: (key, cellBits). */
  private val semanticCells: Seq[(String, Int)] = Seq(
    // sf0.01 decade, 16 cells: the baseline geometry.
    "q107_semantic_dedup" -> 4,
    // sf1 cost posture, 256 cells: oversplit at the verify SFs, kept for its scale.
    "q111_semantic_dedup_scaled" -> 8,
    // sf10, 1024 flat cells: SLOWER than q111 (Θ(n·k) assignment) — the record q150 answers.
    "q147_semantic_dedup_1k" -> 10)

  /** q150 — HIERARCHICAL IVF assignment (the fix q147's falsification
    * record names): two-level Lloyd assignment, Θ(n·(2^hi + 2^lo)) instead
    * of flat IVF's Θ(n·2^(hi+lo)): each vector picks one of 2^hi SUPER
    * cells, then one of ≤ 2^lo SUB cells *within its super cell*. With
    * hi = lo = 5 this gives 1024 effective cells for 64 assignment dots
    * per vector — a 16× assignment cut vs q147 at identical
    * candidate-volume geometry.
    *
    * Both levels reuse the flat quantizer's deterministic machinery
    * (disjoint plane spans of the shared seed-7 pool, fixed-point
    * centroids, argmax with the d DESC / cell ASC tie-break), so the
    * DuckDB oracle replays every step bit-for-bit. Runs over the
    * planted-survivor fixture ([[Dedup.plantedEmbeddings]]): an exact
    * duplicate follows its original through BOTH levels, so the pair
    * output is provably non-empty at every SF.
    */
  def q150SemanticDedupHier(s: SparkSession, dir: String): DataFrame =
    semanticDedupHier(s, dir, hiBits = 5, loBits = 5)

  def semanticDedupHier(s: SparkSession, dir: String,
                        hiBits: Int, loBits: Int): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val emb = Dedup.plantedEmbeddings(s, dir)
    // Level 1: super cells from planes [0, hi).
    val supSeeded = emb.withColumn("super0",
      expr(H.sparkCellExprRange("emb", 0, hiBits)))
    val supCents = fxCentroids(fxSums(supSeeded, Seq("super0"), "emb"), Seq("super0"))
      .select(col("super0").as("cell"), col("centroid"))
    // Both levels are per-row graft_argmax_dot evals against one-row
    // broadcast codebooks; supAssigned carries emb through, so level 2
    // starts without a join.
    val supAssigned = ivfAssigned(emb, ivfCentsRow(supCents), "super")
    // Level 2: sub cells from the DISJOINT plane span [hi, hi + lo),
    // seeded and assigned within each super cell.
    val subSeeded = supAssigned
      .withColumn("sub0", expr(H.sparkCellExprRange("emb", hiBits, loBits)))
    val subCents = fxCentroids(fxSums(subSeeded, Seq("super", "sub0"), "emb"), Seq("super", "sub0"))
      .select(col("super"), col("sub0").as("sub"), col("centroid"))
    // Per-super candidate map (≤ 2^(hi+lo) rows): each vector folds only
    // its own super's sub-cells (a one-group beam = plain argmax).
    val subMapRow = subCents.groupBy(col("super"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, centroid))), e -> named_struct('cell', e.sub, 'cent', e.centroid))").as("cands"))
      .agg(expr("map_from_entries(collect_list(struct(super, cands)))").as("submap"))
    cellPairs(subSeeded.crossJoin(broadcast(subMapRow))
      .select(col("vec_id"), col("emb"),
        (col("super") * lit(1 << loBits) +
          expr("graft_argmax_dot(emb, element_at(submap, super))"))
          .cast("int").as("cell")))
  }

  /** DuckDB replica of [[semanticDedupHier]]: identical seed spans,
    * fixed-point centroids, and per-level argmax (ROW_NUMBER with the
    * same tie-break), over the same planted-survivor union.
    */
  def q150Sql: String = hierSql(5, 5)

  private def hierSql(hiBits: Int, loBits: Int): String = {
    val hiCell = H.duckCellSqlRange("embedding", 0, hiBits)
    val loCell = H.duckCellSqlRange("embedding", hiBits, loBits)
    def dotC(e: String, c: String) =
      s"""list_reduce([CAST($e.embedding[i] AS DOUBLE) * $c.centroid[i]
          FOR i IN generate_series(1, len($e.embedding))], (acc, v) -> acc + v)"""
    s"""WITH emb AS (SELECT vec_id, embedding FROM ${Dedup.plantedEmbeddingsSql}),
       sseeded AS (SELECT vec_id, embedding, $hiCell AS super0 FROM emb),
       ${fxCentSql("s", Seq("super0"), "cell", "embedding", embDims)},
       sranked AS (SELECT e.vec_id, c.cell,
                          ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ${dotC("e", "c")} DESC, c.cell ASC) AS rn
                   FROM emb e CROSS JOIN scent c),
       sassign AS (SELECT vec_id, cell AS super FROM sranked WHERE rn = 1),
       bseeded AS (SELECT e.vec_id, e.embedding, a.super, $loCell AS sub0
                   FROM emb e JOIN sassign a USING (vec_id)),
       ${fxCentSql("b", Seq("super", "sub0"), "sub", "embedding", embDims)},
       branked AS (SELECT e.vec_id, e.super, c.sub,
                          ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ${dotC("e", "c")} DESC, c.sub ASC) AS rn
                   FROM bseeded e JOIN bcent c USING (super)),
       assigned AS (SELECT vec_id, super * ${1 << loBits} + sub AS cell
                    FROM branked WHERE rn = 1),
       ${cellPairsSql("emb")}"""
  }

  private def semanticSql(cellBits: Int): String =
    s"""WITH ${ivfCteSql(cellBits)},
       ${cellPairsSql("embeddings")}"""

  /** Hybrid retrieval — lexical BM25 + dense cosine, fused by Reciprocal
    * Rank Fusion (Cormack et al., SIGIR'09): the two-tower serving shape
    * every modern retrieval stack runs. Each ranker contributes
    * round(1e6 / (60 + rank)) micro-units for documents in its top-`pool`
    * list (0 outside it); candidates are the union of the two lists; the
    * fused top-`k` is ranked on the exact integer sum. doc_id and vec_id
    * are 1:1 in the fixtures (FIXTURES.md), standing in for a corpus with
    * both a text and an embedding column.
    *
    * Scale: the lexical side is q117's shape (term filter cuts the token
    * stream map-side, df/stats broadcast); the dense side is one
    * broadcast query vector against a streaming corpus scan with
    * TakeOrderedAndProject top-pool; fusion joins two pool-sized lists —
    * driver-free, shuffle cost independent of corpus size. RRF needs no
    * score calibration across rankers (rank-only), which is exactly why
    * it's the robust default at 100 TB where BM25 mass and cosine scales
    * drift per shard.
    */
  def hybridRetrieval(docs: DataFrame, emb: DataFrame,
                      qterms: Seq[String], queryVec: Long = 0L,
                      pool: Int = 20, k: Int = 10): DataFrame = {
    val lex = TextAnalysis.bm25Scores(docs, qterms)
      .filter(col("doc_id") =!= queryVec)
      .orderBy(col("sfx").desc, col("doc_id").asc).limit(pool)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("sfx").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val e = doubles(emb)
    val dense = e.filter(col("vec_id") =!= queryVec).as("n")
      .crossJoin(broadcast(e.filter(col("vec_id") === queryVec)
        .select(col("emb").as("q_emb"))))
      .select(col("n.vec_id").as("doc_id"),
        expr("graft_dot(emb, q_emb)").as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id").asc).limit(pool)
      .withColumn("dense_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("dense_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("CAST(ROUND(1000000.0 / (60 + lex_rank)) AS BIGINT)"), lit(0L)) +
          coalesce(expr("CAST(ROUND(1000000.0 / (60 + dense_rank)) AS BIGINT)"), lit(0L)))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("doc_id"), col("rrf_micro"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
      .orderBy(col("rank"))
  }

  def q125HybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    hybridRetrieval(t(s, dir, "documents"), t(s, dir, "embeddings"),
      Seq("spark", "merge", "window"))
  }

  /** Both ranker replicas verbatim (q117's BM25 CTEs; q55's exact dot),
    * same integer RRF arithmetic.
    */
  val q125Sql: String =
    """WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                   FROM documents),
       stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM dl),
       tf AS (SELECT doc_id, term, COUNT(*) AS tf
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
              WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2),
       df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       c AS (SELECT doc_id,
                    CAST(ROUND(LN((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                               * (tf * 2.2)
                               / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(tot AS DOUBLE) / n)))
                               * 1000000) AS BIGINT) AS fx
             FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats),
       sc AS (SELECT doc_id, SUM(fx) AS sfx FROM c WHERE doc_id <> 0 GROUP BY 1),
       lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sfx DESC, doc_id) AS BIGINT)
                       AS lex_rank
               FROM sc ORDER BY sfx DESC, doc_id LIMIT 20),
       dq AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       dense0 AS (SELECT vec_id AS doc_id,
                         list_reduce([CAST(n.embedding[i] AS DOUBLE) * CAST(dq.q_emb[i] AS DOUBLE)
                                      FOR i IN generate_series(1, len(n.embedding))],
                                     (acc, v) -> acc + v) AS cosine
                  FROM embeddings n, dq WHERE n.vec_id <> 0),
       dense AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
                        AS dense_rank
                 FROM dense0 ORDER BY cosine DESC, doc_id LIMIT 20),
       fused AS (
         SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
                COALESCE(CAST(ROUND(1000000.0 / (60 + l.lex_rank)) AS BIGINT), 0)
                  + COALESCE(CAST(ROUND(1000000.0 / (60 + d.dense_rank)) AS BIGINT), 0)
                  AS rrf_micro,
                COALESCE(l.lex_rank, 0) AS lex_rank,
                COALESCE(d.dense_rank, 0) AS dense_rank
         FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id),
       ranked AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id) AS BIGINT)
                         AS rank, doc_id, rrf_micro, lex_rank, dense_rank
                  FROM fused)
       SELECT rank, doc_id, rrf_micro, lex_rank, dense_rank
       FROM ranked WHERE rank <= 10 ORDER BY rank"""

  // ---------------------------------------------------------------------
  // Persisted ANN index + incremental maintenance: the corpus's LSH
  // signatures live in a PERSISTED bucket tree, a new batch probes those
  // buckets without re-hashing (or re-shuffling) the corpus, and the
  // batch's own signatures append into the index afterwards. Two
  // families share the tree: the float family (rows carry `emb`) and
  // the PQ family (rows carry 8-byte `codes`).
  // ---------------------------------------------------------------------

  /** Bucket rows of `src` (vec_id, emb, …) at a geometry: one (vec_id,
    * payload…, tbl, bucket, bgrp) row per vector per table, `payload`
    * given as (name, the expression computing it from `src`).
    *
    * Directory layer = (tbl, bucket GROUP), not (tbl, bucket): a dir per
    * full bucket means tables × 2^bits directories — measured at 16×14
    * bits as a ~32k-tiny-file tree that took the sf0.1 build from 9 s to
    * 157 s and the probe to 95 s. The low-order [[indexGrpBits]] of the
    * bucket give a bounded fan-out whatever the geometry; the full bucket
    * stays a data column.
    */
  private def bucketRows(src: DataFrame, bits: Int, tables: Int,
                         payload: (String, Column)*): DataFrame =
    src.select((col("vec_id") +: payload.map(_._2)) :+ posexplode(
        expr(H.sparkBucketsExpr("emb", bits, tables))).as(Seq("tbl", "bucket")): _*)
      .select((col("vec_id") +: payload.map(p => col(p._1))) :+ col("tbl").cast("int").as("tbl")
        :+ col("bucket").cast("int").as("bucket"): _*)
      .withColumn("bgrp", col("bucket").bitwiseAND(lit((1 << indexGrpBits(bits)) - 1)))

  /** Write [[bucketRows]] `partitionBy(tbl, bgrp)`, so a probe's bucket
    * lookups become partition pruning at the scan. Each group's rows are
    * co-located in one task first, so every group directory receives one
    * file per write; the sort lets the dynamic-partition writer see
    * groups contiguously and lays buckets out in sorted runs, so parquet
    * row-group min/max stats carry the residual selectivity.
    */
  private def writeBucketTree(rows: DataFrame, path: String, mode: String): Unit =
    rows.repartition(col("tbl"), col("bgrp"))
      .sortWithinPartitions(col("tbl"), col("bgrp"), col("bucket"))
      .write.mode(mode).partitionBy("tbl", "bgrp").parquet(path)

  /** The geometry is PART OF THE INDEX: a one-row parquet under
    * `_geometry` (underscore-prefixed → invisible to the partitioned
    * read), so a probe hashes its batch with the geometry the index was
    * built with. Written AFTER the tree because a static-mode
    * partitionBy overwrite clears the root first.
    */
  private def writeGeometry(s: SparkSession, path: String, bits: Int, tables: Int): Unit =
    s.range(1)
      .select(lit(bits).as("bits"), lit(tables).as("tables"))
      .write.mode("overwrite").parquet(s"$path/_geometry")

  /** Build the corpus side of the float-family index: one (vec_id, emb,
    * tbl, bucket) row per vector per table. `mode=append` is the
    * maintenance path: a new batch's rows drop new files into the
    * matching group directories without rewriting anything.
    *
    * The VECTOR lives in the bucket row — the classic space-for-time
    * layout: a probe's pruned scan delivers candidate ids AND their
    * embeddings in one read, at L× vector duplication (here 16×). The
    * sf1 probe showed the alternative — an id-only index joined back to
    * the corpus — does NOT scale: the candidate×vector attach is a corpus
    * shuffle or a candidate broadcast past driver limits (1.8 GiB at a
    * mere 10× corpus).
    *
    * `vecs` must carry (vec_id, emb) with emb already Array[Double].
    * Signature cost is paid ONCE per vector's lifetime, here.
    */
  def annIndexWrite(vecs: DataFrame, path: String,
                    mode: String = "overwrite",
                    bitsPerTable: Int = H.bits,
                    numTables: Int = H.tables): Unit = {
    graft.functions.VectorExpressions.register(vecs.sparkSession)
    // An append into an index hashed with a DIFFERENT geometry would
    // silently produce bucket ids that never collide with the resident
    // rows — fail fast instead.
    if (mode == "append") {
      indexGeometry(vecs.sparkSession, path) match {
        case Some(existing) =>
          require(existing == ((bitsPerTable, numTables)),
            s"append geometry ($numTables x $bitsPerTable) != index geometry $existing at $path")
        case None if java.nio.file.Files.exists(java.nio.file.Paths.get(path)) =>
          // Data present but no geometry record: a pre-dial legacy index,
          // hashed at the compile-time default.
          val legacy = (H.bits, H.tables)
          require(legacy == ((bitsPerTable, numTables)),
            s"append geometry ($numTables x $bitsPerTable) != legacy index geometry $legacy at $path")
        case None => // fresh path: the first append CREATES the index.
      }
    }
    writeBucketTree(bucketRows(vecs, bitsPerTable, numTables, "emb" -> col("emb")), path, mode)
    writeGeometry(vecs.sparkSession, path, bitsPerTable, numTables)
    registerIndex(path)
  }

  /** Bucket-group directory fan-out for a geometry: 2^grpBits dirs per
    * table, capped at 4 so the tree stays ≤ 16 × 16 = 256 dirs for every
    * registered geometry — measured at sf0.1: the 64-group layout (1024
    * dirs) still paid ~7 s of listing + per-file task launch on the
    * probe, 16 groups brought it to 1.25 s (and the 16×14 build from
    * 157 s to 2.9 s vs full-bucket dirs). A pure layout parameter derived
    * from the persisted geometry, so old indexes stay readable.
    */
  private[graft] def indexGrpBits(bitsPerTable: Int): Int = math.min(bitsPerTable, 4)

  /** The persisted (bitsPerTable, numTables) of an index, if recorded.
    * Indexes written before the geometry dial (or caught between their
    * tree write and their `_geometry` write) have none.
    */
  def indexGeometry(s: SparkSession, path: String): Option[(Int, Int)] =
    try {
      val r = s.read.parquet(s"$path/_geometry").select(col("bits"), col("tables")).head()
      Some((r.getInt(0), r.getInt(1)))
    } catch { case _: Throwable => None }

  /** [[indexGeometry]], or an IllegalArgumentException naming the path:
    * hashing at any guessed geometry would silently serve (or write)
    * buckets that never collide with the resident rows.
    */
  private def recordedGeometry(s: SparkSession, path: String, op: String): (Int, Int) =
    indexGeometry(s, path).getOrElse(throw new IllegalArgumentException(
      s"no _geometry record at $path — cannot $op an unrecorded index"))

  /** Resident-vector count of a persisted index (either family): a
    * partition-pruned ONE-table scan (every table holds the full resident
    * set), with the result-neutral crash-window duplicates compacted by
    * `distinct`. The streaming auto-step policy
    * ([[graft.streaming.AnnIngest.PqAutoStepIngest]]) reads it ONCE per
    * stream start, so ingest cost stays O(batch).
    */
  def annIndexResidentCount(s: SparkSession, path: String): Long =
    s.read.parquet(path).filter(col("tbl") === 0)
      .select(col("vec_id")).distinct().count()

  /** Index dirs created this JVM, removed by a shutdown hook — Bench and
    * Verify runs do not accumulate stale index trees in java.io.tmpdir.
    */
  private val builtIndexPaths = scala.collection.mutable.Set[String]()
  sys.addShutdownHook {
    builtIndexPaths.foreach { p =>
      try deleteTree(p) catch { case _: Throwable => () }
    }
  }

  private def registerIndex(path: String): Unit =
    Similarity.synchronized { builtIndexPaths += path }

  /** Whether a fixture index at `path` can be reused: complete
    * (`_SUCCESS`), of the current schema (`payload` inside the bucket
    * rows, the `bgrp` group layer) and recorded at `geometry`. tmpdir
    * survives a killed JVM whose cleanup hook never ran, so a partial
    * write, an older layout or an older geometry must be rebuilt.
    */
  private def indexReusable(s: SparkSession, path: String, payload: String,
                            geometry: (Int, Int)): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")) &&
      (try {
        val fields = s.read.parquet(path).schema.fieldNames
        fields.contains(payload) && fields.contains("bgrp")
      } catch { case _: Throwable => false }) &&
      indexGeometry(s, path).contains(geometry)

  /** The fixture corpus both index families are built over: every vector
    * but the new batch (vec_id % 10 == 0, the q94 fixture convention).
    */
  private def indexCorpus(s: SparkSession, dir: String): DataFrame =
    vectors(s, dir).filter(col("vec_id") % 10 =!= 0)

  /** Build the q140 fixture index for `dir`'s corpus split unless a
    * reusable one exists ([[indexReusable]]). Returns the index path.
    * This keeps q140 a PROBE measurement: the build cost lives in the
    * separately-registered q144 maintenance entry.
    */
  private def ensureQ140Index(s: SparkSession, dir: String): String = {
    val path = annIndexPath(dir)
    if (indexReusable(s, path, "emb", q140Geometry)) registerIndex(path)
    else annIndexWrite(indexCorpus(s, dir), path,
      bitsPerTable = q140Geometry._1, numTables = q140Geometry._2)
    path
  }

  /** Candidate pairs of a probe batch against a persisted index: hash
    * ONLY the batch with the geometry the index records, broadcast those
    * bucket keys against the index scan — joining on `bgrp` too lets
    * dynamic partition pruning skip group dirs the batch never hashes
    * into — and keep the index row's `payload` as `as`.
    */
  private def indexCandidates(s: SparkSession, indexPath: String, newVecs: DataFrame,
                              payload: String, as: String): DataFrame = {
    val (bits, tables) = recordedGeometry(s, indexPath, "probe")
    broadcast(bucketRows(newVecs, bits, tables).as("q"))
      .join(s.read.parquet(indexPath).as("n"),
        col("q.tbl") === col("n.tbl") && col("q.bgrp") === col("n.bgrp") &&
          col("q.bucket") === col("n.bucket") &&
          col("q.vec_id") =!= col("n.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("n.vec_id").as("neighbor_id"),
        col(s"n.$payload").as(as))
  }

  /** Probe a persisted float index with a new batch: [[indexCandidates]]
    * → score in place → per-probe top-5, the q56 tail, so the result is
    * bit-reproducible and DuckDB-checkable. The neighbor vector comes
    * from the index row and the query vector from a broadcast of the
    * batch: no corpus join, no candidate-frame broadcast, no driver-side
    * collect. The dot is computed BEFORE the dedup shuffle on purpose: a
    * pair surfacing in k ≤ 16 tables costs k redundant dots but ships
    * 24-byte rows, where deduping first would ship the 1 KB vector per
    * candidate. Throws on an index with no `_geometry` record.
    */
  def annIndexProbe(s: SparkSession, indexPath: String,
                    newVecs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    topK(indexCandidates(s, indexPath, newVecs, "emb", "n_emb")
      .join(broadcast(newVecs.select(col("vec_id"), col("emb").as("q_emb"))),
        col("query_id") === col("vec_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("graft_dot(q_emb, n_emb)").as("cosine"))
      .distinct())
  }

  /** Deterministic per-corpus index location (tmpdir-scoped so Verify and
    * Bench runs over different SF dirs never collide).
    */
  def annIndexPath(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_ann_index_${Integer.toHexString(dir.hashCode)}"

  /** Registered index geometry: HELD-L 16 tables × 14 bits — the
    * b ≈ log₂(n) posture of the 100×-ready decade. The probe reads the
    * geometry from the index's `_geometry` record, so this constant
    * exists only on the BUILD side.
    */
  private val q140Geometry: (Int, Int) = (14, 16)

  /** Registered end-to-end posture: probe the PERSISTED corpus index
    * ([[indexCorpus]], built lazily once per SF dir) with the new batch.
    * The DuckDB oracle recomputes ALL signatures from scratch — a hash
    * match proves persisted-index candidates == recompute-from-scratch
    * candidates, the whole correctness claim of an incremental index.
    */
  def q140AnnIndexProbe(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val emb = vectors(s, dir)
    annIndexProbe(s, ensureQ140Index(s, dir), emb.filter(col("vec_id") % 10 === 0))
  }

  /** Per-table occupancy of an index tree — (tbl, n_buckets, n_rows,
    * extra…) — the build entries' oracle surface: a structural check of
    * the persisted content without shipping parquet to the oracle.
    */
  private def indexOccupancy(s: SparkSession, path: String, extra: Column*): DataFrame =
    s.read.parquet(path)
      .groupBy(col("tbl"))
      .agg(countDistinct(col("bucket")).as("n_buckets"), (count(lit(1)).as("n_rows") +: extra): _*)
      .orderBy(col("tbl"))

  /** DuckDB replica of [[indexOccupancy]] over [[indexCorpus]]: the
    * signatures recomputed at `geometry`, `extra` appended to the select.
    */
  private def occupancySql(geometry: (Int, Int), extra: String = ""): String =
    s"""sig AS (SELECT vec_id, ${H.duckBucketsSql("embedding", geometry._1, geometry._2)} AS sig FROM embeddings WHERE vec_id % 10 <> 0)
       SELECT CAST(t.i - 1 AS INT) AS tbl,
              COUNT(DISTINCT sig[t.i]) AS n_buckets,
              COUNT(*) AS n_rows$extra
       FROM sig, generate_series(1, ${geometry._2}) AS t(i)
       GROUP BY 1 ORDER BY 1"""

  /** The MAINTENANCE side of q140, registered separately so the build
    * cost is measured on its own: rebuild the corpus index from scratch
    * (the worst case — a real nightly pays only an append, proven
    * equivalent by DedupSpec's append-vs-rebuild test) and return
    * [[indexOccupancy]]. Marked in `SparkEntry.auditBaselines` as
    * intentionally corpus-scale work.
    */
  def q144AnnIndexBuild(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val path = annIndexPath(dir)
    annIndexWrite(indexCorpus(s, dir), path,
      bitsPerTable = q140Geometry._1, numTables = q140Geometry._2)
    indexOccupancy(s, path)
  }

  def q144Sql: String = s"WITH ${occupancySql(q140Geometry)}"

  /** DuckDB replica of q140 — NO index anywhere: both sides' signatures
    * recomputed from the shared plane literals, candidates from the same
    * ≥1-table collision rule restricted to new×corpus, identical scoring
    * fold and tie-break.
    */
  def q140Sql: String =
    lshTopKSql("q.vec_id % 10 = 0 AND n.vec_id % 10 <> 0", multiProbe = false, None, q140Geometry)

  /** The PQ model of q154, exposed for PqSpec: `(cents, codes)` where
    * cents = (m, cell, centroid array<double>) — the per-subspace
    * codebook — and codes = (vec_id, codes array<int>) — each corpus
    * vector's M nibbles. Deterministic (seed partition + integer-mean
    * centroids + tie-to-lowest assignment), so the spec can decode and
    * recompute ADC independently of the serving path.
    */
  private[graft] def pqModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.functions.VectorExpressions.register(s)
    pqModelOn(vectors(s, dir))
  }

  /** [[pqModel]] over an arbitrary (vec_id, emb array<double>) frame —
    * q154/q155 train on raw embeddings, q156 on coarse-cell residuals.
    */
  private[graft] def pqModelOn(emb: DataFrame,
                               pqBits: Int = H.pqBits): (DataFrame, DataFrame) = {
    // Seed partition + fixed-point centroids (the IVF integer-mean trick,
    // per (subspace, cell) instead of per cell). Pinned (≤ M·2^pqBits
    // tiny rows): the codebook is consumed at least twice (encode
    // broadcast + the caller's LUT build), and every un-pinned reference
    // re-ran the corpus-scale training aggregation.
    val seeded = pqSubsOf(emb).withColumn("cell0", expr(H.sparkSubCellExpr("sub", "m", pqBits)))
    val cents = StorageHandle.sessionDefault().pin(
      fxCentroids(fxSums(seeded, Seq("m", "cell0"), "sub"), Seq("m", "cell0"))
        .select(col("m"), col("cell0").as("cell"), col("centroid")))
    (cents, pqEncode(emb, cents))
  }

  /** Subvectors of an (vec_id, emb array<double>) frame: one row per
    * (vector, subspace), sub = the pqSubDim-dim slice.
    */
  private[graft] def pqSubsOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(expr(subvectorsExpr)).as(Seq("m", "sub")))

  private def subvectorsExpr: String =
    s"transform(sequence(0, ${H.pqM - 1}), mm -> slice(emb, mm * ${H.pqSubDim} + 1, ${H.pqSubDim}))"

  /** The ADC score of a candidate: M lookups + adds of its `codes` in the
    * probe's dense M×K `lut`, m ascending.
    */
  private def adcExpr(K: Int): String =
    s"aggregate(sequence(0, ${H.pqM - 1}), CAST(0 AS DOUBLE), (acc, mm) -> acc + lut[mm * $K + codes[mm]])"

  /** DuckDB replica of [[adcExpr]] over relations `l` (lut) and `c` (codes). */
  private def adcSql(K: Int): String =
    s"""list_reduce([l.lut[mm * $K + c.codes[mm + 1] + 1]
                             FOR mm IN generate_series(0, ${H.pqM - 1})], (acc, v) -> acc + v)"""

  /** One-row broadcast form of a flat PQ codebook: `cents_arr[m + 1]` =
    * subspace m's candidate list array<struct<cell int, cent
    * array<double>>>, cell ascending. A ≤ M·2^pqBits-row aggregation —
    * independent of corpus size.
    */
  private def pqCentsRow(cents: DataFrame): DataFrame =
    cents.groupBy(col("m"))
      .agg(expr("transform(array_sort(collect_list(struct(cell, centroid))), e -> named_struct('cell', e.cell, 'cent', e.centroid))").as("cands"))
      .agg(expr("transform(array_sort(collect_list(struct(m, cands))), e -> e.cands)").as("cents_arr"))

  /** Encode: one Lloyd step — max-dot centroid per (vector, subspace),
    * tie to the lowest cell. r13: ONE map-only projection per corpus row
    * — M `graft_argmax_dot` evals (hand-evaluated tight loops, see
    * [[graft.functions.ArgmaxDotExpr]]) against the one-row broadcast
    * codebook, replacing the (vector, subspace, cell) explosion and the
    * corpus-scale SortAggregate pair its struct-ordered max_by forced
    * (plus the ObjectHashAggregate codes reassembly). Ordering parity:
    * the expression IS max_by(cell, struct(sc, -cell)) — argued in its
    * scaladoc, pinned by PqSpec. Still factored from [[pqModelOn]] so
    * the PQ index write can encode an APPEND batch against the index's
    * persisted codebook — the incremental-maintenance discipline (a
    * retrained codebook would silently shift every resident code).
    * Takes the (vec_id, emb) frame — the subs explode itself was a
    * third of the old encode's rows.
    */
  private[graft] def pqEncode(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(pqCentsRow(cents)))
      .select(col("vec_id"), expr(pqEncodeExprStr).as("codes"))

  /** The flat-encode codes expression over a frame carrying `emb` and
    * [[pqCentsRow]]'s `cents_arr` — exposed so a caller that needs other
    * per-row model expressions in the SAME projection (q155/q156's
    * corpus rows carry their IVF cell beside the codes) can avoid a
    * second encode pass + re-join.
    */
  private def pqEncodeExprStr: String =
    s"""transform(sequence(0, ${H.pqM - 1}), mm ->
       graft_argmax_dot(slice(emb, mm * ${H.pqSubDim} + 1, ${H.pqSubDim}),
                        element_at(cents_arr, mm + 1)))"""

  /** Per-probe ADC lookup tables for the PQ codebook `cents`:
    * LUT[m·K + k] = dot(q_sub_m, c_{m,k}) — one 128-double array per
    * probe, ordered (m, cell) ascending so the serving fold indexes it
    * directly.
    */
  private def pqLutDf(emb: DataFrame, cents: DataFrame,
                      pqBits: Int = H.pqBits,
                      queryFilter: Column = col("vec_id") < 20): DataFrame = {
    val M = H.pqM
    val K = 1 << pqBits
    // The codebook is SPARSE: a (m, cell) seed pattern no vector hits has
    // no centroid (q156's residual cells can be empty at some SFs). The
    // LUT must still be a DENSE M×K array — the serving fold indexes it
    // m·K + code positionally — so absent entries pin 0.0 explicitly.
    // Densify the CODEBOOK (an M×K grid left-joined to cents, tiny and
    // query-independent) rather than each query's lookup map: the first
    // formulation assembled the dense array with try_element_at over a
    // 2048-entry MAP per slot — a linear scan, O((M·K)²) per query —
    // invisible at q154's 20 probes, measured as the q164 batch probe's
    // dominant cost at 6k probes. Here every query gets exactly M·K
    // (slot, lv) rows (absent cells pin lv = 0.0 without a dot) and the
    // dense array is one positional sort-assemble, the codes-assembly
    // idiom.
    val grid = emb.sparkSession.range(M.toLong * K)
      .select((col("id") / K).cast("int").as("m"), (col("id") % K).cast("int").as("cell"))
    val denseCents = grid.join(cents, Seq("m", "cell"), "left")
    emb.filter(queryFilter)
      .select(col("vec_id").as("query_id"),
        posexplode(expr(subvectorsExpr)).as(Seq("m", "qsub")))
      .join(broadcast(denseCents), Seq("m"))
      .select(col("query_id"), (col("m") * K + col("cell")).cast("int").as("slot"),
        when(col("centroid").isNull, lit(0.0d))
          .otherwise(expr("graft_dot(qsub, centroid)")).as("lv"))
      .groupBy(col("query_id"))
      .agg(expr("transform(array_sort(collect_list(struct(slot, lv))), e -> e.lv)").as("lut"))
  }

  /** The PQ serving tail shared by q154/q155: 32-deep per-query ADC
    * shortlist (rerank depth ≈ 6×k — the float-vector reads stay bounded
    * at queries×32 rows while the 4-bit codes' ranking noise is absorbed;
    * measured recall vs the exact q55 top-5 at sf0.001: 0.27 at depth 10
    * → 0.47 at depth 32), then the exact top-5 rerank, with the adc score
    * that ranked the shortlist emitted next to the exact cosine.
    */
  private def pqAdcRerank(emb: DataFrame, adc: DataFrame): DataFrame =
    pqAdcRerankOn(emb.filter(col("vec_id") < 20), emb, adc)

  /** [[pqAdcRerank]] with the two float stores split: `queryEmb` is the
    * (small, broadcast) probe side, `corpusEmb` the cold neighbor-vector
    * store the shortlist reads from — the q164 index probe reranks
    * against the corpus floats that deliberately do NOT live in its
    * PQ-coded index rows.
    */
  private def pqAdcRerankOn(queryEmb: DataFrame, corpusEmb: DataFrame,
                            adc: DataFrame): DataFrame = {
    val short = adc
      .withColumn("srn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id").asc)))
      .filter(col("srn") <= 32)
    topK(short
      .join(corpusEmb.as("ne"), col("neighbor_id") === col("ne.vec_id"))
      .join(broadcast(queryEmb.as("qe")), col("query_id") === col("qe.vec_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc"),
        expr("graft_dot(qe.emb, ne.emb)").as("cosine")),
      out = Seq(round(col("cosine"), 6).as("cos_r"), round(col("adc"), 6).as("adc_r")))
  }

  /** q155 — IVF-PQ: q154's PQ-ADC scan behind an IVF router, and the
    * standard serving stack of every billion-scale vector store (FAISS
    * IVFPQ, SCANN's tree-AH): the IVF coarse quantizer (q58's
    * deterministic 16-cell Lloyd step) ROUTES each probe to its nProbe=4
    * nearest cells, and the PQ-ADC scan (q154's broadcast LUTs over
    * 4-byte nibble codes) scores ONLY the routed cells' vectors — the
    * full-corpus linear ADC scan of q154 drops to ~nProbe/k of the
    * corpus with no new shuffle: the corpus keeps its one (cell, codes)
    * row per vector, probe cells broadcast, LUTs broadcast, and the
    * only exchange is the per-query shortlist window on narrow
    * (query_id, neighbor_id, adc) triples.
    *
    * At 100 TB this is the layout that serves: cells partition the code
    * table (so a probe prunes partitions, the q140 index discipline),
    * codes are 4 B/vector hot data, floats stay cold for the 32-deep
    * rerank. Everything is deterministic — seed cells, integer-mean
    * centroids, tie-to-lowest assignments on both quantizers — so DuckDB
    * replays the entire approximate pipeline bit-identically.
    */
  def q155AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // The corpus row computes its cell in the SAME projection as its
    // codes (both are per-row functions of emb against one-row broadcast
    // models), so neither a ranking window nor a codes⋈assignment join
    // is planned.
    val (emb, ivfCents, _) = ivfModel(s, dir)
    val ivfRow = ivfCentsRow(ivfCents)
    val (cents, _) = pqModelOn(emb)
    // Corpus row: (vec_id, codes, cell) — the persisted IVF-PQ layout.
    val corpus = emb.crossJoin(broadcast(pqCentsRow(cents)))
      .crossJoin(broadcast(ivfRow))
      .select(col("vec_id"), expr(pqEncodeExprStr).as("codes"),
        expr("graft_argmax_dot(emb, cands)").as("cell"))
    routedAdcRerank(emb, corpus, ivfProbeCells(emb, ivfRow), pqLutDf(emb, cents),
      adcExpr(1 << H.pqBits))
  }

  /** The routed ADC scan of q155/q156: the broadcast probe-cell list
    * prunes the (vec_id, cell, codes) corpus to ~4/16 before any scoring
    * (a pair appears at most once: one cell per vector, distinct cells
    * per probe), the broadcast LUTs score it as `adc`, then the shared
    * shortlist + exact rerank.
    */
  private def routedAdcRerank(emb: DataFrame, corpus: DataFrame, probeCells: DataFrame,
                              lut: DataFrame, adc: String): DataFrame =
    pqAdcRerank(emb, corpus.join(broadcast(probeCells), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(lut), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), expr(adc).as("adc")))

  /** q156 — residual IVF-PQ (the FAISS-IVFADC refinement of q155): the
    * PQ codebook is trained on the coarse-cell RESIDUALS x − c(cell)
    * instead of the raw vectors. Residuals are what's left after the
    * coarse quantizer explains the cell-level structure, so the same
    * 4-byte code budget spends its 16 cells per subspace on a tighter
    * distribution — the standard way production IVF-PQ buys recall
    * without growing the code (measured at sf0.001: routed recall
    * 0.37 → 0.42 vs the exact top-5, at identical code bytes, routing,
    * and rerank depth; the full-scan ceiling q154 sits at 0.47).
    *
    * The ADC identity decomposes: score(q, x) ≈ ⟨q, c(cell)⟩ + ⟨q, r̂⟩
    * where r̂ is the decoded residual — the first term is one number per
    * (probe, probed cell) (already computed by the coarse quantizer's
    * ranking pass), the second is the same 8-lookup LUT fold as
    * q154/q155 against a LUT built from the residual codebook. One
    * shared residual codebook across cells (not per-cell codebooks)
    * keeps the broadcast at 128 entries and is the memory-bound variant
    * actually shipped at scale. Serving layout is identical to q155:
    * corpus = (cell, codes) rows, probe cells + LUTs + per-cell query
    * dots broadcast, shortlist window on narrow triples, 32-deep exact
    * rerank.
    */
  def q156AnnIvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // Assignment, residual subtraction and routing are per-row
    // expressions against the one-row broadcast IVF codebook: the
    // residual is computed in the assignment's own projection (centroid
    // looked up from the broadcast candidate list — same doubles, so the
    // subtraction is bit-identical) and qc rides the probe list.
    val (emb, ivfCents, _) = ivfModel(s, dir)
    val ivfRow = ivfCentsRow(ivfCents)
    val resid = emb.crossJoin(broadcast(ivfRow))
      .select(col("vec_id"), col("emb"), col("cands"),
        expr("graft_argmax_dot(emb, cands)").as("cell"))
      .select(col("vec_id"), col("cell"),
        expr("zip_with(emb, filter(cands, c -> c.cell = cell)[0].cent, (a, b) -> a - b)").as("remb"))
    val (rCents, _) = pqModelOn(resid.select(col("vec_id"), col("remb").as("emb")))
    // Corpus row (vec_id, cell, codes): the residual encode in one
    // projection, the cell carried through instead of re-joined.
    val corpus = resid.select(col("vec_id"), col("cell"), col("remb").as("emb"))
      .crossJoin(broadcast(pqCentsRow(rCents)))
      .select(col("vec_id"), col("cell"), expr(pqEncodeExprStr).as("codes"))
    routedAdcRerank(emb, corpus, ivfProbeCells(emb, ivfRow, withQc = true),
      pqLutDf(emb, rCents), s"qc + ${adcExpr(1 << H.pqBits)}")
  }

  /** PQ CTE prefix shared by [[pqServeSql]]/q155Sql: subvectors → seed cells →
    * fixed-point sub-centroids → argmax codes → per-probe LUTs. Ends at
    * `lut` (query_id, 128-double list ordered (m, cell)).
    */
  private def pqCteSql: String = pqCteSql("embeddings", "embedding")

  /** [[pqCteSql]] over an arbitrary (vec_id, `vec`) corpus relation —
    * the LUT side always reads the RAW query embeddings (q156 scores raw
    * queries against the residual codebook).
    */
  private def pqCteSql(from: String, vec: String,
                       pqBits: Int = H.pqBits,
                       queryPred: String = "q.vec_id < 20"): String = {
    val M = H.pqM
    val sd = H.pqSubDim
    val cell0 = H.duckSubCellSql("sub", "m", pqBits)
    s"""subs AS (
         SELECT vec_id, m, $vec[m * $sd + 1 : m * $sd + $sd] AS sub
         FROM $from, generate_series(0, ${M - 1}) AS t(m)),
       seeded AS (SELECT vec_id, m, sub, $cell0 AS cell0 FROM subs),
       ${fxCentSql("", Seq("m", "cell0"), "cell", "sub", s"generate_series(1, $sd)")},
       scored AS (
         SELECT s.vec_id, s.m, c.cell,
                list_reduce([CAST(s.sub[i] AS DOUBLE) * c.centroid[i]
                             FOR i IN generate_series(1, $sd)], (acc, v) -> acc + v) AS sc
         FROM subs s JOIN cent c ON s.m = c.m),
       assigned AS (
         SELECT vec_id, m, cell AS code FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY sc DESC, cell ASC) AS rn
           FROM scored) WHERE rn = 1),
       codes AS (SELECT vec_id, list(code ORDER BY m) AS codes FROM assigned GROUP BY vec_id),
       lutrows AS (
         SELECT q.vec_id AS query_id, c.m, c.cell,
                list_reduce([CAST(q.embedding[c.m * $sd + i] AS DOUBLE) * c.centroid[i]
                             FOR i IN generate_series(1, $sd)], (acc, v) -> acc + v) AS lv
         FROM embeddings q CROSS JOIN cent c WHERE $queryPred),
       lutgrid AS (
         SELECT q.vec_id AS query_id, mm.m, kk.cell
         FROM embeddings q, generate_series(0, ${M - 1}) AS mm(m),
              generate_series(0, ${(1 << pqBits) - 1}) AS kk(cell)
         WHERE $queryPred),
       lut AS (SELECT g.query_id, list(COALESCE(l.lv, 0.0) ORDER BY g.m, g.cell) AS lut
               FROM lutgrid g LEFT JOIN lutrows l
                 ON l.query_id = g.query_id AND l.m = g.m AND l.cell = g.cell
               GROUP BY g.query_id)"""
  }

  /** PQ tail shared by [[pqServeSql]]/q155Sql: 32-deep ADC shortlist, exact
    * top-5 rerank, final projection — consumes an `adc` CTE of
    * (query_id, neighbor_id, adc).
    */
  private def pqTailSql: String =
    s"""short AS (
         SELECT query_id, neighbor_id, adc FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC) AS srn
           FROM adc) WHERE srn <= 32),
       rer AS (
         SELECT s.query_id, s.neighbor_id, s.adc,
                ${dotSql("qe", "ne")} AS cosine
         FROM short s JOIN embeddings qe ON s.query_id = qe.vec_id
                      JOIN embeddings ne ON s.neighbor_id = ne.vec_id)
       ${topKSql("rer", "ROUND(cosine, 6) AS cos_r, ROUND(adc, 6) AS adc_r")}"""

  /** DuckDB replica of q155: the q58 IVF CTEs (prefixed ivf_ to avoid
    * colliding with the PQ names) route each probe to its 4 nearest
    * cells; the ADC fold is q154's, restricted to routed (query, cell)
    * matches.
    */
  def q155Sql: String =
    s"""WITH $pqCteSql,
       ${ivfRouteSql("ivf_")},
       adc AS (
         SELECT p.query_id, c.vec_id AS neighbor_id,
                ${adcSql(1 << H.pqBits)} AS adc
         FROM probecells p
              JOIN ivf_assigned a USING (cell)
              JOIN codes c ON a.vec_id = c.vec_id
              JOIN lut l ON l.query_id = p.query_id
         WHERE c.vec_id <> p.query_id),
       $pqTailSql"""

  /** Train the hierarchical PQ model on a corpus: the pqBits codebook
    * (exact fixed-point means), a grouping of its cells into
    * `2^pqBits / groupSize` super-groups, and the groups' super-centroids
    * (member integer sums re-aggregated — exact adds, so bit-identical in
    * DuckDB under any grouping order). Returns (cents, groups, supCents):
    * (m, cell, centroid) / (m, cell, g) / (m, g, scentroid).
    *
    * Grouping: seed = the cell's high bits (cell div groupSize) — free,
    * but geometrically arbitrary, so stage 1 misroutes on
    * weakly-clustered corpora (the q160/q161 recall ceiling). Refined
    * (q165): one Lloyd round ON THE GROUP STRUCTURE — each cell-centroid
    * reassigned to its max-dot seed super-centroid (tie → lowest g),
    * supers then recomputed from their members. A 2^pqBits-row
    * broadcast-scale computation per subspace, independent of corpus
    * size; empty groups vanish from the recomputed relation so stage 1
    * never routes to a memberless group.
    */
  private[graft] def pqHierModelOn(emb: DataFrame, pqBits: Int,
                                   groupSize: Int, refine: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val seeded = pqSubsOf(emb).withColumn("cell0", expr(H.sparkSubCellExpr("sub", "m", pqBits)))
    // NOT pinned (r13 measured): sums feeds cents once and supCentsOf
    // once or (refined) twice, but in the QUERY encode paths every
    // consumer sits under a BroadcastExchange, and those broadcast jobs
    // evaluate their towers CONCURRENTLY on otherwise-idle cores —
    // pinning serialized them behind one cache-materialization barrier
    // and cost q160/q161/q163/q165 a consistent +1-2 s each at sf0.1
    // (probes/r13opt).
    val sums = fxSums(seeded, Seq("m", "cell0"), "sub")
    val cents = fxCentroids(sums, Seq("m", "cell0"))
      .select(col("m"), col("cell0").as("cell"), col("centroid"))
    def supCentsOf(groups: DataFrame): DataFrame = fxCentroids(sums
      .join(groups.withColumnRenamed("cell", "cell0"), Seq("m", "cell0"))
      .groupBy(col("m"), col("g"), col("dim"))
      .agg(sum(col("sfx")).as("sfx"), sum(col("n")).as("n")), Seq("m", "g"), "scentroid")
    val seedGroups = cents.select(col("m"), col("cell"),
      expr(s"cell div $groupSize").as("g"))
    val groups =
      if (!refine) seedGroups
      else cents.join(broadcast(supCentsOf(seedGroups)), Seq("m"))
        .select(col("m"), col("cell"), col("g"),
          expr("graft_dot(centroid, scentroid)").as("sc"))
        .groupBy(col("m"), col("cell"))
        .agg(expr("max_by(g, struct(sc, -g))").as("g"))
    (cents, groups, supCentsOf(groups))
  }

  /** Hierarchical encode of `subs` against an explicit trained model —
    * stage 1 ranks the super-centroids and keeps the top `beam` groups
    * (sc desc, g asc — the ng negation keeps sort_array single-key);
    * stage 2 ranks only the kept groups' cells. Both aggregation passes
    * partial-aggregate; group cells are disjoint, so stage 2 never
    * scores a cell twice. Factored from the q160/q161/q165 query bodies
    * so the PQ index write/append path encodes with the SAME posture —
    * encode is the index's recurring cost, so the registered 100×
    * encoder and the index's encoder must be one code path.
    */
  /** One-row broadcast form of a trained hierarchical PQ model:
    * `sup_arr[m + 1]` = subspace m's super-centroid list
    * array<struct<g int, scent array<double>>>, and
    * `cells_arr[m + 1][g]` = group g's member cells
    * array<struct<cell int, cent array<double>>> (cell ascending).
    * Aggregations over ≤ M·2^pqBits rows — independent of corpus size.
    * The (m, gcells) assembly sorts with an explicit comparator because
    * structs containing MAP fields are not orderable.
    */
  private[graft] def pqHierModelRow(cents: DataFrame, groups: DataFrame,
                                    supCents: DataFrame): DataFrame = {
    // g arrives as BIGINT (`cell div groupSize`); the expression reads
    // int keys — a lossless cast (g < 2^pqBits).
    val supA = supCents.groupBy(col("m"))
      .agg(expr("collect_list(named_struct('g', CAST(g AS INT), 'scent', scentroid))").as("sups"))
    val cellA = cents.join(groups, Seq("m", "cell"))
      .groupBy(col("m"), col("g"))
      .agg(expr("transform(array_sort(collect_list(struct(cell, centroid))), e -> named_struct('cell', e.cell, 'cent', e.centroid))").as("cands"))
      .groupBy(col("m"))
      .agg(expr("map_from_entries(collect_list(struct(CAST(g AS INT) AS g, cands)))").as("gcells"))
    supA.join(cellA, Seq("m"))
      .agg(
        expr("transform(array_sort(collect_list(struct(m, sups))), e -> e.sups)").as("sup_arr"),
        expr("""transform(array_sort(collect_list(struct(m, gcells)),
            (l, r) -> CASE WHEN l.m < r.m THEN -1 WHEN l.m > r.m THEN 1 ELSE 0 END),
          e -> e.gcells)""").as("cells_arr"))
  }

  /** Hierarchical encode of a (vec_id, emb) frame against an explicit
    * trained model — stage 1 keeps the top-`beam` groups (sc DESC, g
    * ASC), stage 2 the argmax-dot cell among their members (ties →
    * lowest cell). r13: ONE map-only projection per corpus row — M
    * `graft_pq_hier_code` evals (hand-evaluated two-stage fold, see
    * [[graft.functions.PqHierCodeExpr]] for the ordering-parity
    * argument) against the one-row broadcast model, replacing the
    * (vector, subspace) explode, the stage-1 ObjectHashAggregate +
    * exchange, the stage-2 join + corpus-scale SortAggregate pair, and
    * the codes-reassembly aggregation — five corpus-scale operators and
    * their exchanges (guide §2.4; PqSpec/AnnIngestSpec pin codes
    * equality). Still factored from the q160/q161/q165 query bodies so
    * the PQ index write/append path encodes with the SAME posture —
    * encode is the index's recurring cost, so the registered 100×
    * encoder and the index's encoder must be one code path.
    */
  private[graft] def pqEncodeHier(vecs: DataFrame, cents: DataFrame,
                                  groups: DataFrame, supCents: DataFrame,
                                  beam: Int): DataFrame =
    vecs.crossJoin(broadcast(pqHierModelRow(cents, groups, supCents)))
      .select(col("vec_id"), expr(pqEncodeHierExprStr(beam)).as("codes"))

  /** The hierarchical-encode codes expression over a frame carrying
    * `emb` and [[pqHierModelRow]]'s `sup_arr`/`cells_arr` — exposed so
    * the index write computes codes in the SAME projection as its
    * bucket explode instead of joining a second encode pass by vec_id.
    */
  private[graft] def pqEncodeHierExprStr(beam: Int): String =
    s"""transform(sequence(0, ${H.pqM - 1}), mm ->
       graft_pq_hier_code(slice(emb, mm * ${H.pqSubDim} + 1, ${H.pqSubDim}),
                          element_at(sup_arr, mm + 1),
                          element_at(cells_arr, mm + 1), $beam))"""

  /** Super-centroids of grouping `groups<i>`: member cells' integer sums
    * re-aggregated per (m, g), as `supcent<i>` (m, g, scentroid).
    */
  private def supCentSql(i: Int): String =
    s"""supsums$i AS (SELECT s.m, g.g, s.dim, SUM(s.sfx) AS sfx, SUM(s.n) AS n
                    FROM sums s JOIN groups$i g ON s.m = g.m AND s.cell0 = g.cell
                    GROUP BY 1, 2, 3),
       supcent$i AS (SELECT m, g, list(CAST(sfx AS DOUBLE) / n / 10000000 ORDER BY dim) AS scentroid
                    FROM supsums$i GROUP BY m, g)"""

  /** The hierarchical-encode CTE block, shared by q160/q161/q165's
    * oracles and the PQ index oracles (q163/q164, which encode with the
    * q165 posture since the encoder switch): consumes the pqCteSql
    * prefix's `subs`/`sums`/`cent` relations and ends at `hcodes`
    * (vec_id, codes). Seed grouping (cell high bits) always trains
    * supcent0; the refined variant adds one Lloyd round — each
    * cell-centroid reassigned to its max-dot seed super (ties → lowest
    * g, the max_by struct order), then supers recomputed from member
    * integer sums. Final relation names are picked per dial so s1/h2
    * read one grouping only.
    */
  private def pqHierCodesCtes(beam: Int, groupSize: Int,
                              refine: Boolean): String = {
    val sd = H.pqSubDim
    val grpRel = if (refine) "groups1" else "groups0"
    val supRel = if (refine) "supcent1" else "supcent0"
    val refineCtes = if (!refine) "" else s"""
       groups1 AS (
         SELECT m, cell, g FROM (
           SELECT c.m, c.cell, sc.g,
                  ROW_NUMBER() OVER (PARTITION BY c.m, c.cell ORDER BY
                    list_reduce([c.centroid[i] * sc.scentroid[i]
                                 FOR i IN generate_series(1, $sd)], (acc, v) -> acc + v) DESC,
                    sc.g ASC) AS rn
           FROM cent c JOIN supcent0 sc ON c.m = sc.m) WHERE rn = 1),
       ${supCentSql(1)},"""
    s"""groups0 AS (SELECT m, cell, cell // $groupSize AS g FROM cent),
       ${supCentSql(0)},$refineCtes
       s1 AS (
         SELECT vec_id, m, g FROM (
           SELECT s.vec_id, s.m, c.g,
                  ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                    list_reduce([CAST(s.sub[i] AS DOUBLE) * c.scentroid[i]
                                 FOR i IN generate_series(1, $sd)], (acc, v) -> acc + v) DESC,
                    c.g ASC) AS rn
           FROM subs s JOIN $supRel c ON s.m = c.m) WHERE rn <= $beam),
       h2 AS (
         SELECT vec_id, m, cell AS code FROM (
           SELECT s.vec_id, s.m, c.cell,
                  ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                    list_reduce([CAST(s.sub[i] AS DOUBLE) * c.centroid[i]
                                 FOR i IN generate_series(1, $sd)], (acc, v) -> acc + v) DESC,
                    c.cell ASC) AS rn
           FROM subs s JOIN s1 USING (vec_id, m)
                JOIN $grpRel gr ON gr.g = s1.g
                JOIN cent c ON c.m = s.m AND c.m = gr.m AND c.cell = gr.cell) WHERE rn = 1),
       hcodes AS (SELECT vec_id, list(code ORDER BY m) AS codes FROM h2 GROUP BY vec_id)"""
  }

  /** PQ-ADC serving over the raw embeddings — the product-quantized
    * corpus layout a 100 TB vector store serves from. The 64-dim
    * embedding splits into M=8 subvectors of 8 dims, each coded as one of
    * the 2^bits cells of its subspace's codebook (4 or 8 B/vector, vs
    * q87's 64 B of int8 codes). Training is the repo's deterministic
    * one-Lloyd-step recipe per subspace — seed cells from the reserved PQ
    * sub-planes of [[graft.functions.Hyperplanes]] (disjoint from every
    * LSH geometry), fixed-point integer-mean centroids, max-dot
    * assignment with ties to the lowest cell — so DuckDB replays it
    * bit-identically.
    *
    * `hier = None` encodes by flat argmax over all 2^bits cells;
    * `Some((beam, groupSize, refine))` uses the two-level encoder of
    * [[pqHierModelOn]]/[[pqEncodeHier]]: 2^bits / groupSize super-groups,
    * stage 1 keeping the top `beam` — `2^bits/groupSize + beam·groupSize`
    * dots per (vector, subspace) instead of 2^bits.
    *
    * Serving: each probe's dense M×2^bits LUT of sub-dots is broadcast,
    * the ADC score of a corpus vector is M lookups + adds over its codes
    * (no float vector touched), and only the 32-deep per-query shortlist
    * reads floats again for the exact top-5 rerank. `adc_r` is emitted
    * next to `cos_r`, so the oracle hash pins the whole approximate
    * pipeline, not just the final ids; PqSpec pins ADC ==
    * dot(query, decode(codes)) and the postures' recall ordering.
    */
  private def pqServe(s: SparkSession, dir: String, bits: Int,
                      hier: Option[(Int, Int, Boolean)]): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val emb = vectors(s, dir)
    val (cents, codes) = hier match {
      case None => pqModelOn(emb, pqBits = bits)
      case Some((beam, groupSize, refine)) =>
        val (cents, groups, supCents) = pqHierModelOn(emb, bits, groupSize, refine)
        (cents, pqEncodeHier(emb, cents, groups, supCents, beam))
    }
    val lut = pqLutDf(emb, cents, pqBits = bits)
    // ADC scan: M lookups + adds per (query, vector) against the
    // broadcast LUTs — the corpus side streams its codes once.
    val adc = codes.crossJoin(broadcast(lut))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), expr(adcExpr(1 << bits)).as("adc"))
    pqAdcRerank(emb, adc)
  }

  /** DuckDB replica of [[pqServe]]: identical sliced sub-planes,
    * fixed-point centroids per (subspace, cell), and max-dot/lowest-cell
    * assignment (ROW_NUMBER with the same ordering) — or, with `hier`,
    * the [[pqHierCodesCtes]] block, leaving the prefix's flat `codes` CTE
    * unreferenced and unexecuted — then the identical LUT fold,
    * m-ascending ADC fold, 32-deep shortlist and exact top-5 rerank.
    */
  private def pqServeSql(bits: Int, hier: Option[(Int, Int, Boolean)]): String = {
    val (hierCtes, codes) = hier.fold(("", "codes")) { case (beam, groupSize, refine) =>
      (s"\n       ${pqHierCodesCtes(beam, groupSize, refine)},", "hcodes")
    }
    s"""WITH ${pqCteSql("embeddings", "embedding", bits)},$hierCtes
       adc AS (
         SELECT l.query_id, c.vec_id AS neighbor_id,
                ${adcSql(1 << bits)} AS adc
         FROM lut l CROSS JOIN $codes c WHERE l.query_id <> c.vec_id),
       $pqTailSql"""
  }

  /** The registered PQ serving postures: (key, bits per subspace,
    * hierarchical encoder or flat argmax). Recalls are vs the exact q55
    * top-5 at sf0.001; BASELINE.md holds the measured encode frontier.
    */
  private val pqServes: Seq[(String, Int, Option[(Int, Int, Boolean)])] = Seq(
    // sf0.1 cost posture: 4-bit flat codes, 4 B/vector, recall 0.47.
    ("q154_ann_pq_adc", 4, None),
    // Recall ceiling: 8-bit flat (FAISS PQ8), 0.73 — its Θ(n·M·256) encode is the sf10 knee.
    ("q159_ann_pq8", 8, None),
    // sf10 cost posture: 16×16 seed groups, beam 1 — 32 dots, recall 0.58.
    ("q160_ann_pq8_hier", 8, Some((1, 16, false))),
    // sf10 midpoint: seed groups, beam 2 — 48 dots, recall 0.66.
    ("q161_ann_pq8_hier_beam", 8, Some((2, 16, false))),
    // sf10 recall posture (the 100× one): 32×8 Lloyd groups, beam 3 — 56 dots, recall 0.71.
    ("q165_ann_pq8_lloyd", 8, Some((3, 8, true))))

  /** DuckDB replica of q156: the q155 IVF CTEs plus a residual relation
    * (embedding − assigned-cell centroid, exact IEEE subtraction on the
    * shared fixed-point centroids), the PQ CTEs retargeted at the
    * residuals, a per-(probe, cell) query·centroid dot, and the
    * decomposed ADC qc + LUT-fold.
    */
  def q156Sql: String =
    s"""WITH ${ivfRouteSql("ivf_")},
       resid AS (
         SELECT e.vec_id,
                [CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]
                 FOR i IN generate_series(1, len(e.embedding))] AS rvec
         FROM embeddings e JOIN ivf_assigned a ON e.vec_id = a.vec_id
              JOIN ivf_cent c ON a.cell = c.cell),
       ${pqCteSql("resid", "rvec")},
       qc AS (
         SELECT e.vec_id AS query_id, c.cell,
                list_reduce([CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]
                             FOR i IN generate_series(1, len(e.embedding))],
                            (acc, v) -> acc + v) AS qc
         FROM embeddings e CROSS JOIN ivf_cent c WHERE e.vec_id < 20),
       adc AS (
         SELECT p.query_id, c.vec_id AS neighbor_id,
                q.qc + ${adcSql(1 << H.pqBits)} AS adc
         FROM probecells p
              JOIN ivf_assigned a USING (cell)
              JOIN codes c ON a.vec_id = c.vec_id
              JOIN qc q ON q.query_id = p.query_id AND q.cell = p.cell
              JOIN lut l ON l.query_id = p.query_id
         WHERE c.vec_id <> p.query_id),
       $pqTailSql"""

  // ------------------------------------------------------------------
  // PQ-coded persisted ANN index (q163 build / q164 probe): the q140
  // index discipline with the hot rows shrunk from a 512-byte float
  // vector to an 8-byte PQ8 code.
  // ------------------------------------------------------------------

  /** q163/q164 index geometry: the same held-L 16×14 decade posture as
    * q140 (bucket side) + PQ8 codes (payload side). The payload move is
    * the point: q140's bucket rows carry the full 64-dim double vector
    * (512 B) so scoring never leaves the index; q163's rows carry the
    * 8-byte PQ8 code instead — 64× less hot index I/O — and scoring
    * happens in ADC space (8 LUT lookups + 7 adds per candidate) with
    * only the 32-deep per-query shortlist ever touching the cold float
    * store. At 100 TB of embeddings (~1.5e11 vectors), the q140 layout's
    * index is ~1.2 PB hot (16 tables × 512 B); this one is ~19 TB hot —
    * the difference between an index that must live on the data lake and
    * one that fits a serving tier's NVMe.
    */
  private[graft] val annPqGeometry: (Int, Int) = (14, 16)
  private[graft] val annPqBits = 8
  // The index's encoder is q165's registered 100× posture — 32×8
  // Lloyd-refined groups, beam 3 — NOT the flat argmax: encode is the
  // recurring per-document cost of index maintenance (every build and
  // every appended batch), exactly where q159's Θ(n·M·256) knee lives.
  private[graft] val annPqGroupSize = 8
  private[graft] val annPqBeam = 3

  /** Deterministic per-corpus PQ-index location (tmpdir-scoped, distinct
    * from [[annIndexPath]] so the two index families never collide).
    */
  def annPqIndexPath(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_annpq_index_${Integer.toHexString(dir.hashCode)}"

  /** Write (or append to) a PQ-coded ANN index: LSH bucket rows exactly
    * like [[annIndexWrite]] — (tbl, bgrp) directory layer, sorted full
    * bucket column, `_geometry` record — but each row carries the
    * vector's PQ8 `codes` (M small ints, 8 B) instead of its floats.
    * The trained codebook is persisted next to the geometry under
    * `_codebook` (m, cell, centroid, pq_bits), because the codebook IS
    * part of the index: a probe must build its LUTs against the exact
    * centroids the resident codes were assigned to.
    *
    * Encode uses q165's registered 100× posture (32×8 Lloyd-refined
    * groups, beam 3 — Θ(n·M·56) vs the flat Θ(n·M·256) knee q159
    * measured at sf10), because encode is the index's RECURRING cost:
    * paid at build and again for every appended batch. The grouping and
    * super-centroids are part of the model, persisted as `_groups` /
    * `_supcent` beside `_codebook`.
    *
    * Appends follow the incremental discipline on ALL learned
    * structures: the batch is hashed with the recorded geometry (fail
    * fast on mismatch, as [[annIndexWrite]]) and encoded against the
    * PERSISTED codebook + grouping — never retrained, which would
    * silently shift every resident code's meaning. Codebook drift under
    * distribution shift is a rebuild decision, not an append side
    * effect.
    */
  def annPqIndexWrite(vecs: DataFrame, path: String,
                      mode: String = "overwrite",
                      bitsPerTable: Int = annPqGeometry._1,
                      numTables: Int = annPqGeometry._2,
                      pqBits: Int = annPqBits): Unit = {
    val s = vecs.sparkSession
    graft.functions.VectorExpressions.register(s)
    val cbPath = s"$path/_codebook"
    val cbExists = java.nio.file.Files.exists(java.nio.file.Paths.get(cbPath))
    if (mode == "append") {
      indexGeometry(s, path).foreach { existing =>
        require(existing == ((bitsPerTable, numTables)),
          s"append geometry ($numTables x $bitsPerTable) != index geometry $existing at $path")
      }
      if (cbExists) {
        val recorded = pqIndexBits(s, path)
        require(recorded == pqBits,
          s"append pq_bits ($pqBits) != index codebook pq_bits ($recorded) at $path")
      }
    }
    // The grouping and super-centroids are PART of the model — an append
    // encoded against recomputed groups (whose Lloyd refinement would see
    // only the batch's distribution) could route a twin of a resident
    // vector to a different cell. Persist all three relations at train
    // time; reuse them verbatim on append.
    val (cents, groups, supCents) =
      if (mode == "append" && cbExists) pqIndexModel(s, path)
      else pqHierModelOn(vecs, pqBits,
        groupSize = math.min(annPqGroupSize, 1 << pqBits), refine = true)
    // Codes are computed in the SAME projection as the bucket explode
    // (both are per-row functions of emb against the one-row broadcast
    // model) — a second encode subtree joined back by vec_id would be a
    // corpus-scale exchange pair on every build AND every append.
    writeBucketTree(bucketRows(vecs.crossJoin(broadcast(pqHierModelRow(cents, groups, supCents))),
      bitsPerTable, numTables, "codes" -> expr(pqEncodeHierExprStr(annPqBeam)).as("codes")), path, mode)
    // The geometry record and the three model relations are independent
    // tiny writes — each a fixed-latency Spark job (sequentially ~3.3 s of
    // the build at sf0.1) — so they run concurrently, all only AFTER the
    // bucket-tree write committed (the partitionBy overwrite clears the
    // root first).
    val tailWrites = scala.collection.mutable.ArrayBuffer[() => Unit](
      () => writeGeometry(s, path, bitsPerTable, numTables))
    if (!(mode == "append" && cbExists)) {
      tailWrites += (() => cents.withColumn("pq_bits", lit(pqBits))
        .write.mode("overwrite").parquet(cbPath))
      tailWrites += (() => groups.write.mode("overwrite").parquet(s"$path/_groups"))
      tailWrites += (() => supCents.write.mode("overwrite").parquet(s"$path/_supcent"))
    }
    runConcurrently(tailWrites.toSeq)
    registerIndex(path)
  }

  /** Run `tasks` on one thread each and wait for all of them. On the
    * first failure the other tasks are cancelled (interrupted) and
    * awaited, then the failing task's own exception is rethrown — the
    * caller never sees an ExecutionException wrapper, and no task is
    * still running when the call returns.
    */
  private[graft] def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(tasks.size)
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      val futures = tasks.map(f => done.submit(new Callable[Unit] {
        override def call(): Unit = f()
      }))
      futures.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException =>
          futures.foreach(_.cancel(true))
          throw e.getCause
        }
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Probe a PQ-coded index with a new batch: hash ONLY the batch with
    * the recorded geometry, broadcast its bucket keys against the pruned
    * index scan (the [[annIndexProbe]] candidate discipline), then score
    * in ADC space — per-probe LUTs from the PERSISTED codebook, 8
    * lookups + 7 adds per candidate over the 8-byte resident codes — and
    * exact-rerank only the 32-deep shortlist against `coldVecs`, the
    * float store that deliberately does NOT live in the index.
    *
    * The LUT join is a plain key join, not a broadcast: each LUT row is
    * M·2^pqBits doubles (16 KiB at PQ8), so a broadcast scales with the
    * batch — fine nightly, wrong for the registered fixture where the
    * batch is 10% of the corpus. Candidates and LUTs are both keyed by
    * query_id, and the shortlist window that follows shuffles on
    * query_id anyway, so the join rides the same partitioning. Throws on
    * an index with no `_geometry` record.
    */
  def annPqIndexProbe(s: SparkSession, indexPath: String,
                      newVecs: DataFrame, coldVecs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // Dedup BEFORE the LUT join — the opposite order from
    // [[annIndexProbe]], for the same materialization reason inverted:
    // there the payload (the float vector) already sat in the candidate
    // row, so scoring first kept the dedup tuples at 24 bytes; here
    // scoring needs the 16 KiB LUT row attached, so a pair surfacing in
    // k ≤ 16 tables would materialize k copies of its query's LUT.
    val cands = indexCandidates(s, indexPath, newVecs, "codes", "codes").distinct()
    val pqBits = pqIndexBits(s, indexPath)
    val cents = s.read.parquet(s"$indexPath/_codebook").select(col("m"), col("cell"), col("centroid"))
    val adc = cands.join(pqLutDf(newVecs, cents, pqBits, queryFilter = lit(true)), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), expr(adcExpr(1 << pqBits)).as("adc"))
    pqAdcRerankOn(newVecs, coldVecs, adc)
  }

  // ------------------------------------------------------------------
  // Geometry-step migration (VERDICT r11 item 1): the per-decade doctrine
  // proved b must step with log₂(corpus) — measured at three decades —
  // but both persisted index families pinned (bits, tables) at build time
  // with fail-fast appends, so a corpus that grew a decade had no path
  // except a full rebuild. A rebucket is that path: only the DERIVED
  // bucket/bgrp columns depend on the geometry — the PQ codes, the
  // codebook/grouping model, and (in the float family) the vectors are
  // all geometry-independent — so migration is hash + rewrite of the
  // index tree: no re-encode (the Θ(n·M·56) beamed encode that dominates
  // a rebuild), no codebook retrain (which would silently shift every
  // resident code's meaning), no model I/O beyond a verbatim copy.
  // ------------------------------------------------------------------

  /** One resident row per vector from a bucket-exploded index tree: the
    * writer explodes every vector into ALL `numTables` tables (appends
    * too), so table 0 alone holds the full resident set — reading it is a
    * partition-pruned 1/numTables scan. `distinct` compacts the
    * result-neutral crash-window duplicates ([[graft.streaming.AnnIngest]]
    * appends between "files landed" and "marker written") — a rebucket is
    * the natural compaction point for them.
    */
  private def indexResidents(s: SparkSession, path: String,
                             payload: String): DataFrame =
    s.read.parquet(path).filter(col("tbl") === 0)
      .select(col("vec_id"), col(payload)).distinct()

  /** Re-derive the bucket tree for `rows` (vec_id, emb, payloadCols…) at a
    * new geometry and ATOMICALLY swap it in: signatures hash off `emb`,
    * the written rows keep (vec_id, payloadCols…, tbl, bucket, bgrp) — the
    * exact schema the family's writer lays down. The new tree is fully
    * written — bucket rows, `_geometry`, every `extraRels` relation copied
    * verbatim, `_ingest` replay markers — under `path.__rebucket` BEFORE
    * the two directory renames that publish it, so a failure at any
    * earlier point leaves the index serving the old geometry untouched.
    * Locally the swap is two same-filesystem renames; on an object store
    * the same discipline is a manifest/pointer update — either way the
    * serving window is the swap, not the rewrite, which is what makes the
    * migration an online maintenance op instead of a serving outage.
    */
  private def rebucketSwap(s: SparkSession, path: String, rows: DataFrame,
                           payloadCols: Seq[String], newBits: Int,
                           newTables: Int, extraRels: Seq[String]): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = s"$path.__rebucket"
    val old = s"$path.__old"
    // A retried migration must never destroy the crash-window copy
    // (VERDICT r12 item 1): if a previous swap died between its two
    // publish renames, the index exists ONLY at `old` — restore it
    // before any cleanup. `old` is deleted nowhere before the new tree
    // below has been fully written (which reads `path` end to end).
    recoverInterruptedSwap(path)
    deleteTree(tmp)
    writeBucketTree(bucketRows(rows, newBits, newTables, payloadCols.map(c => c -> col(c)): _*),
      tmp, "overwrite")
    writeGeometry(s, tmp, newBits, newTables)
    extraRels.foreach { rel =>
      if (Files.exists(Paths.get(s"$path/$rel")))
        s.read.parquet(s"$path/$rel").write.mode("overwrite").parquet(s"$tmp/$rel")
    }
    // Replay state travels with the index (the AnnIngest commit markers):
    // every already-committed batch's rows ARE in the rebucketed tree, so
    // dropping the markers would make a resumed stream re-append them.
    val ingest = Paths.get(path, "_ingest")
    if (Files.exists(ingest)) {
      Files.createDirectories(Paths.get(tmp, "_ingest"))
      import scala.jdk.CollectionConverters._
      Files.list(ingest).iterator().asScala.foreach { m =>
        Files.copy(m, Paths.get(tmp, "_ingest", m.getFileName.toString))
      }
    }
    // Only now can a leftover `old` be stale (a crash AFTER a previous
    // publish, before its cleanup): `path` exists and the tmp write
    // above read it successfully, so the leftover is superseded.
    deleteTree(old)
    Files.move(Paths.get(path), Paths.get(old))
    Files.move(Paths.get(tmp), Paths.get(path))
    deleteTree(old)
    // Spark's shared FileStatusCache may hold the pre-swap listing.
    s.catalog.refreshByPath(path)
  }

  /** Recover a crashed swap publish (VERDICT r12 item 1 / ADVICE r12):
    * [[rebucketSwap]] publishes via two renames — `path` → `path.__old`,
    * then `path.__rebucket` → `path` — so a crash between them leaves the
    * ONLY copy of the index at `path.__old`. Before this fix, a retried
    * migration deleted that copy unconditionally, and an auto-step ingest
    * restart silently bootstrapped a fresh near-empty index at `path`
    * (geometry falls back to the boot parameters when `_geometry` is
    * unreadable) — unrecoverable data loss either way. Every swap,
    * migration/compaction entry point, and ingest append now calls this
    * first: if `path` is missing but `path.__old` exists, the crashed
    * publish is rolled BACK by renaming the surviving copy into place.
    * Roll-back, not roll-forward: a leftover `__rebucket` tree is cheap
    * to regenerate (the rewrite is idempotent), while adjudicating its
    * completeness is not. Returns true when a recovery happened.
    * Concurrent callers race benignly — the loser's rename fails with
    * the index already restored.
    */
  def recoverInterruptedSwap(path: String): Boolean = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    val old = Paths.get(s"$path.__old")
    if (!Files.exists(p) && Files.exists(old)) {
      try { Files.move(old, p); true }
      catch { case e: Exception =>
        if (Files.exists(p)) false // another caller won the restore race
        else throw e
      }
    } else false
  }

  /** Depth-first tree delete with the walk stream CLOSED (ADVICE r12:
    * `Files.walk` returns a Stream holding a directory handle per level —
    * leaking one per call). Shared by the swap paths, the JVM-exit index
    * cleanup, and the probe tools' fixture preambles.
    */
  private[graft] def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }
  }

  /** Migrate a PQ-coded index ([[annPqIndexWrite]]) to a new bucket
    * geometry WITHOUT re-encoding or retraining — the operable form of
    * the b-per-decade doctrine for a live index. The 8-byte PQ codes are
    * geometry-independent, so the migration reads ONE table's resident
    * (vec_id, codes) rows (a partition-pruned 1/numTables scan), joins
    * the float store to re-derive signatures (the codes are lossy — the
    * index deliberately does not carry floats, so `coldVecs` is the same
    * companion relation every probe already needs), hashes at the new
    * geometry, and rewrites the tree; the codebook/grouping model is
    * copied verbatim and the `_ingest` replay markers travel. A resident
    * missing from `coldVecs` fails the migration loudly (raise_error in
    * the join projection) — silently dropping it would un-index a
    * serveable vector.
    *
    * Cost vs the rebuild it replaces (measured at two decades in
    * BASELINE.md; probes/r12): hash + shuffle + write only — it skips
    * codebook training and the Θ(n·M·56) beamed encode that dominate
    * [[annPqIndexWrite]], and the sort/shuffle rows are 8-byte codes, not
    * 512-byte vectors. Appends against the OLD geometry fail fast
    * afterwards, exactly as the recorded-geometry discipline requires.
    */
  def annPqIndexRebucket(s: SparkSession, path: String, coldVecs: DataFrame,
                         newBits: Int, newTables: Int = -1): Unit =
    rebucketTarget(s, path, newBits, newTables).foreach { case (bits, tables) =>
      pqRewriteTree(s, path, coldVecs, bits, tables)
    }

  /** Recover a crashed swap publish, then the index's recorded geometry
    * — or throw: every rewrite entry point starts here.
    */
  private def liveGeometry(s: SparkSession, path: String, op: String): (Int, Int) = {
    recoverInterruptedSwap(path)
    recordedGeometry(s, path, op)
  }

  /** The geometry a rebucket to (newBits, newTables) moves to — -1 keeps
    * the recorded table count — or None when it is the recorded one.
    */
  private def rebucketTarget(s: SparkSession, path: String, newBits: Int,
                             newTables: Int): Option[(Int, Int)] = {
    val (oldBits, oldTables) = liveGeometry(s, path, "rebucket")
    val target = (newBits, if (newTables == -1) oldTables else newTables)
    if (target == ((oldBits, oldTables))) None else Some(target)
  }

  /** One-pass rewrite of a PQ index's bucket tree: resident scan +
    * float-store join (raise_error on a resident the store lacks) +
    * hash at `bits`/`tables` + atomic swap. [[annPqIndexRebucket]] calls
    * it at a NEW geometry; [[annPqIndexCompact]] at the CURRENT one.
    */
  private def pqRewriteTree(s: SparkSession, path: String, coldVecs: DataFrame,
                            bits: Int, tables: Int): Unit = {
    graft.functions.VectorExpressions.register(s)
    val residents = indexResidents(s, path, "codes")
    val rows = residents
      .join(coldVecs.select(col("vec_id"), col("emb")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("codes"),
        expr("CASE WHEN emb IS NOT NULL THEN emb ELSE raise_error(concat(" +
          "'annPqIndexRebucket: resident vec_id ', CAST(vec_id AS STRING), " +
          "' has no row in coldVecs — the float store must cover every resident')) END")
          .as("emb"))
    rebucketSwap(s, path, rows, payloadCols = Seq("codes"), bits, tables,
      extraRels = Seq("_codebook", "_groups", "_supcent"))
    // Deliberately NOT registered in builtIndexPaths: a rewrite must not
    // change the index's durability class. An index CREATED by this JVM
    // is already registered by its writer; migrating/compacting a
    // persisted index another process built must not mark it for
    // JVM-exit deletion.
  }

  /** Compact a PQ index WITHOUT changing its geometry: the same one-pass
    * tree rewrite as [[annPqIndexRebucket]], at the recorded (bits,
    * tables). What it buys, measured (probes/r12/autostep_sf10.log +
    * compact_sf10.log): every streamed append drops ~256 small files
    * into the partition tree, and at a post-step geometry where
    * shortlist candidates are cheap, FILE LISTING is what's left of
    * probe-latency growth — the auto-step run's post-migration probe
    * (on a freshly swapped, compact tree) was its floor for exactly
    * this reason. Compaction also reclaims the result-neutral
    * crash-window duplicate rows (`distinct` in the resident scan) the
    * AnnIngest scaladoc promises ordinary compaction will collect.
    * Same atomicity as the migration: the new tree is fully written
    * before the swap; a pre-swap failure leaves the old tree serving.
    */
  def annPqIndexCompact(s: SparkSession, path: String, coldVecs: DataFrame): Unit = {
    val (bits, tables) = liveGeometry(s, path, "compact")
    pqRewriteTree(s, path, coldVecs, bits, tables)
  }

  /** [[annPqIndexCompact]] for the float-vector family — self-contained
    * like [[annIndexRebucket]] (the rows carry the vectors).
    */
  def annIndexCompact(s: SparkSession, path: String): Unit = {
    val (bits, tables) = liveGeometry(s, path, "compact")
    floatRewriteTree(s, path, bits, tables)
  }

  /** The float family's tree rewrite: self-contained, the rows carry the
    * vectors. Not registered in builtIndexPaths — see pqRewriteTree.
    */
  private def floatRewriteTree(s: SparkSession, path: String, bits: Int, tables: Int): Unit = {
    graft.functions.VectorExpressions.register(s)
    rebucketSwap(s, path, indexResidents(s, path, "emb"),
      payloadCols = Seq("emb"), bits, tables, extraRels = Seq.empty)
  }

  /** [[annPqIndexRebucket]] for the float-vector family
    * ([[annIndexWrite]]): the bucket rows carry the vector itself, so the
    * migration is fully self-contained — one pruned table scan, hash at
    * the new geometry, rewrite, swap. No external relation at all.
    */
  def annIndexRebucket(s: SparkSession, path: String,
                       newBits: Int, newTables: Int = -1): Unit =
    rebucketTarget(s, path, newBits, newTables).foreach { case (bits, tables) =>
      floatRewriteTree(s, path, bits, tables)
    }

  /** Mean PQ quantization-residual energy of a (vec_id, emb) frame under
    * an index's PERSISTED model: encode ≤ `sampleN` of its rows exactly
    * as an append would ([[pqEncodeHier]] against the persisted
    * codebook/grouping, beam [[annPqBeam]]) and average ‖sub − c‖² over
    * every (vector, subspace) pair, c the assigned centroid. This is the
    * live codebook-drift proxy (VERDICT r12 item 3,
    * [[graft.streaming.PqDriftMonitor]]): a batch the codebook models
    * well scores ≈ the bootstrap residents' energy, while a
    * mean-shift-class batch — the shift class the archived drift sweep
    * (probes/r12/pq_drift_sf1_mean.log) measured crossing the 0.05
    * recall@5 rebuild floor at ~60% shifted corpus — scores measurably
    * higher the moment it ARRIVES, and permutation-class drift (measured
    * harmless: gap ≤ 0.03 through 67% shifted corpus) does not move it. Cost: one broadcast-codebook
    * encode over a bounded sample — O(sampleN·M·beam·groupSize) dots,
    * no shuffle beyond the per-vector aggregation, independent of both
    * batch and index size.
    */
  def pqResidualEnergy(s: SparkSession, batch: DataFrame, indexPath: String,
                       sampleN: Int = 1024): Double = {
    graft.functions.VectorExpressions.register(s)
    val (cents, groups, supCents) = pqIndexModel(s, indexPath)
    val sample = batch.select(col("vec_id"), col("emb")).limit(sampleN)
    val codes = pqEncodeHier(sample, cents, groups, supCents, annPqBeam)
    pqSubsOf(sample).join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("m"), col("sub"),
        expr("element_at(codes, m + 1)").as("cell"))
      .join(broadcast(cents), Seq("m", "cell"))
      .select(expr("aggregate(zip_with(sub, centroid, (a, b) -> (a - b) * (a - b)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("r2"))
      .agg(avg(col("r2"))).head().getDouble(0)
  }

  /** The batch side of the occupancy-divergence drift proxy
    * ([[graft.streaming.PqDriftMonitor]]): per-subspace code-occupancy
    * counts of ≤ `sampleN` of `batch`'s rows, encoded exactly as an
    * append would encode them ([[pqEncodeHier]] against the persisted
    * model, beam [[annPqBeam]]). Cost: one broadcast-model encode over a
    * bounded sample — no index I/O beyond the few-KB model relations,
    * no shuffle beyond the tiny (m, code) count; the returned map is ≤
    * M·2^pqBits entries.
    */
  def pqBatchCodeCounts(s: SparkSession, batch: DataFrame, indexPath: String,
                        sampleN: Int = 1024): Map[(Int, Int), Long] = {
    graft.functions.VectorExpressions.register(s)
    val (cents, groups, supCents) = pqIndexModel(s, indexPath)
    pqEncodeHier(batch.select(col("vec_id"), col("emb")).limit(sampleN),
        cents, groups, supCents, annPqBeam)
      .select(posexplode(col("codes")).as(Seq("m", "code")))
      .groupBy(col("m"), col("code")).count().collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
  }

  /** The reference side of the occupancy-divergence drift proxy: the
    * RESIDENTS' per-subspace code occupancy, read straight from the
    * codes the index already stores — one partition-pruned one-table
    * scan over ≤ `sampleN` rows, no float store, no re-encode.
    */
  def pqResidentCodeCounts(s: SparkSession, indexPath: String,
                           sampleN: Int = 1024): Map[(Int, Int), Long] =
    s.read.parquet(indexPath).filter(col("tbl") === 0)
      .select(col("vec_id"), col("codes")).distinct().limit(sampleN)
      .select(posexplode(col("codes")).as(Seq("m", "code")))
      .groupBy(col("m"), col("code")).count().collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap

  /** pq_bits recorded in a PQ index's codebook — 2^pq_bits is the
    * per-subspace cell count the divergence grid runs over.
    */
  def pqIndexBits(s: SparkSession, indexPath: String): Int =
    s.read.parquet(s"$indexPath/_codebook")
      .select(max(col("pq_bits"))).head().getInt(0)

  /** A PQ index's persisted hierarchical model: (cents, groups, supCents). */
  private def pqIndexModel(s: SparkSession, path: String): (DataFrame, DataFrame, DataFrame) = (
    s.read.parquet(s"$path/_codebook").select(col("m"), col("cell"), col("centroid")),
    s.read.parquet(s"$path/_groups"),
    s.read.parquet(s"$path/_supcent"))

  /** Build the q163/q164 fixture index lazily once per SF dir — the
    * [[ensureQ140Index]] reuse/staleness discipline, plus the codebook
    * in the completeness check (an index with codes but no `_codebook`
    * cannot be probed).
    */
  private def ensureQ163Index(s: SparkSession, dir: String): String = {
    val path = annPqIndexPath(dir)
    // Hier-encoder indexes persist their grouping; a tree without
    // _groups/_supcent predates the q165 encoder switch and its codes
    // were flat-assigned — rebuild rather than serve mixed encodings.
    val reusable = indexReusable(s, path, "codes", annPqGeometry) &&
      Seq("_groups", "_supcent").forall(r => java.nio.file.Files.exists(java.nio.file.Paths.get(path, r))) &&
      (try pqIndexBits(s, path) == annPqBits catch { case _: Throwable => false })
    if (reusable) registerIndex(path) else annPqIndexWrite(indexCorpus(s, dir), path)
    path
  }

  /** The MAINTENANCE side of q164 (the q144 pattern, audit-marked in
    * `SparkEntry.auditBaselines`): rebuild the PQ-coded corpus index from
    * scratch — codebook training + q165-posture hierarchical encode +
    * 16-table bucket write — and
    * return per-table occupancy PLUS a codes checksum (Σ over rows of
    * Σ_m codes[m]·(m+1)), so the oracle structurally pins not just the
    * bucket layout but the resident CODES: DuckDB retrains the codebook
    * and re-encodes every vector from the shared seed planes and must
    * agree on the folded sum per table.
    */
  def q163AnnPqIndexBuild(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val path = annPqIndexPath(dir)
    annPqIndexWrite(indexCorpus(s, dir), path)
    indexOccupancy(s, path,
      sum(expr(s"aggregate(sequence(0, ${H.pqM - 1}), CAST(0 AS BIGINT), (acc, mm) -> acc + codes[mm] * (mm + 1))")).as("code_sum"))
  }

  /** The PQ index's training + encode replayed over [[indexCorpus]]:
    * the pqCteSql prefix and the q165-posture hierarchical codes.
    */
  private def pqIndexCodesSql: String =
    s"""corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
       ${pqCteSql("corp", "embedding", annPqBits, "q.vec_id % 10 = 0")},
       ${pqHierCodesCtes(annPqBeam, annPqGroupSize, refine = true)}"""

  def q163Sql: String =
    s"""WITH $pqIndexCodesSql,
       csum AS (SELECT CAST(SUM(list_reduce([codes[mm + 1] * (mm + 1)
                         FOR mm IN generate_series(0, ${H.pqM - 1})], (acc, v) -> acc + v)) AS BIGINT) AS code_sum
                FROM hcodes),
       ${occupancySql(annPqGeometry, ", (SELECT code_sum FROM csum) AS code_sum")}"""

  /** Registered end-to-end posture: probe the persisted PQ-coded corpus
    * index (vec_id % 10 != 0) with the new batch (vec_id % 10 == 0) —
    * the q140 fixture convention, so the two index families' probes are
    * directly comparable. The DuckDB oracle recomputes EVERYTHING from
    * the shared seed planes — signatures, codebook, codes, LUTs, ADC
    * folds, shortlist, rerank — with no index anywhere; a hash match
    * proves the persisted codes + codebook + buckets serve exactly what
    * a from-scratch computation would.
    */
  def q164AnnPqIndexProbe(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val emb = vectors(s, dir)
    val path = ensureQ163Index(s, dir)
    annPqIndexProbe(s, path,
      newVecs = emb.filter(col("vec_id") % 10 === 0),
      coldVecs = emb.filter(col("vec_id") % 10 =!= 0))
  }

  def q164Sql: String =
    s"""WITH $pqIndexCodesSql,
       ${lshCandsSql("q.vec_id % 10 = 0 AND n.vec_id % 10 <> 0", geometry = annPqGeometry)},
       adc AS (
         SELECT ca.query_id, ca.neighbor_id,
                ${adcSql(1 << annPqBits)} AS adc
         FROM cands ca JOIN hcodes c ON ca.neighbor_id = c.vec_id
              JOIN lut l ON l.query_id = ca.query_id),
       $pqTailSql"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q125_hybrid_retrieval" -> (q125HybridRetrieval _),
    "q55_ann_bruteforce" -> (q55AnnBruteforce _),
    "q58_ann_ivf" -> (q58AnnIvf _),
    "q87_ann_quant_rescore" -> (q87AnnQuantRescore _),
    "q140_ann_index_probe" -> (q140AnnIndexProbe _),
    "q144_ann_index_build" -> (q144AnnIndexBuild _),
    "q150_semantic_dedup_hier" -> (q150SemanticDedupHier _),
    "q155_ann_ivf_pq" -> (q155AnnIvfPq _),
    "q156_ann_ivfpq_residual" -> (q156AnnIvfPqResidual _),
    "q163_ann_pq_index_build" -> (q163AnnPqIndexBuild _),
    "q164_ann_pq_index_probe" -> (q164AnnPqIndexProbe _)) ++
    lshPostures.map { case (key, multiProbe, maxCos) =>
      key -> ((s: SparkSession, dir: String) => {
        graft.functions.VectorExpressions.register(s)
        lshTopK(vectors(s, dir), multiProbe, maxCos)
      }) } ++
    semanticCells.map { case (key, cellBits) =>
      key -> ((s: SparkSession, dir: String) => semanticDedup(s, dir, cellBits)) } ++
    pqServes.map { case (key, bits, hier) =>
      key -> ((s: SparkSession, dir: String) => pqServe(s, dir, bits, hier)) }

  val oracle: Map[String, String] = Map(
    "q125_hybrid_retrieval" -> q125Sql,
    "q55_ann_bruteforce" -> q55Sql,
    "q58_ann_ivf" -> q58Sql,
    "q87_ann_quant_rescore" -> q87Sql,
    "q140_ann_index_probe" -> q140Sql,
    "q144_ann_index_build" -> q144Sql,
    "q150_semantic_dedup_hier" -> q150Sql,
    "q155_ann_ivf_pq" -> q155Sql,
    "q156_ann_ivfpq_residual" -> q156Sql,
    "q163_ann_pq_index_build" -> q163Sql,
    "q164_ann_pq_index_probe" -> q164Sql) ++
    lshPostures.map { case (key, multiProbe, maxCos) =>
      key -> lshTopKSql("q.vec_id < 20", multiProbe, maxCos) } ++
    semanticCells.map { case (key, cellBits) => key -> semanticSql(cellBits) } ++
    pqServes.map { case (key, bits, hier) => key -> pqServeSql(bits, hier) }
}
