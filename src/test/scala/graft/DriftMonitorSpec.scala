package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The live codebook-drift proxy must reproduce, per batch, the class
  * separation the offline drift sweep measured (BASELINE.md,
  * probes/r12/pq_drift_sf1_*.log): mean-shift drift — the class that crosses the
  * rebuild floor — must flag, while permutation-class drift — measured
  * harmless (recall gap ≤ 0.03 at 67% shifted corpus) — and clean
  * in-distribution batches must not. The shift transforms here are the
  * ones that sweep applied, and now their only copy, so a green spec ties
  * the monitor to the measured crossover's shift classes, not to a
  * synthetic convenience. Margins follow the round-13
  * DriftCalib measurements (two SFs × PQ4/PQ8): permutation ≤ 1.04×
  * clean, mean-shift α = 1.0 ≥ 4.4× clean — threshold 2.0 sits ≥ 2×
  * from both classes.
  */
class DriftMonitorSpec extends SparkSpec {

  private def emb(): DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))

  // The sweep's mean-shift: x' = normalize(x + alpha * mu), mu the fixed
  // unit vector from reserved plane-pool row 460.
  private def meanShift(df: DataFrame, alpha: Double): DataFrame = {
    val H = graft.functions.Hyperplanes
    val mu = H.planesAll(460)
    val n = math.sqrt(mu.map(x => x * x).sum)
    val muLit = mu.map(x => H.fpLit(alpha * x / n)).mkString("array(", ",", ")")
    df.select(col("vec_id"), expr(s"zip_with(emb, $muLit, (a, b) -> a + b)").as("raw"))
      .select(col("vec_id"), expr(
        "transform(raw, x -> x / sqrt(aggregate(raw, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v)))")
        .as("emb"))
  }

  // The sweep's permutation shift: signed orthogonal coordinate
  // permutation — norms and within-set geometry preserved exactly.
  private def permShift(df: DataFrame): DataFrame =
    df.select(col("vec_id"), expr(
      """transform(sequence(0, 63), i ->
           IF(pmod(xxhash64(i, 1), 2) = 0,
              -element_at(emb, pmod(3 * i + 1, 64) + 1),
              element_at(emb, pmod(3 * i + 1, 64) + 1)))""").as("emb"))

  test("occupancy-divergence proxy separates the measured drift classes per batch") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb()
    val seed = corpus.filter(col("vec_id") % 3 === 0)
    val fresh = corpus.filter(col("vec_id") % 3 =!= 0)
    val path = tempDir("pq_drift").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(seed, path,
      bitsPerTable = 8, numTables = 4, pqBits = 8)
    val monitor = new graft.streaming.PqDriftMonitor(path)
    // Calibrate with one clean held-out half; observe the other — the
    // recommended bootstrap-time recipe.
    val floor = monitor.calibrate(fresh.filter(col("vec_id") % 2 === 0))
    assert(floor > 0.0)
    val clean = monitor.observe(fresh.filter(col("vec_id") % 2 === 1), 1L)
    val perm = monitor.observe(permShift(fresh), 2L)
    val mean = monitor.observe(meanShift(fresh, 1.0), 3L)
    info(f"floor $floor%.4f; ratios: clean ${clean.ratio}%.2f, perm ${perm.ratio}%.2f, mean ${mean.ratio}%.2f")
    // A clean in-distribution batch sits at the calibrated floor.
    assert(!clean.flagged && clean.ratio < 1.5, s"clean batch: ratio ${clean.ratio}")
    // Permutation-class drift — measured harmless — must NOT flag ...
    assert(!perm.flagged && perm.ratio < 1.5, s"perm batch: ratio ${perm.ratio}")
    // ... while mean-shift-class drift — the measured crossover class —
    // must flag the moment it arrives, with margin over both.
    assert(mean.flagged, s"mean-shift batch not flagged: ratio ${mean.ratio}")
    assert(mean.ratio > 2 * perm.ratio && mean.ratio > 2 * clean.ratio,
      s"no margin: clean ${clean.ratio}, perm ${perm.ratio}, mean ${mean.ratio}")
    // Monitor frame: one row per observed batch, threshold stated.
    val frame = monitor.frame(spark)
    assert(frame.count() == 3 &&
      frame.columns.toSet == Set("batch_id", "divergence",
        "baseline_divergence", "ratio", "threshold", "flagged"))
    assert(frame.select(min(col("threshold"))).head().getDouble(0) == 2.0)
    assert(math.abs(monitor.flaggedFraction - 1.0 / 3) < 1e-9)
  }

  test("the auto-step sink feeds the monitor only on committed appends") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb()
    val seed = corpus.filter(col("vec_id") % 3 === 0)
    val batch = corpus.filter(col("vec_id") % 3 === 1)
    val path = tempDir("pq_drift_sink").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(seed, path,
      bitsPerTable = 8, numTables = 4, pqBits = 8)
    val monitor = new graft.streaming.PqDriftMonitor(path)
    val ingest = new graft.streaming.AnnIngest.PqAutoStepIngest(
      path, bootBits = 8, numTables = 4, pqBits = 8,
      coldVecs = _ => corpus,
      policy = graft.streaming.AnnIngest.GeometryStepPolicy(stepBits = 1, maxBits = 8),
      drift = Some(monitor))
    assert(ingest.appendBatch(batch, 1L)._1)
    assert(monitor.frame(spark).count() == 1)
    // A replayed (marker-gated) batch must not be re-observed.
    assert(!ingest.appendBatch(batch, 1L)._1)
    assert(monitor.frame(spark).count() == 1)
  }
}
