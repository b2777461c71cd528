package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous maintenance of the persisted ANN index — q140/q144's
  * nightly append path promoted to a Structured Streaming sink, so a
  * live embedding feed (new documents arriving for indexing) keeps the
  * vector index current without any batch scheduler.
  *
  * Design (all reused, nothing re-invented):
  *   - Each micro-batch appends through [[graft.ops.Similarity.annIndexWrite]]
  *     `mode=append` — the SAME geometry-checked, bucket-group-partitioned
  *     writer the batch path uses, so stream-built and batch-built indexes
  *     are byte-compatible and a probe cannot tell them apart
  *     (AnnIngestSpec pins probe equality).
  *   - Replay safety: Structured Streaming's contract at a foreachBatch
  *     sink is at-least-once — after a crash between "sink ran batch N"
  *     and "checkpoint committed batch N", restart replays batch N. A
  *     committed-batch marker (`_ingest/batch-N` under the index root,
  *     underscore-prefixed so table scans never see it) makes replays
  *     no-ops. The residual window (crash AFTER the append, BEFORE the
  *     marker) can duplicate one batch's rows; that is RESULT-NEUTRAL by
  *     construction — [[graft.ops.Similarity.annIndexProbe]] dedups
  *     candidate pairs before ranking (AnnIngestSpec pins this too) — and
  *     the duplicate bytes are reclaimed by ordinary compaction
  *     ([[graft.ops.Similarity.annIndexCompact]] /
  *     [[graft.ops.Similarity.annPqIndexCompact]] — one atomic tree
  *     rewrite whose resident scan `distinct`s them away, measured in
  *     probes/r12/compact_sf10.log). This is
  *     the deliberate trade for an index: exact once-per-batch OUTPUT (the
  *     [[IdempotentSink]] per-batch-directory recipe) would force a
  *     batch-id partition layer into the index layout and break
  *     bucket-directory pruning; idempotent-EFFECT with a commit marker
  *     keeps the serving layout intact.
  *
  * Scale shape: per batch, signature hashing is the batch's own
  * parallelism (64 codegen'd dots per vector, paid once per vector's
  * lifetime); the append repartitions ONLY the batch by (tbl, bgrp) and
  * drops files into ≤ tables × 2^grpBits existing directories. The corpus
  * index is never read, re-hashed, or re-shuffled by ingest — cost is
  * O(batch), independent of index size, which is what lets the stream run
  * at 100 TB corpus scale.
  */
object AnnIngest {

  /** The per-batch appender, exposed separately so replay idempotence is
    * directly testable: a second call with an already-committed batchId
    * must be a no-op. Returns true when the batch was appended, false
    * when the marker short-circuited a replay.
    *
    * `batch` must carry (vec_id, emb array<double>) — annIndexWrite's
    * contract.
    */
  def appendBatch(batch: DataFrame, indexPath: String, batchId: Long,
                  bitsPerTable: Int, numTables: Int): Boolean = {
    // A crashed geometry-swap publish leaves the index (and its replay
    // markers) at `indexPath.__old`; restore it BEFORE the marker check,
    // or a restarted stream would silently bootstrap a fresh empty index
    // and replay every batch into it (VERDICT r12 item 1).
    graft.ops.Similarity.recoverInterruptedSwap(indexPath)
    val marker = Paths.get(indexPath, "_ingest", s"batch-$batchId")
    if (Files.exists(marker)) false
    else {
      graft.ops.Similarity.annIndexWrite(batch, indexPath, mode = "append",
        bitsPerTable = bitsPerTable, numTables = numTables)
      Files.createDirectories(marker.getParent)
      Files.write(marker, s"rows=${batch.count()}".getBytes(StandardCharsets.UTF_8))
      true
    }
  }

  /** Wire a streaming (vec_id, emb) frame into the index. The first
    * committed batch creates the index (append onto an empty path lays
    * down the partition tree and the `_geometry` record); every later
    * batch must match that geometry or annIndexWrite fails fast.
    */
  def run(embStream: DataFrame, indexPath: String, checkpoint: String,
          bitsPerTable: Int, numTables: Int): StreamingQuery =
    embStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        appendBatch(df, indexPath, id, bitsPerTable, numTables)
        ()
      }
      .start()

  /** [[appendBatch]] for the PQ-coded index family (q163/q164's
    * [[graft.ops.Similarity.annPqIndexWrite]]): the same commit-marker
    * replay gate, with the batch ENCODED against the index's persisted
    * codebook — never retrained, the append discipline the batch path
    * already enforces, now holding per micro-batch.
    *
    * Codebook policy for the streaming case: the recommended bootstrap
    * is a batch `annPqIndexWrite` over the resident corpus (so the
    * codebook is trained on corpus-representative data), after which the
    * stream only appends. Streaming from an EMPTY path also works — the
    * first committed batch trains and persists the codebook — but then
    * the codebook reflects only that batch's distribution. Either way,
    * codebook DRIFT under distribution shift is a rebuild decision, not
    * an append side effect: when ADC recall on fresh batches degrades
    * past the deployment's floor, stop the stream, rebuild the index
    * (retraining the codebook over the current corpus), and resume with
    * a fresh checkpoint — the commit markers travel with the index path,
    * so a rebuild naturally resets replay state too. The crossover is
    * MEASURED, and depends on the shift class
    * (probes/r12/pq_drift_sf1_*.log): rotation/permutation-
    * class drift never reaches it (gap flat ≤ 0.03 through 67% shifted
    * corpus), while mean-shift-class drift crosses a 0.05 recall@5 gap
    * at ~60% shifted fraction — numbers in BASELINE.md. A geometry
    * step, by contrast, needs no rebuild at all:
    * [[graft.ops.Similarity.annPqIndexRebucket]] migrates the live
    * index 2.8–9× cheaper than the rebuild.
    */
  def appendPqBatch(batch: DataFrame, indexPath: String, batchId: Long,
                    bitsPerTable: Int, numTables: Int, pqBits: Int): Boolean = {
    graft.ops.Similarity.recoverInterruptedSwap(indexPath) // see appendBatch
    val marker = Paths.get(indexPath, "_ingest", s"batch-$batchId")
    if (Files.exists(marker)) false
    else {
      graft.ops.Similarity.annPqIndexWrite(batch, indexPath, mode = "append",
        bitsPerTable = bitsPerTable, numTables = numTables, pqBits = pqBits)
      Files.createDirectories(marker.getParent)
      Files.write(marker, s"rows=${batch.count()}".getBytes(StandardCharsets.UTF_8))
      true
    }
  }

  /** Wire a streaming (vec_id, emb) frame into a PQ-coded index —
    * [[run]]'s shape over [[appendPqBatch]]. Per-batch cost is
    * O(batch): hash + encode the batch's vectors (the codebook and
    * geometry are read from the index, a few KB), drop files into the
    * existing (tbl, bgrp) tree. The resident index is never read,
    * re-encoded, or re-shuffled.
    */
  def runPq(embStream: DataFrame, indexPath: String, checkpoint: String,
            bitsPerTable: Int, numTables: Int, pqBits: Int): StreamingQuery =
    embStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        appendPqBatch(df, indexPath, id, bitsPerTable, numTables, pqBits)
        ()
      }
      .start()

  /** When a live ingest steps the bucket geometry without an operator in
    * the loop: the three-decade doctrine (BASELINE.md's recall table —
    * b grew 14 → 17 → 20 as the corpus grew 20k → 200k → 2M vectors, each
    * held-b posture a MEASURED death at the next decade) says bits must
    * track log₂(corpus), and [[graft.ops.Similarity.annPqIndexRebucket]]
    * makes one step 2.8–9× cheaper than a rebuild — this policy decides
    * WHEN the ingest sink takes it.
    *
    * The trigger is mean bucket occupancy over ONE table's 2ᵇ buckets:
    * step when residents > residentsPerBucket · 2ᵇ. The defaults
    * (8 residents/bucket, stepBits = 3 ≈ log₂10 — the doctrine's own
    * per-decade step, 14 → 17 → 20) are chosen so one step lands
    * occupancy back at 8/2³ = 1 — inside the doctrine's measured
    * operating band (the registered postures run at 1.2–1.9
    * residents/bucket: 20k/2¹⁴, 200k/2¹⁷, 2M/2²⁰). Replayed against
    * the probe corpora, the default policy reproduces exactly the
    * three registered decades: a corpus growing 20k → 200k → 2M steps
    * at 131k (14 → 17) and 1.05M (17 → 20), never at 20k. `maxBits`
    * bounds the dial where per-table bucket count stops paying (beyond
    * ~n residents, buckets go empty and recall dies — the probe dial's
    * measured failure mode at every decade). The doctrine does not
    * silently end at the ceiling: past ~10⁸ residents/index the next
    * dial is IVF routing in front (shard by coarse centroids, one
    * banded-b index per shard, probe nProbe shards) — BASELINE.md's
    * "beyond sf1000" doctrine row records the arithmetic for why L
    * cannot be that dial (its cost is index-size-linear) and routing
    * can (horizontal, candidates stay ∝ nProbe·n_shard/2ᵇ).
    */
  final case class GeometryStepPolicy(residentsPerBucket: Long = 8L,
                                      stepBits: Int = 3,
                                      maxBits: Int = 24) {
    require(residentsPerBucket > 0 && stepBits > 0 && maxBits <= 28)
    def shouldStep(residents: Long, bits: Int): Boolean =
      bits + stepBits <= maxBits && residents > (residentsPerBucket << bits)
  }

  /** WHEN the ingest sink compacts — the [[GeometryStepPolicy]] shape for
    * the OTHER growth term of serving latency (VERDICT r12 item 2). The
    * auto-step run isolated it: after the geometry step bounds shortlist
    * candidates, probe latency STILL drifted 1.79 → 3.86 s over 8 batches
    * because every append drops ~tables·2^grpBits small files into the
    * partition tree and FILE LISTING grows per append
    * (probes/r12/autostep_sf10.log); compaction collects it for one
    * measured-cheap rewrite (8.9 s for 4,357 → 261 files, same log
    * series). With this trigger in the sink, the ENTIRE serving curve is
    * bounded by construction: candidates by the geometry dial, listing by
    * compaction cadence — no operator in either loop.
    *
    * The trigger is appends-since-last-rewrite: every committed append
    * adds the same bounded file count, so "appends since the tree was
    * last rewritten" IS the listing-term budget, and both rewrite flavors
    * (a geometry step, a compaction) reset it. The counter is in-memory
    * and re-seeds to 0 on restart — worst case one compaction interval of
    * extra drift after a restart, never unbounded growth. The default (8)
    * caps the drift at roughly the measured 2× band from the r12 run.
    */
  final case class CompactionPolicy(appendsPerCompact: Int = 8) {
    require(appendsPerCompact > 0)
    def shouldCompact(appendsSinceRewrite: Int): Boolean =
      appendsSinceRewrite >= appendsPerCompact
  }

  /** The PQ ingest sink with the geometry dial CLOSED-LOOP: each batch
    * appends at the index's CURRENT recorded geometry (not a pinned
    * parameter — a migrated index keeps ingesting without a restart),
    * and when the resident count crosses [[GeometryStepPolicy]]'s
    * occupancy threshold the sink migrates the live index via
    * [[graft.ops.Similarity.annPqIndexRebucket]] before the next batch.
    * This closes the last open loop of the b-per-decade doctrine: without
    * it, probe latency grows ~linearly with residents at fixed b (the
    * measured 2.6 → 3.9 s drift over 3× residents, probes/r11), and the
    * operator must notice and migrate by hand; with it, the serving curve
    * is sawtoothed flat (measured: probes/r12/autostep_sf*.log).
    *
    * Cost accounting: the counter seeds ONCE from a pruned one-table scan
    * ([[graft.ops.Similarity.annIndexResidentCount]]) and then accumulates
    * in memory, so steady-state batches stay O(batch); the step batch
    * additionally pays the rebucket (O(residents) hash + 8-byte-code
    * shuffle + write — no re-encode, no retrain, measured 2.8–9× under
    * the rebuild). The serving outage is the swap's two renames, not the
    * rewrite. On restart the counter re-seeds from the index itself, so
    * replayed batches (marker-gated no-ops) never double-count.
    *
    * `coldVecs` is the float store the PQ family already requires at
    * probe time (the index carries 8-byte codes, deliberately not
    * 512-byte floats); it must cover every resident INCLUDING rows the
    * stream itself appended — i.e. the stream and the store are fed from
    * the same upstream, the store possibly a batch behind only if no
    * step fires in the gap. A gap fails the migration loudly
    * (raise_error), leaving the old geometry serving.
    */
  final class PqAutoStepIngest(indexPath: String, bootBits: Int,
                               numTables: Int, pqBits: Int,
                               coldVecs: SparkSession => DataFrame,
                               policy: GeometryStepPolicy = GeometryStepPolicy(),
                               compaction: CompactionPolicy = CompactionPolicy(),
                               drift: Option[PqDriftMonitor] = None) {
    private var resident = -1L
    private var appendsSinceRewrite = 0

    /** Current serving geometry — the recorded one, falling back to the
      * bootstrap parameters before the first committed batch exists. A
      * crashed swap publish is recovered first, so a restart never
      * mistakes a mid-swap index for a missing one and re-bootstraps
      * (ADVICE r12 — the silent-index-reset path).
      */
    def geometry(s: SparkSession): (Int, Int) = {
      graft.ops.Similarity.recoverInterruptedSwap(indexPath)
      graft.ops.Similarity.indexGeometry(s, indexPath).getOrElse((bootBits, numTables))
    }

    /** Append one micro-batch at the current geometry, then run the two
      * maintenance loops: step the geometry if occupancy crossed the
      * policy threshold, else compact if the listing budget is spent.
      * Returns (appended, bitsAfter). Exposed separately from the sink
      * (like [[appendPqBatch]]) so both trigger points are directly
      * testable and probe-able.
      */
    def appendBatch(batch: DataFrame, batchId: Long): (Boolean, Int) = {
      val s = batch.sparkSession
      val (bits, tables) = geometry(s)
      val appended = appendPqBatch(batch, indexPath, batchId, bits, tables, pqBits)
      if (resident < 0) resident = graft.ops.Similarity.annIndexResidentCount(s, indexPath)
      // Count distinct vec_ids so intra-batch duplicates don't inflate
      // the occupancy trigger (ADVICE r12). Cross-batch re-delivery of an
      // already-resident id still over-counts — deliberately tolerated:
      // the bias is conservative (early step = lower occupancy), bounded
      // by one rewrite interval (every rewrite below re-seeds the counter
      // from the index, whose resident scan distincts), and counting it
      // exactly would cost an anti-join against the resident id set per
      // batch — O(index) work in an O(batch) path.
      else if (appended) resident += batch.select("vec_id").distinct().count()
      if (appended) {
        appendsSinceRewrite += 1
        drift.foreach(_.observe(batch, batchId))
      }
      // Advance to the FINAL legal geometry first, then migrate ONCE: an
      // oversized batch crossing k occupancy thresholds pays one rewrite
      // at the target geometry, not k successive rewrites (ADVICE r12).
      var b = bits
      while (policy.shouldStep(resident, b)) b += policy.stepBits
      if (b != bits) {
        graft.ops.Similarity.annPqIndexRebucket(s, indexPath, coldVecs(s), b)
        afterRewrite(s)
      } else if (appended && compaction.shouldCompact(appendsSinceRewrite)) {
        graft.ops.Similarity.annPqIndexCompact(s, indexPath, coldVecs(s))
        afterRewrite(s)
      }
      (appended, b)
    }

    /** Both rewrite flavors leave a freshly-listed tree with crash-window
      * duplicates distinct'd away — re-seed the occupancy counter from it
      * (one pruned scan, paid only at rewrite cadence) and reset the
      * listing budget.
      */
    private def afterRewrite(s: SparkSession): Unit = {
      resident = graft.ops.Similarity.annIndexResidentCount(s, indexPath)
      appendsSinceRewrite = 0
    }

    def run(embStream: DataFrame, checkpoint: String): StreamingQuery =
      embStream.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (df: DataFrame, id: Long) => appendBatch(df, id); () }
        .start()
  }

  /** [[PqAutoStepIngest]] for the float-vector family: the bucket rows
    * carry the vectors, so the migration
    * ([[graft.ops.Similarity.annIndexRebucket]]) is self-contained — no
    * float store, no coverage contract. Same counter discipline, same
    * closed loop.
    */
  final class AnnAutoStepIngest(indexPath: String, bootBits: Int,
                                numTables: Int,
                                policy: GeometryStepPolicy = GeometryStepPolicy(),
                                compaction: CompactionPolicy = CompactionPolicy()) {
    private var resident = -1L
    private var appendsSinceRewrite = 0

    def geometry(s: SparkSession): (Int, Int) = {
      graft.ops.Similarity.recoverInterruptedSwap(indexPath)
      graft.ops.Similarity.indexGeometry(s, indexPath).getOrElse((bootBits, numTables))
    }

    def appendBatch(batch: DataFrame, batchId: Long): (Boolean, Int) = {
      val s = batch.sparkSession
      val (bits, tables) = geometry(s)
      val appended = AnnIngest.appendBatch(batch, indexPath, batchId, bits, tables)
      if (resident < 0) resident = graft.ops.Similarity.annIndexResidentCount(s, indexPath)
      else if (appended) resident += batch.select("vec_id").distinct().count()
      if (appended) appendsSinceRewrite += 1
      var b = bits
      while (policy.shouldStep(resident, b)) b += policy.stepBits
      if (b != bits) {
        graft.ops.Similarity.annIndexRebucket(s, indexPath, b)
        afterRewrite(s)
      } else if (appended && compaction.shouldCompact(appendsSinceRewrite)) {
        graft.ops.Similarity.annIndexCompact(s, indexPath)
        afterRewrite(s)
      }
      (appended, b)
    }

    private def afterRewrite(s: SparkSession): Unit = {
      resident = graft.ops.Similarity.annIndexResidentCount(s, indexPath)
      appendsSinceRewrite = 0
    }

    def run(embStream: DataFrame, checkpoint: String): StreamingQuery =
      embStream.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (df: DataFrame, id: Long) => appendBatch(df, id); () }
        .start()
  }
}
