package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming maintenance of the persisted ANN index: a stream-fed index
  * must be indistinguishable from a batch-built one at probe time, and
  * the at-least-once foreachBatch contract must not corrupt results.
  */
class AnnIngestSpec extends SparkSpec {
  import spark.implicits._

  private val geom = (8, 4) // small geometry keeps the fixture dense

  private def emb(): DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))

  private def probeBatch(): DataFrame = emb().filter(col("vec_id") % 10 === 0)

  test("stream-fed index probes identically to a batch-built index") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    // Batch-built reference.
    val batchPath = tempDir("ann_batch").toString + "/idx"
    graft.ops.Similarity.annIndexWrite(corpus, batchPath,
      bitsPerTable = geom._1, numTables = geom._2)
    // Stream-built: three micro-batches split by vec_id residue.
    val streamPath = tempDir("ann_stream").toString + "/idx"
    val ckpt = tempDir("ann_ckpt").toString
    val src = MemoryStream[(Long, Seq[Double])](spark)
    val q = graft.streaming.AnnIngest.run(
      src.toDF().toDF("vec_id", "emb"), streamPath, ckpt, geom._1, geom._2)
    try {
      val rows = corpus.as[(Long, Seq[Double])].collect()
      Seq(0, 1, 2).foreach { r =>
        src.addData(rows.filter(_._1 % 3 == r).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // Same geometry recorded, same probe results.
    assert(graft.ops.Similarity.indexGeometry(spark, streamPath).contains(geom))
    val fromBatch = graft.ops.Similarity.annIndexProbe(spark, batchPath, probeBatch())
      .collect().toSeq
    val fromStream = graft.ops.Similarity.annIndexProbe(spark, streamPath, probeBatch())
      .collect().toSeq
    assert(fromStream.nonEmpty && fromStream == fromBatch,
      s"stream-built probe diverged: ${fromStream.take(3)} vs ${fromBatch.take(3)}")
  }

  test("both index probes reject an index with no _geometry record") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    // Built at a non-default geometry, then caught between the tree write
    // and the _geometry write: any guessed geometry would serve wrong
    // candidates, so the probe must refuse.
    def unrecorded(build: String => Unit): String = {
      val path = tempDir("ann_nogeom").toString + "/idx"
      build(path)
      graft.ops.Similarity.deleteTree(s"$path/_geometry")
      assert(graft.ops.Similarity.indexGeometry(spark, path).isEmpty)
      path
    }
    val fPath = unrecorded(graft.ops.Similarity.annIndexWrite(corpus, _,
      bitsPerTable = geom._1, numTables = geom._2))
    val fErr = intercept[IllegalArgumentException](
      graft.ops.Similarity.annIndexProbe(spark, fPath, probeBatch()))
    assert(fErr.getMessage.contains(fPath))
    val pqPath = unrecorded(graft.ops.Similarity.annPqIndexWrite(corpus, _,
      bitsPerTable = geom._1, numTables = geom._2, pqBits = 4))
    val pqErr = intercept[IllegalArgumentException](
      graft.ops.Similarity.annPqIndexProbe(spark, pqPath, probeBatch(), corpus))
    assert(pqErr.getMessage.contains(pqPath))
  }

  test("replayed batch is a marker-gated no-op; a worst-case duplicate append is result-neutral") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    val path = tempDir("ann_replay").toString + "/idx"
    assert(graft.streaming.AnnIngest.appendBatch(corpus, path, 0L, geom._1, geom._2))
    val baseline = graft.ops.Similarity.annIndexProbe(spark, path, probeBatch()).collect().toSeq
    val rowsBefore = spark.read.parquet(path).count()
    // Replay with the marker present: no-op, index unchanged.
    assert(!graft.streaming.AnnIngest.appendBatch(corpus, path, 0L, geom._1, geom._2))
    assert(spark.read.parquet(path).count() == rowsBefore, "replay appended rows")
    // The crash-window worst case (append landed, marker didn't): force a
    // raw duplicate append — probe results must not change, because the
    // probe dedups candidate pairs before ranking.
    graft.ops.Similarity.annIndexWrite(corpus, path, mode = "append",
      bitsPerTable = geom._1, numTables = geom._2)
    assert(spark.read.parquet(path).count() == rowsBefore * 2)
    val dupped = graft.ops.Similarity.annIndexProbe(spark, path, probeBatch()).collect().toSeq
    assert(dupped == baseline, "duplicated index rows changed probe results")
  }

  test("PQ index: stream-fed appends probe identically to batch appends, codebook never retrained") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    // Bootstrap discipline (the scaladoc's recommended recipe): a batch
    // build over the seed residents trains + persists the codebook; both
    // continuations below only APPEND, encoding against that codebook.
    val seed = corpus.filter(col("vec_id") % 3 === 0)
    val rest = corpus.filter(col("vec_id") % 3 =!= 0)
    val pqBits = 4
    def bootstrap(tag: String): String = {
      val p = tempDir(tag).toString + "/idx"
      graft.ops.Similarity.annPqIndexWrite(seed, p,
        bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
      p
    }
    val batchPath = bootstrap("pq_batch")
    graft.ops.Similarity.annPqIndexWrite(rest, batchPath, mode = "append",
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    val streamPath = bootstrap("pq_stream")
    def model(p: String) =
      spark.read.parquet(s"$p/_codebook").orderBy("m", "cell").collect().toSeq ++
        spark.read.parquet(s"$p/_groups").orderBy("m", "cell").collect().toSeq
    val cbBefore = model(streamPath)
    val ckpt = tempDir("pq_ckpt").toString
    val src = MemoryStream[(Long, Seq[Double])](spark)
    val q = graft.streaming.AnnIngest.runPq(
      src.toDF().toDF("vec_id", "emb"), streamPath, ckpt, geom._1, geom._2, pqBits)
    try {
      val rows = rest.as[(Long, Seq[Double])].collect()
      Seq(1L, 2L).foreach { r =>
        src.addData(rows.filter(_._1 % 3 == r).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // Micro-batch appends must not have touched the learned structures
    // (codebook AND the q165-posture grouping).
    val cbAfter = model(streamPath)
    assert(cbBefore == cbAfter, "streaming append retrained/rewrote the codebook/grouping")
    assert(graft.ops.Similarity.indexGeometry(spark, streamPath).contains(geom))
    // A probe is a pure function of (bucket rows, codebook, batch), so
    // the two indexes must serve byte-identical results.
    val fromBatch = graft.ops.Similarity.annPqIndexProbe(
      spark, batchPath, probeBatch(), corpus).collect().toSeq
    val fromStream = graft.ops.Similarity.annPqIndexProbe(
      spark, streamPath, probeBatch(), corpus).collect().toSeq
    assert(fromStream.nonEmpty && fromStream == fromBatch,
      s"stream-built PQ probe diverged: ${fromStream.take(3)} vs ${fromBatch.take(3)}")
    // Replay gate holds for the PQ appender too.
    val rowsBefore = spark.read.parquet(streamPath).count()
    assert(!graft.streaming.AnnIngest.appendPqBatch(
      rest, streamPath, 0L, geom._1, geom._2, pqBits))
    assert(spark.read.parquet(streamPath).count() == rowsBefore, "PQ replay appended rows")
    // Codebook-dial mismatches fail fast like geometry mismatches.
    intercept[IllegalArgumentException] {
      graft.streaming.AnnIngest.appendPqBatch(
        rest, streamPath, 99L, geom._1, geom._2, pqBits = 8)
    }
  }

  test("PQ index rebucket: migrated index serves exactly like a from-scratch build at the new geometry") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    val pqBits = 4
    val newGeom = (10, 4)
    // The index to migrate, built at the old geometry, with a committed
    // ingest marker so replay state provably travels with the tree.
    val migPath = tempDir("pq_mig").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(corpus, migPath,
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(migPath, "_ingest"))
    java.nio.file.Files.write(java.nio.file.Paths.get(migPath, "_ingest", "batch-7"),
      "rows=1".getBytes("UTF-8"))
    // The from-scratch reference at the NEW geometry: same corpus, so the
    // deterministic model train yields the identical codebook/grouping —
    // probe equality below therefore pins the whole migrated tree.
    val refPath = tempDir("pq_ref").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(corpus, refPath,
      bitsPerTable = newGeom._1, numTables = newGeom._2, pqBits = pqBits)
    // A float store missing residents must fail the migration loudly and
    // leave the index untouched at the old geometry.
    intercept[Exception] {
      graft.ops.Similarity.annPqIndexRebucket(spark, migPath,
        corpus.filter(col("vec_id") % 7 === 0), newGeom._1, newGeom._2)
    }
    assert(graft.ops.Similarity.indexGeometry(spark, migPath).contains(geom),
      "failed rebucket must not change the serving geometry")
    // The real migration: no re-encode, no retrain, markers travel.
    graft.ops.Similarity.annPqIndexRebucket(spark, migPath, corpus,
      newGeom._1, newGeom._2)
    assert(graft.ops.Similarity.indexGeometry(spark, migPath).contains(newGeom))
    def model(p: String) =
      spark.read.parquet(s"$p/_codebook").orderBy("m", "cell").collect().toSeq ++
        spark.read.parquet(s"$p/_groups").orderBy("m", "cell").collect().toSeq
    assert(model(migPath) == model(refPath),
      "rebucket must carry the learned model verbatim")
    val mig = graft.ops.Similarity.annPqIndexProbe(
      spark, migPath, probeBatch(), corpus).collect().toSeq
    val ref = graft.ops.Similarity.annPqIndexProbe(
      spark, refPath, probeBatch(), corpus).collect().toSeq
    assert(mig.nonEmpty && mig == ref,
      s"migrated PQ probe diverged from from-scratch build: ${mig.take(3)} vs ${ref.take(3)}")
    // Replay marker traveled: the committed batch id short-circuits.
    assert(!graft.streaming.AnnIngest.appendPqBatch(
      corpus, migPath, 7L, newGeom._1, newGeom._2, pqBits))
    // Appends: OLD geometry fails fast, NEW geometry proceeds.
    intercept[IllegalArgumentException] {
      graft.streaming.AnnIngest.appendPqBatch(
        probeBatch(), migPath, 8L, geom._1, geom._2, pqBits)
    }
    assert(graft.streaming.AnnIngest.appendPqBatch(
      probeBatch(), migPath, 9L, newGeom._1, newGeom._2, pqBits))
  }

  test("float index rebucket: self-contained migration serves like a from-scratch build") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    val newGeom = (10, 4)
    val migPath = tempDir("ann_mig").toString + "/idx"
    graft.ops.Similarity.annIndexWrite(corpus, migPath,
      bitsPerTable = geom._1, numTables = geom._2)
    val refPath = tempDir("ann_ref").toString + "/idx"
    graft.ops.Similarity.annIndexWrite(corpus, refPath,
      bitsPerTable = newGeom._1, numTables = newGeom._2)
    graft.ops.Similarity.annIndexRebucket(spark, migPath, newGeom._1, newGeom._2)
    assert(graft.ops.Similarity.indexGeometry(spark, migPath).contains(newGeom))
    val mig = graft.ops.Similarity.annIndexProbe(spark, migPath, probeBatch())
      .collect().toSeq
    val ref = graft.ops.Similarity.annIndexProbe(spark, refPath, probeBatch())
      .collect().toSeq
    assert(mig.nonEmpty && mig == ref,
      s"migrated float probe diverged: ${mig.take(3)} vs ${ref.take(3)}")
  }

  test("PQ auto-step ingest: the sink steps the live geometry at the occupancy threshold and keeps serving") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0) // 450 rows at sf0.001
    val seed = corpus.filter(col("vec_id") % 3 === 0)   // ~150
    val rest = corpus.filter(col("vec_id") % 3 =!= 0)   // ~300
    val pqBits = 4
    // Occupancy threshold 16·2⁴ = 256: seed (~150) sits under it, the
    // first stream batch (~150 more) crosses it → one step 4 → 6 bits;
    // 16·2⁶ = 1024 is never reached again, so the second batch appends
    // at the NEW geometry with no further step.
    val policy = graft.streaming.AnnIngest.GeometryStepPolicy(
      residentsPerBucket = 16L, stepBits = 2, maxBits = 10)
    def bootstrap(tag: String): String = {
      val p = tempDir(tag).toString + "/idx"
      graft.ops.Similarity.annPqIndexWrite(seed, p,
        bitsPerTable = 4, numTables = geom._2, pqBits = pqBits)
      p
    }
    // Reference: same codebook lineage (seed-trained), batch append of the
    // remainder, then one manual rebucket — the migration itself is pinned
    // against a from-scratch build in the rebucket test above.
    val refPath = bootstrap("pq_as_ref")
    graft.ops.Similarity.annPqIndexWrite(rest, refPath, mode = "append",
      bitsPerTable = 4, numTables = geom._2, pqBits = pqBits)
    graft.ops.Similarity.annPqIndexRebucket(spark, refPath, corpus, 6)
    // The closed loop under test, driven through the streaming sink.
    val autoPath = bootstrap("pq_as_auto")
    val ingest = new graft.streaming.AnnIngest.PqAutoStepIngest(
      autoPath, bootBits = 4, numTables = geom._2, pqBits = pqBits,
      coldVecs = _ => corpus, policy = policy)
    val ckpt = tempDir("pq_as_ckpt").toString
    val src = MemoryStream[(Long, Seq[Double])](spark)
    val q = ingest.run(src.toDF().toDF("vec_id", "emb"), ckpt)
    try {
      val rows = rest.as[(Long, Seq[Double])].collect()
      Seq(1L, 2L).foreach { r =>
        src.addData(rows.filter(_._1 % 3 == r).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(graft.ops.Similarity.indexGeometry(spark, autoPath).contains((6, geom._2)),
      "the sink must have stepped 4 -> 6 bits when residents crossed 256")
    val auto = graft.ops.Similarity.annPqIndexProbe(
      spark, autoPath, probeBatch(), corpus).collect().toSeq
    val ref = graft.ops.Similarity.annPqIndexProbe(
      spark, refPath, probeBatch(), corpus).collect().toSeq
    assert(auto.nonEmpty && auto == ref,
      s"auto-stepped index diverged from append+migrate reference: ${auto.take(3)} vs ${ref.take(3)}")
    // Replay after the step is still a marker-gated no-op, reported at the
    // CURRENT (stepped) geometry.
    assert(ingest.appendBatch(rest, 0L) == ((false, 6)))
    // A fresh instance (restart) re-seeds its counter from the index and
    // does not step spuriously: 450 residents < 16·2⁶.
    val restarted = new graft.streaming.AnnIngest.PqAutoStepIngest(
      autoPath, bootBits = 4, numTables = geom._2, pqBits = pqBits,
      coldVecs = _ => corpus, policy = policy)
    val (appended, bitsAfter) = restarted.appendBatch(
      emb().filter(col("vec_id") % 10 === 0), 100L)
    assert(appended && bitsAfter == 6)
    assert(graft.ops.Similarity.indexGeometry(spark, autoPath).contains((6, geom._2)))
  }

  test("float auto-step ingest: stepped index serves exactly like a from-scratch build at the stepped geometry") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    val policy = graft.streaming.AnnIngest.GeometryStepPolicy(
      residentsPerBucket = 1L, stepBits = 2, maxBits = 12)
    // Threshold 1·2⁸ = 256: batch 1 (~150) stays at 8 bits, batch 2
    // (~300 total) steps to 10. The float family carries its vectors, so
    // the from-scratch build at (10, 4) IS the exact reference.
    val autoPath = tempDir("ann_as").toString + "/idx"
    val ingest = new graft.streaming.AnnIngest.AnnAutoStepIngest(
      autoPath, bootBits = geom._1, numTables = geom._2, policy = policy)
    val batches = Seq(corpus.filter(col("vec_id") % 3 === 0),
      corpus.filter(col("vec_id") % 3 =!= 0))
    assert(ingest.appendBatch(batches(0), 0L)._2 == geom._1)
    assert(ingest.appendBatch(batches(1), 1L) == ((true, 10)))
    assert(graft.ops.Similarity.indexGeometry(spark, autoPath).contains((10, geom._2)))
    val refPath = tempDir("ann_as_ref").toString + "/idx"
    graft.ops.Similarity.annIndexWrite(corpus, refPath,
      bitsPerTable = 10, numTables = geom._2)
    val auto = graft.ops.Similarity.annIndexProbe(spark, autoPath, probeBatch())
      .collect().toSeq
    val ref = graft.ops.Similarity.annIndexProbe(spark, refPath, probeBatch())
      .collect().toSeq
    assert(auto.nonEmpty && auto == ref,
      s"auto-stepped float index diverged: ${auto.take(3)} vs ${ref.take(3)}")
  }

  test("compaction rewrites the tree in place: same geometry, same probe results, duplicates reclaimed") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    val pqBits = 4
    val path = tempDir("pq_compact").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(corpus, path,
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    val baseline = graft.ops.Similarity.annPqIndexProbe(
      spark, path, probeBatch(), corpus).collect().toSeq
    val rowsClean = spark.read.parquet(path).count()
    // The crash-window worst case the AnnIngest scaladoc defers to
    // "ordinary compaction": a raw duplicate append doubles the rows.
    graft.ops.Similarity.annPqIndexWrite(corpus, path, mode = "append",
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    assert(spark.read.parquet(path).count() == rowsClean * 2)
    graft.ops.Similarity.annPqIndexCompact(spark, path, corpus)
    // Geometry unchanged, duplicate rows reclaimed, serving identical.
    assert(graft.ops.Similarity.indexGeometry(spark, path).contains(geom))
    assert(spark.read.parquet(path).count() == rowsClean,
      "compaction must reclaim the duplicated rows")
    val compacted = graft.ops.Similarity.annPqIndexProbe(
      spark, path, probeBatch(), corpus).collect().toSeq
    assert(compacted == baseline, "compaction changed probe results")
    // Float family: same contract, self-contained.
    val fPath = tempDir("ann_compact").toString + "/idx"
    graft.ops.Similarity.annIndexWrite(corpus, fPath,
      bitsPerTable = geom._1, numTables = geom._2)
    val fBase = graft.ops.Similarity.annIndexProbe(spark, fPath, probeBatch())
      .collect().toSeq
    graft.ops.Similarity.annIndexWrite(corpus, fPath, mode = "append",
      bitsPerTable = geom._1, numTables = geom._2)
    graft.ops.Similarity.annIndexCompact(spark, fPath)
    assert(graft.ops.Similarity.indexGeometry(spark, fPath).contains(geom))
    val fComp = graft.ops.Similarity.annIndexProbe(spark, fPath, probeBatch())
      .collect().toSeq
    assert(fComp == fBase, "float compaction changed probe results")
  }

  test("GeometryStepPolicy: the default policy reproduces the doctrine ladder and respects maxBits") {
    val p = graft.streaming.AnnIngest.GeometryStepPolicy()
    // The registered decades never step at their own operating points...
    assert(!p.shouldStep(20000L, 14) && !p.shouldStep(200000L, 17) &&
      !p.shouldStep(2000000L, 20))
    // ...and the steps land exactly at 8·2^b + 1: 131,073 at 14 bits
    // (14 -> 17) and 1,048,577 at 17 bits (17 -> 20), the two transitions
    // measured live in probes/r12/autostep_sf10.log and autostep_sf100.log.
    assert(!p.shouldStep(131072L, 14) && p.shouldStep(131073L, 14))
    assert(!p.shouldStep(1048576L, 17) && p.shouldStep(1048577L, 17))
    // maxBits is a hard ceiling: at 24 bits (default max) no resident
    // count triggers a step that would overshoot it.
    assert(!p.shouldStep(Long.MaxValue / 2, 22))
    assert(!p.shouldStep(Long.MaxValue / 2, 24))
    // Degenerate policies are rejected at construction.
    intercept[IllegalArgumentException] {
      graft.streaming.AnnIngest.GeometryStepPolicy(residentsPerBucket = 0L)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.AnnIngest.GeometryStepPolicy(maxBits = 29)
    }
  }

  test("a retried migration after a crashed swap publish recovers the index instead of destroying it") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    val pqBits = 4
    val newGeom = (10, 4)
    val path = tempDir("pq_crash").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(corpus, path,
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "_ingest"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_ingest", "batch-3"),
      "rows=1".getBytes("UTF-8"))
    // Simulate the crash window of rebucketSwap's two-rename publish:
    // after `path -> path.__old`, before `tmp -> path` — the index exists
    // ONLY at path.__old (with a stale partial tmp tree beside it, as a
    // real crash mid-publish would leave).
    java.nio.file.Files.move(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(s"$path.__old"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$path.__rebucket"))
    // The RETRY — before the r13 fix this deleted path.__old (the only
    // copy) and then failed on the missing _geometry; it must instead
    // restore the crash-window copy and complete the migration.
    graft.ops.Similarity.annPqIndexRebucket(spark, path, corpus,
      newGeom._1, newGeom._2)
    assert(graft.ops.Similarity.indexGeometry(spark, path).contains(newGeom))
    val refPath = tempDir("pq_crash_ref").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(corpus, refPath,
      bitsPerTable = newGeom._1, numTables = newGeom._2, pqBits = pqBits)
    val rec = graft.ops.Similarity.annPqIndexProbe(
      spark, path, probeBatch(), corpus).collect().toSeq
    val ref = graft.ops.Similarity.annPqIndexProbe(
      spark, refPath, probeBatch(), corpus).collect().toSeq
    assert(rec.nonEmpty && rec == ref,
      s"recovered+migrated index diverged: ${rec.take(3)} vs ${ref.take(3)}")
    // The replay marker survived the crash AND the recovery.
    assert(!graft.streaming.AnnIngest.appendPqBatch(
      corpus, path, 3L, newGeom._1, newGeom._2, pqBits))
    // The silent-reset path (ADVICE r12): a restarted auto-step ingest
    // must see the RECORDED geometry through the crash window, not fall
    // back to bootBits and re-bootstrap a fresh index over the residents.
    java.nio.file.Files.move(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(s"$path.__old"))
    val restarted = new graft.streaming.AnnIngest.PqAutoStepIngest(
      path, bootBits = geom._1, numTables = geom._2, pqBits = pqBits,
      coldVecs = _ => corpus)
    assert(restarted.geometry(spark) == newGeom,
      "restart across the crash window must recover the recorded geometry")
    assert(spark.read.parquet(path).select("vec_id").distinct().count() ==
      corpus.count(), "recovery must preserve every resident")
    // Float family, compaction entry point: same recovery contract.
    val fPath = tempDir("ann_crash").toString + "/idx"
    graft.ops.Similarity.annIndexWrite(corpus, fPath,
      bitsPerTable = geom._1, numTables = geom._2)
    val fBase = graft.ops.Similarity.annIndexProbe(spark, fPath, probeBatch())
      .collect().toSeq
    java.nio.file.Files.move(java.nio.file.Paths.get(fPath),
      java.nio.file.Paths.get(s"$fPath.__old"))
    graft.ops.Similarity.annIndexCompact(spark, fPath)
    assert(graft.ops.Similarity.annIndexProbe(spark, fPath, probeBatch())
      .collect().toSeq == fBase, "float recovery+compaction changed probe results")
  }

  test("auto-compaction: the sink compacts at the listing budget and serving is unchanged") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    val seed = corpus.filter(col("vec_id") % 3 === 0)
    val rest = corpus.filter(col("vec_id") % 3 =!= 0)
    val b1 = rest.filter(col("vec_id") % 3 === 1)
    val b2 = rest.filter(col("vec_id") % 3 === 2)
    val pqBits = 4
    val path = tempDir("pq_autocompact").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(seed, path,
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    // Crash-window duplicates for the compaction to reclaim.
    graft.ops.Similarity.annPqIndexWrite(seed, path, mode = "append",
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    val seedRows = seed.count() * geom._2
    // Geometry can never step (bootBits + stepBits > maxBits), so the
    // compaction trigger is isolated; budget = 2 appends.
    val ingest = new graft.streaming.AnnIngest.PqAutoStepIngest(
      path, bootBits = geom._1, numTables = geom._2, pqBits = pqBits,
      coldVecs = _ => corpus,
      policy = graft.streaming.AnnIngest.GeometryStepPolicy(stepBits = 1, maxBits = geom._1),
      compaction = graft.streaming.AnnIngest.CompactionPolicy(appendsPerCompact = 2))
    assert(ingest.appendBatch(b1, 1L) == ((true, geom._1)))
    // One append spent of the budget: duplicates still present.
    assert(spark.read.parquet(path).count() == seedRows * 2 + b1.count() * geom._2,
      "no compaction before the budget is spent")
    assert(ingest.appendBatch(b2, 2L) == ((true, geom._1)))
    // Budget spent -> the sink compacted: duplicates reclaimed in place.
    assert(spark.read.parquet(path).count() == corpus.count() * geom._2,
      "the triggered compaction must reclaim the duplicate rows")
    assert(graft.ops.Similarity.indexGeometry(spark, path).contains(geom))
    // Serving identical to a clean batch-built lineage (same seed-trained
    // codebook, batch-appended remainder).
    val refPath = tempDir("pq_autocompact_ref").toString + "/idx"
    graft.ops.Similarity.annPqIndexWrite(seed, refPath,
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    graft.ops.Similarity.annPqIndexWrite(rest, refPath, mode = "append",
      bitsPerTable = geom._1, numTables = geom._2, pqBits = pqBits)
    val auto = graft.ops.Similarity.annPqIndexProbe(
      spark, path, probeBatch(), corpus).collect().toSeq
    val ref = graft.ops.Similarity.annPqIndexProbe(
      spark, refPath, probeBatch(), corpus).collect().toSeq
    assert(auto.nonEmpty && auto == ref,
      s"auto-compacted index diverged: ${auto.take(3)} vs ${ref.take(3)}")
  }

  test("a geometry-mismatched stream append fails fast instead of silently missing buckets") {
    graft.functions.VectorExpressions.register(spark)
    val corpus = emb().filter(col("vec_id") % 10 =!= 0)
    val path = tempDir("ann_geom").toString + "/idx"
    assert(graft.streaming.AnnIngest.appendBatch(corpus, path, 0L, geom._1, geom._2))
    intercept[IllegalArgumentException] {
      graft.streaming.AnnIngest.appendBatch(corpus, path, 1L, 14, 16)
    }
  }
}
