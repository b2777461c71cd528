package graft

import org.apache.spark.sql.functions._

/** Product-quantization (q154) invariants the DuckDB hash gate cannot
  * express on its own:
  *
  *  1. ADC is EXACT on the decoded vector: the emitted adc score equals
  *     dot(query, decode(codes)) where decode concatenates the M chosen
  *     sub-centroids — the asymmetric-distance identity
  *     Σ_m LUT[m][code_m] = Σ_m ⟨q_m, c_{m,code_m}⟩ = ⟨q, ĉ⟩.
  *  2. Codes are a valid encoding: every corpus vector gets exactly M
  *     nibbles in [0, K), and each nibble is the max-dot centroid of its
  *     subspace (tie → lowest cell), i.e. no decoded vector scores
  *     strictly better against its own subvector than the chosen one.
  *  3. Recall floor: the 4-byte-code pipeline (ADC 32-deep shortlist +
  *     exact rerank) keeps a usable fraction of the exact q55 top-5.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val H = graft.functions.Hyperplanes

  test("q154 ADC score equals dot(query, decode(codes)) — the asymmetric-distance identity") {
    val (cents, codes) = ops.Similarity.pqModel(spark, sfDir)
    // decode(codes): concatenate the chosen sub-centroids in m order.
    val decoded = codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("cm", "code")))
      .join(cents, col("cm") === cents("m") && col("code") === cents("cell"))
      .groupBy(col("vec_id"))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(cm, centroid))), e -> e.centroid))").as("dec"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val expected = emb.filter(col("vec_id") < 20).as("q")
      .crossJoin(decoded.as("d"))
      .select(col("q.vec_id").as("query_id"), col("d.vec_id").as("neighbor_id"),
        expr("aggregate(zip_with(q.emb, d.dec, (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("dot"))
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, d) => (q, n) -> d }.toMap
    val emitted = ops.Similarity.queries("q154_ann_pq_adc")(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), col("adc_r"))
      .as[(Long, Long, Double)].collect()
    assert(emitted.nonEmpty)
    emitted.foreach { case (q, n, adc) =>
      val exact = expected((q, n))
      // adc_r is rounded to 6dp; the identity itself holds to float-fold
      // reassociation noise, far below this tolerance.
      assert(math.abs(adc - exact) < 1e-5,
        s"ADC($q,$n)=$adc != dot(q, decode)=$exact")
    }
  }

  test("q154 codes are valid M-nibble encodings and each nibble is the argmax-dot cell") {
    val (cents, codes) = ops.Similarity.pqModel(spark, sfDir)
    val M = H.pqM
    val K = 1 << H.pqBits
    val bad = codes.filter(
      size(col("codes")) =!= M ||
        exists(col("codes"), c => c < 0 || c >= K)).count()
    assert(bad == 0, s"$bad vectors with malformed code arrays")
    // Optimality: the chosen centroid's dot with the subvector is >= every
    // other centroid's (ties broken to the lowest cell, so >= suffices
    // when comparing against the chosen score).
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val subs = emb.select(col("vec_id"),
      posexplode(expr(s"transform(sequence(0, ${M - 1}), mm -> slice(emb, mm * ${H.pqSubDim} + 1, ${H.pqSubDim}))"))
        .as(Seq("m", "sub")))
    val chosen = codes.select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
    val scored = subs.join(cents, Seq("m"))
      .select(col("vec_id"), col("m"), col("cell"),
        expr("aggregate(zip_with(sub, centroid, (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("sc"))
    val best = scored.groupBy("vec_id", "m").agg(max("sc").as("best"))
    val viol = chosen
      .join(scored.withColumnRenamed("cell", "code"), Seq("vec_id", "m", "code"))
      .join(best, Seq("vec_id", "m"))
      .filter(col("sc") < col("best") - lit(1e-12))
      .count()
    assert(viol == 0, s"$viol (vec, subspace) pairs where the code is not the argmax-dot cell")
  }

  test("q155 IVF-PQ routing is sound and its ADC agrees with q154's codebook") {
    // Routing soundness: every emitted neighbor's assigned cell is among
    // its query's nProbe=4 probed cells — the scan really was restricted.
    val (_, ranked) = ops.Similarity.ivfRanked(spark, sfDir)
    val assigned = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cell"))
    val probed = ranked.filter(col("rn") <= 4)
      .select(col("vec_id").as("query_id"), col("cell"))
    val out = ops.Similarity.q155AnnIvfPq(spark, sfDir)
    val unrouted = out.join(assigned, "neighbor_id")
      .join(probed, Seq("query_id", "cell"), "left_anti").count()
    assert(unrouted == 0, s"$unrouted emitted pairs outside the probed cells")
    // Same codebook ⇒ same ADC: pairs emitted by both q154 and q155
    // carry identical adc_r.
    val a154 = ops.Similarity.queries("q154_ann_pq_adc")(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), col("adc_r").as("a154"))
    val diff = out.join(a154, Seq("query_id", "neighbor_id"))
      .filter(abs(col("adc_r") - col("a154")) > 1e-9).count()
    assert(diff == 0, s"$diff shared pairs with diverging ADC between q154 and q155")
  }

  test("q155 IVF-PQ keeps a recall floor vs the exact q55 top-5") {
    val exact = ops.Similarity.q55AnnBruteforce(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = ops.Similarity.q155AnnIvfPq(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivfpq.nonEmpty)
    val recall = (exact & ivfpq).size.toDouble / exact.size
    // nProbe=4 of 16 cells on top of the 4-bit codes: measured 0.37 at
    // sf0.001 (vs q154's full-scan 0.47 — the routing cost).
    assert(recall > 0.25, s"IVF-PQ recall $recall vs exact top-5")
  }

  test("q156 residual codebook beats raw-vector routing recall at the same code budget") {
    val exact = ops.Similarity.q55AnnBruteforce(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val raw = ops.Similarity.q155AnnIvfPq(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val res = ops.Similarity.q156AnnIvfPqResidual(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(res.nonEmpty)
    val rRaw = (exact & raw).size.toDouble / exact.size
    val rRes = (exact & res).size.toDouble / exact.size
    // Same 4-byte codes, same nProbe=4 routing, same 32-deep rerank —
    // training on residuals is pure signal (measured 0.37 → 0.42 at
    // sf0.001). Assert non-regression, not the gap (corpus-dependent).
    assert(rRes >= rRaw, s"residual recall $rRes < raw recall $rRaw")
    assert(rRes > 0.3, s"residual IVF-PQ recall $rRes vs exact top-5")
  }

  test("q159 8-bit codes beat the 4-bit recall at 2x code memory (the codebook dial)") {
    val exact = ops.Similarity.q55AnnBruteforce(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq4 = ops.Similarity.queries("q154_ann_pq_adc")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq8 = ops.Similarity.queries("q159_ann_pq8")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq8.nonEmpty)
    val r4 = (exact & pq4).size.toDouble / exact.size
    val r8 = (exact & pq8).size.toDouble / exact.size
    // Same planes prefix, same serving, 2x the code bytes: measured
    // 0.47 -> 0.73 at sf0.001.
    assert(r8 >= r4, s"8-bit recall $r8 < 4-bit recall $r4")
    assert(r8 > 0.55, s"8-bit PQ recall $r8 vs exact top-5")
  }

  test("q160 hierarchical encode keeps recall between the 4-bit and flat-8-bit postures") {
    val exact = ops.Similarity.q55AnnBruteforce(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq4 = ops.Similarity.queries("q154_ann_pq_adc")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val hier = ops.Similarity.queries("q160_ann_pq8_hier")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(hier.nonEmpty)
    val r4 = (exact & pq4).size.toDouble / exact.size
    val rh = (exact & hier).size.toDouble / exact.size
    // The greedy two-stage assignment pays recall for its 8x encode cut
    // (measured 0.58 vs flat-8-bit 0.73 at sf0.001) but must keep the
    // 256-cell codebook's edge over the 4-bit posture (0.47).
    assert(rh >= r4, s"hier-8-bit recall $rh < 4-bit recall $r4")
    assert(rh > 0.45, s"hier-8-bit recall $rh vs exact top-5")
  }

  test("q161 beam-2 encode recovers recall toward the flat 8-bit posture") {
    val exact = ops.Similarity.q55AnnBruteforce(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val hier1 = ops.Similarity.queries("q160_ann_pq8_hier")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val hier2 = ops.Similarity.queries("q161_ann_pq8_hier_beam")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(hier2.nonEmpty)
    val r1 = (exact & hier1).size.toDouble / exact.size
    val r2 = (exact & hier2).size.toDouble / exact.size
    // One extra stage-1 beam (32 -> 48 cells scanned of 256) must close
    // part of the greedy gap: measured 0.58 -> 0.66 at sf0.001 vs the
    // flat argmax's 0.73 (q159's spec pins that end of the frontier).
    assert(r2 >= r1, s"beam-2 recall $r2 < beam-1 recall $r1")
    assert(r2 > 0.55, s"beam-2 recall $r2 vs exact top-5")
  }

  test("q165 Lloyd-grouped beam encode holds the 0.70 recall floor at sub-flat encode cost") {
    val exact = ops.Similarity.q55AnnBruteforce(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val seedBeam = ops.Similarity.queries("q161_ann_pq8_hier_beam")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lloyd = ops.Similarity.queries("q165_ann_pq8_lloyd")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(lloyd.nonEmpty)
    val rSeed = (exact & seedBeam).size.toDouble / exact.size
    val rLloyd = (exact & lloyd).size.toDouble / exact.size
    // The registered 100x posture's whole claim (VERDICT r9 item 4):
    // recall >= 0.70 at 56 cells/subspace scanned — measured 0.71 vs the
    // seed-grouped q161's 0.66 and flat q159's 0.73 at sf0.001. The
    // grouping refinement, not more beam, is what buys the recall: the
    // seed-grouped family plateaus at 0.67-0.69 even at 80 cells
    // (probes/r10/pq_frontier_sf0.001.jsonl, BASELINE.md).
    assert(rLloyd >= rSeed, s"Lloyd-grouped recall $rLloyd < seed-grouped $rSeed")
    assert(rLloyd >= 0.70, s"q165 recall $rLloyd below the registered 0.70 floor")
  }

  test("q163/q164 PQ index: append reuses the persisted codebook, appended twins serve identically, mismatches fail fast") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val path = tempDir("pqidx").toString + "/idx"
    ops.Similarity.annPqIndexWrite(corpus, path)
    val cbBefore = spark.read.parquet(s"$path/_codebook")
      .orderBy("m", "cell").collect().toSeq
    // Append exact clones of resident vectors under fresh ids: with the
    // PERSISTED codebook (never retrained on append) a clone must land
    // in its twin's buckets with its twin's codes — the serving-equality
    // proof, since a probe is a pure function of (bucket rows, codebook,
    // batch).
    val clones = corpus.filter(col("vec_id") < 50)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("emb"))
    ops.Similarity.annPqIndexWrite(clones, path, mode = "append")
    val cbAfter = spark.read.parquet(s"$path/_codebook")
      .orderBy("m", "cell").collect().toSeq
    assert(cbBefore == cbAfter, "append retrained / rewrote the codebook")
    val idx = spark.read.parquet(path)
    val twin = idx.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("tbl"), col("bucket"), col("codes"))
    val cl = idx.filter(col("vec_id") >= 1000000L)
      .select((col("vec_id") - 1000000L).as("vec_id"), col("tbl"),
        col("bucket").as("c_bucket"), col("codes").as("c_codes"))
    val joined = twin.join(cl, Seq("vec_id", "tbl")).cache()
    try {
      val n = twin.count()
      assert(n > 0 && joined.count() == n, "clone rows missing from the appended index")
      assert(joined.filter(col("bucket") =!= col("c_bucket") ||
        col("codes") =!= col("c_codes")).count() == 0,
        "a clone's bucket or codes diverge from its resident twin")
    } finally joined.unpersist()
    // Geometry and codebook dials are part of the index: mismatched
    // appends must fail fast, not silently mis-hash/mis-encode.
    intercept[IllegalArgumentException] {
      ops.Similarity.annPqIndexWrite(clones, path, mode = "append",
        bitsPerTable = 4, numTables = 16)
    }
    intercept[IllegalArgumentException] {
      ops.Similarity.annPqIndexWrite(clones, path, mode = "append", pqBits = 4)
    }
  }

  test("q154 PQ pipeline keeps a recall floor vs the exact q55 top-5") {
    val exact = ops.Similarity.q55AnnBruteforce(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = ops.Similarity.queries("q154_ann_pq_adc")(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq.nonEmpty)
    val recall = (exact & pq).size.toDouble / exact.size
    // 4 bits x 8 subspaces = 4 bytes/vector (16x smaller than q87's int8):
    // the ADC ranking is coarse, so recall comes from the rerank depth —
    // measured at sf0.001: 0.27 at shortlist 10, 0.47 at the shipped 32.
    assert(recall > 0.35, s"PQ-ADC recall $recall vs exact top-5")
  }

  test("PQ index tail writes: a failure cancels the sibling writes and surfaces the original exception") {
    // annPqIndexWrite runs its independent tail writes concurrently. One
    // failing write must reach the caller as its own exception (not an
    // ExecutionException wrapper), and no sibling write may still be
    // running when the call returns — else it could finish after the
    // caller has already handled the failure.
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val siblingStarted = new java.util.concurrent.CountDownLatch(1)
    val failing: () => Unit = () => {
      siblingStarted.await()
      throw new IllegalStateException("tail write failed")
    }
    val sibling: () => Unit = () => {
      running.incrementAndGet()
      try {
        siblingStarted.countDown()
        Thread.sleep(30000)
      } catch { case _: InterruptedException => () }
      finally running.decrementAndGet()
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](ops.Similarity.runConcurrently(Seq(failing, sibling)))
    assert(e.getMessage == "tail write failed")
    assert(running.get() == 0, "a sibling tail write was still running after the call returned")
    assert((System.nanoTime() - t0) / 1e9 < 20, "the sibling write was waited out, not cancelled")
  }
}
