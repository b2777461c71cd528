package graft

import org.apache.spark.sql.functions._

/** Structural invariants of the curation operators beyond the DuckDB hash
  * match: component closure for q73, stratum bounds + determinism for q74,
  * shard-packing arithmetic for q75.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("dup clusters are transitively closed over the near-dup edge set") {
    val cluster = ops.Curation.q73DupClusters(spark, sfDir)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val edges = ops.Dedup.q51DedupJaccard(spark, sfDir)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(edges.nonEmpty) // planted near-dups; empty would be vacuous
    // Every edge's endpoints share a cluster, and the cluster id is a
    // member's id at or below both endpoints (min-label fixpoint).
    edges.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"edge ($a,$b) split across clusters")
      assert(cluster(a) <= math.min(a, b))
    }
    // Exactly one keeper per cluster, and it's the minimum member.
    val byCluster = cluster.groupBy(_._2).view.mapValues(_.keys.min)
    byCluster.foreach { case (cid, minMember) => assert(cid == minMember) }
  }

  test("q162 bloom-gated decontamination == q76 exact (gate soundness), non-vacuously") {
    val exact = ops.Curation.q76Decontaminate(spark, sfDir).collect()
    val bloom = ops.Curation.q162DecontaminateBloom(spark, sfDir).collect()
    assert(bloom.toSeq == exact.toSeq)
    // Non-vacuous: the fixture must actually contain contamination, or
    // the equality proves nothing about the hit path.
    assert(exact.count(_.getBoolean(3)) > 0, "no contaminated docs in fixture")
  }

  test("q162 bloom gate has no false negatives and a bounded false-positive rate on the fixture") {
    import ops.Curation.{bloomBitsFor, bloomHashes, bloomPosExpr}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // Recreate the gate's survivor set directly: every true-hit shingle
    // must survive (soundness is structural — inserted keys always test
    // positive), and survivors that are NOT true hits must be a small
    // fraction of the train shingle universe (fpp ≈ (1 - e^(-kn/m))^k).
    val sh = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode_outer(expr(
        """array_distinct(IF(size(toks) >= 5,
              transform(sequence(1, size(toks) - 4), i -> concat_ws(' ', slice(toks, i, 5))),
              array()))""")).as("shingle"))
      .filter(col("shingle").isNotNull)
    val evalSh = sh.filter(col("doc_id") % 97 === 0).select("shingle").distinct()
    val trainSh = sh.filter(col("doc_id") % 97 =!= 0).select("shingle").distinct()
    val evalSet = evalSh.as[String].collect().toSet
    // Size m exactly as the production gate does: from the per-doc eval
    // row count (the distinct-free upper bound).
    val bloomBits = bloomBitsFor(sh.filter(col("doc_id") % 97 === 0).count())
    val posExpr = bloomPosExpr("shingle", bloomBits)
    val nWords = bloomBits / 64
    val bloomArr = evalSh
      .select(explode(expr(posExpr)).as("pos")).distinct()
      .select((col("pos") / 64).cast("int").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"))
      .groupBy(col("word")).agg(expr("bit_or(bit)").as("w"))
      .as[(Int, Long)].collect().toMap
    val dense = Array.tabulate(nWords)(i => bloomArr.getOrElse(i, 0L))
    val survivors = trainSh
      .withColumn("bloom", typedlit(dense.toSeq))
      .filter(expr(s"forall($posExpr, " +
        "p -> (shiftright(element_at(bloom, CAST(p DIV 64 AS INT) + 1), " +
        "CAST(p % 64 AS INT)) & 1) = 1)"))
      .select("shingle").as[String].collect().toSet
    val trainAll = trainSh.as[String].collect().toSet
    val trueHits = trainAll.intersect(evalSet)
    assert(trueHits.subsetOf(survivors), "bloom gate dropped a true hit — unsound")
    val falsePos = survivors -- trueHits
    val n = evalSet.size.toDouble
    val expectedFpp = math.pow(1 - math.exp(-bloomHashes * n / bloomBits), bloomHashes)
    // Generous 100× headroom over the analytic fpp plus a 10-count floor
    // (tiny fixtures make ratios noisy).
    assert(falsePos.size <= math.max(10.0, 100 * expectedFpp * trainAll.size),
      s"fpp blowout: ${falsePos.size} false positives over ${trainAll.size} shingles")
  }

  test("boilerplate strip (q109) reconciles with chunk dedup (q89): same chunking, strictly harsher policy") {
    val strip = ops.Curation.q109BoilerplateStrip(spark, sfDir)
      .select("doc_id", "n_chunks", "n_removed").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val dedup = ops.Curation.q89ChunkDedup(spark, sfDir)
      .select("doc_id", "n_chunks", "n_kept").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(strip.keySet == dedup.keySet)
    strip.foreach { case (id, (nc, nr)) =>
      val (nc89, nk89) = dedup(id)
      assert(nc == nc89, s"doc $id: chunk counts diverge ($nc vs $nc89)")
      // q89 keeps first occurrences of shared chunks; q109 drops them all,
      // so q109 can never retain a chunk q89 dropped.
      assert(nc - nr <= nk89, s"doc $id retains more than keep-first would")
    }
    assert(strip.values.map(_._2).sum > 0, "no shared chunks found — vacuous corpus")
  }

  test("connected components propagates min labels across a chain (multi-round) and keeps isolates singleton") {
    val docs = (1L to 6L).toDF("doc_id")
    // 1-2-3-4 chain forces label 1 to travel 3 hops (several propagation
    // rounds); 5 and 6 are isolated.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2")
    val out = ops.Curation.connectedComponents(docs, pairs)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert((1L to 4L).forall(out(_) == 1L), out.toString)
    assert(out(5L) == 5L && out(6L) == 6L)
  }

  test("connected components: 1000-vertex chain converges in O(log n) rounds with bounded storage") {
    val n = 1000L
    val docs = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id1", "id2")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val (out, rounds) = ops.Curation.connectedComponentsWithRounds(docs, pairs)
    val labels = out.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(labels.size == n && labels.values.forall(_ == 0L),
      s"chain must collapse to one component labeled 0")
    // Pointer doubling: distance covered grows 2d+1 per round, so a
    // diameter-999 chain needs ~ceil(log2(1000)) ≈ 10 rounds + 1 to
    // confirm the fixpoint. The round-3 plain propagation needed 999 and
    // silently hit its 25-round cap.
    assert(rounds <= 15, s"expected <=15 doubling rounds for a 1000-chain, got $rounds")
    // Cache hygiene: only the final label frame may remain pinned (the
    // returned plan reads it); every intermediate round was unpersisted.
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter - persistedBefore <= 2,
      s"round caches leaked: $persistedBefore -> $persistedAfter persistent RDDs")
  }

  test("connected components with a RELIABLE checkpoint dir: identical labels on the chain graph") {
    // The cluster-safe mode (VERDICT r4 item 4): every-5-rounds lineage
    // truncation goes through checkpoint() to a directory instead of
    // executor-local blocks. 1000-chain needs ~10 rounds, so the reliable
    // path is exercised at least once; labels must match the default mode.
    val n = 1000L
    val docs = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id1", "id2")
    val ckpt = tempDir("cc-ckpt").toString
    // Explicit handle, released below — suites share one JVM/session, and
    // CacheLifecycleSpec counts persistent RDDs concurrently.
    val h = new ops.StorageHandle
    val (out, rounds) = ops.Curation.connectedComponentsWithRounds(
      docs, pairs, handle = h, checkpointDir = Some(ckpt))
    val labels = out.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    h.release()
    assert(labels.size == n && labels.values.forall(_ == 0L),
      s"chain must collapse to one component labeled 0 under reliable checkpointing")
    assert(rounds > 5, s"chain must cross the 5-round checkpoint boundary, got $rounds")
    // The reliable checkpoint actually wrote state to the directory.
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "checkpoint dir is empty — reliable path not taken")
  }

  test("shard text over a shared cached q75 assignment equals the standalone query") {
    val standalone = ops.Curation.q83ShardText(spark, sfDir)
    val assignment = ops.Curation.q75TokenShards(spark, sfDir).cache()
    try {
      val shared = ops.Curation.shardText(spark, sfDir, Some(assignment))
      assert(standalone.exceptAll(shared).isEmpty && shared.exceptAll(standalone).isEmpty)
      // Sharing skips the prefix-sum recompute: the shared plan must not
      // contain q75's two-phase broadcast join below the text join.
      val p = shared.queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"), p.take(2000))
    } finally assignment.unpersist()
  }

  test("stratified sample is capped per stratum and reproducible") {
    val s1 = ops.Curation.q74StratifiedSample(spark, sfDir)
      .select("source", "doc_id").as[(String, Long)].collect()
    val s2 = ops.Curation.q74StratifiedSample(spark, sfDir)
      .select("source", "doc_id").as[(String, Long)].collect()
    assert(s1.toSeq == s2.toSeq) // deterministic across runs
    s1.groupBy(_._1).foreach { case (_, rows) => assert(rows.length <= 25) }
    assert(s1.nonEmpty)
  }

  test("split assignment is exhaustive per source and roughly 80/10/10 overall") {
    val rows = ops.Curation.q80SplitAssign(spark, sfDir)
      .select("source", "split", "n_docs").as[(String, String, Long)].collect()
    val total = rows.map(_._3).sum
    assert(total == graft.sources.Tables.t(spark, sfDir, "documents").count()) // exhaustive
    val byWhich = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val trainShare = byWhich.getOrElse("train", 0L).toDouble / total
    // Uniform hash: binomial(500, 0.8) stays well within ±10 points.
    assert(trainShare > 0.7 && trainShare < 0.9, s"train share $trainShare")
    assert(byWhich.keySet.subsetOf(Set("train", "val", "test")))
  }

  test("chunk dedup reconstruction: unique doc survives byte-exact, full dup reconstructs empty") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val uniqueText = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = tempDir("chunkdedup").toString
    Seq(
      (1L, uniqueText, "en", "src0", uniqueText.length.toLong),
      (2L, uniqueText, "en", "src1", uniqueText.length.toLong), // full dup of doc 1
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "en", "src2", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = ops.Curation.q89ChunkDedup(spark, dir)
      .select("doc_id", "n_chunks", "n_kept", "retained_md5")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    val Seq(d1, d2, d3) = out.toSeq
    assert(d1 == ((1L, 3L, 3L, md5hex(uniqueText)))) // 40 toks → 16+16+8 chunks, all kept
    assert(d2._3 == 0L && d2._4 == md5hex(""))       // every chunk seen first in doc 1
    assert(d3._3 == d3._2 && d3._4 == md5hex((1 to 20).map(i => s"z$i").mkString(" ")))
  }

  test("sequence packing (q119) conserves tokens, starts, and fill") {
    val seqs = ops.Curation.q119SequencePack(spark, sfDir)
      .select("seq_id", "n_docs", "n_tokens", "n_starts", "fill_r")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    val docs = graft.sources.Tables.t(spark, sfDir, "documents")
      .select(size(split(col("text"), " ")).cast("long")).as[Long].collect()
    // Token conservation: every corpus token lands in exactly one sequence.
    assert(seqs.map(_._3).sum == docs.sum)
    // Every document begins in exactly one sequence.
    assert(seqs.map(_._4).sum == docs.length)
    // Sequences are dense from 0; all but the ragged tail are full.
    assert(seqs.map(_._1).toSeq == (0L until seqs.length).toSeq)
    seqs.init.foreach { s => assert(s._3 == 256L && s._5 == 1.0, s.toString) }
    assert(seqs.last._3 <= 256L)
  }

  test("q139 chunk windows tile every document: full coverage, exact overlap, tail always reached") {
    // Coverage algebra on varied lengths, including the size==n boundary,
    // a sub-size doc, a one-token doc, and a stride-misaligned tail.
    val docs = Seq(
      (1L, (1 to 200).map(i => s"t$i").mkString(" ")), // misaligned tail
      (2L, (1 to 64).map(i => s"u$i").mkString(" ")),  // exactly one window
      (3L, (1 to 10).map(i => s"v$i").mkString(" ")),  // sub-size
      (4L, "solo"),
      (5L, (1 to 112).map(i => s"w$i").mkString(" "))  // 1 + ceil(48/48) = 2 windows
    ).toDF("doc_id", "text")
    val out = ops.Curation.chunkWindows(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = out.groupBy(_._1)
    val lens = Map(1L -> 200, 2L -> 64, 3L -> 10, 4L -> 1, 5L -> 112)
    lens.foreach { case (id, n) =>
      val chunks = byDoc(id).sortBy(_._2)
      // starts are 1, 49, 97, ... and the last window reaches token n.
      chunks.foreach { case (_, k, start, _) => assert(start == 1 + k * 48) }
      val last = chunks.last
      assert(last._3 + last._4 - 1 == n, s"doc $id tail not covered: $last")
      // every token covered: windows tile with stride < size.
      val covered = chunks.flatMap(c => c._3 to (c._3 + c._4 - 1)).toSet
      assert(covered == (1L to n.toLong).toSet, s"doc $id coverage hole")
      // no window starts beyond the text, and all but the last are full
      // ... unless the doc itself is shorter than one window.
      chunks.init.foreach { case (_, _, start, ntok) =>
        assert(ntok == 64, s"doc $id interior chunk short: $start")
      }
      assert(chunks.head._3 == 1)
    }
    assert(byDoc(2L).length == 1 && byDoc(5L).length == 2)
  }

  test("q116 temperature mix: rates clamp at 1e6 and kept counts track rates") {
    val rows = ops.Curation.q116TemperatureMix(spark, sfDir)
      .select("source", "n_docs", "rate_ppm", "n_kept")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, rate, kept) =>
      assert(rate >= 0 && rate <= 1000000L, s"$src rate $rate out of range")
      assert(kept <= nDocs, s"$src kept $kept > $nDocs")
      if (rate == 1000000L) assert(kept == nDocs, s"$src full rate must keep all")
    }
  }

  test("q120 dup-graph rank: teleport floor for isolated docs, exact fixpoint for symmetric pairs") {
    val rows = ops.Curation.q120DupGraphRank(spark, sfDir)
      .select("doc_id", "degree", "rank_micro")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r._1 -> r).toMap
    // Isolated documents receive exactly the teleport mass and nothing else.
    rows.filter(_._2 == 0L).foreach { r =>
      assert(r._3 == 150000L, s"isolated doc ${r._1} rank ${r._3}")
    }
    assert(rows.forall(_._3 >= 150000L))
    // A mutually-exclusive degree-1 pair is a fixpoint: each hands its
    // whole rank to the other, so 150000 + 85% of 1e6 = 1e6 every round.
    val edges = ops.Dedup.minhashNearDups(
        graft.sources.Tables.t(spark, sfDir, "documents"))
      .select("id1", "id2").as[(Long, Long)].collect()
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size)
    edges.filter(e => deg(e._1) == 1 && deg(e._2) == 1).foreach { e =>
      assert(byId(e._1)._3 == 1000000L && byId(e._2)._3 == 1000000L,
        s"symmetric pair $e not at fixpoint")
    }
  }

  test("token shards match a locally recomputed prefix sum and respect the budget") {
    val rows = ops.Curation.q75TokenShards(spark, sfDir)
      .select("lang", "doc_id", "n_tokens", "shard_id")
      .as[(String, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, docs) =>
      var cum = 0L
      docs.sortBy(_._2).foreach { case (_, _, n, shard) =>
        assert(shard == cum / 512, s"shard mismatch at cum=$cum")
        cum += n
      }
    }
    // Shards are dense from 0 per language.
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val shards = docs.map(_._4).distinct.sorted.toSeq
      assert(shards.head == 0L && shards == (shards.head to shards.last).toSeq)
    }
  }
}
