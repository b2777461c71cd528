package graft

import org.apache.spark.sql.functions._

/** Semantics of the pipeline-composition operators (ops/Pipeline.scala). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("containment flags a sub-document dup that Jaccard misses") {
    // B = A's text wrapped in enough boilerplate that J(A,B) < 0.6 while
    // every shingle of A is inside B (containment = 1.0).
    val core = (1 to 12).map(i => s"w$i").mkString(" ")
    val pad = (1 to 30).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, core),
      (2L, s"$pad $core"),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")

    val cont = ops.Pipeline.containmentPairs(docs, threshold = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(cont == Set((1L, 2L)))

    // Direction is recoverable (ADVICE r4): doc 1 is the CONTAINED one, so
    // its per-side score cont1 = |∩|/|A| is 1.0 while cont2 < 1.
    val row = ops.Pipeline.containmentPairs(docs, threshold = 0.9)
      .select("cont1", "cont2").as[(Double, Double)].collect().head
    assert(row._1 == 1.0 && row._2 < 1.0, row)

    val jac = ops.Dedup.jaccardNearDups(docs, threshold = 0.6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L))) // the pair containment exists to catch
  }

  test("containment threshold is inclusive and uses the smaller set") {
    // Both docs share a 9-shingle prefix then diverge; C = 9 / min(n1, n2).
    val shared = (1 to 11).map(i => s"s$i").mkString(" ") // 9 shingles
    val docs = Seq(
      (1L, s"$shared x1 y1 z1"),                           // 12 more tokens → diverges
      (2L, s"$shared a1 b1 c1 d1 e1 f1 g1 h1 i1 j1 k1")
    ).toDF("doc_id", "text")
    val c = ops.Pipeline.containmentPairs(docs, threshold = 0.5)
      .select("containment").as[Double].collect()
    assert(c.length == 1)
    val cHigh = ops.Pipeline.containmentPairs(docs, threshold = c(0) + 1e-9)
    assert(cHigh.count() == 0) // strictly-above threshold excludes the pair
  }

  test("source dup stats and cross-source matrix reconcile with the q51 pair set") {
    val pairs = ops.Dedup.q51DedupJaccard(spark, sfDir)
      .select("id1", "id2").as[(Long, Long)].collect()
    val stats = ops.Pipeline.q103SourceDupStats(spark, sfDir)
      .select("source", "n_docs", "n_exact_dup", "n_near_dup")
      .as[(String, Long, Long, Long)].collect()
    // Near-dup doc count: every id in the pair set counted exactly once.
    val nearIds = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(stats.map(_._4).sum == nearIds.size,
      s"per-source near counts must partition the pair-set ids")
    assert(stats.forall(s => s._3 <= s._2 && s._4 <= s._2))
    // Matrix totals: every pair lands in exactly one (source1, source2) cell.
    val matrix = ops.Pipeline.q104CrossSourceDups(spark, sfDir)
      .select("n_pairs").as[Long].collect()
    assert(matrix.sum == pairs.length,
      s"matrix cells must partition the pair set: ${matrix.sum} != ${pairs.length}")
  }

  test("cluster cohesion: mean bounded by min and both within unit range for normalized vectors") {
    val rows = ops.Vectors2.q105ClusterCohesion(spark, sfDir)
      .select("label", "n_members", "cohesion_r", "min_cos_r")
      .as[(Int, Long, Double, Double)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 > 0))
    rows.foreach { case (label, _, cohesion, minCos) =>
      assert(minCos <= cohesion + 1e-9, s"label $label: min $minCos > mean $cohesion")
      assert(cohesion <= 1.000001, s"label $label: cosine to centroid above 1")
    }
  }

  test("incremental dedup only pairs new batch against existing corpus") {
    val out = ops.Pipeline.q94IncrementalDedup(spark, sfDir)
    val docs = graft.sources.Tables.t(spark, sfDir, "documents")
      .withColumn("src_num", expr("CAST(substring(source, 4) AS INT)"))
    val newIds = docs.filter(col("src_num") >= 10)
      .select("doc_id").as[Long].collect().toSet
    val oldIds = docs.filter(col("src_num") < 10)
      .select("doc_id").as[Long].collect().toSet
    val rows = out.select("doc_id", "best_match_id").as[(Long, Long)].collect()
    assert(rows.map(_._1).toSet == newIds)
    rows.filter(_._2 >= 0).foreach { case (_, best) => assert(oldIds.contains(best)) }
  }

  test("degenerate docs (too short for shingles) flow through the pipeline ops") {
    import org.apache.spark.sql.functions._
    // 2-token and 5-token docs: below the 3-gram/5-gram guards that rely on
    // Spark's descending sequence(1, 0) quirk being IF-guarded.
    val dir = tempDir("edge_docs").toString
    Seq(
      (1L, "a b", "en", "src0", 3L),
      (97L, "a b c d e", "en", "src1", 9L), // eval-side id (97 % 97 == 0)
      (2L, (1 to 30).map(i => s"w$i").mkString(" "), "en", "src10", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    // Contamination fraction: the 2-token doc has zero 5-gram shingles →
    // frac 0.0, not null/NaN; the eval doc (97) is excluded.
    val contam = ops.Pipeline.q91ContaminationFrac(spark, dir)
      .select("doc_id", "n_shingles", "contam_frac")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(contam.map(_._1).toSeq == Seq(1L, 2L))
    assert(contam.head._2 == 0L && contam.head._3 == 0.0)

    // Manifest: every doc gets a row; the shingle-less doc is trivially a
    // cluster keeper and exact-canonical.
    val manifest = ops.Pipeline.q95CurationManifest(spark, dir)
      .select("doc_id", "is_keeper", "exact_canonical", "quality_ok")
      .as[(Long, Boolean, Boolean, Boolean)].collect().sortBy(_._1)
    assert(manifest.map(_._1).toSeq == Seq(1L, 2L, 97L))
    assert(manifest.forall(r => r._2 && r._3))
    assert(!manifest.head._4) // 2 tokens < the 20-token length gate

    // Pair features/incremental dedup: no co-shingled pairs → empty, not a crash.
    assert(ops.Pipeline.q96PairFeatures(spark, dir).count() == 0)
    val inc = ops.Pipeline.q94IncrementalDedup(spark, dir)
      .select("doc_id", "is_novel").as[(Long, Boolean)].collect()
    assert(inc.toSeq == Seq((2L, true))) // the one src10+ doc, novel
  }

  test("quality funnel stages are monotonically non-increasing") {
    val rows = ops.Pipeline.q92QualityFunnel(spark, sfDir)
      .select("n_total", "n_len", "n_ttr", "n_rep", "n_final")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t0, t1, t2, t3, t4) =>
      assert(t0 >= t1 && t1 >= t2 && t2 >= t3 && t3 >= t4)
    }
  }

  test("pair features are internally consistent and cover the q51 verdict set") {
    val feats = ops.Pipeline.q96PairFeatures(spark, sfDir)
      .select("id1", "id2", "jaccard", "containment", "len_ratio", "hamming")
      .as[(Long, Long, Double, Double, Double, Long)].collect()
    assert(feats.nonEmpty)
    feats.foreach { case (_, _, j, c, lr, h) =>
      assert(c >= j, "containment can never be below jaccard")
      assert(j >= 0.3 && c <= 1.0)
      assert(lr > 0.0 && lr <= 1.0)
      assert(h >= 0 && h <= 60)
    }
    // The q51 verdict pairs (J >= 0.6) are a subset of the feature table.
    val featPairs = feats.map(f => (f._1, f._2)).toSet
    val verdicts = ops.Dedup.q51DedupJaccard(spark, sfDir)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(verdicts.subsetOf(featPairs))
  }

  test("split leakage pairs straddle splits and are a subset of q51 pairs") {
    val leak = ops.Pipeline.q93SplitLeakage(spark, sfDir)
    val all = ops.Dedup.q51DedupJaccard(spark, sfDir)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val rows = leak.select("id1", "id2", "split1", "split2")
      .as[(Long, Long, String, String)].collect()
    rows.foreach { case (a, b, s1, s2) =>
      assert(all.contains((a, b)))
      assert(s1 != s2)
    }
  }
}
