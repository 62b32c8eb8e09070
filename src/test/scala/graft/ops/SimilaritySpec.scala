package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Correctness properties of the similarity operators that the DuckDB
  * oracle can't express (LSH recall) or that deserve an independent
  * in-JVM check (prefix-filter completeness). */
class SimilaritySpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("split-leakage audit: cluster-keyed split is leak-free by construction, schemes agree on the clustering") {
    val rows = Similarity.qSplitLeakage(spark, sf("sf0.001")).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("cluster_key", "content_hash", "id_hash"))
    // all three schemes audit the SAME clustering
    assert(rows.map(_.getLong(1)).distinct.size === 1, "n_clusters differ")
    assert(rows.map(_.getLong(2)).distinct.size === 1, "n_multi differ")
    val byScheme = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(byScheme("cluster_key") === 0L,
      s"cluster-keyed split leaked: $byScheme")
    // leaky docs always >= leaky clusters * 2 (a leaky cluster has >= 2
    // members by definition)
    rows.foreach { r =>
      assert(r.getLong(4) >= 2 * r.getLong(3), r.toString)
    }
  }

  test("prefix-filtered jaccard equals brute-force all-pairs jaccard") {
    // brute force ground truth from the same shingle definition
    val sh = Similarity.shingles(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val docs = sh.keys.toSeq.sorted
    val brute = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.size
      a = sh(docs(i)); b = sh(docs(j))
      common = (a & b).size
      jac = common.toDouble / (a.size + b.size - common)
      if jac >= 0.8
    } yield (docs(i), docs(j))).toSet

    val got = Similarity.qJaccardPairs(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute)
    assert(brute.nonEmpty, "fixture should contain near-dups")
  }

  test("simhash chunk banding finds all hamming<=3 pairs (pigeonhole)") {
    // independent check: recompute simhashes, brute-force hamming, compare
    val pairs = Similarity.qSimhashNeardup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every reported pair must have hamming <= 3 and be unique
    assert(pairs.forall(_._3 <= 3))
    assert(pairs.map(p => (p._1, p._2)).distinct.length === pairs.length)
  }

  test("ANN output is well-formed: self-excluded, ranked, deduped") {
    val rows = Vectors.qCosineAnn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (q, n, _, _) => q != n })
    rows.groupBy(_._1).foreach { case (_, g) =>
      val ranks = g.map(_._4).sorted
      assert(ranks === (1 to ranks.length))
      // sims non-increasing by rank
      val byRank = g.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  /** Brute-force top-3 ground truth over the sf0.01 embeddings, shared by
    * both recall floors (computed once, materialized via cache). */
  private lazy val bruteTop3 = {
    import org.apache.spark.sql.expressions.Window
    val emb = Vectors.sharedEmb(spark, sf("sf0.01"))
    val dot2 = graft.functions.MixedDotProduct.mixedDot _
    val brute = emb.as("q").join(emb.as("n"),
        col("q.vec_id") =!= col("n.vec_id"))
      .select(col("q.vec_id").as("qid"), col("n.vec_id").as("nid"),
        (dot2(col("q.embedding"), col("n.embedding")) /
          (sqrt(col("q.norm2")) * sqrt(col("n.norm2")))).as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    brute.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).select("qid", "nid").cache()
  }

  private def top3Recall(approx: org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
    val hits = bruteTop3.join(approx.select("qid", "nid"), Seq("qid", "nid")).count()
    val total = bruteTop3.count()
    (hits.toDouble / total, hits, total)
  }

  test("multiprobe sign-LSH ANN top-3 recall >= 0.7 vs brute force") {
    // measured on the sf0.01 fixture (500 near-orthogonal vectors — the
    // HARD case for sign-LSH: p(plane agrees) ≈ 0.5-0.6 even for true
    // neighbors). Margin-ordered multiprobe (probeFlips=3) lifts the
    // default config from the 0.28 recall of exact-bucket probing to
    // ~0.87; assert a 0.7 floor so knob regressions fail loudly.
    val (recall, hits, total) = top3Recall(Vectors.qCosineAnn(spark, sf("sf0.01")))
    info(f"measured sign-LSH top-3 recall: $recall%.3f ($hits/$total)")
    assert(recall >= 0.7)
  }

  test("IVF nprobe=6/nlist=16 top-3 recall >= 0.7 vs brute force") {
    // near-orthogonal fixture = the coarse quantizer's WORST case (no
    // cluster structure). Measured curve: 0.605 / 0.756 / 0.847 at nprobe
    // 4 / 6 / 8 — default 6 scans 6/16 of the corpus and clears the
    // family's 0.7 usability floor; the floor pins the defaults
    val (recall, hits, total) = top3Recall(Vectors.qCosineIvf(spark, sf("sf0.01")))
    info(f"measured IVF top-3 recall: $recall%.3f ($hits/$total)")
    assert(recall >= 0.7)
  }

  test("incremental IVF: batch split sane, no-shift fixture reads drift ~10000bp") {
    val dir = sf("sf0.01")
    val rows = Vectors.qIvfIncremental(spark, dir).collect()
    assert(rows.length == 16, s"expected all 16 cells, got ${rows.length}")
    val nBase = rows.map(_.getLong(1)).sum
    val nBatch = rows.map(_.getLong(2)).sum
    val total = Vectors.ivfAssigned(spark, dir).count()
    assert(nBase + nBatch == total,
      s"cells must partition the corpus: $nBase+$nBatch != $total")
    // md5 class targets ~20%; loose band so fixture drift can't flake
    val frac = nBatch.toDouble / total
    assert(frac > 0.10 && frac < 0.35, s"batch fraction $frac out of band")
    // the synthetic fixture has NO distribution shift, so every cell's
    // batch-vs-base quantization error ratio must sit near 10000 bp —
    // a frozen-centroid mis-assignment or a residual-formula bug reads
    // as a large systematic drift
    rows.foreach { r =>
      val drift = r.getLong(6)
      assert(drift > 8000 && drift < 12000,
        s"cell ${r.getInt(0)}: drift $drift bp outside the no-shift band")
    }
  }

  /** Driver-side (d, cid) for every centroid, d = (norm2 + |c|²) − 2<x, float(c)>
    * in the kernel's float-to-double arithmetic order. */
  private def centroidDists(e: Seq[Float], n2: Double,
      cs: Array[Array[Double]]): Array[(Double, Int)] =
    cs.zipWithIndex.map { case (c, i) =>
      val cn = c.map(v => v * v).sum
      var dot = 0.0
      var k = 0
      val n = math.min(e.length, c.length)
      while (k < n) { dot += e(k).toDouble * c(k).toFloat.toDouble; k += 1 }
      (n2 + cn - 2.0 * dot, i)
    }

  test("IVF assignment at nlist=64 is exact argmin (chunked literal expression)") {
    // every vector's cid must equal a driver-side recomputation of
    // min (norm2+|c|^2-2<x,c>, cid): at nlist=64 over the trained
    // quantizer, and over 1030 synthetic centroids (past the old
    // 1024-centroid literal bound — one codebook_nearest at any nlist)
    def check(rows: Array[org.apache.spark.sql.Row],
        cs: Array[Array[Double]]): Unit = {
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val best = centroidDists(r.getSeq[Float](1), r.getDouble(2), cs).min
        assert(r.getInt(3) == best._2, s"vec ${r.getLong(0)}")
      }
    }
    val emb = Vectors.sharedEmb(spark, sf("sf0.01"))
    val cs = Vectors.trainCentroids(emb, nList = 64)
    assert(cs.length == 64)
    val rows = Vectors.withCid(emb, cs)
      .select("vec_id", "embedding", "norm2", "cid").collect()
    val used = rows.map(_.getInt(3)).distinct
    assert(used.length > 4, s"degenerate quantizer: ${used.length} cells used")
    check(rows, cs)
    val syn = Array.tabulate(1030, 64)((i, d) =>
      Vectors.planeSign(i, d).toDouble * ((i % 7) + 1) / 7.0)
    check(Vectors.withCid(Vectors.sharedEmb(spark, dir), syn)
      .select("vec_id", "embedding", "norm2", "cid").collect(), syn)
  }

  test("IVF probe ranking at nlist=64 is the exact top-nprobe (chunked top-k expression)") {
    // each vector's nprobe cids, in order, must equal the driver-side
    // (d, cid) sort's first six: at nlist=64, and at nlist=2048 (the
    // 500-vector fixture's deterministic init caps it at 500 centroids)
    val emb = Vectors.sharedEmb(spark, sf("sf0.01"))
    val byId = emb.select("vec_id", "embedding", "norm2").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Float](1), r.getDouble(2))))
      .toMap
    def check(cs: Array[Array[Double]]): Unit = {
      val nProbe = 6
      val got = emb.select(col("vec_id"), Vectors.ivfNearest(cs, nProbe))
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
      got.foreach { case (id, cids) =>
        val (e, n2) = byId(id)
        val want = centroidDists(e, n2, cs).sorted.take(nProbe).map(_._2).toSeq
        assert(cids == want, s"vec $id")
      }
      val probes = Vectors.probesOf(emb, cs, nProbe).select("qid", "cid")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(probes === got.flatMap { case (id, cids) => cids.map((id, _)) }.toSet)
      assert(probes.size === 500 * nProbe)
    }
    check(Vectors.trainCentroids(emb, nList = 64))
    val capped = Vectors.trainCentroids(emb, nList = 2048)
    assert(capped.length === 500)
    check(capped)
  }

  test("semantic dedup equals union-find over within-cell tau pairs") {
    val out = Vectors.qSemanticDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    // ground truth: same cells (the shared quantizer is the operator's
    // own contract), brute-force cosine, union-find contraction
    val assigned = Vectors.ivfAssigned(spark, dir)
      .select("vec_id", "cid", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    assert(out.map(_._1).toSeq === assigned.map(_._1).toSeq.sorted)
    def cos(x: Array[Double], y: Array[Double]) = {
      val d = x.zip(y).map { case (a, b) => a * b }.sum
      d / (math.sqrt(x.map(a => a * a).sum) * math.sqrt(y.map(a => a * a).sum))
    }
    val parent = scala.collection.mutable.Map(
      assigned.map(v => (v._1, v._1)): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(x: Long, y: Long): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    assigned.groupBy(_._2).values.foreach { cell =>
      for (i <- cell.indices; j <- i + 1 until cell.length)
        if (cos(cell(i)._3, cell(j)._3) >= 0.25 - 1e-12)
          union(cell(i)._1, cell(j)._1)
    }
    // label = min id of the union-find class, exactly
    out.foreach { case (id, _, group, keep) =>
      assert(group == find(id), s"vec $id")
      assert(keep == (if (group == id) 1 else 0))
    }
    // non-vacuous both ways on this fixture
    assert(out.exists(_._4 == 0), "no semantic duplicate found")
    assert(out.count(_._4 == 1) < out.length)
    assert(out.exists(v => v._4 == 1 && out.exists(w => w._3 == v._1 && w._1 != v._1)),
      "no multi-member group")
  }

  test("minhash-lsh pairs are a subset of exact jaccard>=0.7 and nonempty") {
    val exact = Similarity.shingles(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val got = Similarity.qMinhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case (a, b, jac) =>
      val (sa, sb) = (exact(a), exact(b))
      val common = (sa & sb).size
      val trueJac = common.toDouble / (sa.size + sb.size - common)
      assert(math.abs(trueJac - jac) < 1e-9)
      assert(trueJac >= 0.7)
    }
  }

  test("bitext mining: mined pairs are cross-label with margin >= 1, margin is the stated ratio") {
    val rows = Vectors.qBitextMining(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty, "fixture must mine some pairs")
    rows.foreach { r =>
      assert(r.getInt(0) !== r.getInt(1), "same-label pair leaked")
      assert(r.getLong(2) < r.getLong(3), "pair not canonical")
      assert(r.getDouble(5) >= 1.0, "margin below threshold")
    }
    // margin must be scale-relative, not absolute: some mined pair's raw
    // sim sits below the global max sim (a pure threshold would order
    // them identically; the ratio test must not)
    val margins = rows.map(r => (r.getDouble(4), r.getDouble(5)))
    val byMargin = margins.sortBy(-_._2).map(_._1).toSeq
    val bySim = margins.sortBy(-_._1).map(_._1).toSeq
    assert(byMargin !== bySim, "margin ordering degenerated to raw sim")
  }

  test("MMR rerank: picks distinct per query, pick 1 = top-1, diversity does work") {
    val dir = sf("sf0.001")
    val rows = Vectors.qMmrRerank(spark, dir).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val picks = rs.sortBy(_.getInt(1))
      assert(picks.map(_.getInt(1)).toSeq === (1 to picks.length), s"q=$q")
      assert(picks.map(_.getLong(2)).distinct.length === picks.length,
        s"q=$q picked a duplicate")
    }
    // pick 1 must be the plain similarity argmax
    val top1 = Vectors.qCosineAnn(spark, dir).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    byQ.foreach { case (q, rs) =>
      assert(rs.find(_.getInt(1) == 1).map(_.getLong(2)) === top1.get(q))
    }
    // the redundancy penalty must reorder SOMETHING vs plain top-3
    val top3 = Vectors.qCosineAnn(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).take(3).toSeq }
    val mmr3 = byQ.map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    assert(mmr3.exists { case (q, picks) => top3.get(q).exists(_ != picks) },
      "MMR never diverged from plain top-3 — penalty inert")
  }

  test("filtered ANN: post-filter collapses on a label-correlated fixture, pre-filter doesn't") {
    import spark.implicits._
    // the collapse mechanism, isolated: each query's unfiltered top-12
    // are all label-0 near-twins (sims .99 down to .88), and the three
    // qualifying label-3 candidates sit below them (.50/.49/.48). The
    // post-filter plan truncates at overK=10 BEFORE filtering — zero
    // qualifying survivors; the pre-filter plan ranks only qualifying
    // candidates and recovers all three
    val sims = (0L until 4L).flatMap { q =>
      val dominant = (0 until 12).map(i =>
        (q, 100L + q * 100 + i, 0.99 - 0.01 * i, 0))
      val qualifying = (0 until 3).map(i =>
        (q, 200L + q * 100 + i, 0.50 - 0.01 * i, 3))
      dominant ++ qualifying
    }.toDF("qid", "nid", "sim", "nlabel")
    val truth = sims.filter(col("nlabel") === 3).select("qid", "nid")
    val (pre, post) = Vectors.prePostFromSims(sims, k = 3, overK = 10,
      predLabel = 3)
    val row = Vectors.filteredRecallRow(truth, pre, post).collect().head
    assert(row.getLong(0) === 4L && row.getLong(1) === 12L, row.toString)
    assert(row.getLong(4) === 10000L,
      s"pre-filter should recover every qualifying neighbor: $row")
    assert(row.getLong(5) === 0L,
      s"post-filter should collapse to zero under the dominant block: $row")
    // r20: the fused single-pass hits frame (running-sum ranks) must
    // reproduce the two-frame sets exactly — the registered
    // q_ann_filtered rides the fused path
    val hits = Vectors.prePostHits(sims, k = 3, overK = 10, predLabel = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3))).toSet
    val preSet = pre.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val postSet = post.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.filter(_._3 == 1).map(t => (t._1, t._2)) === preSet)
    assert(hits.filter(_._4 == 1).map(t => (t._1, t._2)) === postSet)
    val rowF = Vectors.filteredRecallRowHits(truth,
      Vectors.prePostHits(sims, k = 3, overK = 10, predLabel = 3))
      .collect().head
    assert(rowF.toSeq === row.toSeq)
  }

  test("retrieval MRR: exact-fraction invariants hold and the metric is deterministic") {
    val r = Vectors.qRetrievalMrr(spark, dir).collect().head
    val (n, h1, hk, num, bp) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    assert(n > 0 && h1 <= hk && hk <= n, r.toString)
    // each top-10 hit contributes between 2520/10 and 2520/1 to the
    // lcm-scaled numerator — the exact-arithmetic envelope
    assert(num >= 252 * hk && num <= 2520 * hk, r.toString)
    assert(bp === num * 10000 / (n * 2520))
    val again = Vectors.qRetrievalMrr(spark, dir).collect().head
    assert(r.toSeq === again.toSeq)
  }

  test("filtered ANN on the fixture: pre-filter recall >= post-filter recall, both sane") {
    val row = Vectors.qAnnFiltered(spark, dir).collect().head
    val (nq, nt) = (row.getLong(0), row.getLong(1))
    val (preBp, postBp) = (row.getLong(4), row.getLong(5))
    assert(nq === 64L && nt === 192L, row.toString)
    assert(preBp >= postBp,
      s"pre-filter must dominate post-filter at equal probes: $row")
    assert(preBp >= 1500L,
      s"pre-filter recall collapsed below the measured floor: $row")
    // determinism across runs
    val again = Vectors.qAnnFiltered(spark, dir).collect().head
    assert(row.toSeq === again.toSeq)
  }

  test("SQ8 recall: dequantized scoring recovers what the naive integer dot loses") {
    val row = Vectors.qSq8Recall(spark, sf("sf0.01")).collect().head
    val (intBp, deqBp) = (row.getLong(4), row.getLong(5))
    info(s"SQ8 recall: int=$intBp bp, dequantized=$deqBp bp")
    // dequantized 8-bit codes lose almost nothing (measured 9800 bp at
    // sf0.01); the naive affine-code dot is structurally broken on
    // near-zero cosines (measured 660 bp) — the floor and the gap pin
    // both claims against knob/fixture drift
    assert(deqBp >= 9000L, s"dequantized SQ8 recall collapsed: $row")
    assert(deqBp >= intBp + 2000L,
      s"the affine-correction gap vanished — scoring change?: $row")
  }

  test("whitening flattens the covariance: after-ratio collapses vs before") {
    val row = Vectors.qEmbWhitening(spark, sf("sf0.01")).collect().head
    val (before, after) = (row.getLong(3), row.getLong(6))
    info(s"off/diag mass ratio: before=$before bp, after=$after bp")
    // measured 11300 bp -> 0 bp on the fixture; the floors pin that the
    // trained transform actually whitens, not just that it runs
    assert(before >= 1000L, s"fixture lost its anisotropy: $row")
    assert(after <= 100L, s"whitening failed to flatten covariance: $row")
  }

  test("RRF fusion: integer reciprocal surrogate invariants hold per row") {
    val rows = Vectors.qRrfFusion(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rrf, rkCos, rkHam) =
        (r.getLong(3), r.getInt(4), r.getInt(5))
      assert(rrf === 1000000000000L / (60 + rkCos)
        + 1000000000000L / (60 + rkHam), r.toString)
    }
    // every query contributes exactly 3 fused results
    val perQ = rows.groupBy(_.getLong(0)).values.map(_.length).toSet
    assert(perQ === Set(3), s"per-query fused counts: $perQ")
  }

  test("RRF top-3 pre-filter (least(rk) <= 65) is output-identical to the unfiltered form") {
    // r21: qRrfFusion drops rows with BOTH ranks >= 66 before the fusion
    // window (provably outside any top 3 — see the proof in qRrfFusion).
    // Pin the equivalence against the definitional unfiltered form.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.01")
    val base = Vectors.hamSims(spark, dir)
    val wA = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    val wB = Window.partitionBy("qid").orderBy(asc("ham"), asc("nid"))
    val wF = Window.partitionBy("qid").orderBy(desc("rrf"), asc("nid"))
    val ranked = base
      .withColumn("rk_cos", row_number().over(wA))
      .withColumn("rk_ham", row_number().over(wB))
    // non-vacuous: some qid group is larger than the bound (65 = k +
    // 2·top − 1 at k = 60, top = 3) and the filter really drops rows
    val preBound = 65
    val maxGroup = base.groupBy("qid").count().agg(max("count")).head().getLong(0)
    assert(maxGroup > preBound, s"largest qid group has $maxGroup rows")
    assert(ranked.filter(least(col("rk_cos"), col("rk_ham")) > preBound)
      .count() > 0, "the pre-filter drops no row")
    val unfiltered = ranked
      .withColumn("rrf", expr(
        "cast(1000000000000L div (60L + rk_cos) " +
          "+ 1000000000000L div (60L + rk_ham) as bigint)"))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("nid"), col("rrf"),
        col("rk_cos"), col("rk_ham"))
      .orderBy("qid", "rank").collect().toSeq
    val filtered = Vectors.qRrfFusion(spark, dir).collect().toSeq
    assert(filtered === unfiltered)
  }
}
