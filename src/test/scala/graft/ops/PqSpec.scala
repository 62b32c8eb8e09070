package graft.ops

import graft.SparkSpec

/** Product quantization (q_pq_recall): codebook shape/finiteness, nibble
  * codes in range, and the measured recall floor. The ADC arithmetic
  * itself is gated end-to-end by the DuckDB oracle (reconstruction from
  * the exported codes/books + sequential-fold sims); these pins catch
  * training-side regressions the export gate can't see. */
class PqSpec extends SparkSpec {

  test("codebooks are 8x16x8, finite, and distinct per subspace") {
    val books = Vectors.pqBooks(spark, sf("sf0.001"))
    assert(books.length === 8)
    books.foreach { sub =>
      assert(sub.length === 16)
      sub.foreach { cw =>
        assert(cw.length === 8)
        cw.foreach(v => assert(!v.isNaN && !v.isInfinite))
      }
      // Lloyd rounds must have separated the 16 codewords (collapsed
      // codebooks would silently destroy recall)
      assert(sub.map(_.toSeq).distinct.length === 16,
        "duplicate codewords in a subspace")
    }
  }

  test("codes are nibbles: every c0..c7 in [0, 16)") {
    val codes = Vectors.pqCodes(spark, sf("sf0.001"))
    val mm = codes.selectExpr(
      "least(c0,c1,c2,c3,c4,c5,c6,c7) AS lo",
      "greatest(c0,c1,c2,c3,c4,c5,c6,c7) AS hi")
      .selectExpr("min(lo)", "max(hi)").head()
    assert(mm.getInt(0) >= 0 && mm.getInt(1) < 16)
  }

  test("residual encoding: recon MSE drops centroid-only -> full decode") {
    // the residual-path pin (Jégou §IV): decoding centroid + codeword
    // must reconstruct strictly better than the centroid alone, which
    // must beat the zero vector — a disconnect anywhere (codes built on
    // raw vectors, wrong centroid joined, codeword lookup off by one)
    // collapses one of the gaps. Driver-side arithmetic over the tiny
    // sf0.001 corpus.
    val dir = sf("sf0.001")
    val books = Vectors.pqBooks(spark, dir)
    val cents = Vectors.ivfCentroids(spark, dir)
    val emb = graft.Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val codes = Vectors.pqCodes(spark, dir).collect()
    var (mseFull, mseCent, mseZero) = (0.0, 0.0, 0.0)
    codes.foreach { r =>
      val x = emb(r.getLong(0))
      val cid = r.getInt(1)
      val recon = Array.tabulate(64) { d =>
        cents(cid)(d) + books(d / 8)(r.getInt(2 + d / 8))(d % 8)
      }
      (0 until 64).foreach { d =>
        val ef = x(d) - recon(d); mseFull += ef * ef
        val ec = x(d) - cents(cid)(d); mseCent += ec * ec
        mseZero += x(d) * x(d)
      }
    }
    assert(mseFull < 0.8 * mseCent,
      s"codes add no information: full=$mseFull cent=$mseCent")
    assert(mseCent < mseZero,
      s"coarse quantizer adds no information: cent=$mseCent zero=$mseZero")
  }

  test("trainSample: identity below the cap, deterministic md5 stratum above it") {
    val dir = sf("sf0.01")
    val emb = graft.Tables(spark, dir, "embeddings").select("vec_id")
    val n = emb.count()
    assert(n > 128, s"fixture too small for the sampling test: $n")
    // below the cap: the sample IS the corpus (small-SF hashes unchanged)
    assert(Vectors.trainSample(emb, n.toInt + 1).count() === n)
    // above the cap: size lands near the target, content is stable
    val s1 = Vectors.trainSample(emb, 256).orderBy("vec_id")
      .collect().map(_.getLong(0)).toSeq
    val s2 = Vectors.trainSample(emb, 256).orderBy("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(s1 === s2, "sample not deterministic")
    assert(s1.size >= 180 && s1.size <= 320,
      s"md5 stratum badly sized: ${s1.size} for target 256 of $n")
    // sampled-vs-full centroid drift is bounded: train the coarse
    // quantizer on the 256-cap stratum (~16 vectors per centroid) and
    // compare to full training
    val full = Vectors.ivfCentroids(spark, dir)
    val sampled = Vectors.trainCentroids(Vectors.sharedEmb(spark, dir),
      trainMax = 256)
    // the pin is QUANTIZER QUALITY, not centroid identity: on this
    // structureless fixture individual centroids wander freely under
    // resampling (norms ~0.3 vs vector norms 1), but the mean
    // distance-to-assigned-centroid — the thing Lloyd minimizes and
    // the thing probes/recall depend on — must stay within a few
    // percent of full-corpus training or the sample is too small/
    // biased to stand in for the corpus
    val xs = graft.Tables(spark, dir, "embeddings").select("embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def meanQuantErr(cs: Array[Array[Double]]): Double =
      xs.map { x =>
        cs.map(c => x.zip(c).map { case (a, b) =>
          (a - b) * (a - b) }.sum).min
      }.sum / xs.length
    val (qf, qs) = (meanQuantErr(full), meanQuantErr(sampled))
    assert(qs <= 1.10 * qf,
      s"sampled training degraded the quantizer: full=$qf sampled=$qs")
  }

  test("planted-fixture recall floor BINDS (r15 verdict #4)") {
    // the near-orthogonal corpus floors (0.235/0.41) can't distinguish a
    // residual-PQ regression from noise; the planted-cluster fixture can:
    // measured recall is 1.0000 (768/768) — twins get near-unique code
    // vectors because the coarse centroid absorbs the cluster structure
    // and the residual books spend all capacity on group offsets. A
    // raw-vector-training regression collapses same-cluster vectors onto
    // shared codes (recall → ~3/128 ≈ 0.023); a decode bug (dropped
    // centroid term) ranks by noise (recall → ~0). Floor at 0.90 leaves
    // margin for knob drift while catching every failure mode by a mile.
    val r = Vectors.qPqPlanted(spark, sf("sf0.001")).head()
    assert(r.getLong(0) === 256L, "query count drifted")
    assert(r.getLong(1) === 768L, "truth pair count drifted")
    assert(r.getLong(3) >= 9000L,
      s"planted recall ${r.getLong(3)}bp below the binding floor")
  }

  test("OPQ rotation lifts recall on the low-rank fixture (r15 verdict #6)") {
    // rank-4 latent mixed densely across all 64 coordinates = maximal
    // cross-subspace correlation, PQ's blind spot. Measured: plain
    // residual PQ 7070bp, OPQ 8359bp (+12.9 points). The gate demands a
    // REAL lift (not just parity) plus absolute floors with margin; the
    // alternation's monotone-distortion property makes the lift stable
    // under knob drift.
    val r = Vectors.qOpqRecall(spark, sf("sf0.001")).head()
    val (pq, opq) = (r.getLong(4), r.getLong(5))
    assert(pq >= 6000L, s"plain-PQ recall ${pq}bp collapsed")
    assert(opq >= 7500L, s"OPQ recall ${opq}bp below floor")
    assert(opq >= pq + 500L,
      s"OPQ lift vanished: pq=${pq}bp opq=${opq}bp")
  }

  test("recall floor on the near-orthogonal worst case") {
    val r = Vectors.qPqRecall(spark, sf("sf0.001")).head()
    val (np, nh, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nh >= 0 && nh <= np)
    assert(bp === nh * 10000L / np, "recall_bp arithmetic drifted")
    // residual codes measured 0.235 at sf0.01 / 0.259 at sf0.001 (raw
    // codes were 0.205 — see qPqRecall scaladoc); floor below the
    // measurement so machine-independent, above both chance AND the
    // raw-code era so a residual-path disconnect fails here
    assert(bp >= 2200, s"PQ recall collapsed: $bp bp")
  }

  test("IVFADC: stage arithmetic, rerank lift, and recall floors") {
    val r = Vectors.qIvfAdc(spark, sf("sf0.001")).head()
    val np = r.getLong(1)
    val (adcH, adcBp) = (r.getLong(2), r.getLong(3))
    val (rrH, rrBp) = (r.getLong(4), r.getLong(5))
    assert(adcH >= 0 && adcH <= np && rrH >= 0 && rrH <= np)
    assert(adcBp === adcH * 10000L / np, "adc_recall_bp arithmetic drifted")
    assert(rrBp === rrH * 10000L / np, "rr_recall_bp arithmetic drifted")
    // the exact rerank of the 10-deep ADC shortlist beats the raw
    // compressed-domain top-3 on the fixture (sf0.001: 2066 -> 3926 bp);
    // not a theorem (the IVF and LSH candidate sets differ) but a stable
    // fixture fact — a regression here means a stage got disconnected
    assert(rrH >= adcH, s"rerank lost recall: adc=$adcH rr=$rrH")
    // floors below the residual-code measurements (sf0.001 adc 2066 /
    // rr 3926; sf0.01 1826 / 4060), above the raw-code era (1853/3913
    // at its best) isn't achievable for adc on this fixture — the floor
    // guards collapse, the residual path itself is pinned by the MSE
    // drop asserted below and by q_pq_recall's raised floor
    assert(adcBp >= 1700, s"ADC recall collapsed: $adcBp bp")
    assert(rrBp >= 3400, s"reranked recall collapsed: $rrBp bp")
  }
}
