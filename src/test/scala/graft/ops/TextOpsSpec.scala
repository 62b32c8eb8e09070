package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** In-JVM checks for the text-analysis signals beyond the DuckDB gate. */
class TextOpsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("repetition signals are bounded, non-vacuous, and match brute force") {
    val out = TextOps.qTextRepetition(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, top, d2, d3) =>
      assert(n >= 2)
      assert(top > 0 && top <= 1.0)
      assert(d2 >= 0 && d2 <= 1.0)
      assert(d3 >= 0 && d3 <= 1.0)
      // a repeated bigram implies the top bigram repeats
      if (d2 > 0) assert(top >= 2.0 / n)
    }
    // the fixture's docs share and repeat phrase blocks — the signal must
    // actually fire somewhere or the operator is vacuous on this corpus
    assert(out.exists(_._4 > 0), "no doc with a repeated bigram")

    // brute-force ground truth for every doc
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty)
      if (t.length < 3) None
      else {
        def fracs(k: Int) = {
          val counts = t.sliding(k).filter(_.length == k).map(_.mkString(" "))
            .toSeq.groupBy(identity).map(_._2.size)
          val total = counts.sum.toDouble
          (counts.sum.toLong, counts.max / total,
            counts.filter(_ > 1).sum / total)
        }
        val (n2, top2, dup2) = fracs(2)
        val (_, _, dup3) = fracs(3)
        Some(id -> ((n2, top2, dup2, dup3)))
      }
    }.toMap
    assert(out.length === expect.size)
    out.foreach { case (id, n, top, d2, d3) =>
      val (en, etop, ed2, ed3) = expect(id)
      assert(n === en, s"doc $id n")
      assert(math.abs(top - etop) < 1e-12, s"doc $id top")
      assert(math.abs(d2 - ed2) < 1e-12, s"doc $id dup2")
      assert(math.abs(d3 - ed3) < 1e-12, s"doc $id dup3")
    }
  }

  test("tfidf keywords: 3 per doc, rarity beats frequency at equal tf") {
    val rows = TextOps.qTfidfKeywords(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (id, ks) =>
      assert(ks.map(_._2).sorted.toSeq === Seq(1, 2, 3), s"doc $id ranks")
      // scores nonincreasing in rank
      val byRank = ks.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // score formula holds exactly: tf * N / df
    val n = graft.Tables(spark, dir, "documents").count()
    rows.foreach { case (_, _, _, score, tf, df) =>
      assert(score === tf.toDouble * n / df)
    }
  }

  test("ngram novelty matches brute-force bigram document frequencies") {
    val out = TextOps.qNgramNovelty(spark, dir).collect()
      .map(r => (r.getLong(0),
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))))
      .toMap
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bigrams(text: String): Set[String] = {
      val t = text.split("\\s+").filter(_.nonEmpty)
      t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val perDoc = docs.map { case (id, t) => (id, bigrams(t)) }
      .filter(_._2.nonEmpty).toMap
    val dfc = perDoc.values.flatten.groupBy(identity).map { case (b, o) => (b, o.size.toLong) }
    assert(out.keySet === perDoc.keySet)
    perDoc.foreach { case (id, bs) =>
      val (nDistinct, support, nNovel, novelty) = out(id)
      assert(nDistinct == bs.size)
      assert(support == bs.toSeq.map(dfc).sum)
      assert(nNovel == bs.count(dfc(_) == 1L))
      assert(novelty == nNovel.toDouble / nDistinct)
    }
    // corpus must exercise both regimes or the signal is vacuous here
    assert(out.values.exists(_._4 > 0.0))
    assert(out.values.exists(_._4 < 1.0))
  }

  test("incremental dedup classifies batch docs exactly as brute force") {
    val out = TextOps.qDedupIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val cut = docs.map(_._1).max * 4 / 5
    val corpus = docs.filter(_._1 <= cut).map(_._2).toSet
    val batch = docs.filter(_._1 > cut)
    assert(out.map(_._1).toSeq.sorted === batch.map(_._1).toSeq.sorted)
    val firstInBatch = batch.groupBy(_._2).map { case (h, ds) =>
      (h, ds.map(_._1).min)
    }
    out.foreach { case (id, h, status) =>
      val expect =
        if (corpus.contains(h)) "dup_of_corpus"
        else if (id > firstInBatch(h)) "dup_in_batch"
        else "new"
      assert(status == expect, s"doc $id")
    }
    // every batch doc classified exactly once, and 'new' docs are unique
    val newHashes = out.filter(_._3 == "new").map(_._2)
    assert(newHashes.distinct.length == newHashes.length)
    assert(out.exists(_._3 == "new"))
  }

  test("winnow stop-fingerprint cap: both cap sites apply their maxDf") {
    // default cap: both derived tables non-empty on the fixture
    assert(TextOps.winnowPairs(spark, dir).limit(1).count() == 1)
    assert(TextOps.winnowMatches(spark, dir).limit(1).count() == 1)
    // cap=1 makes the df filter (2 <= df <= maxDf) unsatisfiable — BOTH
    // builders must go empty, pinning that each site applies the cap it
    // is given (a hardcoded 50 at either site would keep that table
    // non-empty)
    assert(TextOps.winnowPairsOf(spark, dir, maxDf = 1).count() == 0)
    assert(TextOps.winnowMatchesOf(spark, dir, maxDf = 1).count() == 0)
  }

  test("lm surprisal bits match the hand computation") {
    import spark.implicits._
    // occurrences: d1 = (a,b),(b,a),(a,b); d2 = (a,x); d3 single token
    // counts: c2(a,b)=2, c2(b,a)=1, c2(a,x)=1; c1(a)=3, c1(b)=1
    // bits: (a,b) -> 3 div 2 = 1 -> 0; (b,a) -> 1 -> 0; (a,x) -> 3 -> 1
    val docs = Seq((1L, "a b a b"), (2L, "a x"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.surprisal(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 3L, 0L, 0L), (2L, 1L, 1L, 100L)))
    // doc 3 has no bigrams and is absent, like the oracle's len>=2 filter
  }

  test("zipf fit equals a driver-side exact recompute; slope non-positive") {
    val dir = sf("sf0.01")
    val r = TextOps.qZipfFit(spark, dir).head()
    val (n, num, den) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // independent recompute: token freqs -> (rank,freq) log2 bits -> OLS
    import org.apache.spark.sql.functions._
    val freqs = graft.Tables(spark, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect()
      .map(row => (row.getString(0), row.getLong(1)))
      .sortBy { case (t, f) => (-f, t) }
    def bits(v: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(v)
    val pts = freqs.zipWithIndex.map { case ((_, f), i) =>
      (bits(i + 1L), bits(f))
    }
    val nn = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    assert((n, num, den) ===
      ((nn, nn * sxy - sx * sy, nn * sxx - sx * sx)))
    assert(den > 0 && num <= 0, s"slope $num/$den not non-positive")
  }

  test("exact substring dedup finds planted sub-guarantee duplicates the winnow path provably misses") {
    import org.apache.spark.unsafe.types.UTF8String
    // registered winnow knobs: k=12, w=8 → detection GUARANTEED only for
    // shared substrings of length >= k+w-1 = 19 (Schleimer'03 §3), and
    // winnowChainBlocks additionally requires >= 4 matched fingerprints
    // per chain. An 18-char duplicate carries only 7 shared k-grams, of
    // which the REAL selection kernel (executed here) picks exactly 3 in
    // both hosts — strictly below the chain threshold, so
    // qSubstringDedup provably reports NOTHING for the pair, while the
    // exact operator must report the span definitionally.
    val (k, w) = (12, 8)
    val chainMin = 4 // winnowChainBlocks' n_matches >= 4 filter
    val dup = "THE-PLANTED-SPAN18"
    assert(dup.length === 18 && 18 < k + w - 1)
    def ctx(seed: Long, n: Int): String = {
      val sb = new StringBuilder
      var z = seed * 0x9E3779B97F4A7C15L + 0x94D049BB133111EBL
      for (_ <- 0 until n) {
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        sb += ('a' + ((z >>> 33) % 26).toInt).toChar
      }
      sb.toString
    }
    def fps(s: String): Set[Long] =
      graft.functions.Winnow.fingerprints(UTF8String.fromString(s), k, w)
        .toLongArray().toSet
    val found = (0 until 200).iterator.map { seed =>
      (ctx(seed, 120) + dup + ctx(seed + 1000, 120),
        ctx(seed + 2000, 120) + dup + ctx(seed + 3000, 120))
    }.find { case (a, b) => (fps(a) intersect fps(b)).size < chainMin }
    assert(found.isDefined,
      "no seed yielded a sub-chain-threshold duplicate — selection " +
        "density changed; re-derive the guarantee floor")
    val (a, b) = found.get
    val df = spark.createDataFrame(Seq((1L, a), (2L, b)))
      .toDF("doc_id", "text")
    val spans = TextOps.exactDupSpans(df, 16).collect()
    // exactly the planted block in BOTH docs: L=16 windows at positions
    // 120..122 → merged span [120, 138), nothing from the unique context
    assert(spans.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    spans.foreach { r =>
      assert(r.getInt(1) === 120 && r.getInt(2) === 138 &&
        r.getLong(3) === 3L, r.toString)
    }
  }

  test("exact substring dedup: a ~10^4x-hot window group stays bounded (r16 verdict)") {
    // license-header pathology in miniature: one 16-char block repeated
    // back-to-back 10^4 times makes every window string ~10^4-hot (16
    // distinct window strings by offset mod 16, ~10^4 occurrences
    // each). The old collect_list materialized each group as ONE
    // aggregation-buffer list; the windowed count must produce the
    // identical definitional answer — the whole doc is one covered
    // span — through the spill-safe path, and a unique-context doc
    // beside it must report nothing
    val reps = 10000
    val block = "abcdefghijklmnop"
    assert(block.length === 16)
    val hot = block * reps
    val unique = {
      val sb = new StringBuilder
      var z = 0x51AB17C9L
      for (_ <- 0 until 4096) {
        z = z * 6364136223846793005L + 1442695040888963407L
        sb += ('a' + ((z >>> 35) % 26).toInt).toChar
      }
      sb.toString
    }
    val df = spark.createDataFrame(Seq((1L, hot), (2L, unique)))
      .toDF("doc_id", "text")
    val spans = TextOps.exactDupSpans(df, 16).collect()
    assert(spans.length === 1, spans.mkString("; "))
    val r = spans.head
    assert(r.getLong(0) === 1L)
    assert(r.getInt(1) === 0 && r.getInt(2) === hot.length, r.toString)
    assert(r.getLong(3) === (hot.length - 16 + 1).toLong)
  }

  test("BM25: 8 query docs, each retrieved inside its own top-5") {
    val rows = TextOps.qBm25(spark, sf("sf0.01")).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size === 8, s"expected 8 query docs, got ${byQ.size}")
    byQ.foreach { case (qid, rs) =>
      // every query's own doc must appear in its top-5 (its terms came
      // from that doc; only near-duplicates can outrank it, measured
      // self-ranks 1..3 on the fixture)
      assert(rs.exists(r => r.getLong(2) == qid),
        s"query doc $qid missing from its own top-5")
      // ranks are 1..k with scores non-increasing
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to rs.length).toSeq)
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"scores not non-increasing for $qid")
      // term evidence is 1..3 terms by construction
      assert(rs.forall(r => r.getLong(4) >= 1 && r.getLong(4) <= 3))
    }
  }

  test("token entropy: zero bits iff a single distinct token") {
    val rows = TextOps.qTokenEntropy(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, bits, share) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(bits >= 0L, r.toString)
      assert(share >= 0L && share <= 10000L, r.toString)
      if (nd == 1L) assert(bits === 0L && share === 10000L, r.toString)
      else assert(bits > 0L || share < 10000L, r.toString)
    }
  }
}
