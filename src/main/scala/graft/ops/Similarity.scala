package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Near-duplicate detection over `documents`: exact shingle-Jaccard with
  * PPJoin-style prefix filtering, banded MinHash-LSH, and SimHash with
  * chunk banding. The reference has no similarity operators (SURVEY.md
  * §2.4); these are the training-data-curation ops the rebuild adds,
  * following the banded-join pattern of V-SMART-Join (PAPERS.md) rather
  * than any O(n²) cross join.
  *
  * Scale design, per operator:
  *  - exact Jaccard: representative-first — exact-dup clusters collapse
  *    to one rep before candidate generation (a k-dup cluster costs k
  *    rows, not k² hot-bucket pairs), candidates come from PREFIX
  *    shingles only (global rarity order: provably complete for the
  *    threshold, skips exactly the hot high-df shingles), pairs expand
  *    back to members by identity;
  *  - MinHash-LSH: shuffle key is (band, signature) — equal-signature
  *    buckets only, never all pairs;
  *  - SimHash: shuffle key is (chunk index, 16-bit chunk) — by pigeonhole
  *    any pair within Hamming distance 3 shares one of 4 chunks, so the
  *    banding is exact (recall 1.0) for the ≤3 threshold.
  *
  * Every multiply-consumed heavy subtree (shingles, clusters, bucket
  * tables) is [[materialize]]d once to session-temp parquet — round 2's
  * replicated plans re-read the corpus up to 17× per query.
  */
object Similarity {

  /** See [[graft.Tables.materialize]] — single computation of a
    * multiply-consumed subtree via session-temp parquet. */
  private def materialize(df: DataFrame, tag: String): DataFrame =
    Tables.materialize(df, tag)

  /** Word 3-shingles, one row per distinct (doc_id, shingle).
    * Deduplication happens ROW-LOCALLY via array_distinct before the
    * explode — per-doc shingle dedup needs no shuffle. Consumers that fan
    * this into several branches should [[materialize]] it first.
    * Takes the docs FRAME (not the dir) so callers restrict the corpus
    * (survivors, representatives) BEFORE the tokenize+explode — filtering
    * after the explode pays the heaviest op on rows that are dropped. */
  def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")))
        .as("shingle"))

  def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables(spark, dir, "documents"))

  /** FULL-corpus shingle table, session-shared (dir-keyed, content-stable)
    * and built in [[graft.SparkEntry.prewarm]]: the heaviest subtree of
    * q_minhash_lsh — tokenize + explode of every document — runs once per
    * corpus version, like the survivor shingles the dedup family shares
    * (BENCH_r05 charged a per-query rebuild 16 s to q_minhash_lsh). */
  private[graft] def corpusShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "shingles", dir)(shingles(spark, dir))

  /** Exact-dup cluster membership (doc_id, rep, lang, n_chars), rep = min
    * doc_id of the md5(text) group — session-shared: q_jaccard_pairs
    * consumes it three times (rep filter + both member-expansion joins)
    * and q_dedup_pipeline's survivors are exactly its rep rows, so the
    * corpus-wide content-hash window runs once per corpus version instead
    * of once per consumer (Debug timeq: each per-query rebuild cost ~1s
    * of the 3.2s/2.6s warm steady state). */
  private[graft] def docClusters(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark,
      "clusters", dir)(Tables(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          min(col("doc_id")).over(Window.partitionBy(md5(col("text"))))
            .as("rep")))

  /** Shingle table of the exact-dedup SURVIVORS (= representatives: min
    * doc_id per md5(text) group), shared across the whole dedup family via
    * [[graft.Tables.materializeSharedBy]] — q_jaccard_pairs' reps and
    * q_dedup_pipeline's survivors are the same set, so the heavy
    * tokenize+explode runs once per session. */
  private[graft] def survivorShingles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val ids = docClusters(spark, dir)
      .filter(col("doc_id") === col("rep")).select("doc_id")
    Tables.materializeSharedBy(spark, "shsurv", dir)(shinglesOf(docs.join(ids, "doc_id")))
  }

  /** Per-survivor shingle counts (doc_id, n) — tiny, content-stable, and
    * consumed per q_jaccard_pairs run for the within-cluster expansion:
    * shared so the count agg over the ~shingle-table-sized input runs
    * once per corpus version instead of per query. */
  private[graft] def survivorSizes(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark,
      "shsurvsz", dir)(survivorShingles(spark, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n")))

  /** Connected components of the verified near-dup pair graph — the
    * cluster labeling is a corpus-keyed derived table like the pairs it
    * is built from, so the O(log n)-round star-contraction loop runs
    * once per corpus version (built BY-NAME: the loop executes jobs at
    * construction, so the strict share would re-run it on every reuse). */
  private[graft] def dupComponents(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "dupcc", dir)(
      Graph.connectedComponents(
        survivorPairs(spark, dir).select("doc_a", "doc_b"), s"dup:$dir"))

  private[graft] val NearDupT = 0.8
  /** Verified near-dup pairs among the survivor corpus at J >= [[NearDupT]]
    * — (doc_a, doc_b, common, jac), the shared HEART of the dedup family:
    * q_jaccard_pairs expands these rep pairs back to cluster members;
    * q_dedup_pipeline drops every doc_b. The full prefix-filter +
    * candidate-join + exact-verify pipeline runs once per session
    * ([[graft.Tables.materializeSharedBy]]); the result is tiny (pair rows),
    * so the share costs one small parquet write.
    *
    * BY-NAME share: restrictSets=true materializes the candidate set
    * eagerly during construction (a write job) — the strict variant
    * evaluated that outside the holder lock, so concurrent callers
    * (bench's overlapped warmup) raced on the cand intermediate's
    * per-tag GC. */
  private[graft] def survivorPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "survpairs", dir) {
      val sh = survivorShingles(spark, dir)
      verifyJaccard(bucketPairs(prefixKeys(sh, NearDupT), Seq("sh_h")),
        sh, NearDupT, restrictSets = true, matTag = s"cand:$dir")
        .select("doc_a", "doc_b", "common", "jac")
    }

  /** Two candidate-pair generators over a bucketed (doc_id, bucket-key)
    * table, picked per caller by the expected bucket-size distribution
    * (interleaved A/B at sf0.1, 5 rounds each):
    *
    *  - [[bucketPairs]]: groupBy + row-local pair explosion — ONE shuffle
    *    of the bucket table. A bucket of k docs emits k(k-1)/2 pairs from
    *    one row, so it wants BOUNDED buckets; wins when the corpus has no
    *    exact-dup clusters (q_dedup_pipeline, post-exact-dedup: 4.9s vs
    *    6.4s).
    *  - [[bucketPairsJoin]]: materialize the bucket table, equi-self-join
    *    on the bucket key — two scans, but hot buckets distribute across
    *    the hash join instead of concentrating in one aggregation row;
    *    wins when exact-dup clusters make buckets hot (q_jaccard_pairs:
    *    5.3s vs 8.3s; q_minhash_lsh, where identical docs share every
    *    band signature: 2.2s vs 2.4s). */
  private[graft] def bucketPairs(buckets: DataFrame, bucket: Seq[String]): DataFrame =
    buckets.groupBy(bucket.map(col): _*)
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids) - 2),
          |  i -> transform(slice(ids, i + 2, size(ids) - i - 1),
          |    b -> struct(ids[i] AS doc_a, b AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

  /** See [[bucketPairs]]. Materializes `buckets` so its subtree computes
    * once rather than per self-join side. */
  private[graft] def bucketPairsJoin(buckets: DataFrame, bucket: Seq[String],
      tag: String): DataFrame = {
    val b = materialize(buckets, tag)
    val cond = bucket.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
    b.as("a").join(b.as("b"), cond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** PPJoin-style prefix keys from a (materialized) shingle table: order
    * every doc's shingles by global (document-frequency, shingle) rarity,
    * keep the first n - ceil(t*n) + 1 as bucket keys — any pair with
    * J >= t must collide on at least one prefix shingle, so the candidate
    * set is complete; key on xxhash64(shingle) (8-byte keys keep the
    * exchange small; a collision only ADDs a candidate, which exact
    * verification filters out). */
  private[graft] def prefixKeys(sh: DataFrame, t: Double): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // per-doc selection is ROW-LOCAL: collect each doc's (df, shingle)
    // pairs and sort/slice inside the row — 2 shuffles of the shingle
    // table (df join, doc groupBy) vs 3 for a window-rank formulation
    // (df join, window re-sort, size join); interleaved A/B at sf0.1:
    // jaccard 6.9-7.6s vs 7.5-8.4s, dedup equal
    sh.join(dfreq, "shingle")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("shingle"))).as("ss"))
      .select(col("doc_id"), explode(expr(
        s"slice(array_sort(ss), 1, cast(size(ss) - ceil(size(ss) * $t) + 1 as int))"))
        .as("s"))
      .select(col("doc_id"), xxhash64(col("s.shingle")).as("sh_h"))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * per-doc shingle sets (collect_set, then the candidate set joins
    * against it twice and array_intersect counts the overlap row-locally).
    * A/B'd against a join-back count of common shingles at sf0.1: the
    * join-back re-streams or broadcasts the full shingle table per side
    * and lost (6.9-7.7s vs 5.3-5.8s full-query warm). Keeps pairs with
    * J >= t.
    *
    * `restrictSets = true` additionally (a) materializes the candidate
    * set and (b) builds shingle sets only for CANDIDATE docs — the
    * collect_set shuffles a candidate-sized slice instead of the corpus.
    * Costs one extra materialization, so it pays only where the corpus
    * slice it avoids is large (q_jaccard_pairs: 8.3s vs 10.4s; dedup and
    * minhash measured FASTER without it). */
  private[graft] def verifyJaccard(cand0: DataFrame, sh: DataFrame, t: Double,
      restrictSets: Boolean = false, matTag: String = "cand"): DataFrame = {
    val cand = if (restrictSets) materialize(cand0, matTag) else cand0
    val shSets =
      if (restrictSets) {
        val candDocs = cand.select(col("doc_a").as("doc_id"))
          .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
        sh.join(candDocs, "doc_id")
      } else sh
    val sets = shSets.groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("sset"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("sa"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("common",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jac") >= t)
  }

  /** Exact all-pairs Jaccard >= t, computed REPRESENTATIVE-FIRST:
    *
    *  1. collapse exact-duplicate clusters (md5(text), rep = min doc_id);
    *  2. shingle + prefix-filter + verify ONLY the representatives — the
    *     rep corpus has no identical docs, so prefix buckets are bounded
    *     and the cheap one-shuffle [[bucketPairs]] generator applies;
    *  3. expand pairs back to members: within a cluster every pair is
    *     (common = |shingle set|, jac = 1.0) by identity; across clusters
    *     every member pair inherits its rep pair's (common, jac) exactly
    *     (identical docs have identical shingle sets).
    *
    * Provably equal to all-pairs Jaccard over the full corpus (the DuckDB
    * oracle computes exactly that), but the quadratic candidate work never
    * sees a duplicate. Honest local measurement: at sf0.1's ~10% dup rate
    * the collapse does NOT pay (interleaved A/B: ~10.4s vs ~9.2s for the
    * non-collapsed self-join under identical contention) — the cluster
    * window + expansion joins cost ~1s and only 10% of candidate work is
    * removed. It is kept because the shape is what survives 100 TB: web
    * corpora run 20-50% exact dups, each dup cluster of size k inflates a
    * naive prefix join's hot buckets by k² while here it contributes k
    * membership rows and one representative. Docs with < 3 tokens have no
    * shingles and are excluded throughout (matching the oracle's sh CTE),
    * via the inner joins against the rep shingle/size tables. */
  def qJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // (doc_id, rep): exact-dup cluster membership — session-shared
    // ([[docClusters]]); consumed by the rep filter, both cross-expansion
    // joins, and within-pairs
    val clusters = docClusters(spark, dir).select("doc_id", "rep")
    // reps = min doc_id per md5 group = EXACTLY qDedupPipeline's
    // survivors: the shingle table AND the verified rep pairs are shared
    // with the rest of the dedup family (one build per session)
    val sz = survivorSizes(spark, dir)
    val repPairs = survivorPairs(spark, dir)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
        col("common"), col("jac"))
    // cross-cluster: every (member of rep_a) × (member of rep_b); member
    // ids don't preserve the reps' order, hence least/greatest
    val cross = repPairs
      .join(clusters.select(col("rep").as("rep_a"), col("doc_id").as("ma")),
        "rep_a")
      .join(clusters.select(col("rep").as("rep_b"), col("doc_id").as("mb")),
        "rep_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"),
        col("common"), col("jac"))
    // within-cluster: all member pairs, J = 1.0 by identity; the inner
    // join against the rep shingle sizes drops shingle-less clusters
    val within = bucketPairs(clusters, Seq("rep"))
      .join(clusters.select(col("doc_id").as("doc_a"), col("rep")), "doc_a")
      .join(sz.select(col("doc_id").as("rep"), col("n")), "rep")
      .select(col("doc_a"), col("doc_b"), col("n").as("common"),
        lit(1.0).as("jac"))
    cross.unionByName(within)
      .select("doc_a", "doc_b", "common", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** Rare-shingle df cap for [[qContainment]]'s candidate generation —
    * a fixed constant (not a conf) because the oracle hardcodes it. */
  private val ContainDfMax = 8

  /** (da, db, inter) exact shared-shingle counts over the rare-shingle
    * candidate pairs — the expensive half of [[qContainment]], session-
    * shared + prewarmed like every corpus-version derived table (the
    * candidate self-join and the per-pair intersection scan build once,
    * the query pays only the size joins and the threshold filter). */
  private[graft] def containmentInter(spark: SparkSession,
      dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "containint",
      s"$dir#df$ContainDfMax") {
      val sh = corpusShingles(spark, dir)
      val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= ContainDfMax)
        .select("shingle")
      val cs = sh.join(rare, "shingle").select("doc_id", "shingle")
      val cand = cs.as("a").join(cs.as("b"),
          col("a.shingle") === col("b.shingle")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("da"), col("shingle")), "da")
        .join(sh.select(col("doc_id").as("db"), col("shingle")),
          Seq("db", "shingle"))
        .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    }

  /** DIRECTIONAL near-containment detection — the doc-in-doc shape
    * Jaccard misses entirely: an excerpt quoted inside a much larger
    * host has C(excerpt→host) = |Sh(a)∩Sh(b)|/|Sh(a)| ≈ 1 while
    * J(a,b) ≈ |a|/|b| ≈ 0, so the LSH/PPJoin dedup family never pairs
    * them. Candidates come from RARE shingles (2 ≤ df ≤ 8): a contained
    * excerpt shares ALL its shingles with its host, so the pair is
    * found iff ANY of the excerpt's shingles is globally rare — content
    * prose almost always is, while boilerplate-hot shingles (high df,
    * the candidate-explosion risk) are excluded by the cap, bounding
    * every shingle's pair fan-out at df² ≤ 64. Emitted: both
    * directional containments + the small-side containment (the
    * detection signal), exact integers in basis points → hash-gated.
    *
    * Scale shape: df aggregate on the shingle key → self-join on the
    * rare-shingle key (never all-pairs) → intersection counts via one
    * (doc, shingle) equi-join per side — every stage shuffles on a
    * derived key; the shingle table is the session-shared corpus
    * artifact the whole dedup family rides. */
  def qContainment(spark: SparkSession, dir: String): DataFrame = {
    val sh = corpusShingles(spark, dir)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = containmentInter(spark, dir)
    inter
      .join(sz.select(col("doc_id").as("da"), col("n").as("size_a")), "da")
      .join(sz.select(col("doc_id").as("db"), col("n").as("size_b")), "db")
      .withColumn("cont_small_bp",
        expr("cast((inter * 10000L) div least(size_a, size_b) as bigint)"))
      .filter(col("cont_small_bp") >= 5000)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("inter").cast("bigint").as("inter"),
        col("size_a").cast("bigint").as("size_a"),
        col("size_b").cast("bigint").as("size_b"),
        expr("cast((inter * 10000L) div size_a as bigint)").as("cont_a_bp"),
        expr("cast((inter * 10000L) div size_b as bigint)").as("cont_b_bp"),
        col("cont_small_bp"))
      .orderBy("doc_a", "doc_b")
  }

  /** tf-idf weighted postings restricted to LSH-candidate docs — a
    * corpus-version artifact (r19: session-shared + prewarmed; it was a
    * per-invocation materialize, so every run re-derived the
    * postings/df/semi-join pipeline). Only candidate docs are ever
    * scored — the weighted postings restrict BEFORE the norm folds (df
    * stays corpus-wide: idf is a corpus statistic); the table is
    * consumed FOUR times by q_lex_cosine (both norm sides + both
    * numerator sides). */
  private[graft] def lexWeights(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "lexw", dir) {
      val tf = TextOps.tfPostings(spark, dir)
      val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nd = Tables(spark, dir, "documents")
        .agg(count(lit(1)).as("n_docs"))
      val cand = lshCandidates(spark, dir)
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id")))
        .distinct()
      tf.join(candDocs, "doc_id")
        .join(dfT, "token").crossJoin(broadcast(nd))
        .select(col("doc_id"), col("token"),
          (col("tf").cast("double") * col("n_docs") / col("df")).as("w"))
    }

  /** Sparse LEXICAL cosine — tf-idf-weighted vector similarity over the
    * LSH candidate pairs: the classic IR duplicate signal that sits
    * between exact Jaccard (set overlap, weight-blind) and dense
    * embedding cosine (needs an encoder). Weights are the linear-idf
    * w = tf·N/df (the q_tfidf_keywords surrogate — no ln crosses the
    * oracle); the pair numerator and per-doc norms both fold over
    * token-ORDERED lists (a plain double SUM is partition-order-
    * dependent — the q_bitext lesson), so every value is bit-identical
    * across engines and partitionings. Scale shape: weights derive from
    * the shared [[TextOps.tfPostings]] index; the numerator join
    * touches only candidate pairs' postings (token-keyed equi-joins,
    * never all-pairs); output is pairs with cosine ≥ 0.5. */
  def qLexCosine(spark: SparkSession, dir: String): DataFrame = {
    val cand = lshCandidates(spark, dir)
    val w = lexWeights(spark, dir)
    val norms = w.groupBy("doc_id")
      .agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(token, w))),
          |  s -> s.w * s.w), cast(0.0 as double), (a, v) -> a + v)"""
          .stripMargin).as("nrm2"))
    val num = cand
      .join(w.select(col("doc_id").as("doc_a"), col("token"),
        col("w").as("wa")), "doc_a")
      .join(w.select(col("doc_id").as("doc_b"), col("token"),
        col("w").as("wb")), Seq("doc_b", "token"))
      .groupBy("doc_a", "doc_b")
      .agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(token, wa, wb))),
          |  s -> s.wa * s.wb), cast(0.0 as double), (a, v) -> a + v)"""
          .stripMargin).as("num"),
        count(lit(1)).cast("bigint").as("n_common"))
    num
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm2").as("na")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm2").as("nb")),
        "doc_b")
      .withColumn("lexcos", col("num") / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("lexcos") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("lexcos"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash signature length k and LSH band count (SCALE.md lists the
    * 100 TB values): 8 bands × 4 rows. More bands at fixed k raises
    * recall at the LSH threshold and candidate volume; longer signatures
    * sharpen the S-curve. [[OracleBandArms]] derives the gate oracles'
    * band arms from them. */
  private val MinhashK = 32
  private val Bands = 8
  private val RowsPerBand = MinhashK / Bands

  /** The oracles' `banded` CTE body over the exported signature table
    * `sig`: one UNION ALL arm per band, the same concat_ws('_') band
    * signatures as [[bandedSignatures]]. */
  private val OracleBandArms = (0 until Bands).map { b =>
    val cols = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
      .mkString(", ")
    s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS sig FROM sig"
  }.mkString("\n  UNION ALL ")

  /** MinHash signature table (doc_id × k min-hash longs), session-shared
    * and built in [[graft.SparkEntry.prewarm]]: BENCH_r06 showed the k=32 signature
    * aggregation — not the shingle build — is q_minhash_lsh's cost (22.75 s
    * with shingles already shared), and the table is tiny (one row per doc)
    * while its build scans every (doc, shingle) k times. At 100 TB
    * signatures are likewise computed once per corpus version and reused by
    * every LSH query, never rebuilt per query. */
  private[graft] def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val sh = corpusShingles(spark, dir)
    val minhashCols = (0 until MinhashK).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"mh$i"))
    Tables.materializeSharedBy(spark, "minhsig", dir)(
      sh.groupBy("doc_id").agg(minhashCols.head, minhashCols.tail: _*))
  }

  /** (doc_id, band, sig) rows of the signature table: each band's
    * [[RowsPerBand]] min-hashes joined into one string. */
  private def bandedSignatures(minh: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until RowsPerBand).map(r =>
          col(s"mh${b * RowsPerBand + r}")): _*).as("sig"))
    }
    minh
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Banded LSH candidate pairs (pre-verification), shared by
    * [[qMinhashLsh]] and [[qLshQuality]]; performs the signature/shingle
    * exports the oracles read. */
  private[graft] def lshCandidates(spark: SparkSession, dir: String): DataFrame = {
    val sh = corpusShingles(spark, dir)
    val minh = minhashSignatures(spark, dir)
    graft.OracleExport.export(sh, "shingles", dir)
    graft.OracleExport.export(minh, "minhsig", dir)
    // join generator: identical docs share every band signature, so LSH
    // buckets are hot wherever exact dups exist (see bucketPairs scaladoc).
    // SESSION-SHARED: the candidate set is a corpus-version artifact
    // consumed by q_minhash_lsh AND q_lsh_quality.
    Tables.materializeSharedBy(spark, "lshcand", dir)(
      // dir-qualified mat tag: this build runs inside a shared holder,
      // but holders for DIFFERENT dirs run concurrently under the
      // overlapped bench prewarm/warmup (the Tables.materialize GC rule)
      bucketPairsJoin(bandedSignatures(minh), Seq("band", "sig"),
        s"banded:$dir"))
  }

  /** Exact-Jaccard ≥ t ground-truth pairs over the full corpus
    * (complete prefix-filter + bucket join + exact verify),
    * session-shared per (dir, t) — the expensive audit table behind
    * [[qLshQuality]], built once per corpus version. Measured at
    * sf0.1: this DIRECT form builds in ~16 s cold while a rep-first
    * variant (collapse exact-dup clusters, verify survivors, expand
    * members back — the qJaccardPairs shape) took ~62 s at this t:
    * the 0.7 threshold lengthens every doc's prefix (0.3n keys vs
    * 0.2n at 0.8) and the expansion joins outweigh the ~10% candidate
    * reduction at the fixture's dup rate. At a web corpus's 20-50%
    * dup rate the rep-first trade flips (the qJaccardPairs scaladoc
    * argument) — revisit the body, not the callers, if so. */
  private[graft] def truthPairsAt(spark: SparkSession, dir: String,
      t: Double): DataFrame =
    Tables.materializeSharedBy(spark, "lshtruth", s"$dir:t=$t") {
      val sh = corpusShingles(spark, dir)
      verifyJaccard(
        bucketPairsJoin(prefixKeys(sh, t), Seq("sh_h"), s"ppjq:$dir:$t"), sh, t)
        .select(col("doc_a"), col("doc_b"))
    }

  /** Session-shared VERIFIED LSH hit set at t=0.7 (doc_a, doc_b, jac)
    * — the exact-Jaccard verification of the banded candidate set, a
    * corpus-version artifact BOTH [[qMinhashLsh]] and [[qLshQuality]]
    * re-ran per invocation (collect_set + two joins + the intersect
    * fan-out — the expensive half of each query). Prewarmed on the
    * minhash chain; jac doubles round-trip parquet exactly. */
  private[graft] def lshVerified(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "lshverified", dir)(
      verifyJaccard(lshCandidates(spark, dir), corpusShingles(spark, dir),
        0.7).select("doc_a", "doc_b", "jac"))

  /** Banded MinHash-LSH near-dup candidates, verified with exact Jaccard.
    * k=32 salted xxhash64 min-hashes, 8 bands × 4 rows:
    * P(candidate) at J=0.8 is 1-(1-0.8^4)^8 ≈ 0.99 — candidates are then
    * exactly verified, so output precision is 1.0.
    *
    * Hash-gated via [[graft.OracleExport]]: the signature and shingle
    * tables (engine-defined — xxhash64) are exported, and the DuckDB
    * oracle recomputes the banding, bucket join, and exact-Jaccard
    * verification from them; the hash kernel itself is pinned by the
    * recall/subset property tests in SimilaritySpec. */
  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    lshVerified(spark, dir)
      .select("doc_a", "doc_b", "jac")
      .orderBy("doc_a", "doc_b")

  /** Sketch-quality EVALUATION as a first-class operator: precision and
    * recall of the banded MinHash-LSH candidate generator against the
    * exact-Jaccard ground truth at the same threshold — the audit a
    * pipeline runs before trusting a sketch configuration on a new
    * corpus (recall of banding depends on the corpus's similarity
    * distribution, not just the S-curve math; SimilaritySpec asserts a
    * floor once, this puts the measurement behind the gate per corpus).
    * All-integer output (counts + basis-point ratios via integer DIV)
    * so the row is hash-gatable.
    *
    * Ground truth is computed with the complete PPJoin prefix filter —
    * never all pairs — and the candidate set is the same banded bucket
    * join production runs; both sides verify with the same exact
    * Jaccard, so hits ⊆ truth by construction and n_missed is exactly
    * the banding's false-negative count. At 100 TB the truth side is
    * the expensive audit run once per sketch-config change (on a
    * sampled stratum if need be); the per-ingest path stays
    * LSH-only. */
  def qLshQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = 0.7
    val cand = lshCandidates(spark, dir)
    val nCand = cand.count()
    // the verified hit set is the shared lshVerified artifact (r20):
    // this count was a fresh collect_set + verify join tree per run
    val nHits = lshVerified(spark, dir).count()
    val nTruth = truthPairsAt(spark, dir, t).count()
    import spark.implicits._
    Seq((nTruth, nCand, nHits, nTruth - nHits,
      nHits * 10000L / nCand, nHits * 10000L / nTruth))
      .toDF("n_truth", "n_candidates", "n_hits", "n_missed",
        "precision_bp", "recall_bp")
  }

  /** Incremental NEAR-dup detection: a new ingest batch checked against
    * the historical corpus's MinHash signature index — the sibling of
    * [[graft.ops.TextOps.qDedupIncremental]] (exact content-hash) one
    * level up the dedup ladder, and the shape a production pipeline
    * actually runs per ingest: the history side is a PRE-BUILT
    * corpus-version artifact (signature + shingle tables, here the
    * session-shared ones; on a cluster, yesterday's tables read from
    * storage), so per-batch cost is |batch| signatures + a band-bucket
    * probe of the index + exact verification of the collisions — never
    * a rebuild over |history|, and never batch×history pairs. Same
    * banding and Jaccard-verify machinery as [[qMinhashLsh]]; the
    * batch/history cut is the integer 4/5 threshold qDedupIncremental
    * established (exact on both engines). */
  def qNeardupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val t = 0.7
    val sh = corpusShingles(spark, dir)
    val minh = minhashSignatures(spark, dir)
    graft.OracleExport.export(sh, "shingles", dir)
    graft.OracleExport.export(minh, "minhsig", dir)
    val cut = minh.agg(expr("max(doc_id) * 4 div 5").as("cut"))
    val banded = bandedSignatures(minh).crossJoin(broadcast(cut))
    val batch = banded.filter(col("doc_id") > col("cut"))
    val hist = banded.filter(col("doc_id") <= col("cut"))
    val cand = batch.as("a").join(hist.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, sh, t)
      .select(col("doc_a").as("batch_doc"), col("doc_b").as("hist_doc"),
        col("common"), col("jac"))
      .orderBy("batch_doc", "hist_doc")
  }

  /** 64-bit SimHash near-dup pairs within Hamming distance 3.
    * Per-token xxhash64 bit votes (+1/-1 per bit, token multiset) via the
    * custom [[graft.functions.SimHashAgg]] aggregate (one int[64] buffer
    * vs 64 conditional-SUM slots), then candidate generation by 4×16-bit
    * chunk equality — exact for the ≤3 threshold by pigeonhole.
    *
    * Hash-gated via [[graft.OracleExport]]: the per-doc simhash values
    * (xxhash64-derived, engine-specific) are exported, and the DuckDB
    * oracle recomputes the 4×16-bit chunking, candidate join, and
    * Hamming filter from them with plain integer bit ops — gating the
    * whole pigeonhole candidate scheme; SimHashAgg's bit-vote kernel is
    * pinned by SimilaritySpec's brute-force-recompute test. */
  def qSimhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("token"))
      .withColumn("h", xxhash64(col("token")))
    val hashed = toks.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash(col("h")).as("simhash"))
    graft.OracleExport.export(hashed, "simhash", dir)
    val chunks = hashed.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c => struct(lit(c).as("c"),
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))
          .as("chunk"))): _*)).as("cs"))
      .select(col("doc_id"), col("simhash"),
        col("cs.c").as("c"), col("cs.chunk").as("chunk"))
    chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate-cluster assignment: the transitive closure of "is a
    * duplicate of", where the edge set is (a) exact-duplicate membership
    * (identical md5(text)) and (b) near-duplicate survivor pairs at
    * Jaccard >= [[NearDupT]]. Every doc gets cluster_id = the MIN doc_id
    * of its component, plus the component size. This is the step between
    * q_jaccard_pairs (edges) and survivor selection that a web-scale
    * curation pipeline cannot skip: near-dup is not transitive, so
    * keeping "min of each pair" (q_dedup_pipeline's greedy pass) and
    * keeping "one per connected component" are different policies — the
    * component view is what MinHash-dedup papers (and the 100 TB corpus
    * jobs built on them) actually ship.
    *
    * Scale shape: components are computed on the REPRESENTATIVE graph
    * only (near-dup pairs among exact-dedup survivors — the shared
    * [[survivorPairs]] table), then exact-dup members inherit their rep's
    * label through the shared [[docClusters]] join. A member can never
    * bridge two components its rep doesn't (identical docs have identical
    * shingle sets), so the contraction is exact; the iterative star
    * rounds run on pair-count rows, not corpus rows. */
  def qDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val clusters = docClusters(spark, dir).select("doc_id", "rep")
    val cc = dupComponents(spark, dir)
      .select(col("node").as("rep"), col("label"))
    clusters.join(cc, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("rep")).as("cluster_id"))
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy("doc_id")
  }

  /** Quality-aware survivor selection — dedup that keeps the BEST
    * member of each duplicate cluster instead of the first-seen: the
    * curation policy real pipelines want (near-dup crawl copies differ;
    * keep the longest = most complete one, ties to the smaller id for
    * determinism). Rides the session-shared cluster labeling
    * ([[docClusters]] + [[dupComponents]] — zero rebuild); selection is
    * one window over cluster-sized groups. Reports each multi-member
    * cluster with its kept doc and drop count; the oracle replays the
    * full recursive-closure labeling plus the same argmax, so a wrong
    * cluster boundary OR a wrong pick breaks the hash. */
  def qDedupKeepbest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = docClusters(spark, dir).select("doc_id", "rep")
    val cc = dupComponents(spark, dir)
      .select(col("node").as("rep"), col("label"))
    val labeled = clusters.join(cc, Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("cluster_id"))
    val rk = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labeled
      .join(Tables(spark, dir, "documents").select("doc_id", "n_chars"),
        "doc_id")
      .withColumn("rk", row_number().over(rk))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("kept_doc"),
        max(when(col("rk") === 1, col("n_chars"))).as("kept_chars"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_id"), col("n_members"), col("kept_doc"),
        col("kept_chars"), (col("n_members") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** End-to-end dedup pipeline, the composition a corpus-curation job
    * runs: (1) exact dedup — keep the min doc_id of each content-hash
    * group; (2) near-dup removal — among exact survivors, drop any doc
    * with a Jaccard >= 0.8 partner of smaller id (single greedy pass by
    * id, NOT transitive closure — deterministic and SQL-expressible).
    * Returns the clean corpus. */
  def qDedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    // survivors = the rep rows of the SHARED cluster table (min doc_id per
    // content-hash group — identical to the old rn=1 window)
    val survivors = docClusters(spark, dir)
      .filter(col("doc_id") === col("rep"))
      .select("doc_id", "lang", "n_chars")
    // shared verified pairs — same subtree as q_jaccard_pairs' rep pairs
    val removed = survivorPairs(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    survivors.join(removed, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Train/val/test SPLIT-LEAKAGE audit across near-duplicate clusters —
    * the eval-integrity question every LLM data pipeline must answer:
    * when a doc and its near-duplicate land in different splits, the
    * held-out set is contaminated no matter how good the 13-gram
    * decontamination is. Three split schemes over the SAME corpus,
    * audited against the session-shared cluster labeling
    * ([[docClusters]] + [[dupComponents]], the q_dup_clusters mapping):
    *   - id_hash       — md5(doc_id) (q_hash_split): blind to content,
    *                     leaks whenever a multi-doc cluster's ids hash
    *                     across the 93.75/3.125/3.125 thresholds;
    *   - content_hash  — md5(normalized text) (q_hash_split_content):
    *                     co-locates EXACT/near-exact dupes, still leaks
    *                     for near-dups whose normalized bytes differ;
    *   - cluster_key   — md5(cluster_id): keyed by the transitive
    *                     closure itself, leak-free BY CONSTRUCTION
    *                     (n_leaky must be 0 — spec-asserted).
    * One row per scheme: cluster counts, multi-doc clusters, leaky
    * clusters, docs inside leaky clusters. Scale shape: the labeling is
    * the shared table; the audit itself is one narrow projection + two
    * hash aggs. The oracle re-derives the clusters with the
    * q_dup_clusters recursive closure and replays all three schemes. */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val clusters = docClusters(spark, dir).select("doc_id", "rep")
    val cc = dupComponents(spark, dir)
      .select(col("node").as("rep"), col("label"))
    val labeled = clusters.join(cc, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("rep")).as("cluster_id"))
      .join(Tables(spark, dir, "documents").select("doc_id", "text"),
        "doc_id")
    val idH2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    val clH2 = substring(md5(col("cluster_id").cast("string")), 1, 2)
    val schemes = labeled.select(col("doc_id"), col("cluster_id"),
      Curation.splitOf(idH2).as("id_hash"),
      Curation.splitOf(Curation.contentH2).as("content_hash"),
      Curation.splitOf(clH2).as("cluster_key"))
    val long = schemes.selectExpr("doc_id", "cluster_id",
      """stack(3, 'id_hash', id_hash, 'content_hash', content_hash,
        |  'cluster_key', cluster_key) AS (scheme, split)""".stripMargin)
    long.groupBy("scheme", "cluster_id")
      .agg(count(lit(1)).as("n"),
        count_distinct(col("split")).as("nsplits"))
      .groupBy("scheme")
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("n") > 1, 1).otherwise(0)).cast("bigint")
          .as("n_multi_clusters"),
        sum(when(col("nsplits") > 1, 1).otherwise(0)).cast("bigint")
          .as("n_leaky_clusters"),
        sum(when(col("nsplits") > 1, col("n")).otherwise(0)).cast("bigint")
          .as("n_docs_in_leaky"))
      .orderBy("scheme")
  }

  /** Cross-SOURCE duplication overlap — which feeds copy from each
    * other: for every source pair, the number of duplicate clusters
    * containing docs from both (and, on the diagonal, clusters where one
    * source contributed ≥ 2 members — the intra-source dup rate). The
    * provenance signal a corpus-mix decision needs: a source whose rows
    * mostly collapse into other sources' clusters adds bytes, not
    * information. Rides the shared cluster labeling; the aggregation is
    * cluster-keyed (a per-cluster source profile self-joined per
    * cluster), never doc-pair-keyed — clusters bound the blowup, not the
    * corpus. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val clusters = docClusters(spark, dir).select("doc_id", "rep")
    val cc = dupComponents(spark, dir)
      .select(col("node").as("rep"), col("label"))
    val labeled = clusters.join(cc, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("rep")).as("cluster_id"))
      .join(Tables(spark, dir, "documents").select("doc_id", "source"),
        "doc_id")
    val srcs = labeled.groupBy("cluster_id", "source")
      .agg(count(lit(1)).as("n"))
    val cross = srcs.as("a").join(srcs.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"))
    val self = srcs.filter(col("n") >= 2)
      .select(col("source").as("source_a"), col("source").as("source_b"))
    cross.unionByName(self)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_clusters"))
      .orderBy("source_a", "source_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_overlap" -> qSourceOverlap _,
    "q_split_leakage" -> qSplitLeakage _,
    "q_dup_clusters" -> qDupClusters _,
    "q_dedup_keepbest" -> qDedupKeepbest _,
    "q_dedup_pipeline" -> qDedupPipeline _,
    "q_jaccard_pairs" -> qJaccardPairs _,
    "q_containment" -> qContainment _,
    "q_lex_cosine" -> qLexCosine _,
    "q_minhash_lsh" -> qMinhashLsh _,
    "q_lsh_quality" -> qLshQuality _,
    "q_neardup_incremental" -> qNeardupIncremental _,
    "q_simhash_neardup" -> qSimhashNeardup _)

  /** q_minhash_lsh / q_simhash_neardup are deliberately oracle-less:
    * their semantics depend on engine-specific hash functions (recall of
    * LSH banding, xxhash64 bit patterns) — rows-only checks. */
  val oracles: Map[String, String] = Map(
    // the recursive labeling + a per-cluster source profile: cross pairs
    // from a cluster-keyed self-join, the diagonal from sources with >=2
    // members in one cluster
    "q_source_overlap" ->
      """WITH RECURSIVE
        |reps AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep,
        |    text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM reps WHERE doc_id = rep),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM toks, UNNEST(range(1, len(l) - 1)) u(i)),
        |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db
        |  FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
        |edges AS (
        |  SELECT da AS s, db AS d FROM pairs
        |  UNION SELECT db, da FROM pairs),
        |reach AS (
        |  SELECT DISTINCT rep AS node, rep AS label FROM reps
        |  UNION
        |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
        |cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
        |lab AS (
        |  SELECT r.doc_id, cc.label AS cluster_id
        |  FROM reps r JOIN cc ON cc.node = r.rep),
        |srcs AS (
        |  SELECT l.cluster_id, d.source, COUNT(*) AS n
        |  FROM lab l JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.source AS source_a, b.source AS source_b
        |  FROM srcs a JOIN srcs b
        |    ON a.cluster_id = b.cluster_id AND a.source < b.source
        |  UNION ALL
        |  SELECT source, source FROM srcs WHERE n >= 2)
        |SELECT source_a, source_b, COUNT(*) AS n_shared_clusters
        |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the q_dup_clusters recursive labeling + all three split schemes
    // replayed over it (id-hash, normalized-content hash, cluster-key);
    // leakage = a multi-doc cluster spanning >1 split
    "q_split_leakage" ->
      """WITH RECURSIVE
        |reps AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep,
        |    text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM reps WHERE doc_id = rep),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM toks, UNNEST(range(1, len(l) - 1)) u(i)),
        |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db
        |  FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
        |edges AS (
        |  SELECT da AS s, db AS d FROM pairs
        |  UNION SELECT db, da FROM pairs),
        |reach AS (
        |  SELECT DISTINCT rep AS node, rep AS label FROM reps
        |  UNION
        |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
        |cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
        |lab AS (
        |  SELECT r.doc_id, cc.label AS cluster_id, r.text
        |  FROM reps r JOIN cc ON cc.node = r.rep),
        |assigned AS (
        |  SELECT scheme, cluster_id,
        |    CASE WHEN h2 < 'f0' THEN 'train'
        |         WHEN h2 < 'f8' THEN 'val' ELSE 'test' END AS split
        |  FROM (
        |    SELECT 'id_hash' AS scheme, cluster_id,
        |      substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2 FROM lab
        |    UNION ALL
        |    SELECT 'content_hash', cluster_id,
        |      substring(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 2)
        |    FROM lab
        |    UNION ALL
        |    SELECT 'cluster_key', cluster_id,
        |      substring(md5(CAST(cluster_id AS VARCHAR)), 1, 2) FROM lab)),
        |per_cluster AS (
        |  SELECT scheme, cluster_id, COUNT(*) AS n,
        |    COUNT(DISTINCT split) AS nsplits
        |  FROM assigned GROUP BY 1, 2)
        |SELECT scheme, COUNT(*) AS n_clusters,
        |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_multi_clusters,
        |  CAST(SUM(CASE WHEN nsplits > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaky_clusters,
        |  CAST(SUM(CASE WHEN nsplits > 1 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_docs_in_leaky
        |FROM per_cluster GROUP BY scheme ORDER BY scheme""".stripMargin,
    // connected components as a recursive min-label closure: reach(n, l)
    // holds every (node, label-reachable-from-node) pair over the
    // symmetric near-dup edge set among representatives; MIN per node is
    // the component minimum — exactly the engine's star-contraction
    // fixpoint. Exact-dup members then inherit their rep's label.
    "q_dup_clusters" ->
      """WITH RECURSIVE
        |reps AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep,
        |    text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM reps WHERE doc_id = rep),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM toks, UNNEST(range(1, len(l) - 1)) u(i)),
        |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db
        |  FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
        |edges AS (
        |  SELECT da AS s, db AS d FROM pairs
        |  UNION SELECT db, da FROM pairs),
        |reach AS (
        |  SELECT DISTINCT rep AS node, rep AS label FROM reps
        |  UNION
        |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
        |cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
        |SELECT r.doc_id, cc.label AS cluster_id,
        |  COUNT(*) OVER (PARTITION BY cc.label) AS csize
        |FROM reps r JOIN cc ON cc.node = r.rep
        |ORDER BY doc_id""".stripMargin,
    // same recursive labeling + the keep-longest argmax — see
    // qDedupKeepbest
    "q_dedup_keepbest" ->
      """WITH RECURSIVE
        |reps AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep,
        |    text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM reps WHERE doc_id = rep),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM toks, UNNEST(range(1, len(l) - 1)) u(i)),
        |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db
        |  FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
        |edges AS (
        |  SELECT da AS s, db AS d FROM pairs
        |  UNION SELECT db, da FROM pairs),
        |reach AS (
        |  SELECT DISTINCT rep AS node, rep AS label FROM reps
        |  UNION
        |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
        |cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
        |lab AS (SELECT r.doc_id, cc.label AS cluster_id
        |        FROM reps r JOIN cc ON cc.node = r.rep),
        |j AS (SELECT lab.doc_id, lab.cluster_id, d.n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
        |          ORDER BY d.n_chars DESC, lab.doc_id) AS rk
        |      FROM lab JOIN documents d ON d.doc_id = lab.doc_id),
        |g AS (SELECT cluster_id, COUNT(*) AS n_members,
        |        MAX(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
        |        MAX(CASE WHEN rk = 1 THEN n_chars END) AS kept_chars
        |      FROM j GROUP BY 1)
        |SELECT cluster_id, n_members, kept_doc, kept_chars,
        |  n_members - 1 AS n_dropped
        |FROM g WHERE n_members >= 2 ORDER BY cluster_id""".stripMargin,
    "q_dedup_pipeline" ->
      """WITH survivors AS (
        |  SELECT doc_id, lang, n_chars, text FROM (
        |    SELECT doc_id, lang, n_chars, text,
        |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
        |    FROM documents) s WHERE rn = 1),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM survivors),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM toks, UNNEST(range(1, len(l) - 1)) u(i)),
        |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |removed AS (
        |  SELECT DISTINCT db AS doc_id
        |  FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8)
        |SELECT doc_id, lang, n_chars FROM survivors
        |WHERE doc_id NOT IN (SELECT doc_id FROM removed)
        |ORDER BY doc_id""".stripMargin,
    "q_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM toks, UNNEST(range(1, len(l) - 1)) u(i)),
        |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b, CAST(common AS BIGINT) AS common,
        |  CAST(common AS DOUBLE) / (x.n + y.n - common) AS jac
        |FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Full containment replay: same shingles, same rare-shingle (df in
    // [2, 8]) candidate generation, exact intersection counts, integer
    // basis points — see qContainment.
    "q_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM toks, UNNEST(range(1, len(l) - 1)) u(i)),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM sh GROUP BY 1),
        |rare AS (SELECT shingle FROM (
        |    SELECT shingle, COUNT(*) df FROM sh GROUP BY 1) d
        |  WHERE df BETWEEN 2 AND 8),
        |cs AS (SELECT doc_id, shingle FROM sh JOIN rare USING (shingle)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id da, b.doc_id db
        |  FROM cs a JOIN cs b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |i AS (
        |  SELECT c.da, c.db, CAST(COUNT(*) AS BIGINT) inter
        |  FROM cand c JOIN sh x ON x.doc_id = c.da
        |    JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b, inter,
        |  x.n AS size_a, y.n AS size_b,
        |  CAST((inter * 10000) // x.n AS BIGINT) AS cont_a_bp,
        |  CAST((inter * 10000) // y.n AS BIGINT) AS cont_b_bp,
        |  CAST((inter * 10000) // LEAST(x.n, y.n) AS BIGINT)
        |    AS cont_small_bp
        |FROM i JOIN sz x ON x.doc_id = da JOIN sz y ON y.doc_id = db
        |WHERE (inter * 10000) // LEAST(x.n, y.n) >= 5000
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Lexical-cosine replay: candidates re-banded from the minhsig
    // export (the q_neardup_incremental band-arm generator), tf-idf
    // weights re-derived from documents, numerator/norms as
    // token-ordered sequential list_sums — see qLexCosine
    "q_lex_cosine" -> {
      s"""WITH sig AS (SELECT * FROM '${graft.OracleExport.oraclePath("minhsig")}'),
         |banded AS (
         |  $OracleBandArms),
         |cand AS (
         |  SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |tk AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) tf
         |  FROM tk GROUP BY 1, 2),
         |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) df FROM tf GROUP BY 1),
         |w AS (
         |  SELECT tf.doc_id, tf.token,
         |    CAST(tf.tf AS DOUBLE) * (SELECT COUNT(*) FROM documents) / df.df AS w
         |  FROM tf JOIN df ON df.token = tf.token),
         |norms AS (SELECT doc_id,
         |    list_sum(list_transform(list(w ORDER BY token), x -> x * x)) nrm2
         |  FROM w GROUP BY 1),
         |num AS (
         |  SELECT c.doc_a, c.doc_b,
         |    list_sum(list(a.w * b.w ORDER BY a.token)) num,
         |    CAST(COUNT(*) AS BIGINT) n_common
         |  FROM cand c JOIN w a ON a.doc_id = c.doc_a
         |    JOIN w b ON b.doc_id = c.doc_b AND b.token = a.token
         |  GROUP BY 1, 2)
         |SELECT n.doc_a, n.doc_b, n.n_common,
         |  n.num / (sqrt(x.nrm2) * sqrt(y.nrm2)) AS lexcos
         |FROM num n JOIN norms x ON x.doc_id = n.doc_a
         |  JOIN norms y ON y.doc_id = n.doc_b
         |WHERE n.num / (sqrt(x.nrm2) * sqrt(y.nrm2)) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // Recomputes 4×16-bit chunk banding + Hamming filter from the
    // exported per-doc simhashes with integer bit ops (see
    // qSimhashNeardup). Spark's shiftright is arithmetic like DuckDB's
    // >>, and the &0xFFFF mask makes the sign extension irrelevant.
    "q_simhash_neardup" ->
      s"""WITH h AS (SELECT doc_id, simhash FROM '${graft.OracleExport.oraclePath("simhash")}'),
         |chunks AS (
         |  SELECT doc_id, simhash, c, (simhash >> (c * 16)) & 65535 AS chunk
         |  FROM h, UNNEST([0, 1, 2, 3]) u(c)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |  FROM chunks a JOIN chunks b
         |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM cand
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    // Recomputes banding + bucket join + exact-Jaccard verify from the
    // exported signature/shingle tables (see qMinhashLsh scaladoc). The
    // the band arms mirror the engine's concat_ws('_') band signatures
    "q_neardup_incremental" -> {
      s"""WITH sig AS (SELECT * FROM '${graft.OracleExport.oraclePath("minhsig")}'),
         |sh AS (SELECT doc_id, shingle FROM '${graft.OracleExport.oraclePath("shingles")}'),
         |cut AS (SELECT CAST(MAX(doc_id) * 4 // 5 AS BIGINT) AS cut FROM sig),
         |banded AS (
         |  $OracleBandArms),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS hist_doc
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.sig = b.sig
         |  WHERE a.doc_id > (SELECT cut FROM cut)
         |    AND b.doc_id <= (SELECT cut FROM cut)),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |cm AS (
         |  SELECT c.batch_doc, c.hist_doc, COUNT(*) AS common
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.batch_doc
         |  JOIN sh y ON y.doc_id = c.hist_doc AND y.shingle = x.shingle
         |  GROUP BY 1, 2)
         |SELECT batch_doc, hist_doc, CAST(common AS BIGINT) AS common,
         |  CAST(common AS DOUBLE) / (x.n + y.n - common) AS jac
         |FROM cm JOIN sz x ON batch_doc = x.doc_id
         |JOIN sz y ON hist_doc = y.doc_id
         |WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.7
         |ORDER BY batch_doc, hist_doc""".stripMargin
    },
    // full replay from the exports: banding → candidates; brute
    // common-shingle truth; hits = cand ∩ truth (same exact verify);
    // integer basis-point ratios via floor division
    "q_lsh_quality" -> {
      s"""WITH sig AS (SELECT * FROM '${graft.OracleExport.oraclePath("minhsig")}'),
         |sh AS (SELECT doc_id, shingle FROM '${graft.OracleExport.oraclePath("shingles")}'),
         |banded AS (
         |  $OracleBandArms),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT da, db FROM p
         |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.7),
         |hits AS (
         |  SELECT t.da FROM truth t
         |  JOIN cand c ON c.doc_a = t.da AND c.doc_b = t.db),
         |k AS (SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
         |        (SELECT COUNT(*) FROM cand) AS n_candidates,
         |        (SELECT COUNT(*) FROM hits) AS n_hits)
         |SELECT n_truth, n_candidates, n_hits,
         |  n_truth - n_hits AS n_missed,
         |  n_hits * 10000 // n_candidates AS precision_bp,
         |  n_hits * 10000 // n_truth AS recall_bp
         |FROM k""".stripMargin
    },
    "q_minhash_lsh" -> {
      s"""WITH sig AS (SELECT * FROM '${graft.OracleExport.oraclePath("minhsig")}'),
         |sh AS (SELECT doc_id, shingle FROM '${graft.OracleExport.oraclePath("shingles")}'),
         |banded AS (
         |  $OracleBandArms),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |cm AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.doc_a
         |  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(common AS DOUBLE) / (x.n + y.n - common) AS jac
         |FROM cm JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.7
         |ORDER BY doc_a, doc_b""".stripMargin
    })
}
