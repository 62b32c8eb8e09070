package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic sampling over the documents corpus — the operation every
  * training-data pipeline runs constantly (ablation subsets, eval
  * holdouts, per-source quotas) and the one where nondeterminism hurts
  * most: Spark's own `df.sample` draws from a per-partition RNG stream,
  * so its row set CHANGES under repartitioning, task retry, or an engine
  * upgrade — unacceptable when the sample defines a training set that
  * must be reproducible months later. (The reference has no sampling
  * surface at all — SURVEY.md §2.4 absent-category rebuild.)
  *
  * Everything here is HASH sampling: membership is a pure function of the
  * row's stable key (`md5(doc_id || salt)`), so the same corpus yields
  * the same sample on any cluster size, any partitioning, any engine —
  * which is also exactly what makes these queries oracle-gatable against
  * DuckDB. Thresholds compare fixed-width lowercase-hex PREFIXES
  * lexicographically (equivalent to comparing the number, no hex→int
  * conversion portability risk).
  *
  * Scale shapes (100 TB):
  *  - Bernoulli / stratified: stateless per-row predicate — no shuffle,
  *    no driver state, composes with pushdown (the scan still prunes
  *    columns; the hash needs only the key column).
  *  - uniform-k per stratum rides [[graft.plans.TopKPerKey]]: map-side
  *    partial top-k per stratum, THEN one shuffle of k rows per
  *    (partition × stratum) — a window row_number would shuffle the
  *    whole corpus to rank it (and one giant stratum = one straggler
  *    task; the partial pass caps what reaches it at k per map task).
  */
object Sampling {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Sampling key: stable per (row, salt), uniform in [0,1) by md5. The
    * salt decorrelates independent samples — two different salts give two
    * independent subsets, the SAME salt gives the same subset forever. */
  private def sampleKey(salt: String) =
    md5(concat(col("doc_id").cast("string"), lit(":" + salt)))

  /** ~25% Bernoulli sample (first 4 hex chars <= '3fff' = 16384/65536),
    * profiled per language with full-fidelity witnesses. */
  def qSampleBernoulli(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(substring(sampleKey("bern"), 1, 4) <= "3fff")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        min(md5(col("text"))).as("min_h"),
        max(md5(col("text"))).as("max_h"))
      .orderBy("lang")

  /** Per-stratum rates — the quota shape (oversample a scarce language,
    * downsample a glut): en at ~50%, everything else at ~12.5%. Realized
    * rate reported in basis points as exact integer floor-division. */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        count(when(substring(sampleKey("strat"), 1, 4) <=
          when(col("lang") === "en", "7fff").otherwise("1fff"), 1))
          .as("n_sampled"),
        sum(when(substring(sampleKey("strat"), 1, 4) <=
          when(col("lang") === "en", "7fff").otherwise("1fff"),
          col("doc_id"))).cast("bigint").as("sum_sampled_ids"))
      .withColumn("rate_bp",
        expr("n_sampled * 10000L div n_total").cast("bigint"))
      .orderBy("lang")

  /** Exactly-k-per-stratum uniform draw (k smallest hash keys per lang =
    * a uniform without-replacement sample of size k), via the native
    * partial-top-k operator. Strata smaller than k are taken whole. */
  def qSampleUniformK(spark: SparkSession, dir: String): DataFrame = {
    val keyed = docs(spark, dir).withColumn("skey", sampleKey("res"))
    graft.plans.TopKPerKey.topKPerKey(
        keyed, Seq(col("lang")), Seq(col("skey").asc, col("doc_id").asc),
        k = 20)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_drawn"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        max(col("skey")).as("max_key"))
      .orderBy("lang")
  }

  /** Size-weighted (PPS) Poisson sampling — include each doc with
    * probability proportional to its n_chars (token-budget sampling: a
    * char-weighted draw approximates "sample N tokens", the unit that
    * actually matters for training mixes). Inclusion: 32-bit hash value
    * < n_chars · K, i.e. pᵢ = min(1, n_chars·K / 2³²) — still a pure
    * per-row predicate, zero shuffle, reproducible everywhere. The
    * Horvitz-Thompson estimate of TOTAL corpus chars from the sample
    * alone is reported as an exact-integer witness: each uncapped
    * sampled row contributes n_chars/pᵢ = 2³²/K (floor), a capped row
    * (pᵢ=1) contributes its own n_chars — the oracle replays the same
    * integer arithmetic, and SamplingSpec checks the estimate against
    * the true total within sampling error. */
  def qSamplePps(spark: SparkSession, dir: String): DataFrame = {
    val K = 6000000L
    val hash32 = expr(
      "cast(conv(substring(md5(concat(cast(doc_id as string), ':pps')), 1, 8), 16, 10) as bigint)")
    docs(spark, dir)
      .filter(hash32 < least(col("n_chars") * K, lit(4294967296L)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).cast("bigint").as("sum_sampled_chars"),
        count(when(col("n_chars") * K >= 4294967296L, 1)).as("n_capped"),
        sum(when(col("n_chars") * K >= 4294967296L, col("n_chars"))
          .otherwise(lit(4294967296L / K))).cast("bigint").as("ht_total_chars"))
      .orderBy("lang")
  }

  /** Deterministic EPOCH RESHUFFLING — the training-loader operation:
    * each epoch needs a different global permutation of the corpus into
    * ordered shards, reproducible months later without any RNG state.
    * Epoch e's permutation is simply ordering by md5(doc_id ":e" e):
    * shard = first hash byte mod 8, within-shard order = the hash
    * string — a different-but-fixed permutation per epoch, identical on
    * any cluster shape or engine. At 100 TB the writer path is
    * repartition(shard) + sortWithinPartitions(key) (one shuffle, no
    * global sort); the window here exists to derive an ORDER-SENSITIVE
    * checksum (Σ position·doc_id per shard) so the gate proves both
    * engines agree on the exact permutation, not just the membership. */
  def qEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs(spark, dir).select(col("doc_id"))
      .withColumn("epoch", explode(array(lit(0), lit(1))))
      .withColumn("skey", md5(concat(col("doc_id").cast("string"),
        lit(":e"), col("epoch").cast("string"))))
      .withColumn("shard", expr(
        "cast(conv(substring(skey, 1, 2), 16, 10) as bigint) % 8"))
    keyed
      .withColumn("rn", row_number().over(Window
        .partitionBy("epoch", "shard")
        .orderBy(col("skey").asc, col("doc_id").asc)))
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        sum(col("rn") * col("doc_id")).cast("bigint").as("ord_checksum"),
        min(col("skey")).as("first_key"))
      .orderBy("epoch", "shard")
  }

  /** Per-language token counts — the |langs|-row corpus-stats table
    * BOTH budget planners (q_token_budget, q_mix_waterfill) read:
    * session-shared and prewarmed (r19 trim — each planner paid its
    * own full tokenize pass per run before). */
  private[graft] def langTokenCounts(spark: SparkSession,
      dir: String): DataFrame =
    Tables.materializeSharedBy(spark,
      "langtok", dir)(Tables(spark, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("t"))
        .groupBy("lang").agg(count(lit(1)).as("n_tokens")))

  /** Token-budget apportionment (largest-remainder / Hamilton method):
    * split a fixed training-token budget across languages exactly
    * proportionally to their measured token counts — floors of the
    * exact integer quotas, with the leftover seats going to the
    * largest remainders (ties to the lexicographically smaller lang).
    * The allocations sum to the budget EXACTLY (SamplingSpec pins it),
    * which naive per-lang rounding does not — and every step is
    * integer arithmetic, identical in both engines. The scale shape is
    * the point: the corpus pays ONE tokenize pass into a 5-row count
    * table; the apportionment itself is window arithmetic over
    * |langs| rows, so the budget solver costs nothing no matter the
    * corpus size. */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 100000L
    val counts = langTokenCounts(spark, dir)
    // empty-partition window is BOUNDED by key cardinality: it runs over
    // the per-lang aggregate (|langs| rows — single digits at any corpus
    // size), never over data-sized input
    val all = Window.partitionBy()
    val ranked = counts
      .withColumn("total", sum(col("n_tokens")).over(all))
      .withColumn("base",
        expr(s"$budget * n_tokens div total"))
      .withColumn("rem", expr(s"($budget * n_tokens) % total"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(all))
      .withColumn("rk", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc, col("lang").asc)))
    ranked.select(col("lang"), col("n_tokens"),
        (col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L)).as("alloc_tokens"))
      .orderBy("lang")
  }

  /** Token-budget WATERFILLING under availability caps — the mix planner
    * [[qTokenBudget]]'s proportional apportionment can't express: spread
    * budget B as evenly as possible across languages, but a language can
    * contribute at most what it HAS (the low-resource-language reality:
    * proportional allocation starves them further; waterfilling tops
    * every source up to a common level λ, capping the small ones at
    * their availability). Exact integer algorithm on the per-lang
    * aggregate: sort by availability ascending with prefix sums; source
    * at rank k is CAPPED iff a_k·(n−k+1) + p_{k−1} ≤ B (the "used if
    * the level reaches a_k" test — nondecreasing in k, so capping is a
    * prefix property); λ = (B − Σ_capped a) div uncapped, with the
    * remainder distributed +1 to the first uncapped languages by name
    * (largest-remainder determinism, the qTokenBudget discipline).
    * Σ alloc = min(B, Σ a) exactly. Like qTokenBudget, the
    * empty-partition windows run over the per-lang AGGREGATE (single
    * digits at any corpus size), never data-sized input; the corpus
    * pays one tokenize pass. */
  def qMixWaterfill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 120000L
    // the per-lang counts are consumed twice (stats scalar + the
    // allocation rows) — the session-shared materialized table means
    // the corpus tokenize pass runs once per corpus version, not per
    // consumer or per run
    val counts = langTokenCounts(spark, dir)
    val all = Window.partitionBy()
    val byAvail = Window.partitionBy().orderBy(asc("n_tokens"), asc("lang"))
    val ranked = counts
      .withColumn("k", row_number().over(byAvail).cast("long"))
      .withColumn("pre", sum(col("n_tokens")).over(
        byAvail.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("capped",
        when(col("n_tokens") * (col("n") - col("k") + 1)
          + (col("pre") - col("n_tokens")) <= budget, 1).otherwise(0))
    val stats = ranked.agg(
      sum(col("capped")).cast("long").as("kk"),
      sum(when(col("capped") === 1, col("n_tokens")).otherwise(0L))
        .cast("long").as("pf"),
      count(lit(1)).as("nn"))
    ranked.crossJoin(broadcast(stats))
      .withColumn("rk_unc", row_number().over(
        Window.partitionBy("capped").orderBy("lang")).cast("long"))
      .withColumn("alloc_tokens",
        when(col("capped") === 1, col("n_tokens")).otherwise(
          expr(s"($budget - pf) div (nn - kk)")
            + when(col("rk_unc") <= expr(s"($budget - pf) % (nn - kk)"),
              1L).otherwise(0L)))
      .select(col("lang"), col("n_tokens"), col("capped"),
        col("alloc_tokens").cast("bigint").as("alloc_tokens"))
      .orderBy("lang")
  }

  /** Integer log₂ of the EXACT wide cross-product `a·b`, for `b` any
    * BIGINT and `a < 10¹⁸`: DECIMAL(18,0)×DECIMAL(19,0) multiplies to
    * DECIMAL(38,0) without rounding (precision 18+19+1 = 38 exactly),
    * and lb splits on 2⁶³ — below it the product casts to BIGINT and
    * the usual length(bin(x))−1 applies; at/above it
    * lb(v) = 63 + lb(v div 2⁶³), exact because range partitioning by
    * the high word is order-disjoint: v ∈ [hi·2⁶³, (hi+1)·2⁶³) ⊂
    * [2^(63+lb(hi)), 2^(63+lb(hi)+1)). Values below 2⁶³ are
    * bit-identical to the narrow BIGINT form, so gate hashes are
    * unchanged; SamplingSpec pins the wide regime against BigInt. */
  private[graft] def lbProdSql(a: String, b: String): String = {
    val prod = s"(CAST($a AS DECIMAL(18,0)) * CAST($b AS DECIMAL(19,0)))"
    s"""(CASE WHEN $prod <= 9223372036854775807
       |  THEN length(bin(CAST($prod AS BIGINT))) - 1
       |  ELSE 63 + length(bin($prod div 9223372036854775808)) - 1
       |  END)""".stripMargin
  }

  /** The q_dsir_select per-bucket weight lb(p·Q) − lb(q·P) over the
    * wide products — see [[lbProdSql]]. */
  private[graft] val dsirWeightSql: String =
    s"${lbProdSql("p", "qt")} - ${lbProdSql("q", "pt")}"

  /** The DSIR importance model's (doc, lang, bucket) bigram-count table
    * — in Xie'23 this is literally a precomputed artifact; here a
    * session-shared prewarmed corpus-version table (r19: it was a
    * per-invocation materialize, so every run re-paid the
    * tokenize+bigram+md5 pass). Every downstream aggregate (bucket
    * weights, smoothing totals, per-doc scores) is a rollup of IT, so
    * the corpus is scanned exactly once per corpus version however
    * many frames appear in the final plan. */
  private[graft] def dsirPerDoc(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "dsirpd", dir) {
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      docs.select(col("doc_id"), col("lang"),
        explode(expr(
          """transform(slice(toks, 1, size(toks) - 1),
            |  (x, i) -> concat(x, ' ', element_at(toks, i + 2)))"""
            .stripMargin)).as("g"))
        .select(col("doc_id"), col("lang"),
          expr("CAST(conv(substring(md5(g), 1, 4), 16, 10) AS BIGINT) % 4096")
            .as("b"))
        .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
    }

  /** DSIR-style importance selection (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how much more likely its hashed-n-gram bag
    * is under a TARGET domain's bucket distribution than under the raw
    * corpus's, and keep the top scorers — the standard recipe for
    * carving a domain-matched training subset out of a web-scale crawl
    * without training a classifier. Features are Xie'23 §3's hashed
    * bigrams (md5 prefix → 4096 buckets, the q_feature_hash idiom);
    * target = the English slice of the corpus, raw = everything; bucket
    * weights are Laplace-smoothed (+1) counts.
    *
    * Cross-engine exactness: the true DSIR weight
    * Σ_b c_b·(log p̂_b − log q̂_b) is libm-bound, so the score uses the
    * repo's integer log₂ surrogate (length(bin(x))−1, the q_zipf_fit
    * idiom) over the EXACT integer cross-products —
    * lb(p_b·Q) − lb(q_b·P) with P = 4096 + |target grams| and
    * Q = 4096 + |raw grams| — a monotone quantization of the same
    * log-ratio, fully hash-gatable. Scale shape: one tokenize pass
    * explodes (doc, bucket) counts, the bucket table is ≤4096 rows
    * broadcast back, the score is one doc-keyed aggregation, and the
    * selection is a global TOP-K (TakeOrdered — no window, no full
    * sort). */
  def qDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = dsirPerDoc(spark, dir)
    val buckets = perDoc
      .groupBy("b")
      .agg((sum(col("c")) + 1L).cast("long").as("q"),
        (sum(when(col("lang") === "en", col("c")).otherwise(0L)) + 1L)
          .cast("long").as("p"))
    // P/Q include the +1 smoothing mass of ALL 4096 buckets, present or
    // not: Σ_present(q−1) = total grams, so qt = grams + 4096
    val totals = buckets.agg(
      (sum(col("q") - 1L) + 4096L).cast("long").as("qt"),
      (sum(col("p") - 1L) + 4096L).cast("long").as("pt"))
    // Exactness at scale (r16 verdict fix): the cross-products p·Q and
    // q·P run in DECIMAL(18,0)×DECIMAL(19,0) → DECIMAL(38,0) — EXACT
    // at any corpus size up to 10¹⁸ grams per side (≈ an exabyte of
    // text; the BIGINT count sums themselves saturate just past it),
    // where the old BIGINT products wrapped silently past ~3e9 grams.
    // Past 10¹⁸ the DECIMAL(18,0) cast errors LOUDLY under ANSI
    // (NUMERIC_VALUE_OUT_OF_RANGE), never a silent wrong ranking. The
    // integer-log₂ of the wide product splits on 2⁶³ (see dsirWeightSql)
    // and is bit-identical to the narrow form below it.
    perDoc.join(broadcast(buckets), "b")
      .crossJoin(broadcast(totals))
      .withColumn("w", expr(dsirWeightSql))
      .groupBy("doc_id", "lang")
      .agg(sum(col("c")).cast("bigint").as("n_grams"),
        sum(col("c") * col("w")).cast("bigint").as("score"))
      .orderBy(desc("score"), desc("n_grams"), asc("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("lang"), col("n_grams"), col("score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dsir_select" -> qDsirSelect _,
    "q_token_budget" -> qTokenBudget _,
    "q_mix_waterfill" -> qMixWaterfill _,
    "q_epoch_shuffle" -> qEpochShuffle _,
    "q_sample_bernoulli" -> qSampleBernoulli _,
    "q_sample_stratified" -> qSampleStratified _,
    "q_sample_uniform_k" -> qSampleUniformK _,
    "q_sample_pps" -> qSamplePps _)

  val oracles: Map[String, String] = Map(
    // Full DSIR replay: same tokens/bigrams/md5 buckets, same
    // Laplace-smoothed counts, same integer-log2 cross-product weights,
    // same top-20 — see qDsirSelect. DuckDB SUM/COUNT widen to
    // HUGEINT, so every aggregate is cast BIGINT before the products.
    "q_dsir_select" ->
      """WITH d AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(gg), 1, 4) AS BIGINT) % 4096 AS b
        |  FROM (SELECT doc_id, lang,
        |      unnest(list_transform(
        |        list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
        |        z -> z[1] || ' ' || z[2])) AS gg
        |    FROM d WHERE len(toks) >= 2) z),
        |pd AS (SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM g GROUP BY 1, 2, 3),
        |bk AS (SELECT b, CAST(COUNT(*) + 1 AS BIGINT) AS q,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1
        |      AS BIGINT) AS p
        |  FROM g GROUP BY b),
        |tt AS (SELECT CAST(COUNT(*) + 4096 AS BIGINT) AS qt,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 4096
        |      AS BIGINT) AS pt
        |  FROM g),
        |s AS (SELECT pd.doc_id, pd.lang,
        |    CAST(SUM(pd.c) AS BIGINT) AS n_grams,
        |    CAST(SUM(pd.c * (
        |      (CASE WHEN CAST(bk.p AS HUGEINT) * tt.qt <= 9223372036854775807
        |        THEN LENGTH(bin(CAST(CAST(bk.p AS HUGEINT) * tt.qt AS BIGINT))) - 1
        |        ELSE 63 + LENGTH(bin(CAST((CAST(bk.p AS HUGEINT) * tt.qt)
        |          // CAST('9223372036854775808' AS HUGEINT) AS BIGINT))) - 1 END) -
        |      (CASE WHEN CAST(bk.q AS HUGEINT) * tt.pt <= 9223372036854775807
        |        THEN LENGTH(bin(CAST(CAST(bk.q AS HUGEINT) * tt.pt AS BIGINT))) - 1
        |        ELSE 63 + LENGTH(bin(CAST((CAST(bk.q AS HUGEINT) * tt.pt)
        |          // CAST('9223372036854775808' AS HUGEINT) AS BIGINT))) - 1 END)))
        |      AS BIGINT) AS score
        |  FROM pd JOIN bk USING (b), tt
        |  GROUP BY 1, 2)
        |SELECT doc_id, lang, n_grams, score
        |FROM s ORDER BY score DESC, n_grams DESC, doc_id LIMIT 20""".stripMargin,
    "q_token_budget" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_tokens FROM (
        |    SELECT lang,
        |      unnest(list_filter(string_split_regex(text, '\s+'),
        |        t -> t <> '')) AS t
        |    FROM documents) GROUP BY lang),
        |t AS (SELECT c.*, (SELECT SUM(n_tokens) FROM c) AS total FROM c),
        |q AS (SELECT lang, n_tokens,
        |        100000 * n_tokens // total AS base,
        |        (100000 * n_tokens) % total AS rem
        |      FROM t),
        |r AS (SELECT q.*,
        |        100000 - (SELECT SUM(base) FROM q) AS leftover,
        |        ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
        |      FROM q)
        |SELECT lang, n_tokens,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc_tokens
        |FROM r ORDER BY lang""".stripMargin,
    // Waterfilling replay: same sort/prefix capping test, same λ and
    // largest-remainder distribution — see qMixWaterfill. All divisions
    // on non-negative integers (div == //).
    "q_mix_waterfill" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_tokens FROM (
        |    SELECT lang,
        |      unnest(list_filter(string_split_regex(text, '\s+'),
        |        t -> t <> '')) AS t
        |    FROM documents) GROUP BY lang),
        |r AS (SELECT lang, n_tokens,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS BIGINT) k,
        |    SUM(n_tokens) OVER (ORDER BY n_tokens, lang
        |      ROWS UNBOUNDED PRECEDING) pre,
        |    COUNT(*) OVER () n
        |  FROM c),
        |cp AS (SELECT *,
        |    CASE WHEN n_tokens * (n - k + 1) + (pre - n_tokens) <= 120000
        |      THEN 1 ELSE 0 END capped
        |  FROM r),
        |s AS (SELECT CAST(SUM(capped) AS BIGINT) kk,
        |    CAST(SUM(CASE WHEN capped = 1 THEN n_tokens ELSE 0 END)
        |      AS BIGINT) pf,
        |    CAST(COUNT(*) AS BIGINT) nn
        |  FROM cp)
        |SELECT lang, n_tokens, CAST(capped AS INT) capped,
        |  CAST(CASE WHEN capped = 1 THEN n_tokens
        |    ELSE (120000 - s.pf) // (s.nn - s.kk)
        |      + CASE WHEN ROW_NUMBER() OVER (PARTITION BY capped
        |          ORDER BY lang) <= (120000 - s.pf) % (s.nn - s.kk)
        |        THEN 1 ELSE 0 END
        |    END AS BIGINT) AS alloc_tokens
        |FROM cp, s ORDER BY lang""".stripMargin,
    "q_epoch_shuffle" ->
      """WITH keyed AS (
        |  SELECT doc_id, epoch,
        |    md5(doc_id::VARCHAR || ':e' || epoch::VARCHAR) AS skey
        |  FROM documents, (SELECT UNNEST([0, 1]) AS epoch)),
        |sharded AS (
        |  SELECT *, CAST('0x' || substr(skey, 1, 2) AS BIGINT) % 8 AS shard
        |  FROM keyed),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY epoch, shard
        |    ORDER BY skey ASC, doc_id ASC) AS rn
        |  FROM sharded)
        |SELECT epoch, shard, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(rn * doc_id) AS BIGINT) AS ord_checksum,
        |  MIN(skey) AS first_key
        |FROM ranked GROUP BY epoch, shard
        |ORDER BY epoch, shard""".stripMargin,
    "q_sample_bernoulli" ->
      """SELECT lang, COUNT(*) AS n_sampled,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  MIN(md5(text)) AS min_h, MAX(md5(text)) AS max_h
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR || ':bern'), 1, 4) <= '3fff'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, COUNT(*) AS n_total,
        |  CAST(COUNT(*) FILTER (WHERE substr(md5(doc_id::VARCHAR || ':strat'), 1, 4)
        |    <= CASE WHEN lang = 'en' THEN '7fff' ELSE '1fff' END) AS BIGINT) AS n_sampled,
        |  CAST(SUM(doc_id) FILTER (WHERE substr(md5(doc_id::VARCHAR || ':strat'), 1, 4)
        |    <= CASE WHEN lang = 'en' THEN '7fff' ELSE '1fff' END) AS BIGINT) AS sum_sampled_ids,
        |  CAST((COUNT(*) FILTER (WHERE substr(md5(doc_id::VARCHAR || ':strat'), 1, 4)
        |    <= CASE WHEN lang = 'en' THEN '7fff' ELSE '1fff' END) * 10000)
        |    // COUNT(*) AS BIGINT) AS rate_bp
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sample_pps" ->
      """WITH s AS (
        |  SELECT lang, n_chars,
        |    CAST('0x' || substr(md5(doc_id::VARCHAR || ':pps'), 1, 8) AS BIGINT) AS h
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_sampled,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_sampled_chars,
        |  CAST(COUNT(*) FILTER (WHERE n_chars * 6000000 >= 4294967296) AS BIGINT) AS n_capped,
        |  CAST(SUM(CASE WHEN n_chars * 6000000 >= 4294967296 THEN n_chars
        |    ELSE 4294967296 // 6000000 END) AS BIGINT) AS ht_total_chars
        |FROM s
        |WHERE h < LEAST(n_chars * 6000000, 4294967296)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sample_uniform_k" ->
      """WITH keyed AS (
        |  SELECT lang, doc_id, md5(doc_id::VARCHAR || ':res') AS skey
        |  FROM documents),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY skey ASC, doc_id ASC) AS rn
        |  FROM keyed)
        |SELECT lang, COUNT(*) AS n_drawn,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids, MAX(skey) AS max_key
        |FROM ranked WHERE rn <= 20
        |GROUP BY lang ORDER BY lang""".stripMargin)
}
