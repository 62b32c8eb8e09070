package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Unigram-LM tokenizer training (Kudo, ACL 2018 — the SentencePiece
  * trainer) beside [[Bpe]] — the other standard subword algorithm a
  * training-data pipeline ships. Where BPE grows a vocabulary bottom-up
  * by merging, the unigram LM starts from a SEED vocabulary of frequent
  * substrings and refines piece probabilities by EM: the E-step
  * segments every word with the current model, the M-step re-estimates
  * piece probabilities from the segmentation counts.
  *
  * Same 100 TB shape as BPE (Sennrich's collapse): everything trains on
  * the shared WORD FREQUENCY table ([[Bpe.wordFreq]] — the one
  * full-corpus scan), so each E-step is one vocabulary-sized
  * distributed pass; the piece table (≤ [[SeedTop]] + alphabet rows) is
  * the only driver-side state — bounded, like the k-means centroids and
  * the BPE argmax row.
  *
  * Deliberate deviations from full Kudo training, chosen so every step
  * is exact-integer and therefore hash-gatable cross-engine (the DuckDB
  * oracle independently re-derives the WHOLE chain — seed statistics,
  * both Viterbi E-steps as unrolled DP CTEs, both M-steps, the integer
  * scores — from the raw corpus):
  *
  *  - HARD EM (Viterbi counts), not forward-backward expectations —
  *    the standard "Viterbi EM" variant; 2 EM iterations, fixed;
  *  - piece log-probabilities use the repo's integer-log₂ surrogate at
  *    quarter-bit resolution: score(c) = lb((r max 1)⁴) − 72 with
  *    r = (c·2¹⁸) div C — a monotone quantization of 4·log₂(c/C)
  *    (the q_zipf_fit / q_dsir_select idiom, one extra squaring for
  *    granularity). The 2¹⁸ shift product runs in BigInt on the driver
  *    and HUGEINT in the oracle — exact at any corpus size;
  *  - the trainer caps words at [[MaxWordLen]] chars and seed pieces at
  *    [[MaxPieceLen]] (unigram trainers cap candidate extraction; cf.
  *    SentencePiece's max_sentencepiece_length). The cap is an operator
  *    PARAMETER, not a silent drop: q_unigram_encode reports excluded
  *    words per language as n_long_words.
  *
  * Viterbi is ONE row-local `aggregate` expression over the word: the
  * DP array acc[j] holds the best (score, last-piece, tokens) for each
  * prefix, candidates come from the piece table spliced as a DATA array
  * (the [[Bpe.encodeExpr]] merges-as-data lesson — plan size does not
  * grow with vocabulary), and array_max's struct comparison is the
  * argmax. Ties are impossible beyond (score, piece-length): two
  * candidates at one position with equal length are the same piece, so
  * the (sc DESC, l DESC) order — mirrored verbatim in the oracle's
  * ROW_NUMBER — is total. */
object Unigram {
  private[graft] val MaxWordLen = 12
  private[graft] val MaxPieceLen = 4
  private[graft] val SeedTop = 64
  private[graft] val ShiftBits = 18
  private[graft] val ScoreBias = 4 * ShiftBits // 72

  /** The trainer's view of the corpus: the shared word-frequency table
    * capped at [[MaxWordLen]] chars. */
  private def words(spark: SparkSession, dir: String): DataFrame =
    Bpe.wordFreq(spark, dir).filter(length(col("w")) <= MaxWordLen)

  /** Seed statistics (Kudo §3.2's substring candidates): every
    * substring of length 1..[[MaxPieceLen]], weighted by word
    * frequency. One vocabulary-sized explode + hash agg. */
  private def seedCounts(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir).select(explode(expr(
      s"""flatten(transform(sequence(1, LEAST(length(w), $MaxPieceLen)),
         |  l -> transform(sequence(1, length(w) - l + 1),
         |         i -> substring(w, CAST(i AS INT), CAST(l AS INT)))))"""
        .stripMargin)).as("p"), col("wc"))
      .groupBy("p").agg(sum(col("wc")).cast("bigint").as("cnt"))

  /** Integer quarter-bit log-prob surrogate — see the object scaladoc.
    * Exact in BigInt; the oracle computes the identical value in
    * HUGEINT. */
  private[graft] def score(c: Long, total: Long): Long = {
    val r = ((BigInt(c) << ShiftBits) / BigInt(total)) max BigInt(1)
    (r.pow(4).bitLength - 1).toLong - ScoreBias
  }

  /** (piece, count-at-estimation, score) rows of a model iteration. */
  private[graft] final case class Model(pieces: Seq[(String, Long, Long)])

  private def withScores(counts: Seq[(String, Long)]): Model = {
    val total = counts.map(_._2).sum
    Model(counts.sortBy(_._1).map { case (p, c) => (p, c, score(c, total)) })
  }

  /** The Viterbi segmentation of column `w` under `m` as a row-local
    * expression — returns the token ARRAY. Pieces are ^[a-z]+$
    * substrings (trainer construction), so splicing them as literals is
    * injection-safe. The piece array is DATA: one literal site, plan
    * depth constant in vocabulary size. */
  private[graft] def vitExpr(m: Model): String = {
    val arr = m.pieces.map { case (p, _, s) =>
      s"named_struct('p', '$p', 'l', ${p.length}, 's', CAST($s AS BIGINT))"
    }.mkString("array(", ", ", ")")
    s"""element_at(aggregate(sequence(1, length(w)),
       |  array(named_struct('sc', CAST(0 AS BIGINT), 'l', 0, 'p', '',
       |                     'toks', CAST(array() AS ARRAY<STRING>))),
       |  (acc, j) -> concat(acc, array(array_max(filter(transform($arr,
       |    q -> IF(q.l <= j AND substring(w, j - q.l + 1, q.l) = q.p,
       |            named_struct(
       |              'sc', element_at(acc, j - q.l + 1).sc + q.s,
       |              'l', q.l, 'p', q.p,
       |              'toks', concat(element_at(acc, j - q.l + 1).toks,
       |                             array(q.p))),
       |            NULL)),
       |    x -> x IS NOT NULL))))),
       |  length(w) + 1).toks""".stripMargin
  }

  /** Distributed E-step: (w, wc, toks) under model `m`. */
  private def eStep(spark: SparkSession, dir: String, m: Model): DataFrame =
    words(spark, dir).select(col("w"), col("wc"),
      expr(vitExpr(m)).as("toks"))

  /** Bounded M-step collect: per-piece Viterbi usage counts, weighted
    * by word frequency (≤ vocabulary-sized agg → ≤ piece-table rows to
    * the driver). */
  private def usage(seg: DataFrame): Seq[(String, Long)] = {
    import seg.sparkSession.implicits._
    seg.select(explode(col("toks")).as("p"), col("wc"))
      .groupBy("p").agg(sum(col("wc")).cast("bigint").as("cnt"))
      .as[(String, Long)].collect().toSeq
  }

  // one training run per corpus per JVM; state is the bounded
  // piece table (like ivfCentroidCache)
  private val modelCache = new Tables.KeyedOnce[Model]

  /** The trained model (pieces after EM iteration 1's M-step — the
    * model the final E-step and both registered queries consume). */
  private[graft] def model(spark: SparkSession, dir: String): Model =
    modelCache(dir) {
      import spark.implicits._
      val sc = seedCounts(spark, dir)
      val top = sc.orderBy(desc("cnt"), asc("p")).limit(SeedTop)
        .as[(String, Long)].collect().toSeq
      val chars = sc.filter(length(col("p")) === 1)
        .as[(String, Long)].collect().toSeq
      val m0 = withScores((top ++ chars).distinctBy(_._1))
      // E1 + M1: single chars are kept at count 0 when unused — the
      // coverage floor every unigram trainer enforces
      val u1 = usage(eStep(spark, dir, m0))
      val used = u1.map(_._1).toSet
      withScores(u1 ++ chars.collect {
        case (p, _) if !used.contains(p) => (p, 0L)
      })
    }

  /** Final segmentation (E-step 2) — session-shared: both registered
    * queries read it. By-name:
    * construction runs the training jobs. */
  private[graft] def sharedSeg(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "uniseg", dir)(
      eStep(spark, dir, model(spark, dir)))

  /** The learned vocabulary: every piece of the trained model with its
    * final-segmentation usage count and the score it carried — ordered
    * by usage. The tokenizer artifact (what SentencePiece serializes). */
  def qUnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
    val u2 = sharedSeg(spark, dir)
      .select(explode(col("toks")).as("piece"), col("wc"))
      .groupBy("piece").agg(sum(col("wc")).cast("bigint").as("cnt"))
    spark.createDataFrame(m.pieces).toDF("piece", "cnt1", "score")
      .join(u2, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).cast("bigint")
        .as("cnt"), col("score"))
      .orderBy(desc("cnt"), asc("piece"))
  }

  /** Encode the corpus with the trained model: per-language token
    * counts and chars/token (the [[Bpe.qBpeEncode]] twin). The corpus
    * pays ONE narrow pass + an equi-join of word → token count against
    * the vocabulary-sized segmentation (AQE broadcasts it when small,
    * shuffles when a real crawl's vocabulary isn't — same join
    * discipline as BPE encode). Words past [[MaxWordLen]] are outside
    * the trained vocabulary and REPORTED per language (n_long_words),
    * never silently dropped. */
  def qUnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val ntok = sharedSeg(spark, dir)
      .select(col("w"), size(col("toks")).as("n_tok"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(TextOps.tokens(lower(col("text")))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .join(ntok, Seq("w"), "left")
      .groupBy("lang")
      .agg(count(when(col("n_tok").isNotNull, 1)).cast("bigint")
          .as("n_words"),
        count(when(col("n_tok").isNull, 1)).cast("bigint")
          .as("n_long_words"),
        sum(col("n_tok")).cast("bigint").as("n_tokens"),
        sum(when(col("n_tok").isNotNull, length(col("w"))))
          .cast("bigint").as("n_chars"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unigram_lm" -> qUnigramLm _,
    "q_unigram_encode" -> qUnigramEncode _)

  // ---------------------------------------------------------------------
  // INDEPENDENT DuckDB re-derivation (no exports): seed statistics, both
  // Viterbi E-steps as unrolled per-position DP CTEs, both M-steps, and
  // the HUGEINT quarter-bit scores — the mergesOracleSql discipline.
  // ---------------------------------------------------------------------

  /** HUGEINT twin of [[score]]: r = (c·2¹⁸)//C, x = max(r,1), then
    * lb(x⁴) − 72 with the 2⁶³-split bin() trick (x ≤ 2¹⁸ so x⁴ ≤ 2⁷²,
    * exact in HUGEINT). */
  private def scoreSql(c: String, total: String): String = {
    val x = s"GREATEST((CAST($c AS HUGEINT) * ${1L << ShiftBits}) // ($total), 1)"
    val x4 = s"($x * $x * $x * $x)"
    s"""CAST((CASE WHEN $x4 <= 9223372036854775807
       |  THEN LENGTH(bin(CAST($x4 AS BIGINT))) - 1
       |  ELSE 63 + LENGTH(bin(CAST($x4 // CAST('9223372036854775808' AS HUGEINT)
       |    AS BIGINT))) - 1 END) - $ScoreBias AS BIGINT)""".stripMargin
  }

  /** Unrolled Viterbi DP over prefix lengths 1..[[MaxWordLen]] for
    * E-step `it`, reading scored pieces from CTE `pcte` (p, l, s).
    * Candidates at position k draw from v{it}_{k−l} for each piece
    * length l — ≤ [[MaxPieceLen]] branches, distinct l per word, so the
    * (sc DESC, l DESC) argmax mirrors the engine's array_max exactly. */
  private def dpSql(it: Int, pcte: String): String = {
    val sb = new StringBuilder
    sb ++= s"""v${it}_0 AS (SELECT w, wc, CAST(0 AS BIGINT) AS sc,
              |  '' AS toks FROM wf),
              |""".stripMargin
    for (k <- 1 to MaxWordLen) {
      val branches = (1 to math.min(MaxPieceLen, k)).map { l =>
        s"""SELECT z.w, z.wc, z.sc + q.s AS sc, q.l AS l,
           |      z.toks || ' ' || q.p AS toks
           |    FROM v${it}_${k - l} z JOIN $pcte q
           |      ON q.l = $l AND substring(z.w, ${k - l + 1}, $l) = q.p
           |    WHERE length(z.w) >= $k""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      sb ++= s"""v${it}_$k AS MATERIALIZED (
                |  SELECT w, wc, sc, toks FROM (
                |    SELECT w, wc, sc, l, toks, ROW_NUMBER() OVER (
                |      PARTITION BY w ORDER BY sc DESC, l DESC) AS rk
                |    FROM ($branches) cz) rz WHERE rk = 1),
                |""".stripMargin
    }
    val segUnion = (1 to MaxWordLen)
      .map(k => s"SELECT w, wc, trim(toks) AS toks FROM v${it}_$k " +
        s"WHERE length(w) = $k")
      .mkString("\n  UNION ALL ")
    sb ++= s"""seg$it AS MATERIALIZED (
              |  $segUnion),
              |u$it AS MATERIALIZED (
              |  SELECT t AS p, CAST(SUM(wc) AS BIGINT) AS cnt
              |  FROM (SELECT wc, UNNEST(string_split(toks, ' ')) AS t
              |        FROM seg$it) z GROUP BY 1),
              |""".stripMargin
    sb.result()
  }

  /** The shared training chain: corpus words → seed model (s0) → E1/M1
    * → refined model (s1) → E2 (seg2/u2). Tails select from it. */
  private def chainSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH tokc AS (
              |  SELECT lang, lower(t) AS w
              |  FROM documents, UNNEST(string_split_regex(text, '\\s+')) u(t)
              |  WHERE t <> '' AND regexp_matches(lower(t), '^[a-z]+$$')),
              |wf AS MATERIALIZED (
              |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tokc
              |  WHERE length(w) <= $MaxWordLen GROUP BY w),
              |seedc AS MATERIALIZED (
              |  SELECT substring(w, i, l) AS p, CAST(SUM(wc) AS BIGINT) AS cnt
              |  FROM wf,
              |    UNNEST(range(1, ${MaxPieceLen + 1})) ll(l),
              |    UNNEST(range(1, ${MaxWordLen + 1})) gi(i)
              |  WHERE l <= length(w) AND i <= length(w) - l + 1
              |  GROUP BY 1),
              |top64 AS (SELECT p, cnt FROM seedc
              |          ORDER BY cnt DESC, p LIMIT $SeedTop),
              |chars AS (SELECT p, cnt FROM seedc WHERE length(p) = 1),
              |p0 AS MATERIALIZED (
              |  SELECT p, cnt FROM top64 UNION SELECT p, cnt FROM chars),
              |c0 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM p0),
              |s0 AS MATERIALIZED (
              |  SELECT p, CAST(length(p) AS INT) AS l,
              |    ${scoreSql("cnt", "(SELECT total FROM c0)")} AS s
              |  FROM p0),
              |""".stripMargin
    sb ++= dpSql(1, "s0")
    sb ++= s"""p1 AS MATERIALIZED (
              |  SELECT p, cnt FROM u1
              |  UNION ALL
              |  SELECT c.p, CAST(0 AS BIGINT) AS cnt FROM chars c
              |  WHERE c.p NOT IN (SELECT p FROM u1)),
              |c1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM p1),
              |s1 AS MATERIALIZED (
              |  SELECT p, CAST(length(p) AS INT) AS l,
              |    ${scoreSql("cnt", "(SELECT total FROM c1)")} AS s
              |  FROM p1),
              |""".stripMargin
    sb ++= dpSql(2, "s1")
    sb.result()
  }

  val oracles: Map[String, String] = Map(
    "q_unigram_lm" ->
      s"""${chainSql}final AS (
         |  SELECT s1.p AS piece, CAST(COALESCE(u2.cnt, 0) AS BIGINT) AS cnt,
         |    s1.s AS score
         |  FROM s1 LEFT JOIN u2 ON u2.p = s1.p)
         |SELECT piece, cnt, score FROM final
         |ORDER BY cnt DESC, piece""".stripMargin,
    "q_unigram_encode" ->
      s"""${chainSql}ntok AS (
         |  SELECT w, CAST(len(string_split(toks, ' ')) AS INT) AS n_tok
         |  FROM seg2),
         |agg AS (
         |  SELECT tokc.lang,
         |    CAST(COUNT(n.n_tok) AS BIGINT) AS n_words,
         |    CAST(COUNT(*) FILTER (WHERE n.n_tok IS NULL) AS BIGINT)
         |      AS n_long_words,
         |    CAST(SUM(n.n_tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN n.n_tok IS NOT NULL
         |      THEN length(tokc.w) END) AS BIGINT) AS n_chars
         |  FROM tokc LEFT JOIN ntok n ON n.w = tokc.w
         |  GROUP BY 1)
         |SELECT lang, n_words, n_long_words, n_tokens, n_chars,
         |  CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token
         |FROM agg ORDER BY lang""".stripMargin)
}
