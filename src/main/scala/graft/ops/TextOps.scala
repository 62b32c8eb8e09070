package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Text-analysis + exact-dedup operators over the `documents` table — the
  * training-data-pipeline surface (dedup, quality scoring, language ID,
  * token counting, fingerprinting). The reference's only text operation is
  * word count via user executables (SURVEY.md §2.1 O9); everything here is
  * the generalization a 100 TB curation pipeline needs.
  *
  * Scale design: every operator is a narrow map (scalar expressions over
  * one row) or a single hash aggregation keyed on a hash/token — no
  * all-pairs work, no driver-side loops, everything whole-stage codegen.
  */
object TextOps {

  /** Whitespace tokens of `text` (empty tokens removed). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** Bigram-LM surprisal scoring (the CCNet-style quality signal: score
    * every doc by how (un)expected its word sequences are under a
    * language model trained on the corpus itself — boilerplate scores
    * low, garbled or off-distribution text scores high), with the float
    * log replaced by INTEGER surprisal bits so the whole query is
    * hash-gatable: bits(w1→w2) = ⌊log₂(c1(w1) div c2(w1,w2))⌋ computed
    * as `length(bin(ratio)) - 1` — the bin-string idiom q_length_
    * histogram established; ln() would hang cross-engine parity on two
    * libm implementations agreeing to the last ulp. Per-doc score =
    * mean bits per bigram, reported ×100 as an exact integer.
    *
    * Scale shape: one tokenize pass explodes bigram OCCURRENCES (with
    * multiplicity — the distinct docBigrams table can't serve an LM);
    * the count tables aggregate on the bigram/prefix keys (map-side
    * combine absorbs hot bigrams), then one equi-join back on bigram
    * and one on prefix — every stage shuffles on a derived key, never
    * all-pairs. In production the count tables are a corpus-version
    * artifact (built once, joined by every scoring batch). */
  def qLmSurprisal(spark: SparkSession, dir: String): DataFrame =
    surprisalScores(spark, dir).orderBy("doc_id")

  /** Session-shared materialized surprisal score table (doc_id,
    * n_bigrams, total_bits, avg_centibits) — q_lm_surprisal reads it
    * once and q_quality_terciles reads it TWICE (histogram build +
    * assignment join-back), so the tokenize → bigram-count → join-back
    * pipeline runs once per corpus version (prewarmed; was recomputed
    * three times across the two queries — the multi-consumer rule). */
  private[graft] def surprisalScores(spark: SparkSession,
      dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "surprisal", dir)(
      surprisal(Tables(spark, dir, "documents")))

  /** [[qLmSurprisal]] core over any (doc_id, text) frame — split out so
    * the spec can pin the bits arithmetic on a hand-computable corpus. */
  private[ops] def surprisal(docs: DataFrame): DataFrame = {
    val occ = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2))""".stripMargin))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = occ.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).cast("bigint").as("c1"))
    occ.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"),
        (length(bin(expr("c1 div c2"))) - 1).cast("bigint").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).cast("bigint").as("total_bits"))
      .withColumn("avg_centibits",
        expr("total_bits * 100L div n_bigrams").cast("bigint"))
      .orderBy("doc_id")
  }

  /** CCNet-style quality TERCILES (Wenzek et al. 2020 §4.3: split each
    * language's corpus into head/middle/tail by LM perplexity and keep
    * the head for training): per-language buckets over the integer
    * surprisal score of [[qLmSurprisal]], with bucket 1 = lowest
    * centibits (head). Bucketing is by VALUE THRESHOLD, not NTILE — the
    * scale-honest shape: the cumulative window runs over the tiny
    * (lang, centibits) HISTOGRAM (≤ a few thousand rows per language,
    * centibits is a bounded integer), never over docs, so there is no
    * per-language doc sort anywhere (an NTILE over 20 TB of one
    * language is a single-task sort — the non-scalable shape CCNet
    * itself avoids by training quantile thresholds on a sample). Docs
    * sharing a centibit value land in one bucket by construction
    * (threshold semantics; head can exceed n/3 under ties — the
    * documented CCNet behavior), which also makes the split
    * deterministic under any partitioning: bucket = f(lang, value)
    * only. Assignment joins the doc scores back to the broadcast-sized
    * bucket table; everything downstream is one hash aggregation. */
  def qQualityTerciles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val scores = surprisalScores(spark, dir)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val hist = scores.groupBy(col("lang"), col("avg_centibits"))
      .agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("lang")).orderBy(col("avg_centibits"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wall = Window.partitionBy(col("lang"))
    val buckets = hist
      .withColumn("c_before", coalesce(sum(col("c")).over(wcum), lit(0L)))
      .withColumn("n", sum(col("c")).over(wall))
      .withColumn("bucket",
        when(col("c_before") * 3 < col("n"), 1)
          .when(col("c_before") * 3 < col("n") * 2, 2)
          .otherwise(3).cast("int"))
      .select(col("lang"), col("avg_centibits"), col("bucket"))
    scores.join(broadcast(buckets), Seq("lang", "avg_centibits"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_centibits")).as("min_centibits"),
        max(col("avg_centibits")).as("max_centibits"),
        sum(col("n_bigrams")).cast("bigint").as("n_bigrams"),
        sum(col("doc_id")).cast("bigint").as("id_checksum"))
      .orderBy("lang", "bucket")
  }

  /** Exact near... exact duplicate groups by content hash: one row per
    * distinct md5, with the surviving (minimum) doc_id and group size.
    * Keyed on the hash → bucketable/shuffle-friendly at 100 TB (never a
    * full-row sort). */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("content_hash")

  /** INCREMENTAL exact dedup — the daily-ingest shape: the newest 20% of
    * doc_ids are a "batch" arriving against the older 80% "corpus", and
    * each batch doc is classified `dup_of_corpus` (content hash already
    * ingested), `dup_in_batch` (an earlier batch doc has the same hash),
    * or `new`. This is the standing-corpus complement of [[qDedupExact]]:
    * at 100 TB you never re-dedup the whole corpus per ingest — you join
    * the (small) batch against the corpus hash index on the content-hash
    * key. Both joins here are hash-equi on md5(text); on a cluster the
    * corpus side is a bucketed-by-hash index table, so the batch probe
    * shuffles only the batch, and a bloom filter on corpus hashes prunes
    * the probe before it ever shuffles (AQE injects exactly that runtime
    * filter for selective joins). */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    // integer cut so both engines agree exactly (no double rounding)
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("cut"))
    val withCut = docs.crossJoin(broadcast(cut))
    val corpus = withCut.filter(col("doc_id") <= col("cut"))
      .select("content_hash").distinct()
      .withColumn("in_corpus", lit(1))
    val batch = withCut.filter(col("doc_id") > col("cut"))
      .select("doc_id", "content_hash")
    val firstInBatch = batch.groupBy("content_hash")
      .agg(min(col("doc_id")).as("first_id"))
    batch
      .join(corpus, Seq("content_hash"), "left")
      .join(firstInBatch, "content_hash")
      .select(col("doc_id"), col("content_hash"),
        when(col("in_corpus") === 1, lit("dup_of_corpus"))
          .when(col("doc_id") > col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
      .orderBy("doc_id")
  }

  /** Gopher-style quality GATE: the rule-based keep/drop decision a
    * curation pipeline runs after scoring (Rae et al. 2021 §A1.1 shapes,
    * thresholds adapted to this corpus). Four rules — token-count range,
    * mean-token-length range, symbol-character ratio, minimum stopword
    * hits — each surfaced as its own 0/1 flag plus the conjunctive
    * `pass`, so downstream mixes can re-weight individual rules without
    * recomputing. Narrow map over one row, whole-stage codegen; at
    * 100 TB this runs in the same scan as any other per-doc scoring. */
  def qQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        length(col("text")).as("n_chars_actual"),
        length(regexp_replace(col("text"), "[a-z0-9\\s.!?,;:]", ""))
          .as("n_sym"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"))
      .withColumn("mean_token_len",
        (col("n_chars_actual") - (col("n_tokens") - lit(1))).cast("double")
          / col("n_tokens"))
      .withColumn("sym_ratio",
        col("n_sym").cast("double") / col("n_chars_actual"))
      .withColumn("r_len",
        (col("n_tokens") >= 10 && col("n_tokens") <= 100000).cast("int"))
      .withColumn("r_mean",
        (col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0)
          .cast("int"))
      .withColumn("r_sym", (col("sym_ratio") <= 0.1).cast("int"))
      .withColumn("r_stop", (col("n_stop") >= 2).cast("int"))
      .withColumn("pass",
        col("r_len") * col("r_mean") * col("r_sym") * col("r_stop"))
      .select("doc_id", "n_tokens", "mean_token_len", "sym_ratio", "n_stop",
        "r_len", "r_mean", "r_sym", "r_stop", "pass")
      .orderBy("doc_id")
  }

  /** The deduplicated corpus: doc_ids surviving exact dedup (first row of
    * each content-hash group, deterministic by doc_id order). */
  def qDedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    Tables(spark, dir, "documents")
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish regex token stream
    * (letter runs / digit runs / single non-alnum marks — RE2-safe so the
    * DuckDB oracle can mirror it exactly). */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .as("bpe_tokens"),
        length(col("text")).as("n_chars_actual"))
      .orderBy("doc_id")

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as")

  /** Quality scoring: length, punctuation density, stopword ratio, mean
    * token length — the standard cheap heuristics for corpus filtering. */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        length(col("text")).as("n_chars_actual"),
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).as("n_punct"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("mean_token_len",
        (col("n_chars_actual") - (col("n_tokens") - lit(1))).cast("double")
          / col("n_tokens"))
      .orderBy("doc_id")
  }

  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language ID by stopword-hit voting (classic n-gram/stopword
    * heuristic): count distinct-stopword hits per language, predict the
    * argmax with a fixed priority order (en>es>de>fr>zh) for ties.
    * Compared against the fixture's `lang` label. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = array_distinct(tokens(col("text")))
    val hitCols = langStops.map { case (lang, stops) =>
      size(array_intersect(toks, array(stops.map(lit): _*))).as(s"hits_$lang")
    }
    val df = Tables(spark, dir, "documents")
      .select(col("doc_id") +: col("lang") +: hitCols: _*)
    val best = langStops.map(_._1).map(l => col(s"hits_$l"))
      .reduce((a, b) => greatest(a, b))
    val predicted = langStops.map(_._1).foldRight(lit("und"): Column) {
      case (lang, elsE) => when(col(s"hits_$lang") === best && best > 0,
        lit(lang)).otherwise(elsE)
    }
    // foldRight gives en the first WHEN branch → the fixed tie priority
    df.withColumn("predicted", predicted)
      .withColumn("is_match", (col("predicted") === col("lang")).cast("int"))
      .select("doc_id", "lang", "predicted", "is_match")
      .orderBy("doc_id")
  }

  /** Per-doc unigram-entropy quality signal — the distribution-shape
    * complement of q_text_repetition's dup fractions and q_lm_surprisal's
    * bigram LM: a doc whose token distribution has LOW entropy is
    * keyword-stuffed or template spam even when no n-gram literally
    * repeats. Exact-integer formulation (the lb bin-string idiom):
    * bits = Σ_t c_t · (lb(n) − lb(c_t)) — the floor-log₂ surrogate of
    * n·H(doc) in bits. Also emits the exact max token share in basis
    * points (the dominance signal entropy summarizes). Rides the shared
    * [[tfPostings]] lexical index: one doc-keyed aggregate, one join
    * back, one doc-keyed rollup. */
  def qTokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = tfPostings(spark, dir)
    val dl = tf.groupBy("doc_id")
      .agg(sum(col("tf")).cast("bigint").as("n"),
        count(lit(1)).cast("bigint").as("n_distinct"),
        max(col("tf")).cast("bigint").as("max_tf"))
    tf.join(dl, "doc_id")
      .groupBy(col("doc_id"))
      .agg(
        first(col("n")).as("n_tokens"),
        first(col("n_distinct")).as("n_distinct"),
        sum(col("tf") * ((length(bin(col("n"))) - 1)
          - (length(bin(col("tf"))) - 1))).cast("bigint").as("bits"),
        expr("(first(max_tf) * 10000L) div first(n)").cast("bigint")
          .as("top_share_bp"))
      .join(Tables(spark, dir, "documents").select("doc_id", "lang"),
        "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_distinct"), col("bits"), col("top_share_bp"))
      .orderBy("doc_id")
  }

  /** Language-MIXING audit — the per-doc refinement of [[qLangId]]: a
    * whole-doc label hides a document whose halves are in different
    * languages (concatenated boilerplate, mid-document language switch —
    * poison for monolingual training slices). Each doc's token list is
    * split at the midpoint, each half labeled independently with the
    * same stopword-hits argmax (same tie priority, same >0 evidence
    * floor; an empty/evidence-less half reads 'und'), and the corpus
    * rolls up to (labeled lang, first-half pred, second-half pred)
    * counts with an is_mixed flag (halves disagree with evidence on
    * both sides). One narrow map + one hash agg — the qLangId shape with
    * two slices. */
  def qLangMix(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("l"))
      .withColumn("n", size(col("l")))
      .withColumn("fh", expr("slice(l, 1, n div 2)"))
      .withColumn("sh", expr("slice(l, n div 2 + 1, n - n div 2)"))
    def predOf(half: String): Column = {
      val hits = langStops.map { case (lang, stops) =>
        lang -> size(array_intersect(array_distinct(col(half)),
          array(stops.map(lit): _*)))
      }
      val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
      hits.foldRight(lit("und"): Column) { case ((lang, h), elsE) =>
        when(h === best && best > 0, lit(lang)).otherwise(elsE)
      }
    }
    base
      .withColumn("first_pred", predOf("fh"))
      .withColumn("second_pred", predOf("sh"))
      .groupBy("lang", "first_pred", "second_pred")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("is_mixed",
        (col("first_pred") =!= col("second_pred")
          && col("first_pred") =!= "und"
          && col("second_pred") =!= "und").cast("int"))
      .select(col("lang"), col("first_pred"), col("second_pred"),
        col("n_docs"), col("is_mixed"))
      .orderBy("lang", "first_pred", "second_pred")
  }

  /** Corpus Zipf-law fit — the power-law health check (natural-language
    * token frequencies follow f ∝ r^(-s), s ≈ 1; a synthetic or
    * boilerplate-heavy corpus bends the line): exact-integer OLS of
    * log₂-bits(freq) against log₂-bits(rank) over the full vocabulary,
    * with both logs computed by the bin-string idiom (float log₂ would
    * hang the gate on libm agreement) and the slope emitted as an exact
    * integer FRACTION (num/den) — integer division of a NEGATIVE
    * numerator truncates toward zero in Spark but floors in DuckDB, so
    * a milli-slope column would diverge; the fraction cannot.
    * TextOpsSpec asserts the ratio lands in the Zipf band. Scale shape:
    * one tokenize pass into the vocabulary-sized frequency table; the
    * rank is a DISTRIBUTED two-phase rank (range-partition +
    * sort-within + zipWithIndex offset arithmetic — r16: the old
    * unpartitioned row_number window put the whole vocabulary through
    * ONE task, the q_range_shard defect in miniature; vocabulary grows
    * with the corpus, so at 100 TB that single sort is a straggler).
    * zipWithIndex's global index equals the exact rank−1 regardless of
    * where the sampled range boundaries fall, because range partitions
    * are order-disjoint and (f desc, t asc) is a strict total order —
    * so the result is identical to the window form, partition-invariant
    * and hash-stable. */
  def qZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
    val spark2 = freq.sparkSession
    val rankedRdd = freq
      .repartitionByRange(32, col("f").desc, col("t").asc)
      .sortWithinPartitions(col("f").desc, col("t").asc)
      .select(col("f")).rdd.map(_.getLong(0))
      .zipWithIndex().map { case (f, i) => (i + 1L, f) }
    val pts = spark2.createDataFrame(rankedRdd).toDF("r", "f")
      .select((length(bin(col("r"))) - 1).cast("long").as("x"),
        (length(bin(col("f"))) - 1).cast("long").as("y"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("bigint").as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("bigint").as("slope_den"))
  }

  /** Classifier-evaluation report over [[qLangId]] — the per-class
    * precision/recall table a pipeline publishes before trusting a
    * heuristic labeler for routing or filtering (the q_lsh_quality
    * pattern applied to classification): per label, how many docs
    * carry it, how many were predicted as it, how many predictions
    * were right, and the basis-point precision/recall (integer DIV →
    * hash-gatable; a class never predicted reports NULL precision,
    * mirrored in both engines). One narrow pass + two tiny
    * aggregations — evaluation must not cost more than labeling. */
  def qLangidEval(spark: SparkSession, dir: String): DataFrame = {
    val pred = qLangId(spark, dir)
    val byTrue = pred.groupBy(col("lang").as("label"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_match")).cast("bigint").as("n_correct"))
    val byPred = pred.groupBy(col("predicted").as("label"))
      .agg(count(lit(1)).as("n_predicted"))
    byTrue.join(byPred, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        when(coalesce(col("n_docs"), lit(0L)) > 0,
          expr("n_correct * 10000 div n_docs")).as("recall_bp"),
        when(coalesce(col("n_predicted"), lit(0L)) > 0,
          expr("coalesce(n_correct, 0) * 10000 div n_predicted"))
          .as("precision_bp"))
      .orderBy("label")
  }

  /** Document fingerprint: md5 over the whitespace-normalized lowercase
    * text — the canonical-form content fingerprint used for fuzzy-exact
    * dedup (case/spacing-insensitive). */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fingerprint"))
      .orderBy("doc_id")

  /** Top word bigrams corpus-wide (text n-gram analysis). Guarded to docs
    * with >= 2 tokens: Spark's sequence(0, n-2) runs DESCENDING when
    * n-2 < 0 instead of producing an empty array. */
  def qTextBigrams(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1]))"))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(100)

  /** Top-20 bigram collocations by pointwise mutual information — the
    * corpus-linguistics pass that surfaces multi-word units ("natural
    * language", "machine learning") for tokenizer/phrase-vocab curation.
    * PMI = ln(p(x,y)/(p(x)p(y))); since ln is monotone the query ranks
    * by the RATIO itself, score = (c_xy·T²)/(T_big·c_x·c_y) — a chain of
    * IEEE double ops from exact integer counts, bit-identical across
    * engines in the engine's parenthesization (the q_tfidf_keywords
    * discipline: no transcendental ever crosses the oracle boundary;
    * PMI itself = ln(score) client-side if wanted). c_xy ≥ 5 is the
    * standard sparse-pair filter. Exact to the last bit while the FULL
    * product chain stays under 2⁵³ — the binding term is c_xy·T², so
    * e.g. T ≈ 10⁸ tokens already exceeds it for any c_xy ≥ 10³; past
    * that both engines degrade IDENTICALLY (same double chain in the
    * same parenthesization), so the gate never desyncs even when the
    * doubles round.
    *
    * Scale shape: one tokenize pass feeds the unigram and bigram count
    * aggregates (map-side combine on the token/pair keys), two equi-
    * joins back on the unigram key, two 1-row broadcast scalars
    * (allowlisted BNLJ), global top-20 via TakeOrdered — no window, no
    * all-pairs. */
  def qPmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // size >= 2 guard: Spark's sequence(0, -1) is the DESCENDING
    // [0, -1], not empty — a 1-token doc would fabricate a bigram
    val big = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] as w1, toks[i+1] as w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cxy = big.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val scal = uni.agg(sum(col("c")).cast("bigint").as("t_tok"))
      .crossJoin(cxy.agg(sum(col("c_xy")).cast("bigint").as("t_big")))
    cxy.filter(col("c_xy") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(scal))
      .withColumn("score",
        (col("c_xy").cast("double") * col("t_tok") * col("t_tok"))
          / (col("t_big").cast("double") * col("c_x") * col("c_y")))
      .select(col("w1"), col("w2"), col("c_xy").cast("bigint").as("c_xy"),
        col("c_x").cast("bigint").as("c_x"),
        col("c_y").cast("bigint").as("c_y"),
        col("t_tok"), col("t_big"), col("score"))
      .orderBy(desc("score"), asc("w1"), asc("w2"))
      .limit(20)
  }

  /** Inverted-index phrase search: find every document containing the
    * two-word phrase "table hash" by joining the two terms' POSTING LISTS
    * (doc_id, position) on adjacency — the search-engine primitive, and
    * the shape that answers phrase queries over 100 TB without re-reading
    * text: the corpus pays one tokenize pass into postings (in production
    * a materialized derived table bucketed by term, like the winnow fp
    * table), and each query then touches ONLY the queried terms' lists —
    * the term filter lands before the join, so just two posting lists
    * shuffle, never the token stream. Positions are raw split indices
    * (empties included identically on both engines), so adjacency is
    * p2 = p1 + 1 with no re-numbering. */
  def qPhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val postings = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("p", "word")))
    val t1 = postings.filter(col("word") === "table")
      .select(col("doc_id"), col("p").as("p1"))
    val t2 = postings.filter(col("word") === "hash")
      .select(col("doc_id").as("d2"), col("p").as("p2"))
    t1.join(t2, col("doc_id") === col("d2") && col("p2") === col("p1") + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("p1")).cast("int").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Per-doc bigram NOVELTY scoring: how much of a document's distinct
    * bigram vocabulary appears nowhere else in the corpus. High support /
    * low novelty flags boilerplate (near-identical phrasing shared across
    * many docs); high novelty flags unique content — the aggregate-level
    * complement of paragraph/minhash dedup, and a standard corpus-quality
    * signal. All outputs are integer counts plus one final int/int double
    * division, so results are bit-deterministic under any partitioning.
    *
    * Scale shape: explode → distinct(doc, bigram) (partial-agg combines
    * the explosion map-side), df = groupBy(bigram) count, then one
    * equi-join back on the bigram key and a doc-keyed agg — every stage
    * shuffles on a derived hash key (bigram or doc_id), never all-pairs;
    * hot bigrams are absorbed by map-side partial aggregation. */
  /** The distinct (doc, bigram) table — session-shared: it feeds BOTH
    * the df aggregation and the join probe side of the novelty query
    * (without the share the explode+distinct subtree runs twice per
    * execution — no CSE across a join), and it is a corpus-keyed
    * derived table like the shingle family. */
  private[graft] def docBigrams(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark,
      "docbigrams", dir)(Tables(spark, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1]))"))
          .as("bigram"))
        .distinct())

  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val db = docBigrams(spark, dir)
    val df = db.groupBy("bigram").agg(count(lit(1)).as("df"))
    db.join(df, "bigram")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_distinct_bigrams"),
        sum(col("df")).as("support"),
        sum((col("df") === 1).cast("long")).cast("int").as("n_novel"))
      .select(col("doc_id"), col("n_distinct_bigrams"), col("support"),
        col("n_novel"),
        (col("n_novel").cast("double") / col("n_distinct_bigrams"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  private val ChunkW = 64 // tokens per chunk
  private val ChunkS = 48 // stride (16-token overlap)

  /** Document chunking: overlapping token windows (W=64, stride=48) —
    * the embedding-prep shape (each chunk goes to an encoder; overlap
    * keeps boundary context). Entirely ROW-LOCAL: window starts are a
    * `sequence` + `transform` inside the row, no shuffle at all — at
    * 100 TB chunking is a free map over the corpus scan. Docs with no
    * tokens produce no chunks. */
  def qDocChunks(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        // start offsets 0, S, 2S, ... while start < n  (n>=1 here)
        s"transform(sequence(0, (size(t) - 1) div $ChunkS), i -> concat_ws(' ', slice(t, i * $ChunkS + 1, $ChunkW)))"))
        .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
        size(split(col("chunk"), " ")).as("n_tokens"), col("chunk"))
      .orderBy("doc_id", "chunk_id")

  private val PackB = 256 // sequence token budget

  /** Sequence packing: concatenate each language shard's docs in doc_id
    * order and cut every B=256 tokens — exactly how pretraining batches
    * pack variable-length docs into fixed-length sequences. Emits each
    * doc's (seq_id, offset) = where its text starts in the packed stream.
    * The running sum is per-LANGUAGE (the shard key), so the window
    * parallelizes across shards — the 100 TB shape where each corpus
    * shard packs independently; a single global ordering would serialize
    * into one partition. */
  def qSeqPack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_tokens"))
      .filter(col("n_tokens") >= 1)
      .withColumn("prior", coalesce(sum(col("n_tokens").cast("long")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        // integer div, NOT `/` (double division — the CLAUDE.md trap)
        expr(s"prior div $PackB").as("seq_id"),
        (col("prior") % PackB).as("offset"))
      .orderBy("doc_id")
  }

  /** Deterministic content-addressed split assignment: each doc lands in
    * train/val/test by a threshold on md5(doc_id) — reproducible across
    * runs, engines, and corpus re-partitions (a seeded RNG sample is
    * none of those), which is the property a 100 TB held-out split must
    * have. Pure narrow map, no shuffle; thresholds on the first hex byte:
    * < 'f0' train (~93.75%), < 'f8' val (~3.125%), else test. The hash
    * key is the doc ID, not the text, so exact-duplicate docs can land in
    * different splits — hash `text` instead to make splits leak-proof
    * under duplication (after dedup the two coincide). */
  /** The id-keyed train/val/test assignment as one expression — shared by
    * [[qHashSplit]] and the export sink so the split landed on disk is
    * the split the gate checks. */
  private[graft] def splitExpr: Column = {
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    when(h2 < "f0", "train").when(h2 < "f8", "val").otherwise("test")
  }

  def qHashSplit(spark: SparkSession, dir: String): DataFrame = {
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), h2.as("h2"))
      .withColumn("split",
        when(col("h2") < "f0", "train")
          .when(col("h2") < "f8", "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** Whole-corpus tf postings (doc_id, token, tf) — the lexical-index
    * artifact [[qTfidfKeywords]] and [[qBm25]] both ride, session-shared
    * + prewarmed like every corpus-version derived table: the tokenize
    * pass and the (doc, token) aggregate run once per corpus version;
    * df/dl/avgdl all derive from it with token- or doc-keyed aggregates
    * (dl = Σ tf per doc — duplicates included exactly). */
  private[graft] def tfPostings(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark,
      "tfpost", dir)(Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))


  /** Top-3 keywords per doc by a rational tf-idf score: tf × N / df
    * (linear inverse document frequency instead of log(N/df) — ln differs
    * in the last ulp across libm implementations, while (tf·N)/df is two
    * exact-int-input IEEE ops that both engines evaluate bit-identically;
    * the RANKING it induces is the same as tf·(N/df)). df is corpus-wide
    * distinct-doc frequency — one (token) agg joined to the per-doc
    * (doc_id, token) counts, then a per-doc top-3 window: the classic
    * two-pass distributed tf-idf, no driver-side state. */
  def qTfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val tf = tfPostings(spark, dir)
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // N as a lazy one-row cross join (the oracle's scalar-subquery shape):
    // a driver-side .count() here would launch a separate job at
    // DataFrame-CONSTRUCTION time, before the query even runs
    val n = Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), asc("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("score"),
        col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  /** BM25 lexical retrieval (Robertson-Walker, k1=1.2 b=0.75) — the
    * sparse half of every hybrid retrieval stack. Query set is
    * self-contained and deterministic: the 8 docs with the lowest
    * md5(doc_id) are the query docs, each contributing its top-3
    * linear-tf-idf keywords (the q_tfidf_keywords score) as query terms;
    * every doc containing a query term is scored
    * Σ_t idf(t) · tf(t,d)·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) and the
    * top-5 per query surface. idf is the LINEAR Robertson-Sparck-Jones
    * surrogate (N−df+0.5)/(df+0.5) — same reason as q_tfidf_keywords:
    * ln() hangs cross-engine parity on two libm implementations, while
    * the surrogate is a chain of exact-int-input IEEE ops both engines
    * evaluate bit-identically (it compresses the idf range vs the log
    * form — fine for a fixed-k1 ranking gate; the tf saturation term is
    * untouched BM25). The per-(query, doc) SUM folds over
    * array_sort(collect_list(struct(token, score))) — the q_bitext
    * lesson: a plain double SUM is partition-order-dependent, the
    * token-ordered fold is sequential left-to-right on both engines.
    *
    * Scale shape: one tokenize pass feeds tf/dl/df aggregates (map-side
    * combine); the query-term table is ≤24 rows broadcast into the tf
    * join, so scoring touches only postings of query terms (the inverted
    * -index walk, never the corpus); the two corpus scalars ride one
    * 1-row broadcast (allowlisted BNLJ). At 100 TB tf/df/dl are
    * corpus-version artifacts built once and shared by every query
    * batch — exactly how this composes here (one derived-frame chain). */
  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val tf = tfPostings(spark, dir)
    // dl = Σ tf per doc: exactly the raw token count, without a second
    // tokenize pass over the corpus. (Sharing dl/df as prewarmed parquet
    // artifacts was A/B'd SLOWER in r20 — 2.03 vs 2.37 s interleaved:
    // runtime exchange reuse already collapses the repeated aggregate
    // subtrees into one execution, so the "replicated at every join
    // site" cost never materializes, and the extra scans only add
    // file-open overhead. Inline aggregates stand.)
    val dl = tf.groupBy("doc_id")
      .agg(sum(col("tf")).cast("bigint").as("dl"))
    val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scal = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("bigint").as("tot"))
    val qdocs = docs
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .orderBy("h", "doc_id").limit(8)
      .select(col("doc_id"))
    val wq = Window.partitionBy("doc_id")
      .orderBy(desc("kw_score"), asc("token"))
    val qterms = tf.join(broadcast(qdocs), "doc_id")
      .join(dfT, "token")
      .crossJoin(broadcast(scal.select(col("n_docs"))))
      .withColumn("kw_score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3)
      .select(col("doc_id").as("qid"), col("token"))
    val t = col("tf").cast("double")
    val scored = tf.join(broadcast(qterms), "token")
      .join(dfT, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(scal))
      .withColumn("avgdl", col("tot").cast("double") / col("n_docs"))
      .withColumn("idf_lin",
        (col("n_docs").cast("double") - col("df") + lit(0.5d))
          / (col("df").cast("double") + lit(0.5d)))
      .withColumn("tf_norm",
        (t * lit(2.2d)) / (t + lit(1.2d)
          * (lit(0.25d) + lit(0.75d)
            * (col("dl").cast("double") / col("avgdl")))))
      .withColumn("ts", col("idf_lin") * col("tf_norm"))
    val agg = scored
      .select(col("qid"), col("doc_id").as("did"), col("token"), col("ts"))
      .groupBy("qid", "did")
      .agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(token, ts))),
          |  s -> s.ts), cast(0.0 as double), (a, v) -> a + v)"""
          .stripMargin).as("score"),
        count(lit(1)).cast("bigint").as("n_terms"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("did"))
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("did"), col("score"),
        col("n_terms"))
      .orderBy("qid", "rank")
  }


  /** Per-language corpus report — the summary a curation run prints:
    * docs, token volume, mean/median/p90 doc length, distinct sources.
    * One narrow map + one hash agg per language; exact interpolated
    * percentiles through [[graft.Tables.percentileCont]] (DuckDB's
    * percentile_cont form, the q_percentile parity discipline). */
  def qCorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).as("n_tokens"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        (sum(col("n_tokens").cast("long")).cast("double") / count(lit(1)))
          .as("mean_tokens"),
        Tables.percentileCont(col("n_tokens"), 0.5).as("median_tokens"),
        Tables.percentileCont(col("n_tokens"), 0.9).as("p90_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Per-SOURCE curation report — the provenance-level dashboard (dup
    * rate and size per crawl/source decide which sources to keep): docs,
    * exact-dup count (docs minus distinct content hashes), token volume,
    * mean doc length, languages. One narrow map + one hash agg on
    * source. */
  def qSourceReport(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("source"), col("lang"), md5(col("text")).as("h"),
        size(tokens(col("text"))).as("n_tokens"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        (sum(col("n_tokens").cast("long")).cast("double") / count(lit(1)))
          .as("mean_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")

  private val VocabV = 16 // vocabulary size (fixture vocabulary is 31 words)

  /** Vocabulary coverage — the tokenizer-prep audit: build a top-V
    * frequency vocabulary (deterministic (count DESC, token) order), then
    * per doc count tokens outside it and the OOV rate. V=16 against the
    * fixture's 31-word vocabulary so the signal is non-vacuous; a real
    * run sets V to the tokenizer's budget. Scale shape: the vocab is
    * top-V of a token count (TakeOrdered, no full sort) and BROADCASTS to
    * the per-doc pass — the corpus-sized side never shuffles on token. */
  def qVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token")).limit(VocabV)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0)).cast("int").as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Per-doc k-gram occurrence counts: (doc_id, gram, c). Shuffle key is
    * (doc_id, gram) — fine-grained and skew-free at any corpus size. */
  private def gramCounts(toks: DataFrame, k: Int): DataFrame = {
    val mk = (0 until k).map(j => s"t[i+$j]").mkString(", ")
    toks
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $k), i -> concat_ws(' ', $mk))"))
        .as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
  }

  /** Repetition-based quality signals (the Gopher/MassiveText repetition
    * rules): per doc, the fraction of bigram occurrences whose bigram
    * repeats within the doc, the same for trigrams, and the top-bigram
    * occupancy — the standard filters for boilerplate and degenerate
    * (looping) text that length/stopword heuristics miss. Docs need >= 3
    * tokens (both gram sizes defined). Two aggregations on the
    * (doc_id, gram) key joined on doc_id; all fractions are single
    * long→double divisions (deterministic in both engines). */
  def qTextRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    // (a fused single-pass form — one tagged explode emitting both gram
    // sizes into one (doc, n, gram) aggregate — was A/B'd SLOWER in r20
    // (1.78 vs 2.58 s interleaved): runtime exchange reuse already
    // dedupes nothing here, but the struct-tagged explode pays a wider
    // shuffle row and loses the two branches' independent partial aggs;
    // the two-pass + join form stands)
    val dupSum = coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
    val s2 = gramCounts(toks, 2).groupBy("doc_id").agg(
      sum(col("c")).as("n_bigrams"),
      (max(col("c")).cast("double") / sum(col("c"))).as("top_bigram_frac"),
      (dupSum.cast("double") / sum(col("c"))).as("dup_bigram_frac"))
    val s3 = gramCounts(toks, 3).groupBy("doc_id").agg(
      (dupSum.cast("double") / sum(col("c"))).as("dup_trigram_frac"))
    s2.join(s3, "doc_id")
      .select("doc_id", "n_bigrams", "top_bigram_frac", "dup_bigram_frac",
        "dup_trigram_frac")
      .orderBy("doc_id")
  }

  /** Top-20 words via the SpaceSaving heavy-hitters aggregate
    * ([[graft.functions.SpaceSavingTopK]]). Capacity 4096 >> vocabulary →
    * the sketch is in its exact regime, so the DuckDB oracle is the plain
    * exact top-20; at 100 TB the same plan keeps constant state per
    * partition instead of shuffling the full frequency table. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("word"))
      .select(graft.functions.SpaceSavingTopK
        .spaceSavingTopK(col("word"), 20, 4096).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("word"), col("e.est").as("n"))
      .orderBy(desc("n"), asc("word"))

  /** Per-language log2-bucketed document-length histogram — the standard
    * corpus shape report (truncation/filter-threshold tuning reads it).
    * The bucket is `LENGTH(bin(n_chars))` = floor(log2)+1 computed in
    * INTEGER space: a float log2 would disagree between engines at exact
    * powers of two, the bin-string length cannot. One narrow map + one
    * hash agg over (lang, bucket) — ~60 tiny groups at any corpus size. */
  def qLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("lang"),
        length(bin(col("n_chars"))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        graft.Tables.davg(col("n_chars")).as("avg_chars"))
      .orderBy("lang", "bucket")

  /** Containment / partial-overlap candidates via winnowing fingerprints
    * ([[graft.functions.WinnowFingerprints]], MOSS-style): any shared
    * character run of >= k + w - 1 guarantees a shared fingerprint, so
    * asymmetric copies (a doc CONTAINING another) surface even when
    * whole-doc Jaccard is low — the overlap class the shingle family
    * misses. Candidate generation joins on the fingerprint (derived-key
    * rule, never all-pairs); fingerprints in > [[WinnowMaxDf]] docs are dropped as
    * boilerplate "stop fingerprints" (no containment signal, O(df²)
    * pair blowup — the same hot-key hygiene as the PPJoin prefix
    * filter). Fingerprint table materialized once per run (4 consumer
    * branches). Rows-only by design: semantics are defined by the
    * Karp-Rabin hash, like the minhash/simhash family; WinnowSpec pins
    * the kernel against an independent reference implementation. */
  /** Winnowing k-gram length and window (SCALE.md lists the 100 TB
    * values). */
  private val WinnowK = 12
  private val WinnowW = 8
  /** Stop-fingerprint cap: fps in more than this many docs are dropped as
    * boilerplate before pair generation (no containment signal, O(df²)
    * pair blowup) — SCALE.md has the 100 TB row. Both cap sites
    * ([[winnowPairsOf]] and [[winnowMatchesOf]]) take it as their
    * `maxDf`, and the oracle SQL interpolates it. */
  private val WinnowMaxDf = 50

  /** Corpus-keyed derived table (one winnow pass per corpus version),
    * shared like the shingle/signature tables. */
  private[graft] def winnowFps(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "winnowfps", dir)(
      Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.Winnow.winnow(col("text"), WinnowK, WinnowW))).as("fp")))

  def qWinnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnowFps(spark, dir)
    // hash-gated via the exported fingerprint table: the DuckDB oracle
    // recomputes the stop-fingerprint filter, pair counting, and the
    // containment threshold from it (the winnow kernel itself is pinned
    // by WinnowSpec's golden + guarantee tests)
    graft.OracleExport.export(fps, "winnowfps", dir)
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    winnowPairs(spark, dir)
      .join(sizes.select(col("doc_id").as("doc_a"), col("nfp").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nfp").as("nb")), "doc_b")
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= 0.8)
      .select("doc_a", "doc_b", "shared", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** Shared-fingerprint counts per candidate pair — the second shared
    * derived table of the winnow family (same role as
    * [[Similarity.survivorPairs]]): the fp-keyed self-join runs once per
    * corpus version; consumers pay only the tiny pair-table read. The
    * stop-fingerprint filter (2 <= df <= [[WinnowMaxDf]]) halves the
    * join input AND caps the per-fp pair fan-out. BY-NAME share: the f2
    * materialize in [[winnowPairsOf]] is a write job executed during
    * construction — under the strict variant it ran outside the holder
    * lock and concurrent callers raced on its per-tag GC. */
  private[graft] def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "winnowpairs", dir)(
      winnowPairsOf(spark, dir, WinnowMaxDf))

  /** [[winnowPairs]]'s build at stop-fingerprint cap `maxDf`. */
  private[graft] def winnowPairsOf(spark: SparkSession, dir: String,
      maxDf: Int): DataFrame = {
    val fps = winnowFps(spark, dir)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf).select("fp")
    val f2 = Tables.materialize(fps.join(rare, "fp"), s"winnowf2:$dir")
    f2.select(col("fp"), col("doc_id").as("doc_a"))
      .join(f2.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
  }

  /** Fingerprint table WITH positions (doc_id, fp, pos), shared per
    * corpus like [[winnowFps]] — the span-report input. Rows
    * are distinct by construction: selection indexes are strictly
    * increasing, so no (doc, fp, pos) repeats (the fp VALUE may). */
  private[graft] def winnowFpsPos(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "winnowfpspos", dir)(
      Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(graft.functions.Winnow.winnowPos(
          col("text"), WinnowK, WinnowW)).as("s"))
        .select(col("doc_id"), col("s.fp").as("fp"), col("s.pos").as("pos")))

  /** Span-level overlap report: for every candidate pair sharing >= 8
    * rare fingerprints (the fixture's match-count distribution is
    * bimodal: incidental phrase matches die off by ~10 shared fps,
    * true overlapping blocks sit at 24+; 8 keeps the report tight
    * without cutting borderline spans), the extent (min..max matched k-gram offset) of
    * the overlap in EACH document — the where-is-the-copy answer that
    * q_winnow_overlap's whole-doc containment ratio cannot give (an
    * exact-span variant would chain adjacent matches; extents are the
    * scalable first cut — one hash agg over the pair join, no per-pair
    * sequence work). Same df-bounded stop-fingerprint filter as
    * [[winnowPairs]]. Hash-gated via the exported positions table. */
  /** Matched-fingerprint position frame per candidate pair — the THIRD
    * shared derived table of the winnow family (after fps and pairs):
    * one row per (fp, doc_a, doc_b) carrying each side's position
    * extent for that fp. Both the span report (aggregates it) and the
    * chain report (windows it) consume exactly this frame, so the
    * fp-keyed pair join runs ONCE per corpus instead of once
    * per query — the same share-the-derived-table discipline as the
    * shingle/signature/pair tables.
    *
    * The builder collapses to ONE row per (fp, doc) with that doc's
    * position extent BEFORE the pair join: a fp recurring at p positions
    * in each of two docs would otherwise contribute p×p join rows
    * (position fan-out squared — an observed 18.6 s pathology), and
    * per-(fp,doc) extents compose exactly — min over matched fps of the
    * per-doc min IS the span start. The join input is then the same
    * cardinality as [[winnowPairs]]'. Same df-bounded stop-fingerprint
    * filter (2 <= df <= [[WinnowMaxDf]]) as the pair table. By-name share: the
    * builder materializes an intermediate (executes jobs) during
    * construction. */
  private[graft] def winnowMatches(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "winnowmatches", dir)(
      winnowMatchesOf(spark, dir, WinnowMaxDf))

  /** [[winnowMatches]]'s build at stop-fingerprint cap `maxDf`. */
  private[graft] def winnowMatchesOf(spark: SparkSession, dir: String,
      maxDf: Int): DataFrame = {
    val fp = winnowFpsPos(spark, dir)
    val g = fp.groupBy("fp", "doc_id")
      .agg(min(col("pos")).as("pmin"), max(col("pos")).as("pmax"))
    val rare = g.groupBy("fp").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= 2 && col("dfreq") <= maxDf)
      .select("fp")
    val f2 = Tables.materialize(g.join(rare, "fp"), s"winnowf2pos:$dir")
    f2.select(col("fp"), col("doc_id").as("doc_a"),
        col("pmin").as("amin"), col("pmax").as("amax"))
      .join(f2.select(col("fp"), col("doc_id").as("doc_b"),
        col("pmin").as("bmin"), col("pmax").as("bmax")), "fp")
      .filter(col("doc_a") < col("doc_b"))
  }

  def qWinnowSpans(spark: SparkSession, dir: String): DataFrame = {
    graft.OracleExport.export(
      winnowFpsPos(spark, dir), "winnowfpspos", dir)
    // shared = COUNT(*): each matched fp appears exactly once per doc
    // pair in the shared matches frame (extents collapsed per (fp,doc))
    winnowMatches(spark, dir)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"),
        min(col("amin")).as("a_start"), max(col("amax")).as("a_end"),
        min(col("bmin")).as("b_start"), max(col("bmax")).as("b_end"))
      .filter(col("shared") >= 8)
      .orderBy("doc_a", "doc_b")
  }

  /** Contiguous copied-block detection: [[qWinnowSpans]]'s extents span
    * the WHOLE overlap (two separate copied blocks read as one long
    * span); this chains the matched fingerprints of each pair into
    * gap-bounded runs — a new chain starts when the next match jumps
    * more than 64 chars in EITHER document — and reports each run
    * separately. The same window trick as sessionization, in document-
    * position space instead of time: per-pair sort by position, lag
    * gap flags, running sum = chain id, one hash agg per chain. Matches
    * are one row per (fp, doc pair), so the window partitions are
    * candidate-pair sized — bounded by the same df <= 50 stop filter,
    * never corpus-sized. Chains need >= 4 matches (at fingerprint
    * density 2/(w+1) ≈ 0.22/char that's a block of roughly >= 18
    * chars of genuinely shared text). Hash-gated from the same
    * exported positions table as q_winnow_spans. */
  /** The chain-block frame both [[qWinnowChains]] and
    * [[qSubstringDedup]] consume: gap-bounded runs of matched
    * fingerprints per pair, >= 4 matches, with position extents in both
    * documents. apos is unique within a pair (one k-gram starts at a
    * position, and the shared frame's amin collapses recurrences), so
    * the window order is total. Rides the SAME shared matches frame as
    * the span report — the fp-keyed pair join never re-runs per query. */
  private[graft] def winnowChainBlocks(spark: SparkSession,
      dir: String): DataFrame =
    // session-shared since the r20 optimization round: BOTH consumers
    // (q_winnow_chains, q_substring_dedup) re-ran the chain window +
    // aggregate over the shared matches frame per query — the block
    // table is as much a corpus-version artifact as the matches frame
    // it derives from (all-integer columns; prewarmed on the "winnow"
    // chain)
    Tables.materializeSharedBy(spark, "winnowchainblocks", dir) {
      val matches = winnowMatches(spark, dir)
        .select(col("fp"), col("doc_a"), col("doc_b"),
          col("amin").as("apos"), col("bmin").as("bpos"))
      val w = Window.partitionBy("doc_a", "doc_b").orderBy("apos")
      val gap = 64
      matches
        .withColumn("brk",
          (lag(col("apos"), 1).over(w).isNull ||
            col("apos") - lag(col("apos"), 1).over(w) > gap ||
            abs(col("bpos") - lag(col("bpos"), 1).over(w)) > gap).cast("int"))
        .withColumn("chain_id",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("int"))
        .groupBy("doc_a", "doc_b", "chain_id")
        .agg(count(lit(1)).cast("int").as("n_matches"),
          min(col("apos")).as("a_start"), max(col("apos")).as("a_end"),
          min(col("bpos")).as("b_start"), max(col("bpos")).as("b_end"))
        .filter(col("n_matches") >= 4)
    }

  def qWinnowChains(spark: SparkSession, dir: String): DataFrame = {
    graft.OracleExport.export(
      winnowFpsPos(spark, dir), "winnowfpspos", dir)
    winnowChainBlocks(spark, dir).orderBy("doc_a", "doc_b", "chain_id")
  }

  /** Exact-substring dedup by span EXCISION — the operator of Lee et
    * al. ACL 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): whole-document dedup leaves repeated BLOCKS inside
    * otherwise-distinct documents (boilerplate, quoted passages,
    * mirrored sections), so the copied spans themselves are cut,
    * keeping one occurrence. Policy here: each chain block keeps its
    * lower-doc_id occurrence and is excised from the higher (pairwise
    * keep-first — the per-pair approximation of Lee's keep-one-global);
    * a doc's excision set is the union of its b-side chain extents in
    * CHAR space ([b_start, b_end + k − 1], k = the winnow k-gram
    * length), merged as intervals with the same lag/running-sum window
    * trick as sessionization (adjacent-or-overlapping spans coalesce).
    * Per affected doc: merged block count, chars removed, chars kept,
    * and the removal rate in exact basis points.
    *
    * Scale shape: everything downstream of the shared matches frame is
    * bounded by the CHAIN set (pair-candidate sized, df-capped), never
    * corpus rows; the interval merge windows over per-doc span counts.
    * Hash-gated end to end from the same positions export as the
    * span/chain reports. */
  def qSubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.OracleExport.export(
      winnowFpsPos(spark, dir), "winnowfpspos", dir)
    val spans = winnowChainBlocks(spark, dir)
      .select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        (col("b_end") + lit(WinnowK - 1)).as("e"))
    val w = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
    val merged = spans
      .withColumn("pmax",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        (col("pmax").isNull || col("s") > col("pmax") + 1).cast("int"))
      .withColumn("gid",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("doc_id", "gid")
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
    merged.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_blocks"),
        sum(col("me") - col("ms") + 1).cast("bigint").as("chars_removed"))
      .join(Tables(spark, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars")), "doc_id")
      .withColumn("chars_kept",
        (col("n_chars") - col("chars_removed")).cast("bigint"))
      .withColumn("removed_bp",
        expr("chars_removed * 10000L div n_chars").cast("bigint"))
      .select(col("doc_id"), col("n_blocks"), col("chars_removed"),
        col("n_chars"), col("chars_kept"), col("removed_bp"))
      .orderBy("doc_id")
  }

  /** EXACT substring dedup — Lee et al. ACL 2022's ExactSubstr
    * semantics, no sampling: a character is duplicated iff it is
    * covered by SOME length-L window whose exact text occurs ≥ 2 times
    * in the corpus (self-repeats included). [[qSubstringDedup]]'s
    * winnow-chain excision approximates this (fingerprint sampling can
    * miss short spans; the ≥4-match chain threshold misses sparse
    * ones — the r15 verdict item); this operator is definitionally
    * exact:
    *
    *  1. a ROLLING-HASH pass (64-bit wraparound polynomial over code
    *     points, one mapPartitions scan — the Karp-Rabin shape; no
    *     window string ever materializes) emits (hash, doc, pos);
    *  2. hashes seen ≥ 2 times prefilter the candidates (shuffle
    *     volume = 16-byte tuples, never strings);
    *  3. candidates are VERIFIED on the true bytes: re-extract the
    *     window from the document and group on the substring itself —
    *     hash collisions die here, so the hash is a pure filter and
    *     the result is exact;
    *  4. per doc, covered intervals [pos, pos+L) union by the
    *     lag/running-sum merge (a break iff the gap exceeds L).
    *
    * Scale shape: this is the honest cost of EXACT dedup — one shuffle
    * of per-position tuples (Lee'22 pay the equivalent in suffix-array
    * construction; a distributed suffix sort would shuffle comparable
    * volume AND need a global sort, where this is derived-key joins
    * end to end). The window pass recomputes rather than materialize
    * the corpus×16B tuple table twice; verification touches only
    * hash-hot groups (≈ true-duplicate volume). Within-doc windows are
    * per-doc-partitioned. Everything is definitional, so the DuckDB
    * oracle re-derives the full result with no exports. */
  private val ExactSubL = 40

  private[graft] def exactDupSpans(docs: DataFrame, L: Int): DataFrame =
    exactDupMerge(exactDupPosOf(docs, L), L)

  /** Rolling-hash pass + hash-hot prefilter + byte-exact verification —
    * the verified duplicated-position table (doc_id, pos) of
    * [[exactDupSpans]]. */
  private def exactDupPosOf(docs: DataFrame, L: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text"))
    // (an explode + per-window xxhash64(substring) SQL variant was
    // A/B'd slower — O(n·L) hashing plus per-row text duplication loses
    // to the O(n) rolling pass even counting the Dataset encoder)
    val win = base.as[(Long, String)].mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val cps = text.codePoints().toArray
        val n = cps.length
        if (n < L) Iterator.empty
        else {
          val B = 1000003L
          var bl = 1L
          var i = 0
          while (i < L - 1) { bl *= B; i += 1 } // B^(L-1), wraparound
          var h = 0L
          i = 0
          while (i < L) { h = h * B + cps(i); i += 1 }
          val out = new Array[(Long, Long, Int)](n - L + 1)
          out(0) = (h, id, 0)
          var p = 1
          while (p <= n - L) {
            h = (h - cps(p - 1) * bl) * B + cps(p + L - 1)
            out(p) = (h, id, p)
            p += 1
          }
          out.iterator
        }
      }
    }.toDF("h", "doc_id", "pos")
    // ONE shuffle of the window tuples: positions group per hash, and
    // only hash-hot groups (size >= 2) survive to verification. The
    // count is a PARTITIONED WINDOW, not collect_list (r16 verdict):
    // a crawl-scale corpus has pathological hot windows (license
    // headers repeated 10⁷-10⁹×) whose occurrence list would
    // materialize in ONE aggregation buffer; WindowExec's per-group
    // buffer spills to disk past the spill threshold, so the hot tail
    // is disk-bounded while the plan keeps the single exchange per
    // stage that beat count+join-back in the r16 A/B
    val cand = win
      .withColumn("m",
        count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("m") >= 2)
      .select("doc_id", "pos")
      .join(base, "doc_id")
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, pos + 1, $L)").as("s"))
    // same windowed shape for the byte-exact verification: one shuffle
    // on the candidate substrings, no join back, no list
    cand
      .withColumn("m",
        count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("m") >= 2)
      .select("doc_id", "pos")
  }

  /** Interval-merge + per-doc span report over a verified duplicated-
    * position table — the tail of [[exactDupSpans]], split out so the
    * registered query can ride the prewarmed position table. */
  private def exactDupMerge(dpos: DataFrame, L: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dpos.withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        (col("prev").isNull || col("pos") - col("prev") > L).cast("int"))
      .withColumn("grp", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + L).cast("int").as("span_end"),
        count(lit(1)).cast("bigint").as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
      .orderBy("doc_id", "span_start")
  }

  /** Session-shared VERIFIED duplicated-position table (doc_id, pos) of
    * the corpus at window length [[ExactSubL]] — the rolling-hash pass +
    * hash-hot prefilter + byte-exact verification of [[exactDupSpans]]
    * as a corpus-version artifact (r20 trim; the lshtruth prewarm
    * precedent). Bounded by TRUE duplicate volume (only verified dup
    * windows survive), so unlike the corpus×16B rolling tuple table —
    * which stays recompute-only by design — it is cheap to materialize.
    * All-integer columns; the spec path ([[exactDupSpans]] on crafted
    * frames) is unchanged. */
  private[graft] def exactDupPos(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "exactdpos", dir)(
      exactDupPosOf(Tables(spark, dir, "documents"), ExactSubL))

  def qSubstringExact(spark: SparkSession, dir: String): DataFrame =
    exactDupMerge(exactDupPos(spark, dir), ExactSubL)

  /** Feature hashing (the "hashing trick", Weinberger et al. ICML 2009)
    * — the vocabulary-free text vectorizer: every token routes to one of
    * 64 buckets by content hash with a ±1 sign hash, per-doc bucket
    * values are SIGNED token counts, and the result is a fixed-width
    * sparse vector with no vocabulary table, no fitting pass, and no
    * coordination — the featurization that works on the first pass over
    * a corpus of any size (sign hashing keeps collisions unbiased,
    * ibid. §3). Values are integers, so the audit columns are EXACT:
    * nnz, the squared l2 norm Σv², and a position-weighted checksum
    * Σ(bucket+1)·v that pins sign and placement, not just magnitude.
    * Scale shape: one tokenize pass exploding (doc, bucket, ±1), a hash
    * agg on (doc, bucket) with map-side combine, then a doc-keyed
    * rollup — derived-key shuffles only, vectors never materialize
    * wider than their nnz. Hash = md5 prefix (cross-engine, the
    * sampling-family idiom), sign = the next hex digit's parity. */
  def qFeatureHash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT) % 64")
          .as("bucket"),
        expr("IF(CAST(conv(substring(md5(tok), 5, 1), 16, 10) AS BIGINT)" +
          " % 2 = 0, 1L, -1L)").as("s"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("s")).as("v"))
      .filter(col("v") =!= 0) // true sparsity: cancelled buckets drop out
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("nnz"),
        sum(col("v") * col("v")).cast("bigint").as("norm2"),
        sum((col("bucket") + 1) * col("v")).cast("bigint").as("checksum"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_feature_hash" -> qFeatureHash _,
    "q_winnow_overlap" -> qWinnowOverlap _,
    "q_winnow_spans" -> qWinnowSpans _,
    "q_winnow_chains" -> qWinnowChains _,
    "q_substring_dedup" -> qSubstringDedup _,
    "q_substring_exact" -> qSubstringExact _,
    "q_length_histogram" -> qLengthHistogram _,
    "q_lm_surprisal" -> qLmSurprisal _,
    "q_quality_terciles" -> qQualityTerciles _,
    "q_heavy_hitters" -> qHeavyHitters _,
    "q_dedup_exact" -> qDedupExact _,
    "q_dedup_survivors" -> qDedupSurvivors _,
    "q_dedup_incremental" -> qDedupIncremental _,
    "q_token_count" -> qTokenCount _,
    "q_text_quality" -> qTextQuality _,
    "q_quality_gate" -> qQualityGate _,
    "q_lang_id" -> qLangId _,
    "q_langid_eval" -> qLangidEval _,
    "q_zipf_fit" -> qZipfFit _,
    "q_fingerprint" -> qFingerprint _,
    "q_doc_chunks" -> qDocChunks _,
    "q_seq_pack" -> qSeqPack _,
    "q_hash_split" -> qHashSplit _,
    "q_text_repetition" -> qTextRepetition _,
    "q_tfidf_keywords" -> qTfidfKeywords _,
    "q_bm25" -> qBm25 _,
    "q_pmi_collocations" -> qPmiCollocations _,
    "q_lang_mix" -> qLangMix _,
    "q_token_entropy" -> qTokenEntropy _,
    "q_vocab_coverage" -> qVocabCoverage _,
    "q_corpus_stats" -> qCorpusStats _,
    "q_source_report" -> qSourceReport _,
    "q_ngram_novelty" -> qNgramNovelty _,
    "q_text_bigrams" -> qTextBigrams _,
    "q_phrase_search" -> qPhraseSearch _)

  /** Shared by q_lang_id (per-doc) and q_langid_eval (report). */
  private val langIdSql: String =
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    len(list_intersect(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')), ['the','and','of','to','in'])) AS hits_en,
        |    len(list_intersect(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')), ['el','la','de','que','y'])) AS hits_es,
        |    len(list_intersect(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')), ['der','die','und','das','ist'])) AS hits_de,
        |    len(list_intersect(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')), ['le','la','et','les','des'])) AS hits_fr,
        |    len(list_intersect(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')), ['的','是','了','在','我'])) AS hits_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN hits_en = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'en'
        |    WHEN hits_es = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'es'
        |    WHEN hits_de = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'de'
        |    WHEN hits_fr = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'fr'
        |    WHEN hits_zh = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'zh'
        |    ELSE 'und' END AS predicted,
        |  CAST(CASE
        |    WHEN hits_en = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'en'
        |    WHEN hits_es = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'es'
        |    WHEN hits_de = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'de'
        |    WHEN hits_fr = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'fr'
        |    WHEN hits_zh = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) AND GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) > 0 THEN 'zh'
        |    ELSE 'und' END = lang AS INT) AS is_match
        |FROM h ORDER BY doc_id""".stripMargin

  /** Generated per-language hit/argmax SQL arms for the q_lang_mix
    * oracle — same stoplists, same tie priority as [[langIdSql]], over a
    * half-list column. */
  private def halfHitsSql(half: String): String =
    langStops.map { case (lang, stops) =>
      val lst = stops.map(s => s"'$s'").mkString("[", ",", "]")
      s"len(list_intersect(list_distinct($half), $lst)) AS ${half}_$lang"
    }.mkString(",\n    ")
  private def halfPredSql(half: String): String = {
    val gr = langStops.map { case (l, _) => s"${half}_$l" }
      .mkString("GREATEST(", ", ", ")")
    val arms = langStops.map { case (l, _) =>
      s"WHEN ${half}_$l = $gr AND $gr > 0 THEN '$l'"
    }.mkString("\n    ")
    s"CASE\n    $arms\n    ELSE 'und' END"
  }

  val oracles: Map[String, String] = Map(
    // Half-split language-mixing replay: same slices, same stoplists,
    // same argmax tie priority — see qLangMix
    "q_lang_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') l
         |  FROM documents),
         |halves AS (
         |  SELECT doc_id, lang,
         |    l[1 : len(l) // 2] AS fh,
         |    l[len(l) // 2 + 1 : len(l)] AS sh
         |  FROM t),
         |h AS (
         |  SELECT doc_id, lang,
         |    ${halfHitsSql("fh")},
         |    ${halfHitsSql("sh")}
         |  FROM halves),
         |p AS (
         |  SELECT doc_id, lang,
         |    ${halfPredSql("fh")} AS first_pred,
         |    ${halfPredSql("sh")} AS second_pred
         |  FROM h)
         |SELECT lang, first_pred, second_pred,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(CASE WHEN first_pred <> second_pred
         |    AND first_pred <> 'und' AND second_pred <> 'und'
         |    THEN 1 ELSE 0 END AS INT) AS is_mixed
         |FROM p GROUP BY 1, 2, 3
         |ORDER BY lang, first_pred, second_pred""".stripMargin,
    // Unigram-entropy replay: same tf counts, same lb bin-string
    // arithmetic, same max-share basis points — see qTokenEntropy
    "q_token_entropy" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) tf
        |  FROM tk GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) n,
        |    CAST(COUNT(*) AS BIGINT) n_distinct,
        |    CAST(MAX(tf) AS BIGINT) max_tf
        |  FROM tf GROUP BY 1)
        |SELECT t.doc_id, d.lang,
        |  ANY_VALUE(dl.n) AS n_tokens,
        |  ANY_VALUE(dl.n_distinct) AS n_distinct,
        |  CAST(SUM(t.tf * ((length(bin(dl.n)) - 1)
        |    - (length(bin(t.tf)) - 1))) AS BIGINT) AS bits,
        |  CAST((ANY_VALUE(dl.max_tf) * 10000) // ANY_VALUE(dl.n)
        |    AS BIGINT) AS top_share_bp
        |FROM tf t JOIN dl ON dl.doc_id = t.doc_id
        |  JOIN documents d ON d.doc_id = t.doc_id
        |GROUP BY t.doc_id, d.lang
        |ORDER BY t.doc_id""".stripMargin,
    // Same md5-prefix bucket/sign hashes, same signed-count folds — see
    // qFeatureHash (Spark conv(hex,16,10) == DuckDB '0x'||hex CAST)
    "q_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % 64 AS bucket,
        |    CASE WHEN CAST('0x' || substr(md5(tok), 5, 1) AS BIGINT) % 2
        |      = 0 THEN 1 ELSE -1 END AS s
        |  FROM toks),
        |vec AS (
        |  SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS v
        |  FROM hashed GROUP BY 1, 2 HAVING SUM(s) <> 0)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS nnz,
        |  CAST(SUM(v * v) AS BIGINT) AS norm2,
        |  CAST(SUM((bucket + 1) * v) AS BIGINT) AS checksum
        |FROM vec GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // Gap-bounded chain detection from the exported positions table —
    // see qWinnowChains (lag-gap flags -> running-sum chain ids; pure
    // integer ops; chain_id/n_matches cast INT because DuckDB's SUM and
    // COUNT widen past Spark's)
    "q_winnow_chains" ->
      s"""WITH fp AS (SELECT doc_id, fp, pos FROM '${graft.OracleExport.oraclePath("winnowfpspos")}'),
         |g AS (SELECT fp, doc_id, MIN(pos) AS pmin FROM fp GROUP BY 1, 2),
         |rare AS (SELECT fp FROM g GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND $WinnowMaxDf),
         |f2 AS (SELECT g.fp, g.doc_id, g.pmin FROM g JOIN rare USING (fp)),
         |m AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.pmin AS apos, b.pmin AS bpos
         |  FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |flagged AS (
         |  SELECT *, CASE WHEN lag(apos) OVER pw IS NULL
         |      OR apos - lag(apos) OVER pw > 64
         |      OR abs(bpos - lag(bpos) OVER pw) > 64 THEN 1 ELSE 0 END AS brk
         |  FROM m WINDOW pw AS (PARTITION BY doc_a, doc_b ORDER BY apos)),
         |chained AS (
         |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY doc_a, doc_b
         |    ORDER BY apos ROWS UNBOUNDED PRECEDING) AS INT) AS chain_id
         |  FROM flagged)
         |SELECT doc_a, doc_b, chain_id, CAST(COUNT(*) AS INT) AS n_matches,
         |  MIN(apos) AS a_start, MAX(apos) AS a_end,
         |  MIN(bpos) AS b_start, MAX(bpos) AS b_end
         |FROM chained GROUP BY 1, 2, 3
         |HAVING COUNT(*) >= 4
         |ORDER BY doc_a, doc_b, chain_id""".stripMargin,
    // Definitional replay of qSubstringExact: every length-40 window,
    // grouped on the TEXT (the engine's rolling hash is only a
    // prefilter, verified on true bytes — so the oracle needs no hash),
    // then the same gap>L interval union. SERIES BOUND CAVEAT: the
    // engine's rolling pass is unbounded; the oracle's constant series
    // cap (16384, ~28× the fixture's 577-char max) must dominate every
    // doc length or the gate hash-fails with windows the oracle
    // silently dropped — raise it if the fixture ever grows longer
    // documents (the r14 q_audio_features silent-cap lesson).
    "q_substring_exact" ->
      """WITH w AS (SELECT doc_id, g.i AS pos,
        |        substr(text, g.i + 1, 40) AS s
        |      FROM documents, generate_series(0, 16384) g(i)
        |      WHERE g.i <= CAST(length(text) AS BIGINT) - 40),
        |dup AS (SELECT s FROM w GROUP BY s HAVING COUNT(*) >= 2),
        |dpos AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (s)),
        |m AS (SELECT doc_id, pos,
        |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |               IS NULL
        |             OR pos - lag(pos) OVER (PARTITION BY doc_id
        |                                     ORDER BY pos) > 40
        |             THEN 1 ELSE 0 END AS brk
        |      FROM dpos),
        |g2 AS (SELECT doc_id, pos,
        |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |       FROM m)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(MIN(pos) AS INT) AS span_start,
        |  CAST(MAX(pos) + 40 AS INT) AS span_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows
        |FROM g2 GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
    // Chain blocks -> b-side char extents (b_end + WinnowK - 1) ->
    // per-doc interval merge
    // (window MAX over preceding rows) -> excision stats — see
    // qSubstringDedup
    "q_substring_dedup" ->
      s"""WITH fp AS (SELECT doc_id, fp, pos FROM '${graft.OracleExport.oraclePath("winnowfpspos")}'),
         |g AS (SELECT fp, doc_id, MIN(pos) AS pmin FROM fp GROUP BY 1, 2),
         |rare AS (SELECT fp FROM g GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND $WinnowMaxDf),
         |f2 AS (SELECT g.fp, g.doc_id, g.pmin FROM g JOIN rare USING (fp)),
         |m AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.pmin AS apos, b.pmin AS bpos
         |  FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |flagged AS (
         |  SELECT *, CASE WHEN lag(apos) OVER pw IS NULL
         |      OR apos - lag(apos) OVER pw > 64
         |      OR abs(bpos - lag(bpos) OVER pw) > 64 THEN 1 ELSE 0 END AS brk
         |  FROM m WINDOW pw AS (PARTITION BY doc_a, doc_b ORDER BY apos)),
         |chained AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY doc_a, doc_b
         |    ORDER BY apos ROWS UNBOUNDED PRECEDING) AS chain_id
         |  FROM flagged),
         |blocks AS (
         |  SELECT doc_b AS doc_id, MIN(bpos) AS s, MAX(bpos) + ${WinnowK - 1} AS e
         |  FROM chained GROUP BY doc_a, doc_b, chain_id
         |  HAVING COUNT(*) >= 4),
         |iv AS (
         |  SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM blocks),
         |iv2 AS (
         |  SELECT *, CASE WHEN pmax IS NULL OR s > pmax + 1
         |    THEN 1 ELSE 0 END AS brk FROM iv),
         |iv3 AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
         |    ROWS UNBOUNDED PRECEDING) AS gid FROM iv2),
         |merged AS (
         |  SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
         |  FROM iv3 GROUP BY 1, 2),
         |per AS (
         |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_blocks,
         |    CAST(SUM(me - ms + 1) AS BIGINT) AS chars_removed
         |  FROM merged GROUP BY 1)
         |SELECT p.doc_id, p.n_blocks, p.chars_removed,
         |  CAST(d.n_chars AS BIGINT) AS n_chars,
         |  CAST(d.n_chars - p.chars_removed AS BIGINT) AS chars_kept,
         |  CAST((p.chars_removed * 10000) // d.n_chars AS BIGINT)
         |    AS removed_bp
         |FROM per p JOIN documents d USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,
    // Span extents per pair from the exported positions table — see
    // qWinnowSpans (pure integer ops; COUNT DISTINCT / MIN / MAX)
    "q_winnow_spans" ->
      s"""WITH fp AS (SELECT doc_id, fp, pos FROM '${graft.OracleExport.oraclePath("winnowfpspos")}'),
         |g AS (SELECT fp, doc_id, MIN(pos) AS pmin, MAX(pos) AS pmax
         |      FROM fp GROUP BY 1, 2),
         |rare AS (SELECT fp FROM g GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND $WinnowMaxDf),
         |f2 AS (SELECT g.fp, g.doc_id, g.pmin, g.pmax FROM g JOIN rare USING (fp)),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    COUNT(*) AS shared,
         |    MIN(a.pmin) AS a_start, MAX(a.pmax) AS a_end,
         |    MIN(b.pmin) AS b_start, MAX(b.pmax) AS b_end
         |  FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared, a_start, a_end, b_start, b_end
         |FROM p WHERE shared >= 8 ORDER BY doc_a, doc_b""".stripMargin,
    // Recomputes the winnow family's downstream logic (df-bounded stop
    // filter, pair counts, containment) from the exported fingerprint
    // table — see qWinnowOverlap
    "q_winnow_overlap" ->
      s"""WITH fps AS (SELECT doc_id, fp FROM '${graft.OracleExport.oraclePath("winnowfps")}'),
         |sz AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY 1),
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND $WinnowMaxDf),
         |f2 AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp)),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared,
         |  CAST(shared AS DOUBLE) / least(x.nfp, y.nfp) AS containment
         |FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |WHERE CAST(shared AS DOUBLE) / least(x.nfp, y.nfp) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_lm_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
        |  FROM toks WHERE len(tk) >= 2),
        |occ2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM occ),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM occ2 GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |j AS (SELECT o.doc_id, CAST(LENGTH(bin(c1.c1 // c2.c2)) - 1 AS BIGINT) AS bits
        |      FROM occ2 o JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(bits) AS BIGINT) AS total_bits,
        |  CAST(SUM(bits) * 100 // COUNT(*) AS BIGINT) AS avg_centibits
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // per-lang head/middle/tail by value threshold over the surprisal
    // histogram — see qQualityTerciles (same surprisal CTE chain as
    // q_lm_surprisal; all-integer arithmetic)
    "q_quality_terciles" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
        |  FROM toks WHERE len(tk) >= 2),
        |occ2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM occ),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM occ2 GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |j AS (SELECT o.doc_id, CAST(LENGTH(bin(c1.c1 // c2.c2)) - 1 AS BIGINT) AS bits
        |      FROM occ2 o JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
        |sc AS (SELECT j.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         CAST(SUM(bits) * 100 // COUNT(*) AS BIGINT) AS v
        |       FROM j GROUP BY j.doc_id),
        |scl AS (SELECT sc.doc_id, sc.n_bigrams, sc.v, d.lang
        |        FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
        |hist AS (SELECT lang, v, CAST(COUNT(*) AS BIGINT) AS c
        |         FROM scl GROUP BY 1, 2),
        |bkt AS (SELECT lang, v,
        |          COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS c_before,
        |          SUM(c) OVER (PARTITION BY lang) AS n
        |        FROM hist),
        |bkt2 AS (SELECT lang, v,
        |           CAST(CASE WHEN c_before * 3 < n THEN 1
        |                     WHEN c_before * 3 < n * 2 THEN 2
        |                     ELSE 3 END AS INT) AS bucket
        |         FROM bkt)
        |SELECT s.lang, b.bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(s.v) AS min_centibits, MAX(s.v) AS max_centibits,
        |  CAST(SUM(s.n_bigrams) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(s.doc_id) AS BIGINT) AS id_checksum
        |FROM scl s JOIN bkt2 b ON b.lang = s.lang AND b.v = s.v
        |GROUP BY 1, 2 ORDER BY s.lang, b.bucket""".stripMargin,
    "q_length_histogram" ->
      """SELECT lang, CAST(LENGTH(bin(n_chars)) AS INT) AS bucket,
        |  COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(n_chars) AS avg_chars
        |FROM documents
        |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "q_dedup_survivors" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_dedup_incremental" ->
      """WITH cut AS (SELECT MAX(doc_id) * 4 // 5 AS cut FROM documents),
        |corpus AS (
        |  SELECT DISTINCT md5(text) AS content_hash
        |  FROM documents, cut WHERE doc_id <= cut),
        |batch AS (
        |  SELECT doc_id, md5(text) AS content_hash
        |  FROM documents, cut WHERE doc_id > cut),
        |fb AS (SELECT content_hash, MIN(doc_id) AS first_id
        |       FROM batch GROUP BY 1)
        |SELECT b.doc_id, b.content_hash,
        |  CASE WHEN c.content_hash IS NOT NULL THEN 'dup_of_corpus'
        |       WHEN b.doc_id > fb.first_id THEN 'dup_in_batch'
        |       ELSE 'new' END AS status
        |FROM batch b
        |LEFT JOIN corpus c USING (content_hash)
        |JOIN fb USING (content_hash)
        |ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS bpe_tokens,
        |  CAST(LENGTH(text) AS INT) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS n_tokens,
        |  CAST(LENGTH(text) AS INT) AS n_chars_actual,
        |  CAST(LENGTH(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INT) AS n_punct,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS INT) AS n_stop,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS DOUBLE)
        |    / len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS stop_ratio,
        |  CAST(LENGTH(text) - (len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) - 1) AS DOUBLE)
        |    / len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_gate" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
        |    LENGTH(text) AS n_chars_actual,
        |    LENGTH(regexp_replace(text, '[a-z0-9\s.!?,;:]', '', 'g')) AS n_sym,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS n_stop
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_tokens, n_chars_actual, n_sym, n_stop,
        |    CAST(n_chars_actual - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
        |    CAST(n_sym AS DOUBLE) / n_chars_actual AS sym_ratio
        |  FROM b)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, mean_token_len,
        |  sym_ratio, CAST(n_stop AS INT) AS n_stop,
        |  CAST(n_tokens >= 10 AND n_tokens <= 100000 AS INT) AS r_len,
        |  CAST(mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS INT) AS r_mean,
        |  CAST(sym_ratio <= 0.1 AS INT) AS r_sym,
        |  CAST(n_stop >= 2 AS INT) AS r_stop,
        |  CAST(n_tokens >= 10 AND n_tokens <= 100000 AS INT)
        |    * CAST(mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS INT)
        |    * CAST(sym_ratio <= 0.1 AS INT)
        |    * CAST(n_stop >= 2 AS INT) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_lang_id" -> langIdSql,
    "q_zipf_fit" ->
      """WITH f AS (
        |  SELECT t, COUNT(*) AS f FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS t
        |    FROM documents) GROUP BY t),
        |r AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, t) AS r
        |      FROM f),
        |p AS (SELECT CAST(LENGTH(bin(r)) - 1 AS BIGINT) AS x,
        |        CAST(LENGTH(bin(f)) - 1 AS BIGINT) AS y
        |      FROM r),
        |s AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |        CAST(SUM(y) AS BIGINT) AS sy,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy,
        |        CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM p)
        |SELECT n, CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
        |FROM s""".stripMargin,
    "q_langid_eval" ->
      s"""WITH pred AS ($langIdSql),
         |t AS (SELECT lang AS label, COUNT(*) AS n_docs,
         |        CAST(SUM(is_match) AS BIGINT) AS n_correct
         |      FROM pred GROUP BY 1),
         |p AS (SELECT predicted AS label, COUNT(*) AS n_predicted
         |      FROM pred GROUP BY 1)
         |SELECT COALESCE(t.label, p.label) AS label,
         |  COALESCE(t.n_docs, 0) AS n_docs,
         |  COALESCE(t.n_correct, 0) AS n_correct,
         |  COALESCE(p.n_predicted, 0) AS n_predicted,
         |  CASE WHEN COALESCE(t.n_docs, 0) > 0
         |    THEN COALESCE(t.n_correct, 0) * 10000 // t.n_docs END
         |    AS recall_bp,
         |  CASE WHEN COALESCE(p.n_predicted, 0) > 0
         |    THEN COALESCE(t.n_correct, 0) * 10000 // p.n_predicted END
         |    AS precision_bp
         |FROM t FULL OUTER JOIN p ON t.label = p.label
         |ORDER BY label""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_doc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM documents),
        |base AS (SELECT doc_id, l, len(l) AS n FROM toks WHERE len(l) >= 1),
        |chunks AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |    array_to_string(l[i*48+1 : i*48+64], ' ') AS chunk
        |  FROM base, UNNEST(range(0, (n-1)//48 + 1)) u(i))
        |SELECT doc_id, chunk_id,
        |  CAST(len(string_split(chunk, ' ')) AS INT) AS n_tokens, chunk
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,
    "q_seq_pack" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
        |  FROM d WHERE n_tokens >= 1)
        |SELECT doc_id, lang, n_tokens,
        |  prior // 256 AS seq_id, prior % 256 AS offset
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_hash_split" ->
      """SELECT doc_id, lang, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f0' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f8' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_source_report" ->
      """WITH d AS (
        |  SELECT source, lang, md5(text) AS h,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q_corpus_stats" ->
      """WITH d AS (
        |  SELECT lang, source,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens) AS median_tokens,
        |  percentile_cont(0.9) WITHIN GROUP (ORDER BY n_tokens) AS p90_tokens,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM (SELECT token, COUNT(*) c FROM tk GROUP BY 1) t
        |  ORDER BY c DESC, token LIMIT 16)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
        |  CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE 1 END) AS INT) AS n_oov,
        |  CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE 1 END) AS DOUBLE)
        |    / COUNT(*) AS oov_rate
        |FROM tk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_tfidf_keywords" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * (SELECT COUNT(*) FROM documents) / df.df AS score
        |  FROM tf JOIN df ON tf.token = df.token)
        |SELECT doc_id, rank, token, score, tf, df FROM (
        |  SELECT doc_id, token, score, tf, df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS INT) AS rank
        |  FROM s) t
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // Full BM25 replay — same tokenize/tf/dl/df CTEs, the same
    // md5-lowest-8 query docs + top-3 linear-tf-idf terms, every double
    // op in the engine's order, and the per-(qid, did) sum as a
    // token-ordered sequential list_sum (see qBm25).
    "q_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) tf FROM tk GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) dl FROM tk GROUP BY 1),
        |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) df FROM tf GROUP BY 1),
        |scal AS (SELECT CAST(COUNT(*) AS BIGINT) n_docs,
        |    CAST(SUM(dl) AS BIGINT) tot FROM dl),
        |qdocs AS (SELECT doc_id FROM (
        |    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) h FROM documents
        |    ORDER BY h, doc_id LIMIT 8) z),
        |qt AS (SELECT qid, token FROM (
        |    SELECT q.doc_id AS qid, tf.token,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY q.doc_id
        |        ORDER BY CAST(tf.tf AS DOUBLE) * s.n_docs / df.df DESC,
        |          tf.token) AS INT) AS rk
        |    FROM qdocs q JOIN tf ON tf.doc_id = q.doc_id
        |      JOIN df ON df.token = tf.token, scal s) z
        |  WHERE rk <= 3),
        |sc AS (
        |  SELECT qt.qid, tf.doc_id AS did, tf.token,
        |    ((CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
        |      / (CAST(df.df AS DOUBLE) + 0.5))
        |    * ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE)
        |        + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
        |          / (CAST(s.tot AS DOUBLE) / s.n_docs))))) AS ts
        |  FROM qt JOIN tf ON tf.token = qt.token
        |    JOIN df ON df.token = qt.token
        |    JOIN dl ON dl.doc_id = tf.doc_id, scal s),
        |agg AS (
        |  SELECT qid, did, list_sum(list(ts ORDER BY token)) AS score,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms
        |  FROM sc GROUP BY 1, 2)
        |SELECT qid, rank, did, score, n_terms FROM (
        |  SELECT qid, did, score, n_terms,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY score DESC, did) AS INT) AS rank
        |  FROM agg) z
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // PMI-ratio replay: same unigram/bigram counts, the identical
    // double chain (c_xy·T·T)/(T_big·c_x·c_y), same c_xy >= 5 filter
    // and (score DESC, w1, w2) top-20 — see qPmiCollocations.
    "q_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM documents),
        |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) c FROM (
        |    SELECT unnest(l) w FROM toks) z GROUP BY 1),
        |big AS (
        |  SELECT l[i] w1, l[i+1] w2
        |  FROM toks, UNNEST(range(1, len(l))) u(i) WHERE len(l) >= 2),
        |cxy AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) c_xy
        |  FROM big GROUP BY 1, 2),
        |scal AS (SELECT
        |    (SELECT CAST(SUM(c) AS BIGINT) FROM uni) t_tok,
        |    (SELECT CAST(SUM(c_xy) AS BIGINT) FROM cxy) t_big)
        |SELECT x.w1, x.w2, x.c_xy, a.c AS c_x, b.c AS c_y,
        |  sc.t_tok, sc.t_big,
        |  (CAST(x.c_xy AS DOUBLE) * sc.t_tok * sc.t_tok)
        |    / (CAST(sc.t_big AS DOUBLE) * a.c * b.c) AS score
        |FROM cxy x JOIN uni a ON a.w = x.w1 JOIN uni b ON b.w = x.w2,
        |  scal sc
        |WHERE x.c_xy >= 5
        |ORDER BY score DESC, x.w1, x.w2 LIMIT 20""".stripMargin,
    "q_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM documents),
        |base AS (SELECT doc_id, l, len(l) AS n FROM toks WHERE len(l) >= 3),
        |c2 AS (
        |  SELECT doc_id, gram, COUNT(*) c FROM (
        |    SELECT doc_id, l[i] || ' ' || l[i+1] AS gram
        |    FROM base, UNNEST(range(1, n)) u(i)) g GROUP BY 1, 2),
        |c3 AS (
        |  SELECT doc_id, gram, COUNT(*) c FROM (
        |    SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS gram
        |    FROM base, UNNEST(range(1, n - 1)) u(i)) g GROUP BY 1, 2),
        |s2 AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |    CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac,
        |    CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS DOUBLE)
        |      / CAST(SUM(c) AS BIGINT) AS dup_bigram_frac
        |  FROM c2 GROUP BY 1),
        |s3 AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS DOUBLE)
        |      / CAST(SUM(c) AS BIGINT) AS dup_trigram_frac
        |  FROM c3 GROUP BY 1)
        |SELECT s2.doc_id, n_bigrams, top_bigram_frac, dup_bigram_frac,
        |  dup_trigram_frac
        |FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id ORDER BY s2.doc_id""".stripMargin,
    "q_text_bigrams" ->
      """SELECT bigram, COUNT(*) AS n FROM (
        |  SELECT l[i] || ' ' || l[i+1] AS bigram FROM (
        |    SELECT list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |    FROM documents) t, UNNEST(range(1, len(l))) u(i)) b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    // postings via DuckDB's zipped parallel unnests (word ∥ 0-based
    // position) — raw split indices, matching Spark's posexplode
    "q_phrase_search" ->
      """WITH s AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |t AS (
        |  SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS p FROM s)
        |SELECT a.doc_id, COUNT(*) AS n_hits, CAST(MIN(a.p) AS INT) AS first_pos
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |WHERE a.word = 'table' AND b.word = 'hash'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "q_ngram_novelty" ->
      """WITH b AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] AS bigram FROM (
        |    SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |    FROM documents) t, UNNEST(range(1, len(l))) u(i)),
        |f AS (SELECT bigram, COUNT(*) AS df FROM b GROUP BY bigram)
        |SELECT b.doc_id,
        |  CAST(COUNT(*) AS INT) AS n_distinct_bigrams,
        |  CAST(SUM(f.df) AS BIGINT) AS support,
        |  CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS INT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
        |FROM b JOIN f USING (bigram)
        |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin)
}
