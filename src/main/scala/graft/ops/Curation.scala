package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Corpus-curation operators beyond dedup/similarity: leak-proof split
  * assignment, benchmark-contamination detection, PII redaction,
  * paragraph-level dedup, and doc-boundary-preserving sequence packing.
  * The reference has none of these (its only text op is word count,
  * SURVEY.md §2.1 O9); they are the curation surface a 100 TB
  * training-data pipeline runs between raw crawl and tokenizer.
  *
  * Scale design: every operator is either a narrow map (split, PII) or
  * shuffles on a derived hash key (paragraph md5, 13-gram md5) — no
  * all-pairs work anywhere; the packing fold is sequential per shard by
  * definition (greedy first-fit is order-dependent) and parallelizes
  * across shards exactly like [[TextOps.qSeqPack]].
  */
object Curation {

  /** First `n` hex chars of md5(doc_id) — the id-keyed hash every
    * threshold-sampling operator here shares (split, mix, contamination's
    * split reuse). */
  private def idHex(n: Int): Column =
    substring(md5(col("doc_id").cast("string")), 1, n)

  /** (doc_id, tokens, id-hash split key) — the shared base frame of the
    * contamination family. */
  private def splitToks(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"),
        idHex(2).as("h2"))

  /** First 2 hex chars of the fingerprint-normalized content md5 — the
    * content-keyed split hash (single source for the query, the pipeline,
    * and the spec; the oracle SQL mirrors it verbatim). */
  private[ops] def contentH2: Column =
    substring(md5(lower(regexp_replace(col("text"), "\\s+", " "))), 1, 2)

  /** train/val/test assignment from a 2-hex-char hash column. */
  private[ops] def splitOf(h2: Column): Column =
    when(h2 < "f0", "train").when(h2 < "f8", "val").otherwise("test")

  /** Content-keyed split assignment: same thresholds as
    * [[TextOps.qHashSplit]] but keyed on md5 of the FINGERPRINT-normalized
    * text (lowercase, whitespace collapsed — [[TextOps.qFingerprint]]'s
    * canonical form) instead of the doc id. Exact and near-exact
    * (case/spacing) duplicate docs therefore always land in the SAME
    * split — the leak-proofness property an id-keyed split cannot give
    * under duplication (the caveat conceded in qHashSplit's scaladoc).
    * Still a pure narrow map: no shuffle, reproducible across runs,
    * engines, and corpus re-partitions. */
  def qHashSplitContent(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), contentH2.as("h2"))
      .withColumn("split", splitOf(col("h2")))
      .orderBy("doc_id")

  /** 13-token grams of a tokenized doc, distinct per doc, keyed by md5 —
    * the standard benchmark-contamination unit (13-gram overlap, as in the
    * GPT-3/PaLM decontamination writeups). md5 rather than xxhash64 so the
    * DuckDB oracle can mirror the key EXACTLY (collisions and all); the
    * 8→32-byte key cost is irrelevant next to the gram strings it
    * replaces in the exchange. */
  private def gramKeys(df: DataFrame): DataFrame =
    df.filter(size(col("t")) >= 13)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(t) - 13), i -> concat_ws(' ', slice(t, i + 1, 13)))")))
        .as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("gh"))

  /** The train split's 13-gram hash index — session-shared per corpus
    * version: decontamination checks MANY eval benchmarks against the
    * SAME train index, so the tokenize+explode of the (large) train side
    * builds once and each check pays only its (small) eval side. */
  private[graft] def trainGramIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark,
      "traingrams", dir)(gramKeys(splitToks(spark, dir).filter(col("h2") < "f0"))
        .select(col("doc_id").as("train_doc"), col("gh")))

  /** Benchmark-contamination check: for every held-out eval doc (the
    * id-keyed 'test' split), count how many of its distinct 13-grams also
    * appear in any 'train' doc, and how many train docs share one. One
    * row per eval doc INCLUDING clean ones (n_hit = 0) — a contamination
    * report that returns no rows when the eval set is clean would be
    * indistinguishable from one that never ran.
    *
    * Scale shape: shuffle key is the gram hash. In the production shape
    * the eval side is a BOUNDED benchmark set (thousands of docs) and
    * Catalyst's size stats broadcast it, making the check one map-side
    * join over the train scan; here the eval side is the corpus's own
    * test split (a fixed fraction, NOT bounded), so no broadcast hint is
    * forced — a hinted broadcast of a corpus-proportional side would OOM
    * at 100 TB, and the planner already picks broadcast whenever the side
    * is genuinely small. Uses the id-keyed split deliberately: run
    * against q_hash_split's assignment, nonzero n_hit rows are exactly
    * the train/test leakage that split permits. */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val toks = splitToks(spark, dir)
    val trainGrams = trainGramIndex(spark, dir)
    val evalDocs = toks.filter(col("h2") >= "f8")
      .select(col("doc_id"), size(col("t")).as("n_tokens"))
    val evalGrams = gramKeys(toks.filter(col("h2") >= "f8"))
      .select(col("doc_id").as("eval_doc"), col("gh"))
    val hits = trainGrams.join(evalGrams, "gh")
      .groupBy("eval_doc")
      .agg(countDistinct(col("gh")).as("n_hit"),
        countDistinct(col("train_doc")).as("n_train_docs"))
      .withColumnRenamed("eval_doc", "doc_id")
    evalDocs.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_hit").isNotNull).cast("int").as("contaminated"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
      .orderBy("doc_id")
  }

  /** Per-language sampling rates for [[qCorpusMix]] expressed as 4-hex-char
    * md5 thresholds (string comparison of fixed-width lowercase hex ==
    * numeric comparison): en keeps everything, es/de downsample to ~50%,
    * fr/zh to ~25% — the data-mixing shape (up/down-weighting sources to a
    * target distribution). */
  private[ops] val MixThresholds: Seq[(String, String)] = Seq(
    "en" -> "ffff", "es" -> "8000", "de" -> "8000",
    "fr" -> "4000", "zh" -> "4000")

  /** Per-language 4-hex-char mix threshold for this row's `lang` (null =
    * not in the mixing manifest → dropped). */
  private[ops] def mixThr: Column =
    MixThresholds.foldRight(lit(null).cast("string"): Column) {
      case ((lang, t), elsE) => when(col("lang") === lang, lit(t)).otherwise(elsE)
    }

  /** Deterministic corpus mixing: stratified downsampling to per-language
    * target rates by an md5(doc_id) threshold — the hash-based sampling a
    * 100 TB mixing job needs (reproducible across runs, engines, and
    * re-partitions; a seeded RNG sample is none of those, and changing
    * one input doc never flips another doc's membership). Pure narrow
    * map + filter: the kept fraction of each language approximates its
    * rate with binomial error, with membership decidable per row. Unknown
    * languages are dropped (explicit allowlist = the mixing manifest). */
  def qCorpusMix(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), idHex(4).as("h4"), mixThr.as("thr"))
      .filter(col("thr").isNotNull && (col("h4") <= col("thr")))
      .select("doc_id", "lang", "h4")
      .orderBy("doc_id")
  }

  /** RE2-safe PII patterns (no lookaround, identical semantics under
    * Java regex and DuckDB's RE2) — interpolated verbatim into the oracle
    * SQL so both engines run the same pattern. */
  private[ops] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII detection + redaction: count email/phone matches per doc and emit
    * the redacted text (emails → <EMAIL> first, then phones → <PHONE> —
    * order matters and the oracle mirrors it). A pure narrow map over the
    * corpus scan — at 100 TB this is a free pass fused into whatever scan
    * runs anyway. The fixture corpus contains no PII (counts 0, redacted =
    * original — the oracle still proves the plumbing); CurationSpec proves
    * the match/redact semantics on synthetic PII. */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("int").as("n_emails"),
        regexp_count(col("text"), lit(PhoneRe)).cast("int").as("n_phones"),
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"))
      .orderBy("doc_id")

  private val ParaW = 16 // tokens per paragraph-block

  /** Paragraph-level dedup: split each doc into paragraphs, drop every
    * paragraph whose content (md5) already appeared earlier in the corpus
    * (first occurrence by (doc_id, para_idx) survives), and reassemble
    * each doc from its surviving paragraphs — the Dolma/RefinedWeb-style
    * sub-document dedup pass that full-doc dedup cannot express.
    *
    * Paragraph boundary: real corpora split on blank lines; this fixture
    * has no newlines (single-space token streams), so the registered
    * query uses fixed [[ParaW]]-token blocks as the paragraph unit — the
    * fixture's docs share exact phrase blocks, so the pass is non-vacuous
    * — while [[paraDedupBy]] takes any paragraph-array column and
    * CurationSpec exercises the blank-line variant on synthetic docs.
    *
    * Scale shape: one shuffle on md5(paragraph) for the first-occurrence
    * window, one shuffle on doc_id for reassembly — never on raw text
    * order, no all-pairs. */
  def paraDedupBy(docs: DataFrame, paras: Column): DataFrame = {
    val p = docs
      .select(col("doc_id"), posexplode(paras).as(Seq("para_idx", "para")))
    val w = Window.partitionBy(md5(col("para")))
      .orderBy(col("doc_id"), col("para_idx"))
    p.withColumn("kept", row_number().over(w) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_paras"),
        sum(col("kept").cast("int")).cast("int").as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN struct(para_idx, para) END)), s -> s.para)"))
          .as("text_clean"))
      .orderBy("doc_id")
  }

  def qParaDedup(spark: SparkSession, dir: String): DataFrame =
    paraDedupBy(
      Tables(spark, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 1),
      expr(s"transform(sequence(0, (size(t) - 1) div $ParaW), i -> concat_ws(' ', slice(t, i * $ParaW + 1, $ParaW)))"))

  private val BoilerK = 3 // blocks in >= K distinct docs are boilerplate

  /** Frequency-based BOILERPLATE removal (the CCNet/RefinedWeb frequent-
    * line filter): a paragraph block appearing in >= [[BoilerK]] DISTINCT
    * docs is boilerplate (headers, navigation, license blurbs) and is
    * struck from EVERY doc — the complement of [[qParaDedup]], which
    * keeps first occurrences. Block unit is the same [[ParaW]]-token
    * block (this fixture has no newlines; see qParaDedup's scaladoc).
    *
    * Scale shape: one shuffle on md5(block) for the distinct-doc
    * frequency (partial agg absorbs hot blocks map-side), one equi-join
    * back on the block hash, one doc_id shuffle to reassemble — never on
    * raw text, no all-pairs. */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) - 1) div $ParaW), i -> concat_ws(' ', slice(t, i * $ParaW + 1, $ParaW)))"))
        .as(Seq("para_idx", "para")))
      .withColumn("ph", md5(col("para")))
    val freq = p.groupBy("ph")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    p.join(freq, "ph")
      .withColumn("kept", col("ndocs") < BoilerK)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_paras"),
        sum((!col("kept")).cast("int")).cast("int").as("n_boiler"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN struct(para_idx, para) END)), s -> s.para)"))
          .as("text_clean"))
      .orderBy("doc_id")
  }

  /** Temperature-balanced language sampling at α = 0.5: downsample each
    * language with keep rate √(n_min/n_l), so kept counts are ∝ √n_l —
    * the standard flattening between proportional (α=1) and uniform
    * (α=0) multilingual mixes (Conneau & Lample 2019 §3.1), with the
    * rates DERIVED from the corpus itself rather than a fixed manifest
    * ([[qCorpusMix]] is the manifest variant). α is fixed at 0.5 because
    * √ is the one power IEEE guarantees correctly rounded — rate, its
    * 2^32-scaled hex threshold, and therefore membership are bit-identical
    * in both engines (a pow() rate would differ in the last ulp across
    * libms). Membership is the family's md5(doc_id)-threshold test:
    * reproducible across runs/engines/partitionings, one doc's presence
    * never affects another's. Scale shape: tiny per-lang count agg,
    * broadcast back, narrow filter — one scan, no data-sized shuffle. */
  def qTemperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val nmin = counts.agg(min(col("n")).as("nmin"))
    val rates = counts.crossJoin(broadcast(nmin))
      .select(col("lang"),
        sqrt(col("nmin").cast("double") / col("n")).as("rate"))
      .withColumn("thr",
        lpad(lower(hex(floor(col("rate") * lit(4294967296.0)))), 8, "0"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), idHex(8).as("h8"))
      .join(broadcast(rates), "lang")
      .filter(col("rate") >= 1.0 || col("h8") < col("thr"))
      .select(col("doc_id"), col("lang"), col("rate"))
      .orderBy("doc_id")
  }

  private val PackB = 256 // sequence token budget (same as qSeqPack)

  /** The greedy fold over a (doc_id, lang, n_tokens) frame — extracted so
    * CurationSpec can property-test it against an in-JVM reference fold
    * on arbitrary inputs. */
  private[ops] def greedyPack(d: DataFrame): DataFrame = {
    val fold =
      s"""aggregate(
         |  ds,
         |  struct(
         |    cast(array() as array<struct<doc_id:bigint,n_tokens:int,seq_id:int,offset:int>>) AS out,
         |    0 AS seq, 0 AS fill),
         |  (a, x) -> struct(
         |    array_append(a.out, struct(
         |      x.doc_id AS doc_id, x.n_tokens AS n_tokens,
         |      IF(a.fill > 0 AND a.fill + x.n_tokens > $PackB, a.seq + 1, a.seq) AS seq_id,
         |      IF(a.fill > 0 AND a.fill + x.n_tokens > $PackB, 0, a.fill) AS offset)) AS out,
         |    IF(a.fill > 0 AND a.fill + x.n_tokens > $PackB, a.seq + 1, a.seq) AS seq,
         |    IF(a.fill > 0 AND a.fill + x.n_tokens > $PackB, x.n_tokens, a.fill + x.n_tokens) AS fill),
         |  a -> a.out)""".stripMargin
    d.groupBy("lang")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_tokens"))))
        .as("ds"))
      .select(col("lang"), explode(expr(fold)).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("lang"),
        col("p.n_tokens").as("n_tokens"), col("p.seq_id").as("seq_id"),
        col("p.offset").as("offset"))
      .orderBy("doc_id")
  }

  /** Doc-boundary-preserving sequence packing: greedy first-fit in doc_id
    * order per language shard — a doc that would overflow the current
    * B=256 sequence STARTS A NEW ONE instead of being cut mid-doc
    * ([[TextOps.qSeqPack]] cuts; this variant never splits a doc, the
    * packing used when examples must stay intact). A doc longer than B
    * gets a sequence of its own, and the next doc starts fresh.
    *
    * The fold is inherently sequential per shard (each doc's placement
    * depends on the running fill), so it runs ROW-LOCALLY over the
    * shard's collected (doc_id, n_tokens) list — list of per-doc token
    * COUNTS, not text, so a shard of millions of docs is tens of MB; at
    * 100 TB the shard key is (lang, shard_id) and shards pack
    * independently in parallel, exactly like qSeqPack's window. The
    * DuckDB oracle expresses the same fold as a recursive CTE. */
  def qSeqPackGreedy(spark: SparkSession, dir: String): DataFrame =
    greedyPack(
      Tables(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .filter(col("n_tokens") >= 1))

  /** The END-TO-END curation pass — what a user of this library actually
    * runs between raw corpus and tokenizer, as ONE query: (1) exact dedup
    * (content-hash survivors), (2) near-dup removal (Jaccard >= 0.8
    * greedy-by-id, [[Similarity.qDedupPipeline]]'s semantics), (3) quality
    * filter (>= 10 tokens and no token longer than 20 chars — the cheap
    * Gopher-style length gates), (4) language mixing ([[qCorpusMix]]'s
    * thresholds), (5) content-keyed split assignment
    * ([[qHashSplitContent]]).
    *
    * Every expensive stage reads the session-shared derived tables
    * (cluster membership, verified near-dup pairs) — the pipeline adds
    * only narrow maps and one broadcast anti-join on top, so composing
    * the stages costs no more than their shared parts; stage order
    * (dedup before filter/mix) is deliberate: dedup's derived tables are
    * corpus-keyed and REUSABLE only if computed on the unfiltered corpus,
    * and removing dups first also makes the mix rates dup-robust. */
  def qCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val clean = Similarity.qDedupPipeline(spark, dir).select("doc_id")
    Tables(spark, dir, "documents")
      .join(clean, "doc_id") // stages 1+2: the deduped corpus
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("t"), idHex(4).as("h4"),
        mixThr.as("thr"), contentH2.as("h2"))
      .filter(size(col("t")) >= 10 &&
        size(filter(col("t"), x => length(x) > 20)) === 0) // stage 3
      .filter(col("thr").isNotNull && (col("h4") <= col("thr"))) // stage 4
      .select(col("doc_id"), col("lang"),
        size(col("t")).as("n_tokens"),
        splitOf(col("h2")).as("split")) // stage 5
      .orderBy("doc_id")
  }

  /** Per-source document cap (crawl-curation "domain cap"): keep at most
    * 50 docs per source, selected by the content-hash order — a
    * deterministic uniform sample, reproducible across runs/engines, and
    * content-stable under corpus re-partitioning. Runs through the native
    * [[graft.plans.TopKPerKey]] operator: bounded per-key heaps on the
    * map side, then a shuffle of only <=50·|sources| rows — the window
    * oracle's plan would hash ALL docs of a source into one reducer
    * partition (source cardinality is tiny → catastrophic skew at
    * 100 TB), this one never materializes more than 50 rows per key per
    * input partition. */
  def qSourceCap(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
        Tables(spark, dir, "documents")
          .select(col("source"), col("doc_id"), md5(col("text")).as("h")),
        keys = Seq(col("source")),
        order = Seq(asc("h"), asc("doc_id")),
        k = 50)
      .select("source", "doc_id", "h")
      .orderBy("source", "doc_id")

  /** k-anonymity audit over the release metadata (Sweeney 2002): the
    * quasi-identifier tuple here is (lang, source, log₂ length bucket)
    * — the attributes a metadata release would carry per doc — and
    * every equivalence class smaller than k=5 is flagged as
    * re-identification risk. The complement of [[qPiiScrub]]: scrubbing
    * removes direct identifiers from CONTENT, this measures how unique
    * the remaining METADATA combination is. One hash aggregation on
    * the QI key (map-side combine; class count bounded by
    * |langs|·|sources|·~40 buckets, so the output is tiny at any
    * corpus size); the length bucket reuses the bin-string idiom so
    * the whole row is integer-exact. */
  def qKanon(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "documents")
      .select(col("lang"), col("source"),
        length(bin(col("n_chars"))).cast("int").as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("class_size"),
        when(count(lit(1)) < 5, 1).otherwise(0).cast("int").as("at_risk"))
      .orderBy("lang", "source", "len_bucket")

  /** Differentially-private count release — the two-sided geometric
    * mechanism (Ghosh-Roughgarden-Sundararajan STOC'09: the UNIVERSALLY
    * optimal discrete noise for count queries): noise = G₁ − G₂ with
    * G ~ Geometric(1/2), giving ε = ln 2 per released count at
    * sensitivity 1. The geometric samples are drawn WITHOUT floats or
    * RNG state: a uniform 60-bit md5 integer's TRAILING-ZERO count is
    * exactly Geometric(1/2) (P(tz=k) = 2^-(k+1)), computed by the
    * bin-string idiom length(bin(v & −v)) − 1 on both engines. The
    * seed is a fixed release string — deterministic noise is the gate
    * artifact and the reproducible-release discipline (a production
    * pipeline rotates the seed per release; re-running one release must
    * reproduce its published numbers, which is exactly what the oracle
    * asserts).
    *
    * DEMO/GATE-ONLY — NOT a working privacy mechanism as registered:
    * the seed string here is PUBLIC ('dp1:'||lang), so every released
    * count is exactly invertible by anyone who can read this code. A
    * real release MUST draw the seed from a secret per-release value
    * (and keep it secret); do not copy this query as-is for privacy.
    * One hash agg + a narrow map over |langs| rows. */
  def qDpCounts(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("h1",
        expr("conv(substr(md5(concat('dp1:', lang)), 1, 15), 16, 10)")
          .cast("long"))
      .withColumn("h2",
        expr("conv(substr(md5(concat('dp2:', lang)), 1, 15), 16, 10)")
          .cast("long"))
      .withColumn("g1", expr(
        "CASE WHEN h1 = 0 THEN 60 ELSE length(bin(h1 & -h1)) - 1 END")
        .cast("int"))
      .withColumn("g2", expr(
        "CASE WHEN h2 = 0 THEN 60 ELSE length(bin(h2 & -h2)) - 1 END")
        .cast("int"))
      .withColumn("noise", (col("g1") - col("g2")).cast("bigint"))
      .select(col("lang"), col("n_docs"), col("noise"),
        (col("n_docs") + col("noise")).cast("bigint").as("noisy_docs"))
      .orderBy("lang")

  /** l-diversity audit (Machanavajjhala et al. ICDE 2006/TKDD 2007) —
    * the attribute-disclosure complement of [[qKanon]]: k-anonymity
    * bounds re-identification but a class whose members all share one
    * SENSITIVE value still leaks it ("homogeneity attack"). Here the
    * quasi-identifier is (lang, log₂-length-bucket) and the sensitive
    * attribute is SOURCE — the provenance-private release framing: the
    * metadata tuple must not reveal where a document came from. Per QI
    * class: size, distinct sources (distinct l-diversity), the dominant
    * source's share in exact basis points (the homogeneity signal
    * without entropy's float log), and the l=3 risk flag. One hash agg
    * on (QI, source) then a QI-sized rollup — map-side combine absorbs
    * hot classes; output bounded by |langs|·~40 buckets at any scale. */
  def qLDiversity(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "documents")
      .select(col("lang"),
        length(bin(col("n_chars"))).cast("int").as("len_bucket"),
        col("source"))
      .groupBy("lang", "len_bucket", "source")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("lang", "len_bucket")
      .agg(sum(col("cnt")).cast("bigint").as("class_size"),
        count(lit(1)).cast("bigint").as("n_sources"),
        max(col("cnt")).cast("bigint").as("max_source"))
      .withColumn("dominant_bp",
        expr("max_source * 10000L div class_size").cast("bigint"))
      .withColumn("below_l3",
        when(col("n_sources") < 3, 1).otherwise(0).cast("int"))
      .select(col("lang"), col("len_bucket"), col("class_size"),
        col("n_sources"), col("dominant_bp"), col("below_l3"))
      .orderBy("lang", "len_bucket")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kanon" -> qKanon _,
    "q_ldiversity" -> qLDiversity _,
    "q_dp_counts" -> qDpCounts _,
    "q_source_cap" -> qSourceCap _,
    "q_curation_pipeline" -> qCurationPipeline _,
    "q_hash_split_content" -> qHashSplitContent _,
    "q_corpus_mix" -> qCorpusMix _,
    "q_contamination" -> qContamination _,
    "q_pii_scrub" -> qPiiScrub _,
    "q_para_dedup" -> qParaDedup _,
    "q_boilerplate" -> qBoilerplate _,
    "q_temperature_sample" -> qTemperatureSample _,
    "q_seq_pack_greedy" -> qSeqPackGreedy _)

  val oracles: Map[String, String] = Map(
    // Distinct-source diversity per (lang, len-bucket) QI class with the
    // dominant-share homogeneity signal — see qLDiversity
    "q_ldiversity" ->
      """WITH per AS (
        |  SELECT lang, CAST(LENGTH(bin(n_chars)) AS INT) AS len_bucket,
        |    source, COUNT(*) AS cnt
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, len_bucket,
        |  CAST(SUM(cnt) AS BIGINT) AS class_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_sources,
        |  CAST((MAX(cnt) * 10000) // SUM(cnt) AS BIGINT) AS dominant_bp,
        |  CAST(CASE WHEN COUNT(*) < 3 THEN 1 ELSE 0 END AS INT) AS below_l3
        |FROM per GROUP BY 1, 2
        |ORDER BY lang, len_bucket""".stripMargin,
    // QI equivalence-class sizes with the k=5 risk flag — see qKanon
    "q_kanon" ->
      """SELECT lang, source,
        |  CAST(LENGTH(bin(n_chars)) AS INT) AS len_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS class_size,
        |  CAST(CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS INT) AS at_risk
        |FROM documents GROUP BY 1, 2, 3
        |ORDER BY lang, source, len_bucket""".stripMargin,
    // Same md5-seeded trailing-zero geometric noise — see qDpCounts
    // (Spark conv(hex,16,10) == DuckDB '0x'||hex CAST; bin unpadded on
    // both engines; & and unary minus need parens in DuckDB)
    "q_dp_counts" ->
      """WITH c AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) n_docs
        |  FROM documents GROUP BY 1),
        |h AS (SELECT lang, n_docs,
        |    CAST('0x' || substr(md5('dp1:' || lang), 1, 15) AS BIGINT) h1,
        |    CAST('0x' || substr(md5('dp2:' || lang), 1, 15) AS BIGINT) h2
        |  FROM c),
        |g AS (SELECT lang, n_docs,
        |    CAST(CASE WHEN h1 = 0 THEN 60
        |      ELSE length(bin(h1 & (-h1))) - 1 END AS INT) g1,
        |    CAST(CASE WHEN h2 = 0 THEN 60
        |      ELSE length(bin(h2 & (-h2))) - 1 END AS INT) g2
        |  FROM h)
        |SELECT lang, n_docs, CAST(g1 - g2 AS BIGINT) AS noise,
        |  CAST(n_docs + g1 - g2 AS BIGINT) AS noisy_docs
        |FROM g ORDER BY lang""".stripMargin,
    "q_source_cap" ->
      """SELECT source, doc_id, h FROM (
        |  SELECT source, doc_id, md5(text) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY md5(text), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 50
        |ORDER BY source, doc_id""".stripMargin,
    "q_curation_pipeline" -> {
      val mixCase = "CASE lang " + MixThresholds.map { case (l, t) =>
        s"WHEN '$l' THEN '$t'" }.mkString(" ") + " END"
      s"""WITH survivors AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
         |    FROM documents) s WHERE rn = 1),
         |toksh AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') l
         |  FROM survivors),
         |sh AS (
         |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
         |  FROM toksh, UNNEST(range(1, len(l) - 1)) u(i)),
         |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id da, b.doc_id db, COUNT(*) common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |removed AS (
         |  SELECT DISTINCT db AS doc_id
         |  FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
         |clean AS (
         |  SELECT s.doc_id, s.lang, s.text,
         |    list_filter(string_split_regex(s.text, '\\s+'), t -> t <> '') l
         |  FROM survivors s
         |  WHERE s.doc_id NOT IN (SELECT doc_id FROM removed)),
         |filt AS (
         |  SELECT doc_id, lang, text, CAST(len(l) AS INT) AS n_tokens
         |  FROM clean
         |  WHERE len(l) >= 10 AND len(list_filter(l, x -> LENGTH(x) > 20)) = 0)
         |SELECT doc_id, lang, n_tokens,
         |  CASE WHEN substring(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 2) < 'f0' THEN 'train'
         |       WHEN substring(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 2) < 'f8' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM filt
         |WHERE $mixCase IS NOT NULL
         |  AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <= $mixCase
         |ORDER BY doc_id""".stripMargin
    },
    "q_hash_split_content" ->
      """SELECT doc_id, lang,
        |  substring(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 2) AS h2,
        |  CASE WHEN substring(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 2) < 'f0' THEN 'train'
        |       WHEN substring(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 2) < 'f8' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_corpus_mix" -> {
      val thrCase = "CASE lang " + MixThresholds.map { case (l, t) =>
        s"WHEN '$l' THEN '$t'" }.mkString(" ") + " END"
      s"""SELECT doc_id, lang,
         |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h4
         |FROM documents
         |WHERE $thrCase IS NOT NULL
         |  AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <= $thrCase
         |ORDER BY doc_id""".stripMargin
    },
    "q_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) h2
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, h2, md5(array_to_string(l[i+1 : i+13], ' ')) gh
        |  FROM (SELECT doc_id, h2, l, len(l) n FROM toks WHERE len(l) >= 13),
        |    UNNEST(range(0, n - 12)) u(i)),
        |hits AS (
        |  SELECT e.doc_id, COUNT(DISTINCT e.gh) n_hit,
        |    COUNT(DISTINCT t.doc_id) n_train_docs
        |  FROM g e JOIN g t ON e.gh = t.gh AND t.h2 < 'f0'
        |  WHERE e.h2 >= 'f8'
        |  GROUP BY 1)
        |SELECT ev.doc_id, CAST(len(ev.l) AS INT) AS n_tokens,
        |  CAST(CASE WHEN hits.n_hit IS NOT NULL THEN 1 ELSE 0 END AS INT) AS contaminated,
        |  CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(hits.n_train_docs, 0) AS BIGINT) AS n_train_docs
        |FROM toks ev LEFT JOIN hits ON ev.doc_id = hits.doc_id
        |WHERE ev.h2 >= 'f8' ORDER BY ev.doc_id""".stripMargin,
    "q_pii_scrub" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_para_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, CAST(i AS INT) para_idx,
        |    array_to_string(l[i*16+1 : i*16+16], ' ') para
        |  FROM (SELECT doc_id, l, len(l) n FROM toks WHERE len(l) >= 1),
        |    UNNEST(range(0, (n - 1) // 16 + 1)) u(i)),
        |m AS (
        |  SELECT doc_id, para_idx, para,
        |    ROW_NUMBER() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) rn
        |  FROM p)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_paras,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  COALESCE(array_to_string(list(para ORDER BY para_idx) FILTER (WHERE rn = 1), ' '), '') AS text_clean
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, CAST(i AS INT) para_idx,
        |    array_to_string(l[i*16+1 : i*16+16], ' ') para
        |  FROM (SELECT doc_id, l, len(l) n FROM toks WHERE len(l) >= 1),
        |    UNNEST(range(0, (n - 1) // 16 + 1)) u(i)),
        |f AS (SELECT md5(para) AS ph, COUNT(DISTINCT doc_id) AS ndocs
        |      FROM p GROUP BY 1)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_paras,
        |  CAST(SUM(CASE WHEN ndocs >= 3 THEN 1 ELSE 0 END) AS INT) AS n_boiler,
        |  COALESCE(array_to_string(list(para ORDER BY para_idx) FILTER (WHERE ndocs < 3), ' '), '') AS text_clean
        |FROM p JOIN f ON md5(para) = ph
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_temperature_sample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |mn AS (SELECT MIN(n) AS nmin FROM c),
        |r AS (SELECT lang,
        |    sqrt(CAST(nmin AS DOUBLE) / n) AS rate,
        |    lpad(lower(hex(CAST(floor(sqrt(CAST(nmin AS DOUBLE) / n) * 4294967296) AS BIGINT))), 8, '0') AS thr
        |  FROM c, mn)
        |SELECT d.doc_id, d.lang, r.rate
        |FROM documents d JOIN r USING (lang)
        |WHERE r.rate >= 1.0
        |   OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr
        |ORDER BY doc_id""".stripMargin,
    "q_seq_pack_greedy" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS n_tokens,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS INT) AS rn
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) >= 1),
        |g AS (
        |  SELECT doc_id, lang, n_tokens, rn,
        |    0 AS seq_id, 0 AS "offset", n_tokens AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.doc_id, d.lang, d.n_tokens, d.rn,
        |    CASE WHEN g.fill + d.n_tokens > 256 THEN g.seq_id + 1 ELSE g.seq_id END,
        |    CASE WHEN g.fill + d.n_tokens > 256 THEN 0 ELSE g.fill END,
        |    CASE WHEN g.fill + d.n_tokens > 256 THEN d.n_tokens ELSE g.fill + d.n_tokens END
        |  FROM g JOIN d ON d.lang = g.lang AND d.rn = g.rn + 1)
        |SELECT doc_id, lang, n_tokens, CAST(seq_id AS INT) AS seq_id,
        |  CAST("offset" AS INT) AS "offset"
        |FROM g ORDER BY doc_id""".stripMargin)
}
