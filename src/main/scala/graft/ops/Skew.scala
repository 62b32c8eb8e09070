package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew mitigation: salted two-stage aggregation as a reusable operator.
  *
  * A Zipfian grouping key funnels its hottest value into ONE reduce task —
  * at 100 TB the token "the" alone can exceed an executor. Salting
  * splits every group into `nSalts` sub-groups for the heavy partial
  * stage (hot keys spread across nSalts tasks), then a second stage over
  * the tiny partial table merges them. Correct for any ALGEBRAIC
  * aggregate (one whose partials merge exactly: sum/count/min/max, or
  * decimal sums — which merge bit-exactly, so the rewrite is
  * result-IDENTICAL, not approximate; SkewSpec proves equality).
  *
  * Note Spark's own map-side partial aggregation already handles skew
  * when inputs arrive unaggregated; the salt matters when data lands
  * pre-grouped by something else (post-join, post-explode with hot keys
  * concentrated per partition) or when per-key partial state is too wide
  * to combine map-side. AQE's skew handling covers JOINS only — skewed
  * aggregation needs this rewrite.
  */
object Skew {

  /** One algebraic aggregate: output name, stage-1 partial expression
    * (over raw rows), stage-2 merge (over the named partial column). */
  final case class Algebraic(name: String, partial: Column,
      merge: Column => Column)

  /** count(*) — partials merge by summation. */
  def countAll(name: String): Algebraic =
    Algebraic(name, count(lit(1)), sum(_))

  /** Exact decimal sum (see [[Tables.dec]]) surfaced as the decimal —
    * callers cast at the end; decimal partials merge bit-exactly. */
  def sumDec(name: String, c: Column): Algebraic =
    Algebraic(name, sum(Tables.dec(c)), sum(_))

  def minOf(name: String, c: Column): Algebraic = Algebraic(name, min(c), min(_))
  def maxOf(name: String, c: Column): Algebraic = Algebraic(name, max(c), max(_))

  /** Two-stage salted groupBy: `df.groupBy(keys).agg(...)` rewritten as
    * groupBy(keys :+ salt).agg(partials) → groupBy(keys).agg(merges).
    * `salt` is any integer column that spreads a hot key's rows (row
    * provenance like a doc/order id is ideal — deterministic and
    * uncorrelated with the grouping key). */
  def saltedAgg(df: DataFrame, keys: Seq[String], salt: Column,
      nSalts: Int, aggs: Seq[Algebraic]): DataFrame = {
    require(aggs.nonEmpty && nSalts > 0)
    val partials = aggs.map(a => a.partial.as(s"__p_${a.name}"))
    val stage1 = df.withColumn("__salt", pmod(salt, lit(nSalts)))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partials.head, partials.tail: _*)
    val merges = aggs.map(a => a.merge(col(s"__p_${a.name}")).as(a.name))
    stage1.groupBy(keys.map(col): _*).agg(merges.head, merges.tail: _*)
  }

  /** Token frequency over the documents corpus — Zipfian BY CONSTRUCTION
    * (natural-language token ranks follow ~1/rank) — through the salted
    * rewrite: count + first/last doc provenance per token, salted by
    * doc_id, top-100 by frequency. Oracle-gated: the rewrite must equal
    * the direct groupBy exactly. */
  def qSkewAgg(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    saltedAgg(toks, Seq("token"), col("doc_id"), nSalts = 16, Seq(
      countAll("n"),
      minOf("first_doc", col("doc_id")),
      maxOf("last_doc", col("doc_id"))))
      .orderBy(desc("n"), asc("token"))
      .limit(100)
  }

  /** Salted JOIN: the static skew-mitigation twin of [[saltedAgg]] for
    * the join side. A Zipfian join key funnels the hot key's fact rows
    * into one reduce task of a shuffle join; salting spreads them by
    * joining on (key, salt) with the DIM side replicated once per salt
    * value — each fact row still matches exactly one dim row, so the
    * result is IDENTICAL to the plain join (SkewSpec proves equality),
    * at the cost of nSalts×|dim| replicated build rows. This is the
    * rewrite for engines/paths AQE's runtime skew splitting doesn't
    * reach (broadcast-ineligible dims under shuffle-HASH joins — AQE
    * splits skewed SORT-MERGE partitions only) and for pinning a plan
    * statically instead of trusting runtime stats. The dim side is
    * hinted shuffle_hash so the demonstration can't silently degrade
    * into a broadcast (which needs no salt) at fixture scale. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salt: Column, nSalts: Int): DataFrame = {
    require(nSalts > 0)
    val saltedFact = fact.withColumn("__salt", pmod(salt, lit(nSalts)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    saltedFact.join(saltedDim.hint("shuffle_hash"), Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Token occurrences (Zipfian fact) joined to the per-token document-
    * frequency table through the salted rewrite, re-aggregated per
    * token — gate-checked against the plain join+aggregate in DuckDB. */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val dimDf = toks.groupBy("token")
      .agg(countDistinct(col("doc_id")).as("df"))
    saltedJoin(toks, dimDf, "token", xxhash64(col("doc_id")), nSalts = 16)
      .groupBy("token")
      .agg(count(lit(1)).as("n"), max(col("df")).as("df"))
      .orderBy(desc("n"), asc("token"))
      .limit(50)
  }

  /** Run `body` in the caller's [[graft.Scoped]] child with
    * `spark.graft.autosalt.enabled=true` and the rule registered, and
    * return its result as a DataFrame of the caller. `body` must
    * [[Tables.materialize]] its query: plans are optimized at ACTION
    * time, so a plan handed back unexecuted would be optimized under the
    * caller's conf, without the salt. The caller's conf is never
    * written, so concurrent queries never plan salted. */
  private def autoSalted(spark: SparkSession)(
      body: SparkSession => DataFrame): DataFrame = {
    val s = graft.Scoped.session(spark,
      Map("spark.graft.autosalt.enabled" -> "true"))
    graft.plans.AutoSalt.ensureRegistered(s)
    graft.Scoped.rebind(spark, body(s))
  }

  /** Documents exploded to (doc_id, lang, n_chars, token). */
  private def langTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(TextOps.tokens(col("text"))).as("token"))

  /** The [[graft.plans.AutoSalt]] OPTIMIZER rule end-to-end: the query
    * is written as a PLAIN groupBy — no salting in user code — and
    * executed under [[autoSalted]], so the optimizer itself plants the
    * two-stage salted shape (AutoSaltSpec asserts the plan), then
    * re-ordered for the gate. The oracle is the plain aggregation — the
    * rewrite must be result-invisible. */
  def qAutoSaltAgg(spark: SparkSession, dir: String): DataFrame =
    autoSalted(spark) { s =>
      Tables.materialize(
        langTokens(s, dir).groupBy("lang", "token")
          .agg(count(lit(1)).as("n"),
            sum(Tables.dec(col("n_chars"))).as("chars"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(desc("n"), asc("lang"), asc("token"))
          .limit(100), "autosalt")
    }.select(col("lang"), col("token"), col("n"),
        col("chars").cast("double").as("chars"), col("last_doc"))
      .orderBy(desc("n"), asc("lang"), asc("token"))

  /** The r14 AutoSalt coverage growth driver-gated: a plain groupBy
    * whose aggregates are integral AVERAGES (plus a count), rewritten by
    * the rule into exact Sum+Count partials with one stage-2 division.
    * One of the averages is over an always-NULL projection
    * (n_chars where doc_id < 0), so every group exercises the rewrite's
    * ANSI zero-count guard — the plain Average returns NULL there and
    * the salted form must too, not throw DIVIDE_BY_ZERO. Oracle = the
    * plain aggregation with the division written out explicitly
    * (SUM::DOUBLE / COUNT::DOUBLE — the exact arithmetic both the plain
    * and the salted engine paths perform on integral input). */
  def qAutoSaltAvg(spark: SparkSession, dir: String): DataFrame =
    autoSalted(spark) { s =>
      Tables.materialize(
        langTokens(s, dir).groupBy("lang", "token")
          .agg(count(lit(1)).as("n"),
            avg(col("n_chars")).as("avg_chars"),
            avg(length(col("token"))).as("avg_len"),
            avg(when(col("doc_id") < 0, col("n_chars"))).as("avg_none"))
          .orderBy(desc("n"), asc("lang"), asc("token"))
          .limit(100), "autosaltavg")
    }.orderBy(desc("n"), asc("lang"), asc("token"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_agg" -> qSkewAgg _,
    "q_skew_join" -> qSkewJoin _,
    "q_autosalt_agg" -> qAutoSaltAgg _,
    "q_autosalt_avg" -> qAutoSaltAvg _)

  val oracles: Map[String, String] = Map(
    "q_skew_agg" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents)
        |SELECT token, COUNT(*) AS n, MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc
        |FROM toks GROUP BY token
        |ORDER BY n DESC, token LIMIT 100""".stripMargin,
    "q_skew_join" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents),
        |d AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
        |      GROUP BY 1)
        |SELECT t.token, COUNT(*) AS n, MAX(d.df) AS df
        |FROM toks t JOIN d ON d.token = t.token
        |GROUP BY t.token
        |ORDER BY n DESC, t.token LIMIT 50""".stripMargin,
    "q_autosalt_agg" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents)
        |SELECT lang, token, COUNT(*) AS n,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS chars,
        |  MAX(doc_id) AS last_doc
        |FROM toks GROUP BY lang, token
        |ORDER BY n DESC, lang, token LIMIT 100""".stripMargin,
    // plain-aggregation oracle with the division written out: on
    // integral input both the plain Average and the AutoSalt rewrite
    // compute exact-integer sum / count in one double division, and so
    // does SUM::DOUBLE / COUNT::DOUBLE here (fixture sums << 2^53, so
    // every representation is exact). avg_none is an always-NULL
    // projection: the engine's zero-count guard must yield NULL.
    "q_autosalt_avg" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents)
        |SELECT lang, token, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(n_chars) AS DOUBLE)
        |    AS avg_chars,
        |  CAST(SUM(LENGTH(token)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS avg_len,
        |  CAST(NULL AS DOUBLE) AS avg_none
        |FROM toks GROUP BY lang, token
        |ORDER BY n DESC, lang, token LIMIT 100""".stripMargin)
}
