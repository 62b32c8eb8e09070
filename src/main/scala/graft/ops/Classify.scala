package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.annotation.unused

/** Multinomial Naive Bayes document classification — the trainable
  * quality/domain classifier every curation pipeline keeps beside its
  * heuristics (the fastText-classifier stand-in: fastText's default is
  * itself a linear bag-of-words model). Train on a content-keyed split,
  * predict the held-out half, report per-class accuracy.
  *
  * THE FIXTURE IS PLANTED (the q_pq_planted lesson — make the floor
  * BIND): the synthetic corpus's `lang` labels are mostly noise w.r.t.
  * its text — measured across feature choices at sf0.01, float
  * count-bigram NB 29%, count-unigram 41%, presence 45% vs a 45%
  * majority class, and the shipped stopword heuristic itself reads 32%
  * (q_langid_eval) — so a corpus-trained classifier can only
  * demonstrate machinery, never quality. This query instead generates a
  * deterministic 300-doc fixture (5 classes × 60 docs, 20 tokens each:
  * an md5-driven 25% class-marker / 75% shared-topical mixture —
  * derivable bit-identically in Spark and DuckDB from (doc, position)
  * alone), trains on the md5-keyed half, and classifies the rest; the
  * ClassifySpec accuracy floor binds at ≥95% and a broken scorer
  * collapses toward the 20% prior.
  *
  * Exactness: Laplace-smoothed class-conditionals with the per-
  * (feature, class) log-probability as the quarter-bit integer log₂
  * surrogate (lb(((c+1)·2¹⁸ div (T_c+V))⁴) − 72, the q_unigram_lm /
  * q_zipf_fit idiom) — per-document class scores are exact BIGINTs,
  * argmax ties break totally by (score DESC, class ASC), and the DuckDB
  * oracle re-derives EVERYTHING (fixture, split, counts, HUGEINT
  * scores, argmax, per-class accuracy) with no exports.
  *
  * Scale shape (what this plan does at a real corpus size): training is
  * one corpus-pass explode + a (feature, class) hash agg; the model is
  * a derived TABLE joined on the feature key (equi, AQE-broadcastable —
  * never collected: a web-scale vocabulary doesn't fit a driver);
  * scoring is one test-pass explode × |classes| (a 5-row broadcast
  * class table — the one deliberate bounded nested loop, allowlisted),
  * a doc-keyed agg, and a per-doc argmax window. */
object Classify {
  private val Shift = 18
  private val Bias = 72 // 4·18
  private[graft] val NDocs = 300
  private[graft] val NClasses = 5
  private[graft] val DocLen = 20

  /** Spark-side quarter-bit integer log₂ of (num·2¹⁸) div den — the
    * SQL twin of [[Unigram.score]] (which runs driver-side on the
    * bounded piece table; here the model table stays distributed).
    * r ≤ 2¹⁸ so r⁴ ≤ 2⁷² — exact in DECIMAL(25,0), lb split on 2⁶³. */
  private[graft] def lb4Sql(num: String, den: String): String = {
    val r = s"GREATEST((CAST($num AS DECIMAL(19,0)) * ${1L << Shift})" +
      s" div ($den), 1L)"
    val x2 = s"(CAST($r AS DECIMAL(9,0)) * CAST($r AS DECIMAL(9,0)))"
    val x4 = s"(CAST($x2 AS DECIMAL(12,0)) * CAST($x2 AS DECIMAL(12,0)))"
    s"""((CASE WHEN $x4 <= 9223372036854775807
       |  THEN length(bin(CAST($x4 AS BIGINT))) - 1
       |  ELSE 63 + length(bin($x4 div 9223372036854775808)) - 1
       |  END) - $Bias)""".stripMargin
  }

  /** The planted corpus as (doc_id, lang, g) token rows: position j of
    * doc i is the class marker `m<cls>` when the first md5(i:j) hex
    * digit < '4' (25%), else shared topical word `w<h % 50>` from the
    * next four digits. Pure (i, j) arithmetic — no source table. */
  private[graft] def grams(spark: SparkSession): DataFrame =
    spark.range(NDocs).select(col("id").as("doc_id"),
        concat(lit("c"), (col("id") % NClasses).cast("string")).as("lang"),
        explode(expr(
          s"""transform(sequence(1, $DocLen), j -> CASE
             |  WHEN substring(md5(concat(CAST(id AS STRING), ':',
             |      CAST(j AS STRING))), 1, 1) < '4'
             |  THEN concat('m', CAST(id % $NClasses AS STRING))
             |  ELSE concat('w', CAST(
             |    CAST(conv(substring(md5(concat(CAST(id AS STRING), ':',
             |      CAST(j AS STRING))), 2, 4), 16, 10) AS BIGINT) % 50
             |    AS STRING)) END)""".stripMargin)).as("g"))

  /** Content-keyed train/test split: first md5 hex digit of
    * doc_id:nbsplit < '8' → train (~50%). */
  private def isTrain(c: org.apache.spark.sql.Column) =
    substring(md5(concat(c.cast("string"), lit(":nbsplit"))), 1, 1) < "8"

  def qNbClassify(spark: SparkSession, @unused dir: String): DataFrame = {
    val g = nbGrams(spark)
    scoreNb(g.filter(!isTrain(col("doc_id"))), nbClasses(spark),
      nbModel(spark))
  }

  /** Session-shared trained class table (cl, tc, v, s0, prior) — the
    * train half of [[classify]] as a model artifact (training is a
    * corpus-version pass, scoring is the query; the pqSims precedent
    * applied to a model table). */
  private[graft] def nbClasses(spark: SparkSession): DataFrame =
    graft.Tables.materializeSharedBy(spark, "nbclasses", "fixture")(
      trainNb(nbGrams(spark).filter(isTrain(col("doc_id"))))._1)

  /** Session-shared per-(feature, class) integer log-prob model table
    * (g, cl, s) — see [[nbClasses]]. */
  private[graft] def nbModel(spark: SparkSession): DataFrame =
    graft.Tables.materializeSharedBy(spark, "nbmodel", "fixture")(
      trainNb(nbGrams(spark).filter(isTrain(col("doc_id"))))._2)

  /** The md5-generated gram fixture MATERIALIZED once per session:
    * [[classify]] reads its input from SIX plan branches (train counts,
    * vocab, class totals, doc totals, model, test side) and Catalyst
    * replicates a generator subtree into each — materializing turns six
    * md5-expansion passes into one write + six columnar scans (the
    * round-2 lesson; prewarmed on its own chain). */
  private[graft] def nbGrams(spark: SparkSession): DataFrame =
    graft.Tables.materializeSharedBy(spark, "nbgrams", "fixture")(grams(spark))

  /** The train/score core over any (doc_id, lang, g) token table —
    * exposed so ClassifySpec can prove the signal path (stripping the
    * planted markers collapses accuracy toward the class prior). */
  private[graft] def classify(g: DataFrame): DataFrame = {
    val (classes, model) = trainNb(g.filter(isTrain(col("doc_id"))))
    scoreNb(g.filter(!isTrain(col("doc_id"))), classes, model)
  }

  /** Train half: (classes, model) derived tables over the train rows —
    * see [[classify]]. */
  private[graft] def trainNb(train: DataFrame): (DataFrame, DataFrame) = {
    // per-class totals T_c, doc counts, and the vocabulary size V
    val cnt = train.groupBy("lang", "g")
      .agg(count(lit(1)).cast("bigint").as("c"))
    val vocabN = train.agg(count_distinct(col("g")).as("v"))
    val classes = train.groupBy(col("lang").as("cl"))
      .agg(count(lit(1)).cast("bigint").as("tc"),
        count_distinct(col("doc_id")).as("docs"))
      .crossJoin(broadcast(vocabN))
      .crossJoin(broadcast(
        train.agg(count_distinct(col("doc_id")).as("total_docs"))))
      .select(col("cl"), col("tc"), col("v"),
        expr(lb4Sql("1", "tc + v")).cast("bigint").as("s0"),
        expr(lb4Sql("docs", "total_docs")).cast("bigint").as("prior"))
    // the model: per-(feature, class) integer log-prob — a derived
    // table keyed on the feature (joined, never collected)
    val model = cnt.join(broadcast(classes), col("lang") === col("cl"))
      .select(col("g"), col("cl"),
        expr(lb4Sql("c + 1", "tc + v")).cast("bigint").as("s"))
    (classes, model)
  }

  /** Score half: per-doc argmax + per-class accuracy rollup over the
    * test rows — see [[classify]]. */
  private[graft] def scoreNb(test: DataFrame, classes: DataFrame,
      model: DataFrame): DataFrame = {
    // score every test token under every class: 5-row broadcast class
    // table (deliberate bounded nested loop), unseen features fall back
    // to the class smoothing floor s0
    val scored = test
      .crossJoin(broadcast(classes.select(col("cl"), col("s0"), col("prior"))))
      .join(model, Seq("g", "cl"), "left")
      .groupBy(col("doc_id"), col("lang"), col("cl"), col("prior"))
      .agg(sum(coalesce(col("s"), col("s0"))).cast("bigint").as("fsum"))
      .select(col("doc_id"), col("lang"), col("cl"),
        (col("prior") + col("fsum")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("cl"))
    val pred = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cl").as("pred"))
    pred.groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("pred") === col("lang"), 1).otherwise(0))
          .cast("bigint").as("n_correct"))
      .withColumn("acc_bp", expr("(n_correct * 10000L) div n_docs"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_nb_classify" -> qNbClassify _)

  /** HUGEINT twin of [[lb4Sql]]. */
  private def lb4Duck(num: String, den: String): String = {
    val x = s"GREATEST((CAST($num AS HUGEINT) * ${1L << Shift}) // ($den), 1)"
    val x4 = s"($x * $x * $x * $x)"
    s"""((CASE WHEN $x4 <= 9223372036854775807
       |  THEN LENGTH(bin(CAST($x4 AS BIGINT))) - 1
       |  ELSE 63 + LENGTH(bin(CAST($x4 // CAST('9223372036854775808'
       |    AS HUGEINT) AS BIGINT))) - 1 END) - $Bias)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // full independent replay with NO exports and NO source table: the
    // planted fixture re-derives from (doc, position) md5 arithmetic,
    // then split, training counts, HUGEINT quarter-bit scores, per-doc
    // argmax with the engine's (score DESC, class ASC) tie order, and
    // per-class accuracy — see qNbClassify
    "q_nb_classify" ->
      s"""WITH g AS MATERIALIZED (
         |  SELECT i AS doc_id, 'c' || (i % $NClasses)::VARCHAR AS lang,
         |    CASE WHEN substr(md5(i::VARCHAR || ':' || j::VARCHAR), 1, 1) < '4'
         |      THEN 'm' || (i % $NClasses)::VARCHAR
         |      ELSE 'w' || (CAST('0x' ||
         |        substr(md5(i::VARCHAR || ':' || j::VARCHAR), 2, 4)
         |        AS BIGINT) % 50)::VARCHAR END AS g,
         |    substr(md5(i::VARCHAR || ':nbsplit'), 1, 1) < '8' AS is_train
         |  FROM range($NDocs) t(i), range(1, ${DocLen + 1}) p(j)),
         |cnt AS (SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM g WHERE is_train GROUP BY 1, 2),
         |vocab AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS v
         |  FROM g WHERE is_train),
         |cls AS (SELECT lang AS cl,
         |    CAST(COUNT(*) AS BIGINT) AS tc,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs
         |  FROM g WHERE is_train GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)
         |    AS total_docs FROM g WHERE is_train),
         |cls2 AS MATERIALIZED (SELECT cl, tc, v,
         |    ${lb4Duck("1", "tc + v")} AS s0,
         |    ${lb4Duck("docs", "total_docs")} AS prior
         |  FROM cls, vocab, tot),
         |model AS MATERIALIZED (SELECT cnt.g, cls2.cl,
         |    ${lb4Duck("c + 1", "tc + v")} AS s
         |  FROM cnt JOIN cls2 ON cls2.cl = cnt.lang),
         |scored AS (SELECT t.doc_id, t.lang, c2.cl,
         |    c2.prior + SUM(COALESCE(m.s, c2.s0)) AS score
         |  FROM (SELECT * FROM g WHERE NOT is_train) t
         |  CROSS JOIN cls2 c2
         |  LEFT JOIN model m ON m.g = t.g AND m.cl = c2.cl
         |  GROUP BY 1, 2, 3, c2.prior),
         |pred AS (SELECT doc_id, lang, cl AS pred FROM (
         |    SELECT doc_id, lang, cl, ROW_NUMBER() OVER (
         |      PARTITION BY doc_id ORDER BY score DESC, cl) AS rk
         |    FROM scored) z WHERE rk = 1)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST((SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) * 10000)
         |    // COUNT(*) AS BIGINT) AS acc_bp
         |FROM pred GROUP BY lang ORDER BY lang""".stripMargin)
}
