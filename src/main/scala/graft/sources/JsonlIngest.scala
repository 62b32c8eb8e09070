package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** JSON-lines ingestion — the interchange format training-data
  * pipelines actually exchange corpora in. The reference ingests only
  * text directories (SURVEY.md §2.1 O1); this is the schema-on-read
  * side of the Spark-first source surface: an explicit schema on
  * `spark.read.json` (never inference — a 100 TB inference pass reads
  * the corpus TWICE and silently widens types on dirty rows), splittable
  * line-delimited files, and column pruning/pushdown identical to any
  * other scan once parsed.
  *
  * The gate round-trips the documents table through JSONL once per
  * session and profiles the re-read copy per (lang, source) with
  * full-fidelity witnesses (exact count, distinct-content count, id and
  * length sums, lexicographic min/max content hash); the oracle computes
  * the same profile straight from the parquet table — any encoding,
  * escaping, or type loss in the round-trip breaks the hash compare.
  * All columns are integral/string, so JSON double formatting is not in
  * play by design. */
object JsonlIngest {

  private def jsonlCopy(spark: SparkSession, dir: String): String =
    Tables.staged("jsonl", dir)(
      Tables(spark, dir, "documents").write.mode("overwrite").json(_))

  def qIngestJsonl(spark: SparkSession, dir: String): DataFrame = {
    val path = jsonlCopy(spark, dir)
    val docs = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .json(path)
    docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        min(md5(col("text"))).as("min_h"),
        max(md5(col("text"))).as("max_h"))
      .orderBy("lang", "source")
  }

  // dir -> session-temp DIRTY JSONL copy: every doc whose id ≡ 0
  // (mod 37) has its line truncated to half length — guaranteed-invalid
  // JSON (the intact line ends in '}', the truncation drops it), with
  // the corrupted ID SET a pure function of the corpus so the oracle
  // can name it without parsing broken lines
  private def dirtyCopy(spark: SparkSession, dir: String): String =
    Tables.staged("jsonl-dirty", dir) { out =>
      Tables(spark, dir, "documents")
        .select(when(col("doc_id") % 37 === 0,
            expr("substring(to_json(struct(doc_id, text, lang, source, n_chars)), 1, " +
              "length(to_json(struct(doc_id, text, lang, source, n_chars))) div 2)"))
          .otherwise(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))))
          .as("value"))
        .write.mode("overwrite").text(out)
    }

  /** Malformed-record accounting — the dirty-ingest reality at 100 TB:
    * a crawl drop always contains broken lines, and the pipeline must
    * QUARANTINE them with an exact count rather than fail the job
    * (FAILFAST) or silently null them out (DROPMALFORMED). PERMISSIVE
    * mode with an explicit `_corrupt_record` column is Spark's
    * quarantine path: broken lines surface as rows whose data columns
    * are null and whose corrupt column carries the raw line, still one
    * splittable scan. The profile separates good from bad with
    * witnesses on both; the oracle reconstructs the same numbers from
    * the clean table and the (engine-independent) id ≡ 0 (mod 37)
    * corruption rule the copy was built with. */
  def qIngestBadrecords(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dirtyCopy(spark, dir))
    docs.agg(
      count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
      count(col("_corrupt_record")).as("n_bad"),
      sum(col("doc_id")).cast("bigint").as("sum_good_ids"),
      countDistinct(md5(col("text"))).as("n_distinct_good"),
      min(md5(col("text"))).as("min_h"),
      max(md5(col("text"))).as("max_h"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_ingest_jsonl" -> qIngestJsonl _,
      "q_ingest_badrecords" -> qIngestBadrecords _)

  val oracles: Map[String, String] = Map(
    // the oracle profiles the ORIGINAL parquet table: equality proves
    // the JSONL round-trip preserved every row, id, length, and byte of
    // text (md5 witnesses)
    "q_ingest_jsonl" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_distinct,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  MIN(md5(text)) AS min_h, MAX(md5(text)) AS max_h
        |FROM documents GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin,
    // good/bad reconstruction from the CLEAN table + the corruption rule:
    // the corrupt rows contribute nulls to every data aggregate, so the
    // good-row witnesses must equal the clean table filtered by the rule
    "q_ingest_badrecords" ->
      """SELECT
        |  CAST(COUNT(*) FILTER (WHERE doc_id % 37 <> 0) AS BIGINT) AS n_good,
        |  CAST(COUNT(*) FILTER (WHERE doc_id % 37 = 0) AS BIGINT) AS n_bad,
        |  CAST(SUM(doc_id) FILTER (WHERE doc_id % 37 <> 0) AS BIGINT) AS sum_good_ids,
        |  COUNT(DISTINCT md5(text)) FILTER (WHERE doc_id % 37 <> 0) AS n_distinct_good,
        |  MIN(md5(text)) FILTER (WHERE doc_id % 37 <> 0) AS min_h,
        |  MAX(md5(text)) FILTER (WHERE doc_id % 37 <> 0) AS max_h
        |FROM documents""".stripMargin)
}
