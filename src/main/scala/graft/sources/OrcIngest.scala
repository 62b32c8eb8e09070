package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** ORC ingestion — the other COLUMNAR interchange format (Hive-lineage
  * warehouses export ORC the way lakehouse stacks export parquet). Same
  * gate shape as [[CsvIngest]]/[[JsonlIngest]]: round-trip the documents
  * table through ORC once per session, profile the re-read copy with
  * byte-fidelity witnesses, compare against the oracle's profile of the
  * ORIGINAL parquet — any encoding/type loss breaks the hash.
  *
  * Unlike multiline CSV, ORC is SPLITTABLE (stripe boundaries are
  * self-describing), carries real types (no `\N` null-marker ambiguity —
  * null vs empty string survives structurally), and supports predicate
  * pushdown via stripe/row-group min-max stats — at 100 TB it is a
  * first-class lake format, not a compatibility detour, so this reader
  * is the schema-explicit `spark.read.orc` with nothing to work around.
  * Zlib default compression; schema passed explicitly anyway for the
  * same reason as every ingest path (never scan a corpus to infer what
  * the catalog already knows). */
object OrcIngest {

  private def orcCopy(spark: SparkSession, dir: String): String =
    Tables.staged("orc", dir)(
      Tables(spark, dir, "documents").write.mode("overwrite").orc(_))

  def qIngestOrc(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .orc(orcCopy(spark, dir))
    docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        min(md5(col("text"))).as("min_h"),
        max(md5(col("text"))).as("max_h"))
      .orderBy("lang", "source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_ingest_orc" -> qIngestOrc _)

  val oracles: Map[String, String] = Map(
    // profiles the ORIGINAL parquet: equality proves the ORC round-trip
    // preserved every row, id, length, and byte of text
    "q_ingest_orc" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_distinct,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  MIN(md5(text)) AS min_h, MAX(md5(text)) AS max_h
        |FROM documents GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin)
}
