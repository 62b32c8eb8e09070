package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Parquet schema evolution — the read-side reality of a corpus that
  * grew columns over time. A 100 TB table is never rewritten when the
  * ingest schema gains a field; new files carry the new columns, old
  * files don't, and readers take the UNION schema with nulls filling
  * the old files (`mergeSchema=true` — schema merging costs a footer
  * read per file at planning, so production pins the merged schema in a
  * catalog/metastore once instead of re-merging per query; the
  * null-filling read behavior is the same either way and is what this
  * gates).
  *
  * The fixture is split deterministically: even doc_ids are written
  * with the v1 schema (doc_id, text, lang), odd doc_ids with the full
  * v2 schema (+source, +n_chars). The query reads the mixed directory
  * with mergeSchema and profiles per language — row totals, how many
  * rows carry the evolved columns, the n_chars sum over v2 rows only
  * (nulls must not contaminate the aggregate), and md5 text witnesses.
  * The oracle reconstructs the same profile from the ORIGINAL table via
  * the doc_id parity rule: any mis-filled null or dropped row breaks
  * the hash. */
object SchemaEvolution {

  private def evolvedDir(spark: SparkSession, dir: String): String =
    Tables.staged("schemaevo", dir) { out =>
      val docs = Tables(spark, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang") // v1 schema era
        .write.mode("overwrite").parquet(s"$out/era=1")
      docs.filter(col("doc_id") % 2 === 1) // v2 schema era
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$out/era=2")
    }

  def qSchemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(evolvedDir(spark, dir))
    merged.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("source")).as("n_with_source"),
        sum(col("n_chars")).cast("bigint").as("sum_chars_v2"),
        min(md5(col("text"))).as("min_h"),
        max(md5(col("text"))).as("max_h"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_schema_merge" -> qSchemaMerge _)

  val oracles: Map[String, String] = Map(
    // reconstructs the era split via doc_id parity from the ORIGINAL
    // table: n_with_source counts only v2 rows, sum_chars_v2 must not be
    // contaminated by v1 nulls
    "q_schema_merge" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_source,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
        |    AS sum_chars_v2,
        |  MIN(md5(text)) AS min_h, MAX(md5(text)) AS max_h
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin)
}
