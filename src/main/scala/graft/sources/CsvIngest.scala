package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** CSV ingestion — the other interchange format corpora arrive in.
  * Same gate shape as [[JsonlIngest]]: round-trip the documents table
  * through CSV once per session, profile the re-read copy with
  * full-fidelity witnesses, compare against the oracle's profile of the
  * ORIGINAL parquet — any quoting/escaping/type loss breaks the hash.
  *
  * RFC-4180 settings both ways (`escape = "` i.e. quote-doubling, not
  * Spark's default backslash escape) because document text contains
  * quotes and newlines. The newlines force `multiLine=true` on read,
  * and THAT is the scale lesson this query documents: multiline CSV
  * files are NOT splittable (a record can straddle any byte offset, so
  * one task must read a whole file), while JSONL with embedded-newline
  * escapes splits on every line boundary. At 100 TB the ingest
  * parallelism of multiline CSV is capped at #files — acceptable only
  * because an interchange drop arrives as many files; JSONL remains the
  * preferred format ([[JsonlIngest]] scaladoc). Explicit schema as
  * always: an inference pass would scan the corpus twice. */
object CsvIngest {

  /** Shared write/read option sets: explicit `nullValue` distinguishes a
    * NULL field (written `\N`) from an empty string (written as a quoted
    * empty field) — with the defaults both serialize to an empty field
    * and the multiLine read resurrects BOTH as NULL, a silent fidelity
    * loss the moment the corpus gains an empty or null text row
    * ([[CsvIngestSpec]] round-trips exactly those rows through these
    * same helpers). Residual, also pinned there: literal text EQUAL to
    * the `\N` marker still reads back as NULL — Spark compares the
    * marker after unquoting, so no marker choice is collision-free;
    * that last gap is why JSONL stays the lossless interchange path. */
  private[sources] def csvWrite(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("nullValue", "\\N").option("emptyValue", "\"\"")
      .csv(out)

  private[sources] def csvRead(spark: SparkSession, schema: String,
      path: String): DataFrame =
    spark.read.schema(schema)
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"").option("nullValue", "\\N")
      .csv(path)

  private def csvCopy(spark: SparkSession, dir: String): String =
    Tables.staged("csv", dir)(csvWrite(Tables(spark, dir, "documents"), _))

  def qIngestCsv(spark: SparkSession, dir: String): DataFrame = {
    val docs = csvRead(spark,
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      csvCopy(spark, dir))
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
    Map("q_ingest_csv" -> qIngestCsv _)

  val oracles: Map[String, String] = Map(
    // profiles the ORIGINAL parquet: equality proves the CSV round-trip
    // preserved every row, id, length, and byte of text
    "q_ingest_csv" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_distinct,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  MIN(md5(text)) AS min_h, MAX(md5(text)) AS max_h
        |FROM documents GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin)
}
