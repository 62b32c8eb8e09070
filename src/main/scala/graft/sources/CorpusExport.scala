package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sharded corpus EXPORT — the write side of a curation pipeline: the
  * curated corpus leaves the engine as hive-partitioned parquet shards
  * with a per-file row cap, plus a manifest the next pipeline stage (a
  * training-data loader) consumes instead of listing files.
  *
  * The reference's only sink is the fixed-name text part file
  * (reference mapreduce/worker/__main__.py:269-287, covered by
  * [[graft.mr.MapReduceJob]]'s part-{i:05d} sink); this is the
  * Spark-first export a 100 TB corpus needs: `partitionBy` gives
  * partition pruning to every downstream reader (a loader asking for
  * lang=en/split=train reads just that directory), and
  * `maxRecordsPerFile` bounds shard size so downstream shuffle/loader
  * units stay uniform regardless of upstream partition sizes — the two
  * knobs that make an exported corpus re-consumable at scale without a
  * repartition pass. Writing shards is embarrassingly parallel; the
  * manifest is one tiny agg over the written data.
  */
object CorpusExport {

  /** Write `df` under `outDir` partitioned by `partCols`, at most
    * `maxPerFile` rows per parquet file, and return the written data
    * re-read from disk (so callers verify what landed, not what was
    * planned). */
  def exportSharded(df: DataFrame, outDir: String, partCols: Seq[String],
      maxPerFile: Int): DataFrame = {
    df.write
      .partitionBy(partCols: _*)
      .option("maxRecordsPerFile", maxPerFile.toLong)
      .mode(SaveMode.Overwrite)
      .parquet(outDir)
    Tables.parquet(df.sparkSession, outDir)
  }

  /** Per-partition manifest of an exported corpus dir: one row per
    * partition-column combination with its row count — deterministic
    * (file COUNTS are not: they depend on task parallelism, so they stay
    * out of the manifest and are spec-only). */
  def manifest(spark: SparkSession, outDir: String,
      partCols: Seq[String]): DataFrame =
    Tables.parquet(spark, outDir)
      .groupBy(partCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(partCols.map(col): _*)

  /** End-to-end export pass as a driver-gated query: assign the standard
    * hash split, export the corpus partitioned by (lang, split) with
    * 200-row shards into a session-temp dir, and return the manifest.
    * The oracle recomputes the same counts straight from `documents` —
    * proving the roundtrip lost nothing and partition values landed
    * where the manifest says. */
  def qExportManifest(spark: SparkSession, dir: String): DataFrame = {
    val out = Tables.scratch("export", dir)
    val split = graft.ops.TextOps.splitExpr
    val curated = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), split.as("split"))
    exportSharded(curated, out, Seq("lang", "split"), maxPerFile = 200)
    manifest(spark, out, Seq("lang", "split"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_export_manifest" -> qExportManifest _)

  val oracles: Map[String, String] = Map(
    "q_export_manifest" ->
      """SELECT lang,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f0' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f8' THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)
}
