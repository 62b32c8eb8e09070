package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Small-files compaction — the OPTIMIZE-style maintenance pass every
  * long-lived corpus needs. Streaming sinks, incremental ingest, and
  * over-parallel writers fragment a table into files far smaller than a
  * scan task wants; at 100 TB the cost is real: every file costs a
  * footer read + an open per scan, the driver's file listing grows into
  * the planning bottleneck, and row-group-level pushdown degrades (tiny
  * row groups carry useless min/max ranges). Compaction = read the
  * fragmented table, repartition to the target file count, rewrite with
  * `maxRecordsPerFile` bounding shard size — embarrassingly parallel,
  * and at scale run per partition-directory so it composes with the
  * hive layout ([[Partitioned]]) and never rewrites healthy partitions.
  *
  * The gate proves LOSSLESSNESS, the property compaction must never
  * break: the fixture is fragmented into 64 shards (the small-files
  * problem, reproduced), compacted back, and the compacted copy is
  * profiled per (lang, source) with the same full-fidelity witnesses as
  * the ingest round-trips; the oracle computes the profile from the
  * ORIGINAL parquet. [[CompactSpec]] asserts the layout facts the gate
  * can't see: real fragmentation before, a bounded file count after. */
object Compact {

  /** (fragmentedDir, compactedDir) for the documents table, each staged
    * once per session. */
  private[ops] def layouts(spark: SparkSession, dir: String): (String, String) = {
    val frag = Tables.staged("frag", dir)(
      Tables(spark, dir, "documents")
        .repartition(64) // the small-files problem, manufactured
        .write.mode("overwrite").parquet(_))
    val compact = Tables.staged("compact", dir) { out =>
      val rows = Tables.parquet(spark, frag).count()
      val target = 5000L // rows per output file (stands in for a byte size)
      val nFiles = math.max(1, ((rows + target - 1) / target).toInt)
      Tables.parquet(spark, frag)
        .repartition(nFiles)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target)
        .parquet(out)
    }
    (frag, compact)
  }

  /** Full-fidelity profile of the COMPACTED copy, oracle-compared to the
    * original table: any dropped/duplicated/mangled row breaks the hash. */
  def qCompactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (_, compacted) = layouts(spark, dir)
    Tables.parquet(spark, compacted)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        min(md5(col("text"))).as("min_h"),
        max(md5(col("text"))).as("max_h"))
      .orderBy("lang", "source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_compact_roundtrip" -> qCompactRoundtrip _)

  val oracles: Map[String, String] = Map(
    "q_compact_roundtrip" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_distinct,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  MIN(md5(text)) AS min_h, MAX(md5(text)) AS max_h
        |FROM documents GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin)
}
