package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Hive-partitioned layout + dynamic partition pruning (DPP).
  *
  * Partition pruning is THE scan-reduction lever for a partitioned
  * corpus: a 100 TB documents table laid out as `lang=<x>/part-*.parquet`
  * serves a per-language job by reading ONLY that language's directories
  * — the other partitions are never opened, not even their footers.
  * Static pruning (a literal `lang = 'en'` filter) is free; the
  * interesting case is a partition filter only known at RUNTIME — here
  * "languages with above-average document counts", derived from data —
  * where Catalyst plants a DynamicPruningSubquery on the fact scan: the
  * broadcast dim is evaluated first and its lang values prune the fact's
  * partition listing before any fact bytes are read
  * ([[PartitionedSpec]] asserts the `dynamicpruning` expression;
  * the driver gate pins the values).
  *
  * The partitioned copy is written once per session (session-temp, like
  * the bucketed layouts — in production it IS the corpus layout, chosen
  * at ingest). Partition count discipline at 100 TB: partition by a
  * BOUNDED low-cardinality column (language, date, source family —
  * dozens to thousands of values), never by a high-cardinality key; a
  * million tiny partitions turn the metastore listing into the
  * bottleneck. */
object Partitioned {

  /** documents re-laid-out as lang=<x>/ hive partitions, once per session. */
  def partitionedDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, Tables.staged("partdocs", dir)(
      Tables(spark, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(_)))

  /** Per-(lang, source) profile of the above-average languages, computed
    * against the partitioned layout so the lang dim join dynamically
    * prunes partitions. The dim (per-lang counts → above-mean filter) is
    * a 5-row aggregate; the window-mean keeps it one scan with no
    * scalar cross-join. */
  def qPartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val docs = partitionedDocs(spark, dir)
    val hot = Tables(spark, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      // empty-partition window over the |langs|-row aggregate only —
      // bounded by key cardinality, never data-sized
      .withColumn("mean_n", avg(col("n")).over(Window.partitionBy()))
      .filter(col("n") > col("mean_n"))
      .select("lang")
    docs.join(broadcast(hot), "lang")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"))
      .orderBy("lang", "source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_partition_prune" -> qPartitionPrune _)

  val oracles: Map[String, String] = Map(
    // oracle reads the ORIGINAL parquet — values must be layout-invariant
    "q_partition_prune" ->
      """WITH lc AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang IN (SELECT lang FROM lc WHERE n > (SELECT AVG(n) FROM lc))
        |GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin)
}
