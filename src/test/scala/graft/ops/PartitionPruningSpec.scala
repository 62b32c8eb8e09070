package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Partition pruning: date-partitioned parquet layout + a partition-key
  * filter must read only the matching directories — the mechanism that
  * turns a 100 TB scan into a single-partition read. */
class PartitionPruningSpec extends SparkSpec {

  test("partition-key filter prunes the scan to matching partitions") {
    val out = tmpDir("part-out") + "/orders"
    Tables(spark, sf("sf0.001"), "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").mode("overwrite").parquet(out)

    val pruned = spark.read.parquet(out).filter(col("o_year") === 1997)

    val expected = Tables(spark, sf("sf0.001"), "orders")
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(pruned.count() === expected)
    assert(expected > 0)

    // the scan must report partition filters and a pruned file selection
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("PartitionFilters"), scanDesc)
    // physical check: only the o_year=1997 directory's files get listed
    val allYears = new java.io.File(out).listFiles
      .filter(_.getName.startsWith("o_year=")).map(_.getName).toSet
    assert(allYears.size > 1, s"fixture should span years: $allYears")
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = pruned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val selected = scans.head.selectedPartitions.partitionCount
    assert(selected === 1, s"expected 1 pruned partition, got $selected")
  }
}
