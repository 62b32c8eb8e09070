package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

import graft.Tables
import graft.Tables.dec4

/** Bloom-filter semi-join reduction — the runtime-filter shape that makes
  * selective fact⨝dim joins survive 100 TB: instead of shuffling every
  * fact row to the join only to drop most of them, a CONSTANT-SIZE
  * mergeable sketch of the build side's join keys is aggregated (one
  * tree-reduce, bytes ∝ numBits not rows), shipped to every scan task,
  * and applied as a filter BEFORE the shuffle. False positives are fine —
  * the exact join still runs after — so the sketch only trades shuffle
  * volume against its size. This is exactly what Spark's own
  * InjectRuntimeFilter does for qualifying plans
  * (spark.sql.optimizer.runtime.bloomFilter.*); here the reduction is
  * explicit so it applies regardless of the optimizer's heuristics and is
  * visible in the plan (`might_contain` in the scan-side Filter —
  * asserted in PlanShapeSpec).
  *
  * Reference scope: the reference engine has no join at all (its only
  * shuffle is the MD5-mod partition of map output); this is part of the
  * §2.4 "absent in reference" join surface, at its 100 TB shape.
  *
  * Driver-side state is the serialized sketch (~1 MiB at the default
  * numBits), bounded like the IVF centroid table — NOT O(build rows):
  * estimatedNumItems only sizes the bit array. The oracle is the plain
  * exact join: the bloom is semantically transparent, so any
  * FP-handling bug (e.g. treating might_contain as the join itself)
  * changes results and fails the hash.
  */
object BloomJoin {

  /** Serialized bloom sketch of `keyCol` (hashed via xxhash64, the same
    * kernel BloomFilterAggregate uses inside InjectRuntimeFilter). */
  private[graft] def bloomOf(df: DataFrame, keyCol: String,
      estItems: Long): Array[Byte] =
    df.select(ColumnBridge.column(
        new BloomFilterAggregate(
          ColumnBridge.expression(xxhash64(col(keyCol))), estItems)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)

  /** `might_contain(bloom, xxhash64(keyCol))` as a Column — codegen'd
    * (BloomFilterMightContain implements doGenCode), stays inside the
    * scan's WholeStageCodegen span. */
  private[graft] def mightContain(bloom: Array[Byte], keyCol: String) =
    ColumnBridge.column(new BloomFilterMightContain(
      Literal(bloom, BinaryType),
      ColumnBridge.expression(xxhash64(col(keyCol)))))

  /** Revenue by return flag for lineitems of urgent high-value orders,
    * with the lineitem side bloom-pruned before the join shuffle. The
    * build side (selective orders subset) is aggregated into the sketch
    * once and ALSO broadcast-joined for exactness — at sf0.01 the subset
    * is small enough to broadcast outright, which is precisely when the
    * bloom costs ~nothing extra; at 100 TB the same plan holds with a
    * shuffle join after the bloom prune (the sketch stays constant-size
    * while the subset outgrows broadcast). */
  def qBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val sel = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000)
      .select("o_orderkey")
    // estimatedNumItems sizes the bit array only (bits are capped by
    // BloomFilterAggregate itself). r21: the estimate is now the build
    // side's MEASURED count (one cheap agg — the "stats-based estimate"
    // production feeds here) instead of a flat 1 M: the 1 M sizing baked
    // a ~900 KB binary literal into the plan, and the optimizer's
    // tree-equality walks over that literal cost ~0.8 s of driver time
    // per run (stageprof: 1.05 s driver gap on a 0.7 s-of-stages query).
    // Count-scaled, the sketch is a few KB at sf0.1 and grows exactly
    // with the subset at 100 TB. The floor keeps fpp sane on tiny SFs;
    // the final exact join makes the filter semantically transparent at
    // ANY sizing, so results are unchanged. The count is session-cached
    // per dir: only the first invocation pays its scan.
    val bloom = bloomOf(sel, "o_orderkey",
      math.max(Tables.cachedCount(s"bloom-sel:$dir")(sel), 1024L))
    Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      .filter(mightContain(bloom, "l_orderkey"))
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bloom_join" -> qBloomJoin _)

  val oracles: Map[String, String] = Map(
    // the bloom prefilter is semantically transparent: the oracle is the
    // plain exact join
    "q_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
