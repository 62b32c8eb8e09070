package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Range sharding with SAMPLED cut points — the global-sorted-layout
  * (terasort) write pattern: to produce a totally ordered corpus layout
  * you never globally sort the data; you pick k−1 key cut points from a
  * small sample, route every row to its range shard with a pure
  * function, and sort WITHIN shards at write time. Spark's own
  * `RangePartitioner` does exactly this — but with a nondeterministic
  * reservoir sample (re-runs produce different bounds, task retries can
  * see different partitionings mid-job). This pass replaces the
  * reservoir with the repo's content-hash sample (md5 threshold — the
  * q_sample_bernoulli idiom), making bounds a pure function of the
  * corpus: reproducible across runs, engines, partitionings, and task
  * retries, which is what lets a DuckDB oracle re-derive the ENTIRE
  * layout — sample, ranks, cut points, assignment, and per-shard
  * extents — with no exported state.
  *
  * Scale shape (r16: the sample is now a BOUNDED COUNT, not a fixed
  * fraction): one exact corpus count scales the md5 threshold so the
  * expected sample size is [[SampleTarget]] (4096) at ANY corpus
  * scale — the same count-scaled-threshold
  * rule as quantizer training. The ≤~target-row sample is collected and
  * ranked DRIVER-SIDE (the IVF-centroid bounded-scalar pattern; there
  * is no unpartitioned window anywhere in the plan), cut points are
  * k−1 driver-held longs, assignment is a 15-element higher-order fold
  * per row (no join, no shuffle); the only shuffle is the k-sized stats
  * aggregation. The write path composes as `repartition(shard) +
  * sortWithinPartitions(rkey)` — one shuffle, no global sort — with
  * q_export_manifest's manifest pattern.
  *
  * The rank key is `n_chars·2³² + doc_id`: unique by construction, so
  * sample ranks, cut points, and shard extents are all deterministic
  * with no tie rule needed. Output gates the whole layout: per-shard
  * row counts (balance), min/max keys (ranges must not overlap — the
  * global-order witness), and an id checksum. */
object RangeShard {

  private val K = 16

  /** Expected sample size — interpolated into the oracle SQL below, so
    * engine and oracle derive the SAME threshold. */
  private val SampleTarget = 4096L

  /** Count-scaled md5 threshold over the first 8 hex digits (uniform in
    * [0, 2³²−1]): keep rows with hexval <= thr where
    * thr = min(2³²−1, 2³²·target/n) − the expected sample size is
    * ~target regardless of corpus size (whole corpus when n <= target,
    * exactly as the old fixed-fraction rule behaved at tiny SF). 32-bit
    * resolution keeps the threshold meaningful to n ≈ 10¹² docs
    * (4 hex digits bottom out at n/65536 ≈ 61k rows already at n = 4
    * billion). Pure integer arithmetic, mirrored verbatim in the
    * oracle. */
  private[ops] def mdThreshold(n: Long, target: Long): Long =
    math.min(4294967295L, (4294967296L * target) / math.max(n, 1L))

  private[ops] def sampleOf(spark: SparkSession, dir: String,
      target: Long): DataFrame = {
    val d = keyed(spark, dir)
    val thr = mdThreshold(d.count(), target)
    d.filter(
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(":rs"))),
        1, 8), 16, 10).cast("long") <= thr)
  }

  private def keyed(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        (col("n_chars").cast("long") * lit(4294967296L) + col("doc_id"))
          .as("rkey"))

  def qRangeShard(spark: SparkSession, dir: String): DataFrame =
    rangeShardOf(spark, dir, SampleTarget)

  /** [[qRangeShard]] with an expected sample size of `target`. */
  private[ops] def rangeShardOf(spark: SparkSession, dir: String,
      target: Long): DataFrame = {
    val d = keyed(spark, dir)
    // bounded-count sample, ranked driver-side: ~target longs, the same
    // bounded-scalar pattern as the IVF centroid collect
    val keys = sampleOf(spark, dir, target)
      .select(col("rkey")).collect().map(_.getLong(0)).sorted
    val m = keys.length.toLong
    require(m >= K, s"range-shard sample too small: $m rows")
    // cut points at 1-based ranks ⌊i·m/K⌋, i = 1..K−1 (strictly
    // increasing because m >= K, so all K−1 bounds are distinct)
    val bounds = (1 until K).map(i => keys((i * m / K - 1).toInt))
    val bArr = array(bounds.map(lit): _*)
    // shard = |{cut points <= key}|: 0 below the first cut, K-1 at top
    d.withColumn("shard", size(filter(bArr, b => b <= col("rkey"))))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        min("rkey").as("min_key"), max("rkey").as("max_key"),
        sum("doc_id").cast("bigint").as("sum_ids"))
      .select(col("shard").cast("int").as("shard"), col("n_rows"),
        col("min_key"), col("max_key"), col("sum_ids"))
      .orderBy("shard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_range_shard" -> qRangeShard _)

  /** The oracle re-derives the FULL layout: same count-scaled
    * threshold, same hash sample, same ranks, same cut points, same
    * assignment fold, same stats. (DuckDB hex parse via
    * CAST('0x'||… AS BIGINT) == Spark conv(…,16,10).) */
  val oracles: Map[String, String] = Map(
    "q_range_shard" ->
      s"""WITH d AS (
        |  SELECT doc_id,
        |    CAST(n_chars AS BIGINT) * 4294967296 + doc_id AS rkey
        |  FROM documents),
        |t AS (SELECT LEAST(CAST(4294967295 AS BIGINT),
        |        (CAST(4294967296 AS BIGINT) * $SampleTarget)
        |          // GREATEST(COUNT(*), 1)) AS thr FROM d),
        |s AS (SELECT rkey FROM d, t
        |      WHERE CAST('0x' || substr(md5(doc_id::VARCHAR || ':rs'), 1, 8)
        |              AS BIGINT) <= t.thr),
        |r AS (SELECT rkey, ROW_NUMBER() OVER (ORDER BY rkey) AS rn FROM s),
        |m AS (SELECT COUNT(*) AS m FROM s),
        |b AS (SELECT r.rkey AS bound
        |      FROM r, m, generate_series(1, 15) g(i)
        |      WHERE r.rn = (g.i * m.m) // 16),
        |a AS (SELECT d.doc_id, d.rkey,
        |        (SELECT COUNT(*) FROM b WHERE b.bound <= d.rkey) AS shard
        |      FROM d)
        |SELECT CAST(shard AS INT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(rkey) AS BIGINT) AS min_key,
        |  CAST(MAX(rkey) AS BIGINT) AS max_key,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM a GROUP BY 1 ORDER BY shard""".stripMargin)
}
