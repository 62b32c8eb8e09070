package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.dec4

/** Bucketed-layout joins: the pre-partitioning strategy for REPEATED
  * large-fact joins. Both sides are written once, bucketed + sorted on
  * the join key; every subsequent join on that key is a sort-merge join
  * with ZERO shuffle exchanges — the scan itself satisfies the join's
  * distribution and ordering requirements. At 100 TB this converts the
  * dominant per-query cost of a fact⋈fact join (shuffling both tables
  * every query) into a one-time layout cost amortized over every query
  * against the bucketed copy; the reference has no counterpart (its only
  * layout primitive is the MD5-mod partition of SURVEY.md §2.1 O4).
  *
  * PlanShapeSpec asserts the no-Exchange plan; BucketingSpec proves
  * result equality with the plain join.
  */
object Bucketed {

  // serializes concurrent builds PER TABLE NAME (unrelated layouts build in
  // parallel); reuse is decided by the CATALOG (catalog.tableExists), not a
  // JVM-global map — a map entry can outlive the session whose catalog
  // holds the table (stop + new session in one JVM) and would then serve a
  // dangling name
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Write `table` bucketed+sorted on `key` once per session (external
    * table backed by a Tables.scratch dir keyed by the table name; on a
    * real cluster the path would be shared storage and the layout built
    * once per corpus version, not per session). Later calls reuse the
    * catalog table. The name carries the full md5 of the cache key, so
    * distinct (dir, key, buckets) combinations can never collide into
    * serving each other's data (String.hashCode could). */
  /** A catalog entry only serves reuse while its backing dir still exists:
    * the table lives in a session-temp dir, and a long session can lose it
    * to an external /tmp cleaner — reusing it then fails every later scan
    * with no rebuild path, so a missing location drops + rebuilds. */
  private def locationMissing(spark: SparkSession, tname: String): Boolean =
    try {
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $tname")
        .filter(col("col_name") === "Location")
        .collect().headOption.map(_.getString(1))
      loc.exists(l => !new java.io.File(new java.net.URI(l).getPath).exists())
    } catch { case scala.util.control.NonFatal(_) => false }

  def bucketedTable(spark: SparkSession, dir: String, table: String,
      key: String, buckets: Int = 32): DataFrame = {
    val tname = s"b_${table}_${md5Hex(s"$dir:$table:$key:$buckets").take(16)}"
    buildLocks.computeIfAbsent(tname, _ => new Object).synchronized {
      val stale = spark.catalog.tableExists(tname) &&
        locationMissing(spark, tname)
      if (stale) spark.sql(s"DROP TABLE IF EXISTS $tname")
      if (stale || !spark.catalog.tableExists(tname)) {
        val path = Tables.scratch("bucket", tname)
        Tables(spark, dir, table).write
          .bucketBy(buckets, key).sortBy(key)
          .option("path", path)
          .mode("overwrite").saveAsTable(tname)
      }
    }
    spark.table(tname)
  }

  /** Revenue per order priority over the bucketed lineitem⋈orders join.
    * Both scans carry the bucket distribution on the join key, so the
    * `merge` hint resolves to a zero-exchange sort-merge join (asserted
    * in PlanShapeSpec) — only the tiny 5-row groupBy shuffles. */
  def qJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val li = bucketedTable(spark, dir, "lineitem", "l_orderkey")
    val o = bucketedTable(spark, dir, "orders", "o_orderkey")
    li.hint("merge")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_bucketed" -> qJoinBucketed _)

  val oracles: Map[String, String] = Map(
    "q_join_bucketed" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
}
