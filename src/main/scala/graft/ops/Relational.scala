package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Tables.{dec, dec4, dec6, dsum, davg, percentileCont}

/** Layer-B relational query surface (SURVEY.md §2.4 categories C1–C6).
  *
  * The reference framework (sohammehendale/map_reduce485) has no joins,
  * aggregations, windows, sorts, set ops or scalar expressions — its only
  * grouping mechanism is the sorted-stream reduce contract
  * (reference worker/__main__.py:182-208). These queries re-express that
  * absent analytic surface on Catalyst built-ins per SURVEY.md §2.4.
  *
  * Conventions (driver oracle-hash parity):
  *  - every query ends in a deterministic total-order `orderBy`;
  *  - money aggregates use exact decimal arithmetic (see [[graft.Tables]]);
  *  - output column names match the oracle SQL exactly;
  *  - integer-typed outputs are cast so Spark and DuckDB types agree
  *    (DuckDB SUM(int)=HUGEINT, EXTRACT=BIGINT, Spark year()=INT, ...).
  *
  * Scale notes (100 TB design point): filters/projections reach the
  * parquet scan (Catalyst pushdown); dimension joins (region/nation/
  * customer/supplier are tiny relative to lineitem at any SF) broadcast
  * explicitly; fact-fact joins shuffle on the join key; aggregations are
  * partial (map-side combine) by construction with groupBy().agg().
  */
object Relational {

  private val TS = "timestamp"

  /** TPC-H-Q1-style pricing summary: scan→filter→agg→sort. The flagship. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01").cast(TS))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")))).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Filter + projection; predicate and column pruning push to the scan. */
  def qFilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TS) &&
        col("l_shipdate") <= lit("1997-12-31").cast(TS) &&
        col("l_discount") > 0.03 && col("l_quantity") < 20)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  /** Multi-way join with broadcast dims: revenue per nation (Q5-style).
    * lineitem⋈orders is the big shuffle join; customer/nation/region are
    * dimension tables → broadcast (no shuffle of the fact side for them). */
  def qJoinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TS) &&
        col("o_orderdate") < lit("1999-01-01").cast(TS))
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** Left-semi join: customers having at least one high-value order. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders").filter(col("o_totalprice") > 200000)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Left-anti join: customers with no high-value (>300k) order. */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders").filter(col("o_totalprice") > 300000)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** ROLLUP over region→nation of customer counts/balances.
    * Expressed in SQL: the DataFrame rollup-after-join path trips Spark
    * 4.1's ambiguous-self-join detector (false positive — verified:
    * single-table rollup and SQL ROLLUP of the identical plan both work).
    * The dimension tables are tiny → broadcast hint on both. */
  def qAggRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("graft_customer")
    Tables(spark, dir, "nation").createOrReplaceTempView("graft_nation")
    Tables(spark, dir, "region").createOrReplaceTempView("graft_region")
    spark.sql(
      """SELECT /*+ BROADCAST(graft_nation), BROADCAST(graft_region) */
        |  r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM graft_customer
        |JOIN graft_nation ON c_nationkey = n_nationkey
        |JOIN graft_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  /** CUBE over order status × priority. */
  def qAggCube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Window ranking: top-3 orders per customer + previous order price.
    * Unique (o_totalprice DESC, o_orderkey) ordering keeps row_number
    * deterministic under ties. */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_price", lag("o_totalprice", 1).over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "prev_price")
      .orderBy("o_custkey", "rn")
  }

  /** Window frame: running decimal-exact total per customer over time. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "orders")
      .withColumn("running_total", sum(dec(col("o_totalprice"))).over(w)
        .cast("double"))
      .select("o_custkey", "o_orderkey", "running_total")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Global sort + limit (top-k). TakeOrdered in the physical plan: no
    * full global sort materialization, only per-partition heaps + merge. */
  def qTopK(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(25)

  /** Set ops: UNION / INTERSECT / EXCEPT on customer-key segments. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val rich = c.filter(col("c_acctbal") > 5000).select("c_custkey")
    val lowNation = c.filter(col("c_nationkey") < 12).select("c_custkey")
    val nation3 = c.filter(col("c_nationkey") === 3).select("c_custkey")
    building.union(rich).distinct()
      .intersect(lowNation)
      .except(nation3)
      .orderBy("c_custkey")
  }

  /** String scalar functions over customer. */
  def qScalarString(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        length(col("c_name")).as("name_len"),
        substring(col("c_name"), 1, 8).as("prefix"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("tagged"),
        regexp_replace(col("c_name"), "Customer#0*", "C").as("short_name"),
        reverse(col("c_mktsegment")).as("rseg"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"))
      .orderBy("c_custkey")

  /** Date/time scalar functions over orders. */
  def qScalarDate(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        col("o_orderdate").cast("date").as("odate"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
        last_day(col("o_orderdate").cast("date")).as("month_end"))
      .orderBy("o_orderkey")

  /** Math scalar functions over orders (IEEE-exact ops only: no round/ln
    * whose cross-engine double behavior differs). */
  def qScalarMath(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        abs(col("o_totalprice") - 100000.0).as("dist"),
        floor(col("o_totalprice")).as("fl"),
        ceil(col("o_totalprice")).as("cl"),
        sqrt(col("o_totalprice")).as("rt"),
        (col("o_orderkey") % 7).as("m7"),
        greatest(col("o_totalprice"), lit(50000.0)).as("hi"),
        least(col("o_totalprice"), lit(50000.0)).as("lo"))
      .orderBy("o_orderkey")

  /** JSON + misc scalar functions over the events.props JSON column. */
  def qScalarJson(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        (get_json_object(col("props"), "$.k").cast("long") * 2).as("k2"),
        upper(col("event_type")).as("etype"),
        length(col("props")).as("props_len"))
      .orderBy("event_id")

  /** Distinct aggregation + min/max over orders. */
  def qDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).cast("date").as("first_date"),
        max(col("o_orderdate")).cast("date").as("last_date"))
      .orderBy("o_orderstatus")

  /** Batch windowed (tumbling 1h) event aggregation — the batch twin of the
    * Structured Streaming demo (graft.streaming). Bucket emitted as a
    * string for cross-engine timestamp-format safety. */
  def qEventsWindow(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(
        date_format(window(col("ts"), "1 hour").getField("start"),
          "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("bucket", "event_type")

  /** SLIDING-window (1 h window, 30 min slide) event aggregation — the
    * overlapping-window sibling of [[qEventsWindow]]'s tumbling buckets:
    * every event lands in exactly two windows. Spark's `window()`
    * generates the per-event window list row-locally (epoch-aligned
    * starts at multiples of the slide), so the only shuffle is the final
    * hash aggregation on (bucket, event_type) — the same cost shape as
    * the tumbling query at 2× the rows, never a self-join. */
  def qSlidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(
        date_format(window(col("ts"), "1 hour", "30 minutes")
          .getField("start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("bucket", "event_type")

  /** Per-event 3-sigma outlier labeling against the event_type population
    * — anomaly detection as a pipeline operator. The moments (n, Σx, Σx²)
    * are decimal-exact (value is a 2-decimal measure; its square is exact
    * at scale 4), and the threshold test is algebraically cleared of both
    * division and sqrt: |x − S/n| > 3σ ⟺ (nx − S)² > 9(nQ − S²), so the
    * whole comparison happens in deterministic IEEE arithmetic on
    * bit-identical decimal-cast doubles — no transcendental functions to
    * diverge across engines. Scale shape: one hash agg to a handful of
    * per-type rows, broadcast back over the event scan; no window over
    * the full table, no second shuffle. */
  def qOutlierEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val stats = ev.groupBy("event_type").agg(
      count(col("value")).as("n"),
      sum(dec(col("value"))).cast("double").as("s"),
      sum(dec(col("value")) * dec(col("value"))).cast("double").as("q"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("dev", col("n") * col("value") - col("s"))
      .withColumn("is_outlier",
        (col("dev") * col("dev") >
          lit(9.0) * (col("n") * col("q") - col("s") * col("s"))).cast("int"))
      .select("event_id", "event_type", "value", "is_outlier")
      .orderBy("event_id")
  }

  /** Explicit GROUPING SETS (beyond rollup/cube): per-region totals and
    * per-segment totals in one pass, tagged via GROUPING(). SQL-expressed
    * (same Spark 4.1 DataFrame limitation as qAggRollup). */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("graft_customer")
    Tables(spark, dir, "nation").createOrReplaceTempView("graft_nation")
    Tables(spark, dir, "region").createOrReplaceTempView("graft_region")
    spark.sql(
      """SELECT /*+ BROADCAST(graft_nation), BROADCAST(graft_region) */
        |  r_name, c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(GROUPING(r_name) AS INT) AS g_region,
        |  CAST(GROUPING(c_mktsegment) AS INT) AS g_segment
        |FROM graft_customer
        |JOIN graft_nation ON c_nationkey = n_nationkey
        |JOIN graft_region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)
  }

  /** Array + map scalar functions over documents tokens and events JSON. */
  def qScalarArray(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        concat_ws(",", slice(sort_array(array_distinct(toks)), 1, 3)).as("first3_sorted"),
        array_contains(toks, "the").cast("int").as("has_the"),
        element_at(toks, 1).as("first_token"),
        element_at(toks, -1).as("last_token"),
        size(array_distinct(toks)).as("n_distinct"))
      .orderBy("doc_id")
  }

  /** Distributed statistics with DETERMINISTIC results: Spark's built-in
    * stddev/corr sum doubles in shuffle order (not reproducible run to
    * run), so the moments are accumulated as exact decimals and the
    * textbook formulas applied once on the final doubles — identical
    * bits in both engines, any partitioning. Measures chosen small
    * (quantity <= 50, discount <= 0.1) so every decimal sum's unscaled
    * value stays below 2^53 and the decimal→double conversion is exact in
    * both engines — with large measures (price²) the conversion's last
    * ulp would be amplified by the variance formula's cancellation. */
  def qStatsCorr(spark: SparkSession, dir: String): DataFrame = {
    val q = dec(col("l_quantity"))
    val d = dec(col("l_discount"))
    Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(q).cast("double").as("sq"),
        sum(d).cast("double").as("sd"),
        sum(q * q).cast("double").as("sqq"),
        sum(d * d).cast("double").as("sdd"),
        sum(q * d).cast("double").as("sqd"))
      .select(col("l_returnflag"), col("n"),
        ((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1))
          .as("var_qty"),
        sqrt((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1))
          .as("stddev_qty"),
        ((col("sqd") - col("sq") * col("sd") / col("n"))
          / (sqrt(col("sqq") - col("sq") * col("sq") / col("n"))
            * sqrt(col("sdd") - col("sd") * col("sd") / col("n"))))
          .as("corr_qty_disc"))
      .orderBy("l_returnflag")
  }

  /** Full pairwise correlation matrix of three measures in ONE scan and
    * one hash agg (all 9 decimal moment sums accumulate together —
    * never one pass per pair): one output row per unordered pair, the
    * feature-correlation report a dataset audit runs. Same exact-decimal
    * determinism argument as [[qStatsCorr]]. */
  def qCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val q = dec(col("l_quantity"))
    val p = dec(col("l_extendedprice"))
    val d = dec(col("l_discount"))
    val m = Tables(spark, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      sum(q).cast("double").as("sq"),
      sum(p).cast("double").as("sp"),
      sum(d).cast("double").as("sd"),
      sum(q * q).cast("double").as("sqq"),
      sum(p * p).cast("double").as("spp"),
      sum(d * d).cast("double").as("sdd"),
      sum(q * p).cast("double").as("sqp"),
      sum(q * d).cast("double").as("sqd"),
      sum(p * d).cast("double").as("spd"))
    def corr(sxy: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
        sy: org.apache.spark.sql.Column, sxx: org.apache.spark.sql.Column,
        syy: org.apache.spark.sql.Column) =
      (sxy - sx * sy / col("n")) /
        (sqrt(sxx - sx * sx / col("n")) * sqrt(syy - sy * sy / col("n")))
    m.select(col("n"),
        corr(col("sqp"), col("sq"), col("sp"), col("sqq"), col("spp")).as("c1"),
        corr(col("sqd"), col("sq"), col("sd"), col("sqq"), col("sdd")).as("c2"),
        corr(col("spd"), col("sp"), col("sd"), col("spp"), col("sdd")).as("c3"))
      .select(col("n"), expr(
        "stack(3, 'qty_price', c1, 'qty_disc', c2, 'price_disc', c3) AS (pair, r)"))
      .select(col("pair"), col("n"), col("r"))
      .orderBy("pair")
  }

  /** Per-group least-squares regression (discount ~ quantity) from the
    * same exact-decimal moment accumulation as [[qStatsCorr]] — the
    * distributed shape of REGR_SLOPE/REGR_INTERCEPT/REGR_R2 without their
    * shuffle-order double nondeterminism. One scan, one hash agg; the
    * closed-form slope/intercept/r² are applied to the five final doubles
    * in an expression tree mirrored verbatim in the oracle, so the bits
    * match in both engines. Same small-measure constraint as qStatsCorr
    * (sums stay below 2^53 → decimal→double conversion exact). */
  def qStatsRegression(spark: SparkSession, dir: String): DataFrame = {
    val q = dec(col("l_quantity"))
    val d = dec(col("l_discount"))
    val moments = Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(q).cast("double").as("sq"),
        sum(d).cast("double").as("sd"),
        sum(q * q).cast("double").as("sqq"),
        sum(d * d).cast("double").as("sdd"),
        sum(q * d).cast("double").as("sqd"))
    val slope = (col("n") * col("sqd") - col("sq") * col("sd")) /
      (col("n") * col("sqq") - col("sq") * col("sq"))
    moments
      .select(col("l_returnflag"), col("n"), col("sq"), col("sd"),
        col("sqq"), col("sdd"), col("sqd"), slope.as("slope"))
      .select(col("l_returnflag"), col("n"), col("slope"),
        ((col("sd") - col("slope") * col("sq")) / col("n")).as("intercept"),
        (((col("n") * col("sqd") - col("sq") * col("sd")) *
          (col("n") * col("sqd") - col("sq") * col("sd"))) /
          ((col("n") * col("sqq") - col("sq") * col("sq")) *
            (col("n") * col("sdd") - col("sd") * col("sd")))).as("r2"))
      .orderBy("l_returnflag")
  }

  /** Extended window-function coverage: ntile, percent_rank, cume_dist,
    * first/last over a range frame — all rank-based outputs are integer
    * ratios (deterministic doubles) and the unique (orderkey) ordering
    * keeps every function stable. */
  def qWindowMisc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus").orderBy(asc("o_orderkey"))
    Tables(spark, dir, "orders")
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first(col("o_orderkey")).over(w).as("first_key"),
        sum(dec(col("o_totalprice")))
          .over(w.rowsBetween(-2, 0)).cast("double").as("moving3"))
      .orderBy("o_orderkey")
  }

  /** Top-3 orders per customer through the CUSTOM physical operator
    * [[graft.plans.TopKPerKey]] (bounded per-key heaps, no sort, k·keys
    * shuffle bytes) — same semantics as the row_number window plan the
    * oracle expresses, radically cheaper at scale. */
  def qTopkNative(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
        Tables(spark, dir, "orders"),
        keys = Seq(col("o_custkey")),
        order = Seq(desc("o_totalprice"), asc("o_orderkey")),
        k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "o_orderkey")

  /** Pivot: order counts + decimal-exact totals per priority, one column
    * group per status (fixed value list → stable schema). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")

  /** Unpivot (melt): wide per-status counts back to long form. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .unpivot(Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")), "status", "n")
      .orderBy("o_orderpriority", "status")

  /** Exact percentiles through [[graft.Tables.percentileCont]], which
    * interpolates exactly as DuckDB's percentile_cont (Spark's native
    * `percentile` skips the interpolation between equal neighbours and
    * differs from it in the last ulp on groups with repeated values; the
    * approx_percentile sketch would not oracle). */
  def qPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        percentileCont(col("o_totalprice"), 0.25).as("p25"),
        percentileCont(col("o_totalprice"), 0.5).as("p50"),
        percentileCont(col("o_totalprice"), 0.9).as("p90"),
        percentileCont(col("o_totalprice"), 0.99).as("p99"))
      .orderBy("o_orderstatus")

  /** Approximate percentile sketch next to its exact twin — the quantile
    * member of the sketch family (HLL distinct in [[qApproxDistinct]],
    * SpaceSaving heavy hitters). percentile_approx keeps a bounded
    * mergeable summary per group (accuracy parameter bounds retained
    * values) — the 100 TB path where the exact percentile must gather
    * every value of a group onto one task.
    *
    * Gate shape: the sketch VALUE is engine-specific (DuckDB has no
    * KLL/GK twin) so it never leaves the query; what leaves is the exact
    * percentile (oracle-computable, bit-exact vs percentile_cont — see
    * [[qPercentile]]) plus a within-tolerance BOOLEAN
    * (|approx−exact| ≤ 1%·|exact|, the envelope ApproxSketchSpec proved).
    * The oracle asserts literal TRUE: a sketch drifting past the envelope
    * flips the boolean and fails the hash — a real content gate, not
    * rows-only. */
  def qApproxPercentile(spark: SparkSession, dir: String): DataFrame = {
    def withinTol(approx: Column, exact: Column): Column =
      abs(approx - exact) <= lit(0.01) * abs(exact)
    Tables(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        percentileCont(col("o_totalprice"), 0.5).as("exact_p50"),
        expr("percentile_approx(o_totalprice, 0.5, 10000)").as("a50"),
        percentileCont(col("o_totalprice"), 0.9).as("exact_p90"),
        expr("percentile_approx(o_totalprice, 0.9, 10000)").as("a90"))
      .select(col("o_orderstatus"), col("exact_p50"), col("exact_p90"),
        withinTol(col("a50"), col("exact_p50")).as("p50_within_tol"),
        withinTol(col("a90"), col("exact_p90")).as("p90_within_tol"))
      .orderBy("o_orderstatus")
  }

  /** Regex scalar family (RE2-safe patterns so the DuckDB oracle mirrors
    * them: no lookahead/backrefs). */
  def qScalarRegex(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        regexp_extract(col("o_orderpriority"), "^([0-9]+)-", 1).as("prio_num"),
        col("o_orderpriority").rlike("URGENT|HIGH").cast("int").as("is_hot"),
        regexp_replace(col("o_orderpriority"), "[^A-Z]", "").as("letters"),
        size(expr("regexp_extract_all(o_orderpriority, '[A-Z]+', 0)"))
          .as("n_words"))
      .orderBy("o_orderkey")

  /** Sketch aggregates: HLL++ approximate distinct next to the exact
    * count.
    *
    * Split-aggregation shape: two pre-distinct exact counts (each a
    * partial-aggregating distinct on (flag, key) — map-side combined)
    * plus one HLL pass, joined on the tiny group key. A single
    * multi-distinct agg plans an Expand that replicates every input row
    * 3× through one shuffle; the split runs 3 cheap pruned scans instead
    * — interleaved A/B at sf0.1: ~1.0s vs ~3.5s, and at 100 TB the
    * Expand's 3× shuffle volume is the difference that matters.
    *
    * Gate shape (same pattern as [[qApproxPercentile]]): the HLL estimate
    * is engine-specific, so the output carries the exact counts plus a
    * within-tolerance boolean per sketch (|approx−exact| ≤ 5%·exact, the
    * ApproxSketchSpec envelope; HLL at rsd=0.02 sits well inside). The
    * oracle asserts TRUE — estimate drift fails the hash. */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    def exact(c: String, as: String) =
      li.select(col("l_returnflag"), col(c))
        .filter(col(c).isNotNull) // countDistinct semantics: NULLs don't count
        .distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as(as))
    def withinTol(approx: Column, exact: Column): Column =
      abs(approx - exact) <= lit(0.05) * exact
    val approx = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
      approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))
    exact("l_partkey", "exact_parts")
      .join(exact("l_suppkey", "exact_supps"), "l_returnflag")
      .join(approx, "l_returnflag")
      .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        withinTol(col("approx_parts"), col("exact_parts"))
          .as("parts_within_tol"),
        withinTol(col("approx_supps"), col("exact_supps"))
          .as("supps_within_tol"))
      .orderBy("l_returnflag")
  }

  /** RANGE window frame (value-based bounds, unlike the ROWS frames
    * elsewhere): for each order, the count and decimal-exact sum of the
    * same customer's orders priced within 10000 below it. */
  def qWindowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
      .rangeBetween(-10000L, Window.currentRow)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_band"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("band_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** TPC-H-Q3-style shipping priority: the classic 3-table join →
    * grouped revenue → top-10, composed end-to-end (scan pruning +
    * broadcast dim + one fact-fact shuffle join + partial agg +
    * TakeOrdered — every layer the simpler queries exercise alone). */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1997-06-01").cast(TS)
    val c = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables(spark, dir, "orders").filter(col("o_orderdate") < cutoff)
    val li = Tables(spark, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  /** TPC-H-Q5-style local-supplier volume: the six-table join (region →
    * nation → customer/supplier → orders → lineitem) with the Q5 twist —
    * customer and supplier must share a nation — grouped into per-nation
    * revenue. Only the bounded dims (nation⨝region, 25 rows) are hinted
    * broadcast; customer/supplier/orders joins are left to AQE, because
    * at 100 TB none of them is broadcastable (TPC-H dims grow with SF)
    * and the static hint would pin a dead plan — at test SF the runtime
    * stats flip them to broadcast anyway (the AQE re-plan PlanShapeSpec
    * pins). The fact chain pays one orderkey shuffle; the selective
    * one-year date filter is pushed to the orders scan. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast(TS)
    val hi = lit("1997-01-01").cast(TS)
    val natAsia = Tables(spark, dir, "nation")
      .join(broadcast(Tables(spark, dir, "region")
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(natAsia), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** TPC-H-Q7-style cross-nation volume: revenue shipped between two
    * named nations in BOTH directions (supplier nation ↔ customer
    * nation), split by ship year. Exercises the self-joined dimension
    * (nation aliased twice) and a disjunctive pair predicate evaluated
    * AFTER the joins — but the two broadcast nation joins pre-filter to
    * rows touching either nation, so the disjunction never sees the full
    * fact stream. Same AQE stance as [[q5LocalSupplier]]: only the
    * bounded nation dim is hinted broadcast. */
  def q7CrossNation(spark: SparkSession, dir: String): DataFrame = {
    val (na, nb) = ("NATION_3", "NATION_7")
    val lo = lit("1995-01-01").cast(TS)
    val hi = lit("1997-01-01").cast(TS)
    val nat = Tables(spark, dir, "nation")
      .filter(col("n_name") === na || col("n_name") === nb)
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
    li.join(Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .join(Tables(spark, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H-Q9-style product-line profit: every lineitem of parts whose
    * name matches a pattern, profit = revenue − retail cost of the
    * shipped quantity, grouped by supplier nation × ship year. The part
    * name LIKE filter is evaluated on the part dim BEFORE its join
    * (semi-join pushdown shape); both profit terms are ≤4-decimal
    * products of 2-decimal measures, so the decimal subtraction and sum
    * are exact under any partitioning ([[graft.Tables.dec4]]). Same AQE
    * stance as [[q5LocalSupplier]] — only nation is hinted broadcast. */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_name").like("%widget%"))
      .select("p_partkey", "p_retailprice")
    Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))) -
          dec4(col("p_retailprice") * col("l_quantity")))
        .cast("double").as("profit"))
      .orderBy(asc("nation"), desc("l_year"))
  }

  /** NOT IN vs NOT EXISTS under NULLs — the classic three-valued-logic
    * trap, pinned as an engine-parity check: a NULL in the NOT IN list
    * makes the predicate UNKNOWN for every row (never true), while the
    * NULL-aware anti join of NOT EXISTS keeps non-matching rows. Both
    * legs are decorrelated by Catalyst into (null-aware) anti joins —
    * no per-row subquery execution. */
  def qNotInNull(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("graft_customer")
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT
        |  (SELECT COUNT(*) FROM graft_customer
        |   WHERE c_custkey NOT IN
        |     (SELECT CASE WHEN o_totalprice > 400000 THEN NULL
        |                  ELSE o_custkey END
        |      FROM graft_orders)) AS n_not_in_with_null,
        |  (SELECT COUNT(*) FROM graft_customer c
        |   WHERE NOT EXISTS
        |     (SELECT 1 FROM graft_orders o
        |      WHERE CASE WHEN o.o_totalprice > 400000 THEN NULL
        |                 ELSE o.o_custkey END = c.c_custkey))
        |    AS n_not_exists""".stripMargin)
  }

  /** Map-typed scalars (schema-on-read ingestion of semi-structured
    * props): parse the JSON props column into a MAP, then key listing /
    * cardinality / value extraction — the map-type face of the scalar
    * family (q_scalar_json extracts paths without materializing the
    * map). All narrow, codegen'd, pushdown-friendly.
    *
    * The key list is serialized to a sorted comma-joined STRING: the
    * driver's comparator sorts rows via pandas, which cannot hash an
    * array cell (round-7's one red gate row), and map key ORDER is
    * engine-defined anyway — sort-then-join is the deterministic
    * cross-engine encoding. Verify also hard-rejects any nested-typed
    * output column now, so this can't regress silently. */
  def qScalarMap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    Tables(spark, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), MapType(StringType, LongType)).as("m"))
      .select(col("event_id"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys"),
        size(col("m")).cast("int").as("n_keys"),
        col("m")(lit("k")).as("kv"))
      .orderBy("event_id")
  }

  /** Forward-fill (gap filling): carry the last non-null observation
    * forward per user in event order — `last(..., ignoreNulls)` over a
    * running frame, the telemetry/sensor imputation primitive. Runs in
    * the one shuffle the window needs; the frame is running, so the
    * window operator keeps O(1) state per row (no re-scan per frame). */
  def qWindowFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = when(col("value") >= 10, col("value"))
    Tables(spark, dir, "events")
      .filter(col("event_id") % 20 === 0)
      .select(col("user_id"), col("event_id"), v.as("v"),
        last(v, ignoreNulls = true).over(w).as("filled"))
      .orderBy("user_id", "event_id")
  }

  /** Incremental aggregate maintenance: per-type stats kept as MERGEABLE
    * partials (decimal sum, count) over a base corpus, then a delta
    * batch's partials merged in WITHOUT rescanning the base — the
    * warehouse pattern for keeping a 100 TB corpus's stats current per
    * ingest (cost |delta| + |agg table|, not |history|). The oracle is
    * the FULL recompute over base+delta: hash-equality proves the merge
    * is exact, which only holds because the partials are algebraic and
    * decimal-exact (double partials would drift with partitioning —
    * the same argument as [[graft.ops.Skew.saltedAgg]]). Derived means
    * (avg) are computed from merged partials, never merged themselves. */
  def qIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    // the "historical" agg table (in production: read from storage) and
    // the newly-ingested batch, disjoint by construction
    def partials(part: DataFrame) = part
      .groupBy("event_type")
      .agg(sum(dec(col("value"))).as("psum"), count(col("value")).as("pn"))
    partials(ev.filter(col("event_id") % 5 =!= 4))
      .unionByName(partials(ev.filter(col("event_id") % 5 === 4)))
      .groupBy("event_type")
      .agg(sum(col("psum")).as("s"), sum(col("pn")).as("n"))
      .select(col("event_type"), col("n"),
        col("s").cast("double").as("total"),
        (col("s").cast("double") / col("n")).as("avg_value"))
      .orderBy("event_type")
  }

  /** Data-quality constraint report (the Deequ-style validation gate a
    * pipeline runs before training): key uniqueness, referential
    * integrity, range / non-empty / non-negative checks — one row per
    * constraint with checked/violation counts. Each check is a
    * single-scan aggregate; the FK check rides the PREWARMED bucketed
    * layout, so the lineitem⋈orders anti-join needs zero shuffle
    * exchanges (the same layout amortization as qJoinBucketed) — at
    * 100 TB referential-integrity validation is a fact⋈fact join and
    * the layout is what makes running it per-ingest affordable. */
  def qConstraints(spark: SparkSession, dir: String): DataFrame = {
    def row(rule: String, agg: DataFrame): DataFrame =
      agg.select(lit(rule).as("rule"),
        col("n_checked").cast("bigint"),
        col("n_violations").cast("bigint"),
        (col("n_violations") === 0).cast("int").as("pass"))
    def scan(rule: String, df: DataFrame, violated: org.apache.spark.sql.Column) =
      row(rule, df.agg(count(lit(1)).as("n_checked"),
        coalesce(sum(violated.cast("long")), lit(0L)).as("n_violations")))
    val unique = row("orders.o_orderkey unique",
      Tables(spark, dir, "orders")
        .groupBy("o_orderkey").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_checked"),
          coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
            .as("n_violations")))
    val li = Bucketed.bucketedTable(spark, dir, "lineitem", "l_orderkey")
    val ob = Bucketed.bucketedTable(spark, dir, "orders", "o_orderkey")
    val fk = row("lineitem.l_orderkey references orders",
      li.select(col("l_orderkey"))
        .join(ob.select(col("o_orderkey")).hint("merge"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(li.agg(count(lit(1)).as("n_checked"))))
    unique
      .unionByName(fk)
      .unionByName(scan("customer.c_acctbal in [0, 10000]",
        Tables(spark, dir, "customer"),
        col("c_acctbal") < 0 || col("c_acctbal") > 10000))
      .unionByName(scan("documents.n_chars >= 200",
        Tables(spark, dir, "documents"),
        col("n_chars").isNull || col("n_chars") < 200))
      .unionByName(scan("events.value non-negative",
        Tables(spark, dir, "events"), col("value") < 0))
      .orderBy("rule")
  }

  /** Bag-semantics set ops (UNION ALL / EXCEPT ALL), summarized as
    * per-key multiplicities: unlike the distinct-set variants in
    * qSetOps, EXCEPT ALL subtracts multiplicities, so the result
    * depends on duplicate counts. Spark's exceptAll compiles to the
    * same generate-over-counts rewrite every engine uses — one agg on
    * the key, no row-level anti join. */
  def qSetopsAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    def ck(f: DataFrame => DataFrame) =
      f(o).select(col("o_custkey").as("ck"))
    ck(_.filter(col("o_totalprice") > 150000))
      .union(ck(_.filter(col("o_orderstatus") === "O")))
      .exceptAll(ck(_.filter(col("o_orderpriority") === "1-URGENT")))
      .groupBy("ck").agg(count(lit(1)).as("n"))
      .orderBy("ck")
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other, which a plain `=` join silently drops. Keys are made
    * nullable with NULLIF so both behaviors are observable; the output
    * aggregates match counts per left row. Null-safe equality still
    * hash-partitions both sides (NULL is one key group) — same shuffle
    * shape as `=`, but the NULL group is a self-cross-product, so the
    * sampled left side keeps it bounded (the 100 TB stance: a hot NULL
    * group is a salting problem, see [[Skew]]). */
  def qJoinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    def side(m: Int) = Tables(spark, dir, "events")
      .filter(col("event_id") % 1000 === m)
      .select(col("event_id"), nullif(col("event_type"), lit("view")).as("k"))
    val a = side(0).withColumnRenamed("event_id", "aid")
      .withColumnRenamed("k", "ak")
    val b = side(500).withColumnRenamed("event_id", "bid")
      .withColumnRenamed("k", "bk")
    a.join(b, col("ak") <=> col("bk"))
      .groupBy(col("aid"))
      .agg(count(lit(1)).as("n_matches"), min(col("bid")).as("first_match"))
      .orderBy("aid")
  }

  /** Full-outer join of two independently aggregated years of high-value
    * orders per customer: customers active in only one year surface with
    * NULLs on the other side (the semantics semi/anti/inner can't give).
    * Each side pre-aggregates BEFORE the join — at 100 TB the join input
    * is |customers with big orders that year|, not |orders|, and both
    * sides shuffle once on the same key (AQE merges the exchanges).
    * Distinct per-side key names avoid Spark 4.1's ambiguous-self-join
    * trap on same-lineage joins (see qAggRollup). */
  def qJoinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    def yearly(y: Int) = Tables(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === y && col("o_totalprice") > 150000)
      .groupBy(col("o_custkey").as(s"ck$y"))
      .agg(count(lit(1)).as(s"n_$y"), dsum(col("o_totalprice")).as(s"total_$y"))
    yearly(1996)
      .join(yearly(1997), col("ck1996") === col("ck1997"), "full_outer")
      .select(coalesce(col("ck1996"), col("ck1997")).as("custkey"),
        col("n_1996"), col("total_1996"), col("n_1997"), col("total_1997"))
      .orderBy("custkey")
  }

  /** One-pass per-column table profile (ANALYZE-style data-quality op):
    * row count, non-null count, exact distinct count, and numeric
    * min/max for a fixed column set of `orders`, one output row per
    * column. The multi-distinct agg compiles to one Expand(×4)+agg pass
    * — a single scan, not one scan per column. At 100 TB the exact
    * distincts would swap to approx_count_distinct (q_approx_distinct
    * shows that path); the oracle needs exactness here. */
  def qTableProfile(spark: SparkSession, dir: String): DataFrame = {
    val prof = Tables(spark, dir, "orders").agg(
      count(lit(1)).as("n_rows"),
      count(col("o_custkey")).as("nn1"),
      countDistinct(col("o_custkey")).as("d1"),
      min(col("o_custkey")).cast("double").as("mn1"),
      max(col("o_custkey")).cast("double").as("mx1"),
      count(col("o_totalprice")).as("nn2"),
      countDistinct(col("o_totalprice")).as("d2"),
      min(col("o_totalprice")).cast("double").as("mn2"),
      max(col("o_totalprice")).cast("double").as("mx2"),
      count(col("o_orderstatus")).as("nn3"),
      countDistinct(col("o_orderstatus")).as("d3"),
      count(col("o_orderpriority")).as("nn4"),
      countDistinct(col("o_orderpriority")).as("d4"))
    prof.select(col("n_rows"), expr(
      """stack(4,
        |  'o_custkey',       nn1, d1, mn1,  mx1,
        |  'o_totalprice',    nn2, d2, mn2,  mx2,
        |  'o_orderstatus',   nn3, d3, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_orderpriority', nn4, d4, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))
        |  AS (col, n_nonnull, n_distinct, min_num, max_num)""".stripMargin))
      .select(col("col"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_num"), col("max_num"))
      .orderBy("col")
  }

  /** Correlated subqueries: a scalar subquery (max order per customer)
    * and an IN-subquery predicate — Catalyst decorrelates both into
    * joins (no per-row re-execution, unlike the naive semantics). */
  def qSubqueries(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("graft_customer")
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT c_custkey,
        |  (SELECT MAX(o_totalprice) FROM graft_orders
        |   WHERE o_custkey = c_custkey) AS max_order,
        |  (SELECT COUNT(*) FROM graft_orders
        |   WHERE o_custkey = c_custkey AND o_orderstatus = 'O') AS n_open
        |FROM graft_customer
        |WHERE c_custkey IN (SELECT o_custkey FROM graft_orders
        |                    WHERE o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Market-basket pair mining (A-Priori L2 over orders): parts that
    * co-occur in the same order, counted across orders, reported above
    * min-support 2 with a deterministic top-50. The self-join keys on
    * l_orderkey, so fan-out per order is bounded by the order's
    * DISTINCT item count (≤ 7 in TPC-H shapes) — pair generation is
    * O(Σ c_o²) with tiny c_o, never corpus². The pair count aggregates
    * on the (part_a, part_b) key with map-side combine absorbing hot
    * pairs. At 100 TB the classic A-Priori refinement applies in front:
    * filter parts below item-level min-support first (one cheap agg +
    * a broadcast semi-join) so the quadratic term only sees frequent
    * items; a pathological mega-order (c_o in the millions) is capped
    * before pairing the same way q_source_cap bounds per-key fan-out. */
  def qCopurchase(spark: SparkSession, dir: String): DataFrame = {
    // within-order pair expansion is ROW-LOCAL: group each order's
    // distinct parts on the bucketed l_orderkey layout (zero-exchange
    // grouping — the co-location the layout exists for), then expand
    // ordered pairs from the sorted in-row array. One shuffle total
    // (the pair rollup) where the self-join form paid the distinct
    // shuffle plus two join exchanges — and per-order item counts are
    // bounded (TPC-H ≤ 7), so the in-row quadratic never skews.
    val sets = Bucketed.bucketedTable(spark, dir, "lineitem", "l_orderkey")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
    val pairs = sets.select(explode(expr(
      "flatten(transform(ps, (x, i) -> " +
        "transform(slice(ps, i + 2, size(ps)), y -> struct(x, y))))"))
      .as("p"))
    pairs.groupBy(col("p.x").as("part_a"), col("p.y").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .orderBy(desc("n_orders"), asc("part_a"), asc("part_b"))
      .limit(50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_copurchase" -> qCopurchase _,
    "q_subqueries" -> qSubqueries _,
    "q_join_full_outer" -> qJoinFullOuter _,
    "q_setops_all" -> qSetopsAll _,
    "q_join_null_safe" -> qJoinNullSafe _,
    "q_constraints" -> qConstraints _,
    "q_incremental_agg" -> qIncrementalAgg _,
    "q_window_fill" -> qWindowFill _,
    "q_scalar_map" -> qScalarMap _,
    "q3_shipping" -> q3Shipping _,
    "q5_local_supplier" -> q5LocalSupplier _,
    "q7_cross_nation" -> q7CrossNation _,
    "q9_product_profit" -> q9ProductProfit _,
    "q_corr_matrix" -> qCorrMatrix _,
    "q_not_in_null" -> qNotInNull _,
    "q_table_profile" -> qTableProfile _,
    "q_window_range_frame" -> qWindowRangeFrame _,
    "q_approx_distinct" -> qApproxDistinct _,
    "q_scalar_regex" -> qScalarRegex _,
    "q_percentile" -> qPercentile _,
    "q_pivot" -> qPivot _,
    "q_unpivot" -> qUnpivot _,
    "q_topk_native" -> qTopkNative _,
    "q_window_misc" -> qWindowMisc _,
    "q_stats_corr" -> qStatsCorr _,
    "q_stats_regression" -> qStatsRegression _,
    "q_grouping_sets" -> qGroupingSets _,
    "q_scalar_array" -> qScalarArray _,
    "q1_pricing" -> q1Pricing _,
    "q_filter_project" -> qFilterProject _,
    "q_join_broadcast" -> qJoinBroadcast _,
    "q_semi_join" -> qSemiJoin _,
    "q_anti_join" -> qAntiJoin _,
    "q_agg_rollup" -> qAggRollup _,
    "q_agg_cube" -> qAggCube _,
    "q_window_rank" -> qWindowRank _,
    "q_window_running" -> qWindowRunning _,
    "q_topk" -> qTopK _,
    "q_setops" -> qSetOps _,
    "q_scalar_string" -> qScalarString _,
    "q_scalar_date" -> qScalarDate _,
    "q_scalar_math" -> qScalarMath _,
    "q_scalar_json" -> qScalarJson _,
    "q_distinct_agg" -> qDistinctAgg _,
    "q_approx_percentile" -> qApproxPercentile _,
    "q_events_window" -> qEventsWindow _,
    "q_sliding_window" -> qSlidingWindow _,
    "q_outlier_events" -> qOutlierEvents _)

  val oracles: Map[String, String] = Map(
    // co-occurring part pairs per order, min-support 2, deterministic
    // top-50 — see qCopurchase
    "q_copurchase" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem)
        |SELECT a.pk AS part_a, b.pk AS part_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 50""".stripMargin,
    "q_subqueries" ->
      """SELECT c_custkey,
        |  (SELECT MAX(o_totalprice) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_order,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderstatus = 'O') AS n_open
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,
    "q_corr_matrix" ->
      """WITH m AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS spd
        |  FROM lineitem)
        |SELECT pair, n, r FROM (
        |  SELECT 'qty_price' AS pair, n,
        |    (sqp - sq * sp / n) / (sqrt(sqq - sq * sq / n) * sqrt(spp - sp * sp / n)) AS r
        |  FROM m
        |  UNION ALL
        |  SELECT 'qty_disc', n,
        |    (sqd - sq * sd / n) / (sqrt(sqq - sq * sq / n) * sqrt(sdd - sd * sd / n))
        |  FROM m
        |  UNION ALL
        |  SELECT 'price_disc', n,
        |    (spd - sp * sd / n) / (sqrt(spp - sp * sp / n) * sqrt(sdd - sd * sd / n))
        |  FROM m) t
        |ORDER BY pair""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q7_cross_nation" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |         - CAST(p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2
        |ORDER BY nation, l_year DESC""".stripMargin,
    "q_not_in_null" ->
      """SELECT
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_custkey NOT IN
        |     (SELECT CASE WHEN o_totalprice > 400000 THEN NULL
        |                  ELSE o_custkey END
        |      FROM orders)) AS n_not_in_with_null,
        |  (SELECT COUNT(*) FROM customer c
        |   WHERE NOT EXISTS
        |     (SELECT 1 FROM orders o
        |      WHERE CASE WHEN o.o_totalprice > 400000 THEN NULL
        |                 ELSE o.o_custkey END = c.c_custkey))
        |    AS n_not_exists""".stripMargin,
    "q_scalar_map" ->
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
        |  CAST(len(json_keys(props)) AS INT) AS n_keys,
        |  CAST(props->>'k' AS BIGINT) AS kv
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_fill" ->
      """SELECT user_id, event_id, v,
        |  LAST_VALUE(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM (SELECT user_id, event_id,
        |        CASE WHEN value >= 10 THEN value END AS v
        |      FROM events WHERE event_id % 20 = 0) t
        |ORDER BY user_id, event_id""".stripMargin,
    // full recompute — equality with the engine's partial-merge result is
    // the exactness proof of the incremental path
    "q_incremental_agg" ->
      """SELECT event_type, COUNT(value) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_constraints" ->
      """SELECT rule, n_checked, n_violations, pass FROM (
        |  SELECT 'orders.o_orderkey unique' AS rule,
        |    CAST(SUM(c) AS BIGINT) AS n_checked,
        |    CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS n_violations
        |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) t
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey references orders',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                       WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'customer.c_acctbal in [0, 10000]', COUNT(*),
        |    CAST(COALESCE(SUM(CAST(c_acctbal < 0 OR c_acctbal > 10000 AS BIGINT)), 0) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'documents.n_chars >= 200', COUNT(*),
        |    CAST(COALESCE(SUM(CAST(n_chars IS NULL OR n_chars < 200 AS BIGINT)), 0) AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'events.value non-negative', COUNT(*),
        |    CAST(COALESCE(SUM(CAST(value < 0 AS BIGINT)), 0) AS BIGINT)
        |  FROM events) r(rule, n_checked, n_violations)
        |CROSS JOIN LATERAL (SELECT CAST(n_violations = 0 AS INT) AS pass) p
        |ORDER BY rule""".stripMargin,
    "q_setops_all" ->
      """SELECT ck, COUNT(*) AS n FROM (
        |  SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 150000
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
        |GROUP BY ck ORDER BY ck""".stripMargin,
    "q_join_null_safe" ->
      """WITH a AS (
        |  SELECT event_id AS aid, NULLIF(event_type, 'view') AS ak
        |  FROM events WHERE event_id % 1000 = 0),
        |b AS (
        |  SELECT event_id AS bid, NULLIF(event_type, 'view') AS bk
        |  FROM events WHERE event_id % 1000 = 500)
        |SELECT aid, COUNT(*) AS n_matches, MIN(bid) AS first_match
        |FROM a JOIN b ON ak IS NOT DISTINCT FROM bk
        |GROUP BY aid ORDER BY aid""".stripMargin,
    "q_join_full_outer" ->
      """WITH a AS (
        |  SELECT o_custkey AS ck1996, COUNT(*) AS n_1996,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_1996
        |  FROM orders
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996 AND o_totalprice > 150000
        |  GROUP BY 1),
        |b AS (
        |  SELECT o_custkey AS ck1997, COUNT(*) AS n_1997,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_1997
        |  FROM orders
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1997 AND o_totalprice > 150000
        |  GROUP BY 1)
        |SELECT COALESCE(ck1996, ck1997) AS custkey,
        |  n_1996, total_1996, n_1997, total_1997
        |FROM a FULL OUTER JOIN b ON ck1996 = ck1997
        |ORDER BY custkey""".stripMargin,
    "q_table_profile" ->
      """WITH s AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(o_custkey) AS nn1, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d1,
        |    CAST(MIN(o_custkey) AS DOUBLE) AS mn1, CAST(MAX(o_custkey) AS DOUBLE) AS mx1,
        |    COUNT(o_totalprice) AS nn2, CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS d2,
        |    CAST(MIN(o_totalprice) AS DOUBLE) AS mn2, CAST(MAX(o_totalprice) AS DOUBLE) AS mx2,
        |    COUNT(o_orderstatus) AS nn3, CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d3,
        |    COUNT(o_orderpriority) AS nn4, CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d4
        |  FROM orders)
        |SELECT col, n_rows, n_nonnull, n_distinct, min_num, max_num FROM (
        |  SELECT 'o_custkey' AS col, n_rows, nn1 AS n_nonnull, d1 AS n_distinct, mn1 AS min_num, mx1 AS max_num FROM s
        |  UNION ALL
        |  SELECT 'o_totalprice', n_rows, nn2, d2, mn2, mx2 FROM s
        |  UNION ALL
        |  SELECT 'o_orderstatus', n_rows, nn3, d3, NULL, NULL FROM s
        |  UNION ALL
        |  SELECT 'o_orderpriority', n_rows, nn4, d4, NULL, NULL FROM s) t
        |ORDER BY col""".stripMargin,
    "q_window_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  COUNT(*) OVER w AS n_band,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS band_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_scalar_regex" ->
      """SELECT o_orderkey,
        |  regexp_extract(o_orderpriority, '^([0-9]+)-', 1) AS prio_num,
        |  CAST(regexp_matches(o_orderpriority, 'URGENT|HIGH') AS INT) AS is_hot,
        |  regexp_replace(o_orderpriority, '[^A-Z]', '', 'g') AS letters,
        |  CAST(len(regexp_extract_all(o_orderpriority, '[A-Z]+')) AS INT) AS n_words
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // Sketch-family gates: exact values recomputed by DuckDB; the
    // within-tolerance booleans asserted literal TRUE (the Spark side
    // computes them for real — estimate drift fails the hash).
    "q_approx_percentile" ->
      """SELECT o_orderstatus,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS exact_p50,
        |  percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS exact_p90,
        |  TRUE AS p50_within_tol,
        |  TRUE AS p90_within_tol
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(DISTINCT l_suppkey) AS exact_supps,
        |  TRUE AS parts_within_tol,
        |  TRUE AS supps_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentile" ->
      """SELECT o_orderstatus,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        |  percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
        |  percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F_total,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O_total,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_unpivot" ->
      """WITH w AS (
        |  SELECT o_orderpriority,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f,
        |    COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o,
        |    COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, n FROM (
        |  SELECT o_orderpriority, 'F' AS status, f AS n FROM w
        |  UNION ALL SELECT o_orderpriority, 'O', o FROM w
        |  UNION ALL SELECT o_orderpriority, 'P', p FROM w) t
        |ORDER BY o_orderpriority, status""".stripMargin,
    "q_topk_native" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_misc" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_key,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_stats_corr" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (sqq - sq * sq / n) / (n - 1) AS var_qty,
        |  sqrt((sqq - sq * sq / n) / (n - 1)) AS stddev_qty,
        |  (sqd - sq * sd / n)
        |    / (sqrt(sqq - sq * sq / n) * sqrt(sdd - sd * sd / n)) AS corr_qty_disc
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_stats_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd
        |  FROM lineitem GROUP BY l_returnflag),
        |s AS (
        |  SELECT l_returnflag, n, sq, sd, sqq, sdd, sqd,
        |    (n * sqd - sq * sd) / (n * sqq - sq * sq) AS slope
        |  FROM m)
        |SELECT l_returnflag, n, slope,
        |  (sd - slope * sq) / n AS intercept,
        |  ((n * sqd - sq * sd) * (n * sqd - sq * sd))
        |    / ((n * sqq - sq * sq) * (n * sdd - sd * sd)) AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_grouping_sets" ->
      """SELECT r_name, c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(GROUPING(r_name) AS INT) AS g_region,
        |  CAST(GROUPING(c_mktsegment) AS INT) AS g_segment
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
    "q_scalar_array" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS n_tokens,
        |  array_to_string(list_sort(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')))[1:3], ',') AS first3_sorted,
        |  CAST(list_contains(list_filter(string_split_regex(text, '\s+'), t -> t <> ''), 'the') AS INT) AS has_the,
        |  list_filter(string_split_regex(text, '\s+'), t -> t <> '')[1] AS first_token,
        |  list_filter(string_split_regex(text, '\s+'), t -> t <> '')[-1] AS last_token,
        |  CAST(len(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS INT) AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate <= TIMESTAMP '1997-12-31'
        |  AND l_discount > 0.03 AND l_quantity < 20
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_join_broadcast" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q_agg_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, prev_price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |    LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_price
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q_setops" ->
      """SELECT c_custkey FROM (
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |   UNION
        |   SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_nationkey < 12
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_nationkey = 3) t
        |ORDER BY c_custkey""".stripMargin,
    "q_scalar_string" ->
      """SELECT c_custkey,
        |  UPPER(c_name) AS uname,
        |  CAST(LENGTH(c_name) AS INT) AS name_len,
        |  SUBSTRING(c_name, 1, 8) AS prefix,
        |  c_name || '#' || c_mktsegment AS tagged,
        |  REGEXP_REPLACE(c_name, 'Customer#0*', 'C') AS short_name,
        |  REVERSE(c_mktsegment) AS rseg,
        |  LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_scalar_date" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
        |  CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dom,
        |  CAST(o_orderdate AS DATE) AS odate,
        |  CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_scalar_math" ->
      """SELECT o_orderkey,
        |  ABS(o_totalprice - 100000.0) AS dist,
        |  CAST(FLOOR(o_totalprice) AS BIGINT) AS fl,
        |  CAST(CEIL(o_totalprice) AS BIGINT) AS cl,
        |  SQRT(o_totalprice) AS rt,
        |  o_orderkey % 7 AS m7,
        |  GREATEST(o_totalprice, 50000.0) AS hi,
        |  LEAST(o_totalprice, 50000.0) AS lo
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_scalar_json" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k2,
        |  UPPER(event_type) AS etype,
        |  CAST(LENGTH(props) AS INT) AS props_len
        |FROM events ORDER BY event_id""".stripMargin,
    "q_distinct_agg" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  COUNT(*) AS n_orders,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price,
        |  CAST(MIN(o_orderdate) AS DATE) AS first_date,
        |  CAST(MAX(o_orderdate) AS DATE) AS last_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_events_window" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bucket, event_type""".stripMargin,
    // every event belongs to exactly two 1h/30min sliding windows:
    // the 30-min bucket containing it and the one before
    "q_sliding_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS bucket,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT event_type, value,
        |    unnest([time_bucket(INTERVAL '30 minutes', ts),
        |            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
        |  FROM events) t
        |GROUP BY 1, 2
        |ORDER BY bucket, event_type""".stripMargin,
    "q_outlier_events" ->
      """WITH s AS (
        |  SELECT event_type, COUNT(value) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS qv
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  CAST((s.n * e.value - s.sv) * (s.n * e.value - s.sv)
        |    > 9.0 * (s.n * s.qv - s.sv * s.sv) AS INT) AS is_outlier
        |FROM events e JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin)
}
