package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.{dec, dec4, dsum}

/** TPC-H-shaped analytics batch two (Q4/Q6/Q10/Q14/Q16/Q18/Q19/Q21/Q22),
  * adapted to the fixture's columns (no partsupp table, no
  * commit/receipt dates, no ship mode/phone — see TESTDATA.md), extending
  * the Layer-B relational surface (SURVEY.md §2.4 C1–C2; the reference
  * framework has no joins or aggregations at all, reference
  * worker/__main__.py:182-208 sorted-stream reduce is its only grouping).
  *
  * What each adds over the existing q1/q3/q5/q7/q9 family:
  *  - Q4: correlated EXISTS with a non-equi correlated predicate
  *    (decorrelated by Catalyst into a left-semi join with a post-probe
  *    condition — no per-row subquery at any scale).
  *  - Q6: the pure pushdown showcase — every predicate and both columns
  *    reach the parquet scan; at 100 TB this is a scan-bound query whose
  *    cost is decided entirely by PushedFilters + ReadSchema.
  *  - Q10: fact-fact shuffle join + broadcast dim + top-k on an aggregate.
  *  - Q14: conditional aggregation (two decimal sums over one scan).
  *  - Q16: count-distinct over a fact-derived bridge (lineitem stands in
  *    for the missing partsupp) with a dim-side exclusion filter.
  *  - Q18: HAVING-style semi join of a fact aggregate back to the facts.
  *  - Q19: disjunction of conjuncts referencing BOTH join sides — the
  *    predicate cannot be pushed below the join, only the per-side
  *    prunable parts can; exercises CNF extraction.
  *  - Q21: EXISTS + NOT EXISTS against the same fact table (double
  *    correlated decorrelation → one semi + one anti join).
  *  - Q22: scalar aggregate subquery + anti join (dormant customers).
  *
  * Scale stance matches [[Relational.q5LocalSupplier]]: only the bounded
  * dims (nation, 25 rows) get a broadcast hint; part/customer/supplier/
  * orders joins are left to AQE because at 100 TB none is broadcastable
  * (TPC-H dims grow with SF) and a static hint would pin a dead plan.
  * Conventions (decimal-exact aggregates, total-order ORDER BY, oracle
  * column-name parity) per [[graft.Tables]].
  */
object Tpch {

  private val TS = "timestamp"

  /** Synthetic partsupp: the fixture ships no partsupp table, which
    * blocked TPC-H Q2/Q11/Q20 (the three correlated-subquery plan shapes)
    * through round 11. The bridge (which supplier stocks which part) IS
    * observable — distinct (l_partkey, l_suppkey) in lineitem — and the
    * two unobservable measures are derived deterministically from the key
    * pair via xxhash64, so every engine run at a given SF sees the same
    * table: ps_availqty uniform 1..9999 (classic range), ps_supplycost a
    * 2-decimal double 0.01..999.99 (double like every fixture measure;
    * downstream aggregates go decimal-exact per [[graft.Tables]] rule 1).
    * The DuckDB oracle reads this table via [[graft.OracleExport]] — the
    * accepted anncand/bpemerges pattern — so the gate covers everything
    * downstream of the derivation, and [[TpchSpec]] pins the derivation
    * itself against a driver-side recompute.
    *
    * Session-shared: the distinct is one shuffle over the facts, paid
    * once per corpus version (prewarm chain) and reused by all three
    * queries — at 100 TB the output is bounded by |part|×|supplier|,
    * orders of magnitude below the fact table. */
  private[graft] def partsupp(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark,
      "partsupp", dir)(Tables(spark, dir, "lineitem")
        .select(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .distinct()
        .select(col("ps_partkey"), col("ps_suppkey"),
          (pmod(xxhash64(col("ps_partkey"), col("ps_suppkey"),
            lit("availqty")), lit(9999L)) + 1).cast("int").as("ps_availqty"),
          ((pmod(xxhash64(col("ps_partkey"), col("ps_suppkey"),
            lit("supplycost")), lit(99999L)) + 1).cast("double") / 100)
            .as("ps_supplycost")))

  /** [[partsupp]] + oracle export (no-op after the first call / in Bench). */
  private def exportedPartsupp(spark: SparkSession, dir: String): DataFrame = {
    val ps = partsupp(spark, dir)
    graft.OracleExport.export(ps, "partsupp", dir)
    ps
  }

  /** Q2: min-cost supplier per part within a region (adapted: fixture part
    * has no p_mfgr → p_brand; supplier no address/phone). The classic
    * correlated min-cost subquery is expressed as a window min over the
    * region-restricted partsupp rows of the FILTERED parts: the per-part
    * min doesn't depend on the part-level filter, so restricting first is
    * equivalent and prunes the aggregate's input by ~50× — the decisive
    * reordering at 100 TB. One partkey shuffle (the window); nation/region
    * broadcast (bounded dims); supplycost equality is exact (both sides
    * read the same derived value). */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eurNations = Tables(spark, dir, "nation")
      .join(broadcast(Tables(spark, dir, "region")
        .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val regional = exportedPartsupp(spark, dir)
      .join(Tables(spark, dir, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey"),
        col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(eurNations), col("s_nationkey") === col("n_nationkey"))
    regional
      .join(Tables(spark, dir, "part")
        .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")
        .select("p_partkey", "p_brand"),
        col("ps_partkey") === col("p_partkey"))
      .withColumn("min_cost",
        min(col("ps_supplycost")).over(Window.partitionBy("ps_partkey")))
      .filter(col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("ps_supplycost"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
        asc("p_partkey"))
      .limit(100)
  }

  /** Q11: important stock — per-part stock value for one nation's
    * suppliers, kept when above a fraction of the nation's total (the
    * group-vs-global HAVING shape). Value sums are decimal-exact
    * (supplycost×availqty ≤ 2 decimals → dec4); the global total is a
    * 1-row scalar broadcast (BNLJ — allowlisted in GlobalPlanAuditSpec)
    * and the threshold comparison is two double casts + ONE multiply, the
    * same IEEE ops in both engines. */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val natPs = exportedPartsupp(spark, dir)
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .filter(col("n_name") === "NATION_19").select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("ps_partkey"),
        dec4(col("ps_supplycost") * col("ps_availqty")).as("v"))
    val byPart = natPs.groupBy("ps_partkey")
      .agg(sum(col("v")).as("value_dec"))
    val total = byPart.agg(sum(col("value_dec")).cast("double")
      .as("total_value"))
    byPart.join(broadcast(total)) // 1-row scalar: broadcast nested loop
      .filter(col("value_dec").cast("double") >
        col("total_value") * lit(0.001))
      .select(col("ps_partkey"), col("value_dec").cast("double").as("value"))
      .orderBy(desc("value"), asc("ps_partkey"))
  }

  /** Q20: promotion candidates — suppliers of one nation stocking a
    * name-matched part with availability above half the part-pair's
    * shipped quantity in one year (the nested semi-join chain). All three
    * reducers run BEFORE the expensive work: partsupp is semi-joined to
    * the matched parts, the supplier side is nation-filtered at the pair
    * level, and the lineitem aggregate is windowed by date and semi-joined
    * to the same parts — at 100 TB each prunes its fact input by 10-100×.
    * n_parts (qualifying pairs per supplier) witnesses the inner
    * aggregate in the output, so the gate pins the whole chain, not just
    * the surviving supplier names. */
  def q20PromotionCandidates(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables(spark, dir, "part")
      .filter(col("p_name").startsWith("red")).select("p_partkey")
    val natSupp = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
        .filter(col("n_name") === "NATION_3").select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal")
    val shipped = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TS) &&
        col("l_shipdate") < lit("1997-01-01").cast(TS))
      .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("shipped_qty"))
    exportedPartsupp(spark, dir)
      .join(redParts, col("ps_partkey") === col("p_partkey"), "left_semi")
      .join(natSupp, col("ps_suppkey") === col("s_suppkey"))
      .join(shipped, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") > lit(0.5) * col("shipped_qty"))
      .groupBy(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .agg(count(lit(1)).as("n_parts"))
      .select(col("s_name"), col("s_acctbal"), col("n_parts"))
      .orderBy("s_name")
  }

  /** Q4: orders of one quarter with at least one line shipped >60 days
    * after the order date, counted per priority. The correlated EXISTS
    * becomes a left-semi join on orderkey with the lateness predicate as
    * an extra join condition — the semi join dedups multi-late-line
    * orders without a distinct. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast(TS) &&
        col("o_orderdate") < lit("1996-10-01").cast(TS))
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_shipdate")
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q6: one-scan forecast-revenue aggregate. All three predicates and
    * both needed columns push to the parquet scan (PlanShape-asserted);
    * the aggregate is a two-phase partial sum — the canonical shape that
    * stays scan-bound at any SF. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TS) &&
        col("l_shipdate") < lit("1997-01-01").cast(TS) &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
        col("l_quantity") < 24)
      .agg(sum(dec4(col("l_extendedprice") * col("l_discount")))
        .cast("double").as("revenue"))

  /** Q8: national market share — of the revenue flowing to ASIA
    * customers for PROMO parts, the fraction supplied by NATION_3, per
    * order year. The numerator is a conditional decimal sum over the
    * same rows as the denominator (one pass, no second join tree), and
    * the share is ONE double division at the end. Both nation joins
    * broadcast (bounded dim); the fact chain is the q5 shape. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val vol = dec4(col("l_extendedprice") * (lit(1) - col("l_discount")))
    val natAsia = Tables(spark, dir, "nation")
      .join(broadcast(Tables(spark, dir, "region")
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      .join(Tables(spark, dir, "part").filter(col("p_type") === "PROMO")
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .join(Tables(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast(TS) &&
          col("o_orderdate") < lit("1997-01-01").cast(TS))
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(natAsia), col("c_nationkey") === col("cn_key"))
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_3", vol)
          .otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 4))))
          .cast("double") /
        sum(vol).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q13: customer order-count distribution — the LEFT OUTER JOIN with
    * an ON-clause filter (orders dropped by the predicate must NOT drop
    * the customer; a WHERE would) followed by a two-level aggregate.
    * Zero-order customers surface in the c_count=0 bucket — the row
    * COUNT(o_orderkey)'s null-skipping provides for free. */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    Tables(spark, dir, "customer").select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** Q10: returned-item losses per customer for one quarter, top 20 by
    * revenue. lineitem⋈orders shuffles on orderkey (both filtered before
    * the exchange); customer join is AQE's call; nation broadcasts. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-10-01").cast(TS) &&
        col("o_orderdate") < lit("1997-01-01").cast(TS))
      .select("o_orderkey", "o_custkey")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .cast("double").as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  /** Q12-adapted: shipping-delay buckets × order priority — the
    * conditional-aggregation shape (no ship mode in the fixture; the
    * classification column is the shipdate−orderdate delay). One
    * fact⋈fact pass; both CASE sums fold into the same partial
    * aggregate, so the priority split costs nothing extra over the
    * bucket count. Rides the prewarmed orderkey-bucketed layout like
    * q18 (r11 verdict item): the dominant cost was the full
    * lineitem⋈orders shuffle, which the co-located scan removes
    * entirely — only the 3-row bucket aggregate exchanges
    * (PlanShapeSpec-asserted; `Debug q12ab` interleaved at sf0.1:
    * ~0.51 s bucketed vs ~0.70 s plain, warm medians of 4). */
  def q12ShipDelay(spark: SparkSession, dir: String): DataFrame =
    q12Impl(spark, dir, bucketed = true)

  private[graft] def q12Impl(spark: SparkSession, dir: String,
      bucketed: Boolean): DataFrame = {
    def li = if (bucketed) Bucketed.bucketedTable(spark, dir, "lineitem", "l_orderkey")
      else Tables(spark, dir, "lineitem")
    def o = if (bucketed) Bucketed.bucketedTable(spark, dir, "orders", "o_orderkey")
      else Tables(spark, dir, "orders")
    val delayDays =
      datediff(col("l_shipdate"), col("o_orderdate"))
    val bucket = when(delayDays <= 30, "0-30")
      .when(delayDays <= 90, "31-90")
      .otherwise("90+")
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.select("l_orderkey", "l_shipdate")
      .join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(bucket.as("delay_bucket"))
      .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("delay_bucket")
  }

  /** Q14: promo revenue share for one month — two exact decimal sums
    * over a single lineitem⋈part pass, divided as doubles at the end
    * (the division order is fixed: decimal-exact numerator and
    * denominator first, ONE double division last, so both engines hit
    * the same IEEE operation). */
  def q14PromoEffect(spark: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast(TS) &&
        col("l_shipdate") < lit("1996-04-01").cast(TS))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(Tables(spark, dir, "part").select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(dec4(when(col("p_type") === "PROMO", disc).otherwise(lit(0))))
          .cast("double") * lit(100.0) /
          sum(dec4(disc)).cast("double")).as("promo_revenue"))
  }

  /** Q15: top supplier(s) by quarterly revenue — the aggregate-of-
    * aggregate shape: the per-supplier revenue table is computed once,
    * its max is a 1-row scalar broadcast back onto it, and the equality
    * filter keeps the argmax row(s). Ties all surface (no LIMIT 1
    * nondeterminism); decimal-exact revenue makes the equality itself
    * deterministic cross-engine — a float revenue would make `= MAX`
    * flap on summation order. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TS) &&
        col("l_shipdate") < lit("1996-04-01").cast(TS))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .cast("double").as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(maxRev)) // 1-row scalar: broadcast nested loop
      .filter(col("total_revenue") === col("max_revenue"))
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q17: small-quantity-order revenue — the correlated SCALAR aggregate
    * shape (each lineitem compares against ITS part's average quantity).
    * Expressed as the decorrelated plan directly: the per-part average
    * is one grouped aggregate over the (brand-filtered) facts, joined
    * back on partkey — never a per-row subquery. The average is
    * davg-style (exact decimal sum, ONE double division) so the 0.2×
    * threshold is bit-identical cross-engine. */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_brand") === "Brand#23")
      .select("p_partkey")
    val li = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(p, col("l_partkey") === col("p_partkey"))
    val avgQ = li.groupBy(col("l_partkey").as("ap_key"))
      .agg((sum(dec(col("l_quantity"))).cast("double") /
        count(lit(1))).as("avg_qty"))
    li.join(avgQ, col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  /** Q16-adapted: supplier variety per part attribute. The fixture has
    * no partsupp table, so the part↔supplier bridge is DERIVED from the
    * facts: distinct (l_partkey, l_suppkey) observed in lineitem. The
    * count-distinct is a two-phase partial aggregate (no global distinct
    * materialization); the dim-side exclusion filters prune part before
    * its join. */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables(spark, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"),
        asc("p_brand"), asc("p_type"), asc("p_size"))
  }

  /** Q18: large-volume orders — aggregate the facts, keep orders whose
    * total quantity clears the threshold (~top 0.5%), join back to the
    * order/customer detail. Rides the prewarmed orderkey-bucketed
    * layout (see q18Impl; measured interleaved ~0.7 s vs ~0.9 s warm at
    * sf0.1, and at 100 TB it removes the full-fact shuffle entirely). */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame =
    q18Impl(spark, dir, bucketed = true)

  private[ops] def q18Impl(spark: SparkSession, dir: String,
      bucketed: Boolean): DataFrame = {
    // the heavy per-orderkey aggregate and the orders join both ride the
    // prewarmed orderkey-bucketed layout: the bucket distribution
    // satisfies the groupBy (no fact shuffle) AND the join (zero-exchange
    // SMJ) — the q_join_bucketed amortization argument applied to a
    // HAVING-style aggregate
    def li = if (bucketed) Bucketed.bucketedTable(spark, dir, "lineitem", "l_orderkey")
      else Tables(spark, dir, "lineitem")
    def o = if (bucketed) Bucketed.bucketedTable(spark, dir, "orders", "o_orderkey")
      else Tables(spark, dir, "orders")
    val big = li
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer").select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  /** Q19: disjunctive brand/size/quantity predicate spanning both join
    * sides. Catalyst extracts the side-local prunable parts (p_size
    * lower bound, l_quantity envelope) below the join and evaluates the
    * full disjunction after it — the join itself stays a plain equi-join
    * on partkey, broadcastable when part fits, shuffled otherwise. */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(Tables(spark, dir, "part")
        .select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** Q21's textbook correlated form: EXISTS decorrelates to a semi join
    * and NOT EXISTS to an anti join, both on orderkey — Catalyst's
    * decorrelator at work, no per-row subqueries. Kept as the
    * decorrelation-surface witness ([[TpchSpec]] pins it result-equal to
    * the registered one-pass form), NOT registered at the gate: Spark
    * inlines the `late` CTE into both correlated legs, so this shape
    * scans lineitem three times — at 100 TB that is two extra full fact
    * scans the window formulation below avoids. */
  def q21CorrelatedForm(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    Tables(spark, dir, "supplier").createOrReplaceTempView("graft_supplier")
    spark.sql(
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM graft_lineitem JOIN graft_orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAYS)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM graft_supplier s
        |JOIN late l1 ON l1.l_suppkey = s.s_suppkey
        |WHERE EXISTS (SELECT 1 FROM graft_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 50""".stripMargin)
  }

  /** Q22-adapted: dormant high-balance customers per nation — balance
    * above the global positive-balance mean (scalar subquery, computed
    * as exact decimal sum / count with ONE double division, mirroring
    * [[graft.Tables.davg]]) and no order since 2000-01-01 (anti join;
    * the date filter prunes the orders scan before the exchange). */
  def q22DormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val recent = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast(TS))
      .select("o_custkey")
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(dec(col("c_acctbal"))).cast("double") /
        count(lit(1))).as("avg_bal"))
    c.join(broadcast(avgBal)) // 1-row scalar: broadcast nested loop
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("int").as("cntry"))
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntry")
  }

  /** Q21-adapted (registered form): suppliers who were the SOLE late
    * supplier of a multi-supplier order ("late" = shipped >90 days after
    * the order date; the fixture has no receipt/commit dates). One-pass
    * window formulation: per-order supplier sets via two windowed
    * collect_sets over the lineitem⋈orders rows, then keep late lines of
    * sole-late-supplier multi-supplier orders. ONE lineitem scan + one
    * orderkey shuffle vs the correlated form's three scans
    * ([[q21CorrelatedForm]]); per-order window state is bounded
    * (suppliers per order), so collect_set is safe at any SF. Measured
    * interleaved at sf0.1: ~0.95 s vs 1.25 s warm. */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables(spark, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
    val w = Window.partitionBy("l_orderkey")
    lines
      .withColumn("n_supp",
        size(collect_set(col("l_suppkey")).over(w)))
      .withColumn("n_late_supp",
        size(collect_set(when(col("is_late"), col("l_suppkey"))).over(w)))
      .filter(col("is_late") && col("n_supp") >= 2 &&
        col("n_late_supp") === 1)
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost_supplier" -> q2MinCostSupplier _,
    "q11_important_stock" -> q11ImportantStock _,
    "q20_promotion_candidates" -> q20PromotionCandidates _,
    "q4_order_priority" -> q4OrderPriority _,
    "q6_forecast_revenue" -> q6ForecastRevenue _,
    "q8_market_share" -> q8MarketShare _,
    "q10_returned_items" -> q10ReturnedItems _,
    "q13_order_distribution" -> q13OrderDistribution _,
    "q12_ship_delay" -> q12ShipDelay _,
    "q14_promo_effect" -> q14PromoEffect _,
    "q15_top_supplier" -> q15TopSupplier _,
    "q16_supplier_variety" -> q16SupplierVariety _,
    "q17_small_quantity" -> q17SmallQuantity _,
    "q18_large_orders" -> q18LargeOrders _,
    "q19_disjunctive" -> q19Disjunctive _,
    "q21_waiting_supplier" -> q21WaitingSupplier _,
    "q22_dormant_customers" -> q22DormantCustomers _)

  val oracles: Map[String, String] = Map(
    // Q2/Q11/Q20 read the exported synthetic partsupp (the engine-derived
    // table the fixture lacks — see the partsupp scaladoc); everything
    // downstream of the export (joins, correlated min, group-vs-global
    // HAVING, the semi-join chain) is recomputed by DuckDB from scratch,
    // in the textbook correlated-subquery form where the Spark side runs
    // the decorrelated plan.
    "q2_min_cost_supplier" ->
      s"""WITH ps AS (SELECT * FROM '${graft.OracleExport.oraclePath("partsupp")}'),
         |eur AS (SELECT n_nationkey, n_name
         |        FROM nation JOIN region ON n_regionkey = r_regionkey
         |        WHERE r_name = 'EUROPE'),
         |reg AS (SELECT ps_partkey, ps_supplycost, s_name, s_acctbal, n_name
         |        FROM ps JOIN supplier ON ps_suppkey = s_suppkey
         |        JOIN eur ON s_nationkey = n_nationkey)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
         |FROM reg JOIN part ON ps_partkey = p_partkey
         |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
         |  AND ps_supplycost = (SELECT MIN(r2.ps_supplycost) FROM reg r2
         |                       WHERE r2.ps_partkey = reg.ps_partkey)
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin,
    "q11_important_stock" ->
      s"""WITH ps AS (SELECT * FROM '${graft.OracleExport.oraclePath("partsupp")}'),
         |nat AS (SELECT ps_partkey,
         |          CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4)) AS v
         |        FROM ps JOIN supplier ON ps_suppkey = s_suppkey
         |        JOIN nation ON s_nationkey = n_nationkey
         |        WHERE n_name = 'NATION_19'),
         |bp AS (SELECT ps_partkey, SUM(v) AS value_dec
         |       FROM nat GROUP BY ps_partkey)
         |SELECT ps_partkey, CAST(value_dec AS DOUBLE) AS value
         |FROM bp
         |WHERE CAST(value_dec AS DOUBLE) >
         |      (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM bp)
         |        * CAST(0.001 AS DOUBLE)
         |ORDER BY value DESC, ps_partkey""".stripMargin,
    "q20_promotion_candidates" ->
      s"""WITH ps AS (SELECT * FROM '${graft.OracleExport.oraclePath("partsupp")}'),
         |shipped AS (
         |  SELECT l_partkey, l_suppkey,
         |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS shipped_qty
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-01-01'
         |  GROUP BY l_partkey, l_suppkey),
         |q AS (
         |  SELECT ps_suppkey, COUNT(*) AS n_parts
         |  FROM ps JOIN shipped
         |    ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |  WHERE ps_partkey IN (SELECT p_partkey FROM part
         |                       WHERE p_name LIKE 'red%')
         |    AND ps_availqty > 0.5 * shipped_qty
         |  GROUP BY ps_suppkey)
         |SELECT s_name, s_acctbal, n_parts
         |FROM q JOIN supplier ON ps_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3'
         |ORDER BY s_name""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.05
        |  AND l_quantity < 24""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |  AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1
        |ORDER BY o_year""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q12_ship_delay" ->
      """SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN '0-30'
        |            WHEN datediff('day', o_orderdate, l_shipdate) <= 90 THEN '31-90'
        |            ELSE '90+' END AS delay_bucket,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1
        |ORDER BY delay_bucket""".stripMargin,
    "q14_promo_effect" ->
      """SELECT CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |                 THEN l_extendedprice * (1 - l_discount)
        |                 ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
        |       * CAST(100.0 AS DOUBLE)
        |       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |       AS promo_revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_quantity" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |aq AS (
        |  SELECT l_partkey AS ap_key,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM li GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM li JOIN aq ON l_partkey = ap_key
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  o_totalprice, sum_qty
        |FROM (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey) li
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE sum_qty > 300
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_disjunctive" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM supplier s
        |JOIN late l1 ON l1.l_suppkey = s.s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 50""".stripMargin,
    "q22_dormant_customers" ->
      """SELECT CAST(c_nationkey AS INT) AS cntry,
        |  COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey
        |ORDER BY cntry""".stripMargin)
}
