package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** General-purpose analytical query surface: joins, aggregations,
  * windows, rollups. This is the engine core every other operator
  * group builds on.
  *
  * Scale notes: fact-side shuffles happen only on join/group keys;
  * every dimension join is an explicit `broadcast()`; top-k queries
  * use orderBy+limit which Catalyst plans as TakeOrderedAndProject
  * (no global sort); every other result is an unordered relation.
  */
object Analytics {

  /** Multi-measure aggregation (TPC-H Q1 shape). Map-side partial
    * aggregation makes this shuffle only one row per (flag, status)
    * per partition regardless of input size.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Join + agg + bounded top-k (TPC-H Q3 shape). The orderBy+limit
    * is a TakeOrderedAndProject: each partition keeps 10 rows, the
    * driver merges 10×partitions rows — no global sort at 100 TB.
    */
  def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Star join through the full dimension chain (TPC-H Q5 shape).
    * region/nation/customer are broadcast; only lineitem and
    * orders shuffle, and only on the fact join keys.
    */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey")))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    Tables.lineitem(s, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
  }

  /** Conditional aggregation over a join (market-share shape). */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(ord, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice")).otherwise(lit(0.0))), 4).as("urgent_rev"),
        round(sum(col("o_totalprice")), 4).as("total_rev"),
        count(lit(1)).as("n_orders"))
  }

  /** Partitioned window top-N: 3 most expensive orders per customer.
    * The window partitions by o_custkey so state never exceeds one
    * customer's orders per task — safe at any scale.
    */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
  }

  /** Hierarchical ROLLUP region→nation of customer account balances. */
  def rollupBalances(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("c_acctbal")), 4).as("sum_bal"), count(lit(1)).as("n_cust"))

  /** Exact distinct count per group (events): distinct users per
    * event type. Spark plans this as a two-phase expand+agg — no
    * driver-side state.
    */
  def distinctUsers(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))

  /** Anti-join: customers with no URGENT order (TPC-H Q22 shape).
    * Left-anti is a build-side hash lookup — no row explosion,
    * shuffle only on the join key.
    */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  /** Semi-join: suppliers that ship any top-price line (TPC-H Q20
    * shape) — existence check without duplication.
    */
  def suppliersWithBigLines(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir)
      .join(Tables.lineitem(s, dir).filter(col("l_extendedprice") > 104500),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))

  /** Correlated-subquery shape (TPC-H Q2): parts at their minimum
    * retail price within type — decorrelated as groupBy + join back,
    * which is exactly how Catalyst rewrites the subquery.
    */
  def minPricePerType(s: SparkSession, dir: String): DataFrame = {
    val minByType = Tables.part(s, dir)
      .groupBy(col("p_type").as("mt_type"))
      .agg(min(col("p_retailprice")).as("min_price"))
    Tables.part(s, dir)
      .join(broadcast(minByType),
        col("p_type") === col("mt_type") && col("p_retailprice") === col("min_price"))
      .select(col("p_partkey"), col("p_type"), col("p_retailprice"))
  }

  /** TPC-H Q4 shape: order counts by priority where any lineitem
    * shipped >90 days after the order date (the late-commit EXISTS).
    * EXISTS(l_shipdate > o_orderdate + 90d) ⟺ max(l_shipdate) >
    * o_orderdate + 90d, so lineitem collapses to one row per order
    * FIRST (map-side combine does most of it before the shuffle) and
    * the semi join probes a 4× smaller build side. At 100 TB the same
    * rewrite shrinks the fact-fact shuffle instead of the broadcast.
    */
  def q4PriorityCount(s: SparkSession, dir: String): DataFrame = {
    val lastShip = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("max_ship"))
    Tables.orders(s, dir)
      .join(lastShip,
        col("o_orderkey") === col("l_orderkey") &&
          col("max_ship") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q7 shape: bilateral volume between two customer nations. */
  def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_3", "NATION_7"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.orders(s, dir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("cust_nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("o_totalprice")), 4).as("volume"), count(lit(1)).as("n_orders"))
  }

  /** TPC-H Q14 shape: promo revenue share — two conditional sums in
    * one pass over the joined fact.
    */
  def q14PromoShare(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg(round(
        sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0 /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_share_pct"))

  /** TPC-H Q18 shape: large orders — HAVING subquery via groupBy +
    * join back to order attributes.
    */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 4).as("total_qty"))
      .filter(col("total_qty") > 180)
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"), col("total_qty"))
  }

  /** Sliding-window time series: 7-order moving average of order
    * totals per customer — per-key window, bounded frame state.
    */
  def movingAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-6, 0)
    Tables.orders(s, dir)
      .withColumn("ma7", round(avg(col("o_totalprice")).over(w), 4))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("ma7"))
  }

  /** Running totals: cumulative revenue per customer over time. */
  def cumulative(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("cum_rev", round(sum(col("o_totalprice")).over(w), 4))
      .select(col("o_custkey"), col("o_orderkey"), col("cum_rev"))
  }

  /** Pivot: daily event counts reshaped to one column per event
    * type (fixed pivot values keep the schema deterministic).
    */
  def pivotDaily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)

  /** GROUPING SETS: region totals, nation totals, and grand total in
    * one pass (the general form rollup/cube specialize).
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(Seq(Seq(col("r_name")), Seq(col("n_name")), Seq()), col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"))

  /** Set operations: BUILDING-segment customers EXCEPT those with an
    * URGENT order, INTERSECTed against positive balances.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val positive = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 0).select(col("c_custkey"))
    building.except(urgent).intersect(positive)
  }

  /** Returned-item revenue ranking (TPC-H Q10 shape): which customers
    * returned the most revenue in a quarter. Fact-first join order —
    * lineitem filtered to returns joins date-filtered orders on the
    * shuffle key, customer joins on custkey, nation broadcast. Both
    * filters reach the parquet scans (PushedFilters); top-20 is
    * TakeOrderedAndProject after the partial-aggregated groupBy.
    */
  def q10Returns(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .join(
        Tables.orders(s, dir).filter(
          col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        round(col("c_acctbal"), 4).as("acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** Forecasting revenue change (TPC-H Q6 shape): the purest filter →
    * global agg query. Every predicate reaches the parquet scan
    * (PushedFilters on date, discount, quantity); one partial agg,
    * one row shuffled per partition.
    */
  def q6Revenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"))

  /** Customer order-count distribution (TPC-H Q13 shape): left join
    * keeps order-less customers, then aggregate twice — per-customer
    * count, then the distribution over counts (second shuffle is
    * distinct-count-sized, tiny).
    */
  def q13Custdist(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))

  /** Discounted revenue under disjunctive brand/size/quantity terms
    * (TPC-H Q19 shape) — the optimizer test: Catalyst must derive the
    * common `p_brand IN (...)` / quantity-range conjuncts from the OR
    * and push them below the join instead of filtering post-join.
    */
  def q19Disjunct(s: SparkSession, dir: String): DataFrame = {
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(16, 30) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(31, 50) && col("l_quantity").between(20, 30))
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Top supplier by quarterly revenue (TPC-H Q15 shape): argmax via
    * a scalar aggregate subquery. The revenue rollup is one partial-
    * aggregated shuffle; its 1-row max broadcasts back as a scalar
    * filter (no sort of the whole rollup), and the supplier
    * dimension joins broadcast. Revenues are rounded BEFORE the max
    * compare so the float equality is between identical doubles.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val revenue = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("max_revenue"))
    revenue
      .join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.supplier(s, dir)), col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** Small-quantity-order revenue (TPC-H Q17 shape): the classic
    * correlated-avg subquery, decorrelated into a per-part aggregate
    * joined back to the fact. The brand/type part filter broadcasts
    * and restricts lineitem FIRST, so the per-part avg aggregates
    * only the surviving ~1/150th of the fact — both sides of the
    * join-back shuffle on l_partkey (co-partitioned), and the tiny
    * avg side broadcasts.
    */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#12" && col("p_type") === "MEDIUM")
      .select(col("p_partkey")))
    val li = Tables.lineitem(s, dir)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQ = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_limit"))
    li.join(broadcast(avgQ), col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < col("qty_limit"))
      .agg(round(sum(col("l_extendedprice")) / lit(7.0), 4).as("avg_yearly"))
  }

  /** Idle high-balance customers (TPC-H Q22 shape): scalar aggregate
    * subquery (global positive-balance average, a 1-row broadcast)
    * plus an anti join against urgent orders, rolled up by nation.
    * No correlated execution — the scalar broadcasts, the anti join
    * is a build-side hash lookup.
    */
  def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 4).as("totacctbal"))
  }

  /** Important-part identification (TPC-H Q11 shape): per-part value
    * rollup HAVING value above a multiple of the average part value.
    * The threshold is scale-invariant (1.7 × avg rather than a fixed
    * share, which would empty out as the part count grows) and
    * broadcasts back as a 1-row scalar — the rollup itself is one
    * partial-aggregated shuffle on l_partkey.
    */
  def q11ValueParts(s: SparkSession, dir: String): DataFrame = {
    val pv = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("value_raw"))
    val thr = pv.agg((lit(1.7) * avg(col("value_raw"))).as("thr"))
    pv.join(broadcast(thr))
      .filter(col("value_raw") > col("thr"))
      .select(col("l_partkey"), round(col("value_raw"), 4).as("part_value"))
  }

  /** Supplier-count distribution (TPC-H Q16 shape): distinct-count
    * per part attribute group with a NOT-IN exclusion set. The
    * exclusion (negative-balance suppliers) is a broadcast anti
    * join; the distinct count is Spark's two-phase expand+agg, so
    * only (group, suppkey) pairs shuffle.
    */
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val excluded = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#12" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 3, 9, 14, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** Excess-inventory suppliers (TPC-H Q20 shape): nested semi-join
    * chain — suppliers having SOME (part, year) shipment above a
    * quantity threshold, parts restricted by a name predicate. The
    * per-(supp, part) rollup shuffles once; the surviving supplier
    * keys semi-join the dimension (build-side lookup, no fan-out).
    */
  def q20ExcessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val redParts = broadcast(Tables.part(s, dir)
      .filter(col("p_name").like("red %")).select(col("p_partkey")))
    val excess = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 55)
      .select(col("l_suppkey"))
    Tables.supplier(s, dir)
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  /** Product-line profit by nation and year (TPC-H Q9 shape): the
    * widest join tree in the suite — part (name-filtered, broadcast),
    * supplier + nation (broadcast chain), orders (fact-fact shuffle
    * on l_orderkey only). Cost proxy: 10% of retail price per unit
    * (the test schema carries no partsupp supplycost).
    */
  def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val gearParts = broadcast(Tables.part(s, dir)
      .filter(col("p_name").like("% gear"))
      .select(col("p_partkey"), col("p_retailprice")))
    Tables.lineitem(s, dir)
      .join(gearParts, col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.1) * col("p_retailprice") * col("l_quantity")), 4).as("profit"))
  }

  /** National market share (TPC-H Q8 shape): one nation's share of a
    * region's market per year — conditional numerator over the same
    * aggregated denominator, so a single groupBy computes both. All
    * dimensions broadcast (region-filtered customers, supplier →
    * nation names, type-filtered parts); the only shuffles are the
    * lineitem⋈orders fact join and the tiny per-year agg.
    */
  def q8NationShare(s: SparkSession, dir: String): DataFrame = {
    val asiaCust = broadcast(Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey")))
    val suppNation = broadcast(Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("s_nation")))
    val stdParts = broadcast(Tables.part(s, dir)
      .filter(col("p_type") === "STANDARD").select(col("p_partkey")))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(s, dir)
      .join(stdParts, col("l_partkey") === col("p_partkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("s_nation") === "NATION_5", vol).otherwise(lit(0.0))) / sum(vol),
        4).as("mkt_share"))
  }

  /** Shipment priority classes (TPC-H Q12 shape): fact join +
    * conditional counting. The date filter reaches the lineitem
    * scan; one shuffle on the order key; the rollup output is
    * class-count sized.
    */
  def q12PriorityLines(s: SparkSession, dir: String): DataFrame = {
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** Suppliers-who-kept-waiting (TPC-H Q21 shape). The reference
    * formulation is a triple correlated EXISTS/NOT-EXISTS self-join
    * on the fact — quadratic if planned naively. Decorrelated here
    * (and in the oracle) into ONE per-order aggregate: a supplier is
    * the culprit iff the order has ≥2 distinct suppliers and exactly
    * one supplier with a returned line. One shuffle on l_orderkey,
    * a broadcast supplier join, and a TakeOrderedAndProject top-10 —
    * the plan that survives 100 TB where the self-join would not.
    */
  def q21WaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    // Two-level aggregate instead of two countDistincts (r11): the
    // multi-distinct form planned an Expand (3x the lineitem rows)
    // feeding TWO exchanges (16.5 + 12 MB at sf0.1). Level 1 collapses
    // to (order, supplier, any-R) and level 2 counts those rows — both
    // levels ride ONE order-keyed exchange, because hash(l_orderkey)
    // co-locates every (l_orderkey, l_suppkey) group too (guide §2.4
    // shared exchange; §2.3 fewer bytes — no Expand at any scale).
    // countDistinct(supp) = count of level-1 rows; countDistinct(R-supp)
    // = count of has_r rows; min(R-supp) = min over has_r rows. The
    // explicit session width keeps AQE from coalescing the exchange,
    // which it would do to a count-less repartition(cols).
    val perOrder = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_returnflag") === "R").as("has_r"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("has_r"), 1L).otherwise(0L)).as("n_r_supp"),
        min(when(col("has_r"), col("l_suppkey"))).as("culprit"))
      .filter(col("n_supp") >= 2 && col("n_r_supp") === 1)
    perOrder
      .join(broadcast(Tables.supplier(s, dir)), col("culprit") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  /** Per-nation balance quartiles — the bucketed-ranking window shape
    * (equi-depth histograms, percentile bands). Ties break on the key
    * so bucket assignment is deterministic in both engines. Output is
    * the quartile summary (nation × 4 rows).
    *
    * Scale (r10): 25 nations over all customers is the same
    * corpus-sized-window-partition class as corpus_ppl_buckets, so
    * the quartile assignment rides [[ScaleNtile.bucketed]] — exact
    * rank-ntile while a nation's customers fit one sort task (the
    * oracle-parity branch), per-nation approx_percentile cutpoints
    * above. Branch choice runs one count job at construction.
    */
  def ntileBalance(s: SparkSession, dir: String): DataFrame = {
    ScaleNtile.bucketed(Tables.customer(s, dir),
        partCol = "c_nationkey", orderCol = "c_acctbal",
        tieCol = "c_custkey", buckets = 4, desc = false,
        decisionCounts = Tables.customer(s, dir).select(col("c_nationkey")))
      .withColumnRenamed("bucket_id", "quartile")
      .groupBy(col("c_nationkey"), col("quartile"))
      .agg(count(lit(1)).as("n_cust"),
        round(min(col("c_acctbal")), 4).as("lo_bal"),
        round(max(col("c_acctbal")), 4).as("hi_bal"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ntile_balance" -> ntileBalance,
    "q12_priority_lines" -> q12PriorityLines,
    "q21_waiting_supplier" -> q21WaitingSupplier,
    "q17_small_qty" -> q17SmallQty,
    "q22_idle_balance" -> q22IdleBalance,
    "q11_value_parts" -> q11ValueParts,
    "q16_supplier_cnt" -> q16SupplierCnt,
    "q20_excess_suppliers" -> q20ExcessSuppliers,
    "q9_profit" -> q9Profit,
    "q8_nation_share" -> q8NationShare,
    "q15_top_supplier" -> q15TopSupplier,
    "q6_revenue" -> q6Revenue,
    "q13_custdist" -> q13Custdist,
    "q19_disjunct" -> q19Disjunct,
    "q10_returns" -> q10Returns,
    "q_pivot" -> pivotDaily,
    "q_grouping_sets" -> groupingSets,
    "q_set_ops" -> setOps,
    "q_moving_avg" -> movingAvg,
    "q_cumulative" -> cumulative,
    "q4_priority_count" -> q4PriorityCount,
    "q7_nation_volume" -> q7NationVolume,
    "q14_promo_share" -> q14PromoShare,
    "q18_large_orders" -> q18LargeOrders,
    "q_anti_join" -> customersWithoutOrders,
    "q_semi_join" -> suppliersWithBigLines,
    "q_min_per_group" -> minPricePerType,
    "q1_pricing_summary" -> q1PricingSummary,
    "q3_top_orders" -> q3TopOrders,
    "q5_region_revenue" -> q5RegionRevenue,
    "q_market_share" -> marketShare,
    "q_window_rank" -> windowRank,
    "q_rollup" -> rollupBalances,
    "q_distinct_users" -> distinctUsers)

  val oracleSql: Map[String, String] = Map(
    "q_ntile_balance" ->
      """SELECT c_nationkey, quartile, count(*) AS n_cust,
        |  round(min(c_acctbal), 4) AS lo_bal, round(max(c_acctbal), 4) AS hi_bal
        |FROM (
        |  SELECT c_nationkey, c_acctbal,
        |    ntile(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS quartile
        |  FROM customer) t
        |GROUP BY c_nationkey, quartile ORDER BY c_nationkey, quartile""".stripMargin,
    "q12_priority_lines" ->
      """SELECT l_returnflag AS ship_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |GROUP BY l_returnflag ORDER BY ship_class""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH per_order AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_r_supp,
        |    min(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS culprit
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM per_order JOIN supplier ON s_suppkey = culprit
        |WHERE n_supp >= 2 AND n_r_supp = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,
    "q17_small_qty" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#12' AND p_type = 'MEDIUM'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q22_idle_balance" ->
      """SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 4) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q11_value_parts" ->
      """WITH pv AS (
        |  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS value_raw
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, round(value_raw, 4) AS part_value
        |FROM pv WHERE value_raw > (SELECT 1.7 * avg(value_raw) FROM pv)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#12' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 3, 9, 14, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_excess_suppliers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'red %'
        |    AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
        |  GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 55)
        |ORDER BY s_suppkey""".stripMargin,
    "q9_profit" ->
      """SELECT n_name, year(o_orderdate) AS o_year,
        |  round(sum(l_extendedprice * (1 - l_discount)
        |            - 0.1 * p_retailprice * l_quantity), 4) AS profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '% gear'
        |GROUP BY n_name, o_year ORDER BY n_name, o_year""".stripMargin,
    "q8_nation_share" ->
      """SELECT o_year, round(
        |    sum(CASE WHEN s_nation = 'NATION_5' THEN vol ELSE 0.0 END) / sum(vol),
        |    4) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS vol, sn.n_name AS s_nation
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |    AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q6_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q19_disjunct" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 31 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  round(c_acctbal, 4) AS acctbal, n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= DATE '1995-10-01' AND o_orderdate < DATE '1996-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_pivot" ->
      """SELECT cast(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q_grouping_sets" ->
      """SELECT r_name, n_name, count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name), ())
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q_set_ops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | EXCEPT
        | SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |ORDER BY c_custkey""".stripMargin,
    "q_moving_avg" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q_cumulative" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_rev
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q4_priority_count" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q7_nation_volume" ->
      """SELECT cust_nation, o_year, round(sum(o_totalprice), 4) AS volume, count(*) AS n_orders FROM (
        |  SELECT n_name AS cust_nation, year(o_orderdate) AS o_year, o_totalprice
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_7')) t
        |GROUP BY cust_nation, o_year ORDER BY cust_nation, o_year""".stripMargin,
    "q14_promo_share" ->
      """SELECT round(
        |  sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0 /
        |  sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
    "q18_large_orders" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate, total_qty FROM orders
        |JOIN (SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING round(sum(l_quantity), 4) > 180) big
        |  ON o_orderkey = big.l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_extendedprice > 104500)
        |ORDER BY s_suppkey""".stripMargin,
    "q_min_per_group" ->
      """SELECT p_partkey, p_type, p_retailprice FROM part
        |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_type = part.p_type)
        |ORDER BY p_partkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC""".stripMargin,
    "q_market_share" ->
      """SELECT n_name,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END), 4) AS urgent_rev,
        |  round(sum(o_totalprice), 4) AS total_rev,
        |  count(*) AS n_orders
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin,
    "q_rollup" ->
      """SELECT r_name, n_name,
        |  round(sum(c_acctbal), 4) AS sum_bal, count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q_distinct_users" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
}
