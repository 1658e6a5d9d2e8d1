package graft

import graft.operators.Analytics

class AnalyticsSpec extends SparkSpec {

  test("q1 pricing summary aggregates by flag/status") {
    val rows = Analytics.q1PricingSummary(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val filtered = Tables.lineitem(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.lit("1998-09-02").cast("timestamp")).count()
    assert(total == filtered)
  }

  test("q3 returns at most 10 orders sorted by revenue desc") {
    val rows = Analytics.q3TopOrders(spark, sfDir).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("q5 revenue grouped by nation in ASIA") {
    val rows = Analytics.q5RegionRevenue(spark, sfDir).collect()
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
  }

  test("window rank keeps at most 3 orders per customer") {
    val df = Analytics.windowRank(spark, sfDir)
    val maxPerCust = df.groupBy("o_custkey").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxPerCust <= 3)
  }

  test("rollup contains grand total row") {
    val rows = Analytics.rollupBalances(spark, sfDir).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val total = Tables.customer(spark, sfDir).count()
    assert(grand.head.getAs[Long]("n_cust") == total)
  }

  test("all queries have matching oracle keys and column parity contract") {
    assert(Analytics.oracleSql.keySet == Analytics.queries.keySet)
  }

  test("q6 global revenue agg is one positive number consistent with a manual filter") {
    import org.apache.spark.sql.functions._
    val rev = Analytics.q6Revenue(spark, sfDir).head().getAs[Double]("revenue")
    assert(rev > 0)
    val manual = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice") * col("l_discount"))).head().getDouble(0)
    assert(math.abs(rev - manual) < 1e-3)
  }

  test("q13 distribution covers every customer exactly once") {
    val rows = Analytics.q13Custdist(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("custdist")).sum
    assert(total == Tables.customer(spark, sfDir).count())
    val counts = rows.map(_.getAs[Long]("c_count"))
    assert(counts.distinct.length == counts.length, "distribution keys must be unique")
  }

  test("q19 disjunctive filter derives pushed per-side conjuncts") {
    val plan = Analytics.q19Disjunct(spark, sfDir)
      .queryExecution.executedPlan.toString
    // both scans must carry a pushed Or-filter (brand/size on part,
    // quantity ranges on lineitem) — not a single post-join Filter
    assert(plan.contains("PushedFilters: [IsNotNull(p_partkey), Or("), "part side not pushed")
    assert(plan.contains("PushedFilters: [IsNotNull(l_partkey), Or("), "lineitem side not pushed")
    assert(Analytics.q19Disjunct(spark, sfDir).head().getAs[Long]("n_lines") > 0)
  }

  test("q15 picks exactly the supplier(s) with the maximum quarterly revenue") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.q15TopSupplier(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val top = rows.map(_.getAs[Double]("total_revenue")).distinct
    assert(top.length == 1, "all returned rows must share the max revenue")
    // no supplier in the quarter out-earns the reported max
    val better = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("r"))
      .filter(col("r") > top.head + 0.001).count()
    assert(better == 0)
  }

  test("q17 returns one positive yearly-average row") {
    val rows = Analytics.q17SmallQty(spark, sfDir).collect()
    assert(rows.length == 1 && rows.head.getAs[Double]("avg_yearly") > 0)
  }

  test("q22 counts only customers above the positive-balance average") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.q22IdleBalance(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val avgBal = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 0).agg(avg(col("c_acctbal"))).head().getDouble(0)
    // every contributing group's average balance must exceed the cutoff
    rows.foreach { r =>
      assert(r.getAs[Double]("totacctbal") / r.getAs[Long]("numcust") > avgBal)
    }
  }

  test("q11 keeps only parts above 1.7x the average part value") {
    val rows = Analytics.q11ValueParts(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // brute-force the HAVING on the driver: every part above 1.7 x the
    // average part value, each with its rounded value
    val pv = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_extendedprice", "l_discount").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => r.getDouble(1) * (1 - r.getDouble(2))).sum).toMap
    val thr = 1.7 * pv.values.sum / pv.size
    val got = rows.map(r => r.getAs[Long]("l_partkey") -> r.getAs[Double]("part_value")).toMap
    assert(got.size == rows.length, "one row per part")
    assert(got.keySet == pv.collect { case (k, v) if v > thr => k }.toSet)
    got.foreach { case (k, v) => assert(math.abs(v - pv(k)) < 1e-3, s"part $k: $v vs ${pv(k)}") }
  }

  test("q16 excludes negative-balance suppliers from the distinct counts") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.q16SupplierCnt(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val excluded = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).count()
    val total = Tables.supplier(spark, sfDir).count()
    assert(rows.forall(_.getAs[Long]("supplier_cnt") <= total - excluded))
  }

  test("q20 suppliers each shipped >55 units of some red part in 1997") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.q20ExcessSuppliers(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(_.getAs[Long]("s_suppkey")).toSet
    val witness = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir).filter(col("p_name").like("red %")),
        col("l_partkey") === col("p_partkey"))
      .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("q")).filter(col("q") > 55)
      .select("l_suppkey").distinct().collect().map(_.getLong(0)).toSet
    assert(keys == witness)
  }

  test("q9 and q8 broadcast every dimension — no cartesian, fact joins only") {
    for (df <- Seq(Analytics.q9Profit(spark, sfDir), Analytics.q8NationShare(spark, sfDir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), "cartesian in plan")
      assert(plan.contains("BroadcastHashJoin"), "dimensions must broadcast")
    }
    val shares = Analytics.q8NationShare(spark, sfDir).collect()
      .map(_.getAs[Double]("mkt_share"))
    assert(shares.nonEmpty && shares.forall(x => x >= 0 && x <= 1))
  }

  test("q12 line counts partition the filtered fact exactly") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.q12PriorityLines(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count")).sum
    val expected = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01").count()
    assert(total == expected)
  }

  test("q21 culprits: sole returning supplier on multi-supplier orders, no self-join") {
    val df = Analytics.q21WaitingSupplier(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // decorrelated: exactly one scan of lineitem in the plan
    assert("lineitem".r.findAllIn(plan).size <= 2, "fact scanned more than once")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val waits = rows.map(_.getAs[Long]("numwait"))
    assert(waits.sameElements(waits.sorted(Ordering[Long].reverse)))
  }

  test("q10 returns at most 20 customers ranked by returned revenue") {
    val rows = Analytics.q10Returns(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.forall(_ > 0))
    assert(revs.sameElements(revs.sorted(Ordering[Double].reverse)), "not sorted desc")
    // every ranked customer genuinely has R-flag lineitems in the window
    val custkeys = rows.map(_.getAs[Long]("c_custkey")).toSet
    assert(custkeys.size == rows.length, "duplicate customers in ranking")
  }

  test("q4 max-shipdate pre-agg matches the naive EXISTS semi join") {
    import org.apache.spark.sql.functions._
    val rewritten = Analytics.q4PriorityCount(spark, sfDir).collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Long]("order_count"))).toMap
    val naive = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("order_count"))
      .collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Long]("order_count"))).toMap
    assert(rewritten == naive)
  }

  test("ntile quartiles: per-nation buckets balanced within one, ranges ordered") {
    val rows = Analytics.ntileBalance(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_cust")).sum == Tables.customer(spark, sfDir).count())
    rows.groupBy(_.getAs[Int]("c_nationkey")).values.foreach { qs =>
      val counts = qs.map(_.getAs[Long]("n_cust"))
      assert(counts.max - counts.min <= 1, "ntile buckets must differ by at most 1")
      val sorted = qs.sortBy(_.getAs[Int]("quartile"))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getAs[Double]("hi_bal") <= b.getAs[Double]("lo_bal") + 1e-9)
        case _ =>
      }
    }
  }
}
