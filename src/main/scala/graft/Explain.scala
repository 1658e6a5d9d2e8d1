package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}

/** Plan-audit utility: prints the formatted physical plan for the
  * named queries (or all, with no args past the sf dir), then one
  * closing line `root_global_sorts=N root_limits=M of Q queries`.
  * Usage:
  *   runMain graft.Explain <sfDir> [query ...]
  * Used to verify the plan-shape invariants SURVEY §4 claims:
  * PushedFilters on scans, broadcast dim joins, partial aggregation,
  * TakeOrderedAndProject for top-k, no cartesian products, and no
  * presentation sort at a result's root (SURVEY §5).
  */
object Explain {

  /** The optimized logical plan's root with `Project`s stripped: the
    * last operator that shapes the result. Reads the plan only. */
  def root(df: DataFrame): LogicalPlan = {
    var p = df.queryExecution.optimizedPlan
    while (p.isInstanceOf[Project]) p = p.children.head
    p
  }

  def isGlobalSort(p: LogicalPlan): Boolean = p match {
    case s: Sort => s.global
    case _ => false
  }

  def isLimit(p: LogicalPlan): Boolean = p.isInstanceOf[GlobalLimit] || p.isInstanceOf[LocalLimit]

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val roots = names.map { n =>
      println(s"==== $n ====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      root(df)
    }
    println(s"root_global_sorts=${roots.count(isGlobalSort)} root_limits=${roots.count(isLimit)} " +
      s"of ${roots.size} queries")
    spark.stop()
  }
}
