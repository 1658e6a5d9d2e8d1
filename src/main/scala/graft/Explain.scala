package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.LogicalRDD

/** Plan-audit utility: prints the formatted physical plan for the
  * named queries (or all, with no args past the sf dir), then one
  * closing line `root_global_sorts=N root_limits=M checkpoint_scans=C
  * of Q queries`, C counting the `LogicalRDD` leaves (checkpoint
  * scans) of the optimized plans.
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

  /** The checkpoint scans of `df`'s optimized plan. Reads the plan only. */
  def checkpointScans(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectLeaves().count(_.isInstanceOf[LogicalRDD])

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dfs = names.map { n =>
      println(s"==== $n ====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      df
    }
    val roots = dfs.map(root)
    println(s"root_global_sorts=${roots.count(isGlobalSort)} root_limits=${roots.count(isLimit)} " +
      s"checkpoint_scans=${dfs.map(checkpointScans).sum} of ${roots.size} queries")
    spark.stop()
  }
}
