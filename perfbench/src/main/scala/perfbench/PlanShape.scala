package perfbench

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Plan-shape counters of one executed physical plan. Read after
  * execution, so an adaptive plan is its final form. Exchanges reused
  * from another part of the plan are not counted again.
  */
object PlanShape {
  def count(plan: SparkPlan): Map[String, Int] = {
    val all = nodes(plan)
    def n(pf: PartialFunction[SparkPlan, Boolean]): Int = all.count(pf.applyOrElse(_, (_: SparkPlan) => false))
    Map(
      "exchanges" -> n { case _: ShuffleExchangeExec => true },
      "broadcasts" -> n { case _: BroadcastExchangeExec => true },
      "smj" -> n { case _: SortMergeJoinExec => true },
      "root_range_sorts" -> (if (rootRangeSort(plan)) 1 else 0),
      "spread_exchanges" -> n { case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] },
      "checkpoint_scans" -> n { case _: RDDScanExec => true },
      "codegen_stages" -> n { case _: WholeStageCodegenExec => true })
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  /** Strips the nodes that only wrap or re-project their single child. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case s: QueryStageExec => unwrap(s.plan)
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case r: AQEShuffleReadExec => unwrap(r.child)
    case pr: ProjectExec => unwrap(pr.child)
    case other => other
  }

  /** The plan ends in a global sort over a range-partitioning exchange. */
  private def rootRangeSort(plan: SparkPlan): Boolean = unwrap(plan) match {
    case s: SortExec if s.global => unwrap(s.child) match {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    case _ => false
  }
}
