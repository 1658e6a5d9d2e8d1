package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Every node of an executed plan, through AQE's final plan and its query stages. */
  protected def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.flatMap(nodes)
  })

  /** The sum of a closure-operator metric over an executed plan (`rounds`: 0 = the broadcast BFS). */
  protected def closureMetric(df: org.apache.spark.sql.DataFrame, name: String): Long =
    nodes(df.queryExecution.executedPlan).collect {
      case c: graft.plans.TransitiveClosureExec => c.metrics(name).value
    }.sum
}

object SparkSpec {
  // Delta against GraftSession: temp warehouse; no extension, so specs hit the ensureRegistered fallback.
  lazy val session: SparkSession = GraftSession.local(4, Map(
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft-wh").toString,
    "spark.sql.extensions" -> ""))
}
