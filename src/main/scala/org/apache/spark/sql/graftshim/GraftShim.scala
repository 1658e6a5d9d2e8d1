package org.apache.spark.sql.graftshim

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge into Spark's `private[sql] Dataset.ofRows` so library code
  * can materialize a DataFrame from a custom LogicalPlan — the
  * standard technique of Spark-native extension libraries (compare
  * the public Pathling/Sedona strategy-injection shims). Lives under
  * org.apache.spark.sql solely for access scope; everything else in
  * this library stays in the graft namespace.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Drain the async listener bus (`private[spark]` access), so a
    * task-metrics listener has observed every task of the job that
    * just returned — Bench snapshots summed executorRunTime/CpuTime
    * around each query and listener events are delivered
    * asynchronously.
    */
  def flushListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A stage's operator scopes (`private[spark]` RDDOperationScope
    * names such as `Scan parquet`, `WholeStageCodegen (3)`,
    * `Exchange`), in the creation order of its RDDs, each once. */
  def stageScopes(stage: StageInfo): Seq[String] =
    stage.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
