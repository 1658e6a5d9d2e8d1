package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** Planner-strategy registration shared by graft's operators. */
trait GraftStrategy extends SparkStrategy {
  /** The ONE fallback registration path (shared by operators and
    * tests) for sessions built without
    * `spark.sql.extensions=graft.GraftExtensions` — the documented
    * entry point, which injects the strategy at session build time.
    * Checks the planner's effective strategy list (covers both the
    * extension injection and a prior fallback), so it is idempotent
    * and the two paths cannot drift.
    */
  def ensureRegistered(s: SparkSession): Unit =
    if (!s.sessionState.planner.strategies.contains(this))
      s.experimental.extraStrategies = this +: s.experimental.extraStrategies
}
