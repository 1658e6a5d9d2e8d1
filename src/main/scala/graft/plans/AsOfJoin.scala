package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** AS-OF join as a first-class Catalyst operator — the whole-operator
  * extension tier (custom LogicalPlan + Strategy + SparkPlan wired
  * through SparkSessionExtensions), for the semantics the built-in
  * join operators can't express directly: "for each probe row, the
  * single most recent build row at or before its timestamp".
  *
  * Reference behavior: the temporal lookup the registry evaluates
  * when resolving "what was subject X's schema as of time T"
  * (version history navigation, registry.go:538/:495) — expressed as
  * a streaming merge rather than an inequality self-join.
  *
  * Physical shape: both children hash-cluster on the join key and
  * sort by (key, time) — the same distribution/ordering contract as
  * SortMergeJoin, so EnsureRequirements inserts exactly one shuffle
  * per side and co-partitions them. Each task then runs a single
  * forward merge with O(1) state (the last qualifying build row):
  * no row explosion, no per-key buffering, no window state. At
  * 100 TB this is the cheapest possible as-of plan: two shuffles
  * (none if both sides are already bucketed by key), zero skew
  * amplification because hot keys still stream.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression]) extends BinaryNode {

  // The exec derives its key/time orderings from the LEFT side's
  // types (AsOfJoinExec.doExecute), so a probe/build type mismatch
  // (e.g. int key vs bigint key) would silently mis-compare or throw
  // ClassCastException mid-task. Fail at plan construction instead.
  require(leftKey.dataType.catalogString == rightKey.dataType.catalogString,
    s"AsOfJoin key types must match: ${leftKey.dataType.catalogString} vs " +
      s"${rightKey.dataType.catalogString}")
  require(leftTime.dataType.catalogString == rightTime.dataType.catalogString,
    s"AsOfJoin time types must match: ${leftTime.dataType.catalogString} vs " +
      s"${rightTime.dataType.catalogString}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: AsOfJoin → AsOfJoinExec. Injected via
  * [[graft.GraftExtensions]] (injectPlannerStrategy).
  */
object AsOfJoinStrategy extends GraftStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Same contract as SortMergeJoin: cluster both sides on the key …
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // … and sort within partitions by (key, time[, tiebreak]) so the
  // merge below sees both sides in lockstep. The build-side tiebreak
  // makes "latest" deterministic among equal timestamps.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    (Seq(rightKey, rightTime) ++ rightTiebreak).map(SortOrder(_, Ascending)))

  protected override def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val outputAttrs = output
    val nRightCols = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new GenericInternalRow(nRightCols)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outputAttrs, outputAttrs)
      var rCur: InternalRow = if (rIter.hasNext) rIter.next() else null
      // O(1) state: the last build row whose (key, time) qualifies.
      var bufKey: Any = null
      var bufRow: InternalRow = null
      lIter.map { lRow =>
        val k = lKeyB.eval(lRow)
        val t = lTimeB.eval(lRow)
        // SQL join semantics: a null probe key or time matches
        // nothing; null build keys are skipped (sorted first,
        // discarded below). Build-side null times sort first and can
        // never exceed a non-null probe time comparison guard.
        var scanning = k != null && t != null && rCur != null
        while (scanning) {
          val rk = rKeyB.eval(rCur)
          val kc = if (rk == null) -1 else keyOrd.compare(rk, k)
          lazy val rt = if (kc == 0) rTimeB.eval(rCur) else null
          if (kc < 0 || (kc == 0 && rt == null)) {
            // keys the probe moved past, or null build times (sorted
            // first under Ascending, can never qualify) — discard
            rCur = if (rIter.hasNext) rIter.next() else null
            scanning = rCur != null
          } else if (kc == 0 && timeOrd.compare(rt, t) <= 0) {
            // qualifying row; later qualifying rows overwrite, so the
            // buffered one is always the max (time, tiebreak) ≤ t.
            // bufKey must be re-evaluated from the COPIED row: `rk`
            // may alias the sort iterator's reused row buffer (e.g.
            // UTF8String keys) and would mutate when rCur advances.
            bufRow = rCur.copy()
            bufKey = rKeyB.eval(bufRow)
            rCur = if (rIter.hasNext) rIter.next() else null
            scanning = rCur != null
          } else {
            scanning = false
          }
        }
        val matched = k != null && t != null && bufRow != null && keyOrd.compare(bufKey, k) == 0
        project(joined(lRow, if (matched) bufRow else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
