package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Logical as-of join — the Catalyst node behind
  * `graft.operators.AsOfJoin`, the engine's one as-of operator (SURVEY
  * §2B E5/E19). [[GraftStrategy]], registered through
  * `SparkSessionExtensions.injectPlannerStrategy`
  * (graft.functions.GraftExtensions), plans it onto the streamed
  * sorted-merge [[AsOfJoinExec]].
  *
  * Semantics: for every left row, the single right row with the same
  * key and the latest rightTime <= leftTime (backward) or the earliest
  * rightTime >= leftTime (forward); no qualifying right row => null
  * right side (left-outer shape). NULL keys and NULL timestamps never
  * match (SQL comparison semantics, matching DuckDB's ASOF JOIN).
  * Ties on (key, rightTime) resolve to the row with the largest
  * orderable payload, in both directions.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    forward: Boolean) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    s"as-of join needs matching key lists, got ${leftKeys.size}/${rightKeys.size}")
  require(leftKeys.zip(rightKeys).forall { case (a, b) => a.dataType == b.dataType },
    "as-of join key types must match pairwise")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types must match, got ${leftTime.dataType} vs ${rightTime.dataType}")

  // right side is outer: a left row with no qualifying right row keeps
  // nulls in every right column
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] onto [[AsOfJoinExec]] — the engine's
  * `SparkStrategy` extension point. Everything else falls through to
  * Spark's built-in strategies (`Nil`).
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd) :: Nil
    case _ => Nil
  }
}
