package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftSqlBridge

import graft.plans.AsOfJoinPlan

/** As-of join — for each left row, the latest right row with
  * `rightTime <= leftTime` (direction "backward", the default), or the
  * earliest right row with `rightTime >= leftTime` ("forward"), within
  * the same key (the canonical time-series enrichment operator; Spark
  * has no built-in). Output: every left column, then one
  * `asof_<payload>` column per right payload column, all taken from the
  * same matching right row (NULL payload values included); a left row
  * with no match keeps nulls there (left-outer shape).
  *
  * Built as a first-class Catalyst operator: [[graft.plans.AsOfJoinPlan]]
  * planned by graft.plans.GraftStrategy onto
  * [[graft.plans.AsOfJoinExec]]'s streamed sorted-merge — one hash
  * exchange and one spillable sort per side, one buffered right row,
  * never the per-key cross product a naive `l.ts >= r.ts` join
  * materializes. Requires the session to carry
  * `graft.functions.GraftExtensions` (which injects the strategy; every
  * `graft.GraftSession` does).
  *
  * NULL semantics are SQL comparison semantics, = DuckDB's ASOF JOIN: a
  * NULL key or a NULL timestamp on either side never matches. Ties on
  * (key, rightTime) resolve to the row with the largest orderable
  * payload, the same row in both directions.
  */
object AsOfJoin {

  /** @param rightPayload right-side columns to carry (renamed as given)
    * @param direction "backward" (latest right ≤ left) or "forward"
    *                  (earliest right ≥ left)
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val spark = left.sparkSession
    val rCols = (key +: rightTime +: rightPayload).distinct
    val rNarrow = right.select(rCols.map(col): _*)

    val lPlan = GraftSqlBridge.analyzed(left)
    val rPlan0 = GraftSqlBridge.analyzed(rNarrow)
    // re-alias the whole right side to FRESH exprIds with reserved
    // names: makes self-joins (left and right scanning the same source)
    // unambiguous without relying on analyzer dedup of a node type it
    // doesn't know, and keeps right columns from colliding with left's
    val rPlan = Project(
      rPlan0.output.map(a => Alias(a, s"_asof_r_${a.name}")()), rPlan0)

    def attr(plan: Seq[Attribute], name: String): Attribute =
      plan.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))

    val plan = AsOfJoinPlan(
      lPlan, rPlan,
      leftKeys = Seq(attr(lPlan.output, key)),
      rightKeys = Seq(attr(rPlan.output, s"_asof_r_$key")),
      leftTime = attr(lPlan.output, leftTime),
      rightTime = attr(rPlan.output, s"_asof_r_$rightTime"),
      forward = direction == "forward")

    val lCols: Seq[Column] = left.columns.toIndexedSeq.map(col)
    val pCols: Seq[Column] =
      rightPayload.map(c => col(s"_asof_r_$c").as(s"asof_$c"))
    GraftSqlBridge.ofRows(spark, plan).select(lCols ++ pCols: _*)
  }
}
