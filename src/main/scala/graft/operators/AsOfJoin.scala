package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.PlanBridge

import graft.plans.AsOfJoinPlan

/** As-of join: each left row picks up the most recent right row for its key
  * with rightTs <= leftTs (the canonical time-series enrichment operator —
  * trades→quotes, events→latest-state).
  *
  * Spark has no as-of join, so graft plans its own Catalyst operator:
  * [[AsOfJoinPlan]] → `AsOfJoinStrategy` → `AsOfJoinExec`, a
  * per-partition streaming merge behind one hash exchange and sort per
  * side (see plans/AsOfJoinPlan for the semantics and the plan shape).
  * The strategy ships in `GraftExtensions`, which `GraftSession.local`
  * installs. The naive theta-join (l.ts >= r.ts) + top-1-per-pair
  * explodes to |left| x |right-rows-per-key| before pruning; it is only
  * the oracle's formulation (the DuckDB oracle for q34 is written that
  * way).
  *
  * Determinism: equal-ts right rows resolve to the largest tieCol; a right
  * row at exactly leftTs matches ("<=" semantics). The whole right payload
  * comes from one right row, even when payload values are null.
  *
  * The two keys, and the two timestamps, are compared in their common
  * type — the type a union of the two columns would give them (an int
  * key against a long one compares as long; a TIMESTAMP_NTZ against a
  * TIMESTAMP reads as local time in the session time zone).
  */
object AsOfJoin {

  /** @param payload right-side columns to attach to left rows (all null
    *                when no right row at-or-before the left timestamp). */
  def asOf(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTs: String, rightTs: String, tieCol: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(payload.forall(!leftCols.contains(_)),
      s"payload columns ${payload.filter(leftCols.contains)} collide with left columns; alias them first")
    val spark = left.sparkSession
    val common = left.select(col(leftKey).as("k"), col(leftTs).as("t"))
      .unionByName(right.select(col(rightKey).as("k"), col(rightTs).as("t")))
      .schema.map(_.dataType)
    val zone = Some(spark.conf.get("spark.sql.session.timeZone"))
    val lPlan = PlanBridge.analyzed(left)
    // self-join safety: re-alias the right side when attribute ids overlap
    // with the left (BindReferences would otherwise bind ambiguously)
    val rightPlan0 = PlanBridge.analyzed(right)
    val rPlan =
      if (rightPlan0.outputSet.intersect(lPlan.outputSet).isEmpty) rightPlan0
      else PlanBridge.analyzed(right.select(right.columns.map(c => col(c).as(c)): _*))
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"column '$name' not found among ${plan.output.map(_.name)}"))
    def typed(plan: LogicalPlan, name: String, i: Int): Expression = {
      val a = attr(plan, name)
      if (a.dataType == common(i)) a else Cast(a, common(i), zone)
    }
    PlanBridge.ofRows(spark, AsOfJoinPlan(
      typed(lPlan, leftKey, 0), typed(rPlan, rightKey, 0),
      typed(lPlan, leftTs, 1), typed(rPlan, rightTs, 1),
      attr(rPlan, tieCol), payload.map(attr(rPlan, _)),
      lPlan, rPlan))
  }
}
