package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The as-of join behind `operators.AsOfJoin.asOf`, as a first-class
  * Catalyst citizen — the (c) extension tier from SURVEY §0: custom
  * LogicalPlan → SparkStrategy → SparkPlan.
  *
  * What it buys over composing built-ins (a union of both sides plus a
  * last-non-null window):
  *  - no union materialization: left rows never widen to carry null
  *    payload slots through the sort, right rows never carry null left
  *    columns — the shuffle moves each side's own schema only;
  *  - the per-partition "carry the last right row forward" is a true
  *    single-pass streaming merge with O(1) state (one candidate payload),
  *    instead of a window frame the optimizer must prove unbounded-
  *    preceding;
  *  - Spark still owns distribution + ordering: the exec declares
  *    ClusteredDistribution on the keys and per-partition (key, ts)
  *    ordering, and EnsureRequirements inserts the exchanges/sorts exactly
  *    like it would for a SortMergeJoin — at 100 TB the plan is one hash
  *    exchange per side + in-partition sort, identical shuffle volume to
  *    the composed form minus the null padding.
  *
  * Semantics (AsOfJoinPlanSpec pins them against the composed form):
  * each left row picks up the payload of the latest right row with the
  * same key and rightTs <= leftTs; equal-ts right rows resolve to the
  * largest tie value; left rows with no qualifying right row (or a null
  * left timestamp) get all-null payload; null-ts right rows are dropped
  * up front; null keys group together (window-partition semantics, not
  * SQL-join null semantics). The two keys share one type, and so do the
  * two timestamps: the entry casts each pair to its common type, so
  * equal keys hash to one partition.
  */
case class AsOfJoinPlan(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    tie: Expression,
    payload: Seq[NamedExpression],
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.toAttribute.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; a no-op for everything
  * else. Injected by [[GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKey, p.rightKey, p.leftTs, p.rightTs, p.tie,
        p.payload, planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

/** Streaming-merge as-of join executor. Children arrive hash-clustered on
  * their key and sorted by (key, ts[, tie]) — declared below, enforced by
  * EnsureRequirements — so each partition is a one-pass merge holding a
  * single candidate payload row. */
case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    tie: Expression, payload: Seq[NamedExpression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.toAttribute.withNullability(true))

  // left rows pass through untouched (payload appends on the right), so
  // the left child's partitioning and ordering survive for downstream use
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(tie, Ascending)))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val payloadExprs = payload
    val outAttrs = output
    val lOut = left.output
    val rOut = right.output
    val lKeyE = leftKey; val lTsE = leftTs
    val rKeyE = rightKey; val rTsE = rightTs
    val keyType = leftKey.dataType
    val tsType = leftTs.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      // nulls-first comparison, matching the SortOrder the children honored
      def cmp(ord: Ordering[Any], a: Any, b: Any): Int =
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else ord.compare(a, b)
      val lKeyB = BindReferences.bindReference(lKeyE, lOut)
      val lTsB = BindReferences.bindReference(lTsE, lOut)
      val rKeyB = BindReferences.bindReference(rKeyE, rOut)
      val rTsB = BindReferences.bindReference(rTsE, rOut)
      val payloadProj = UnsafeProjection.create(payloadExprs, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullPayload = InternalRow.fromSeq(Seq.fill(payloadExprs.size)(null))
      val joined = new JoinedRow
      var rRow: InternalRow = null      // right lookahead, not yet consumed
      var cand: InternalRow = null      // latest qualifying payload (copied)
      var candKey: Any = null
      lIter.map { l =>
        val lk = lKeyB.eval(l)
        val lt = lTsB.eval(l)
        if (cand != null && cmp(keyOrd, candKey, lk) != 0) cand = null
        var advance = true
        while (advance) {
          if (rRow == null && rIter.hasNext) rRow = rIter.next()
          if (rRow == null) advance = false
          else {
            val rk = rKeyB.eval(rRow)
            val c = cmp(keyOrd, rk, lk)
            if (c < 0) rRow = null // right key exhausted before this left key
            else if (c > 0) advance = false
            else {
              val rt = rTsB.eval(rRow)
              if (rt == null) rRow = null // dropped by contract
              else if (lt != null && cmp(tsOrd, rt, lt) <= 0) {
                cand = payloadProj(rRow).copy()
                // deep-copy: for non-primitive keys eval returns a view into
                // the iterator's reused row buffer
                candKey = InternalRow.copyValue(rk)
                rRow = null
              } else advance = false
            }
          }
        }
        joined(l, if (lt != null && cand != null) cand else nullPayload)
        resultProj(joined)
      }
    }
  }
}
