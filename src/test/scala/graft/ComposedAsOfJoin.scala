package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The composed as-of join, the reference AsOfJoinPlanSpec checks the
  * native Catalyst operator behind `graft.operators.AsOfJoin` against. It
  * builds the same semantics from built-ins only:
  * tag both sides, union them, sort within key by (ts, side, tie), and
  * carry the last right payload forward with a last-non-null window.
  *
  * Determinism: right rows order by (ts, tieCol), so equal-ts right rows
  * resolve to the largest tieCol; a right row at exactly leftTs matches
  * ("<=" semantics: right sorts before left at equal ts). The whole right
  * payload travels as ONE struct so every output column comes from the same
  * right row even when payload values are null. The union widens the two
  * keys, and the two timestamps, to their common type.
  */
object ComposedAsOfJoin {

  /** @param payload right-side columns to attach to left rows (all null
    *                when no right row at-or-before the left timestamp). */
  def asOf(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTs: String, rightTs: String, tieCol: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(payload.forall(!leftCols.contains(_)),
      s"payload columns ${payload.filter(leftCols.contains)} collide with left columns; alias them first")
    val reserved = Set("__k", "__ts", "__side", "__tie", "__p", "__last")
    require(leftCols.forall(!reserved.contains(_)) && payload.forall(!reserved.contains(_)),
      s"column names $reserved are reserved by asOf")
    val payloadStruct = struct(payload.map(col): _*)
    // side 0 = right (sorts before left at equal ts -> "<=" semantics).
    // Null-ts right rows are dropped up front: they would sort NULLS FIRST
    // (before every left row) and leak their payload as if they occurred at
    // the beginning of time, violating the rightTs <= leftTs contract.
    val taggedRight = right.filter(col(rightTs).isNotNull).select(
      (col(rightKey).as("__k") +: col(rightTs).as("__ts") +: lit(0).as("__side") +:
        col(tieCol).cast("long").as("__tie") +: payloadStruct.as("__p") +:
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val nullPayload = lit(null).cast(
      org.apache.spark.sql.types.StructType(
        payload.map(c => right.schema(c).copy(name = c))))
    val taggedLeft = left.select(
      (col(leftKey).as("__k") +: col(leftTs).as("__ts") +: lit(1).as("__side") +:
        lit(Long.MaxValue).as("__tie") +: nullPayload.as("__p") +:
        leftCols.map(col)): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__side").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedRight.unionByName(taggedLeft)
      .withColumn("__last", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++ payload.map(c => col(s"__last.$c").as(c)): _*)
  }
}
