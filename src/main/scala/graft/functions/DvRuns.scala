package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Membership test against RANGE-ENCODED deletion vectors: true iff
  * `idx` falls inside any run `[starts(i), starts(i) + lens(i))`.
  * `starts` must be sorted ascending and the runs disjoint — the
  * contract of the packed per-file DV arrays the CoW reader broadcasts
  * (one row per data file, O(#runs) longs instead of O(#deleted rows)).
  *
  * Why custom: the composable form
  * (`exists(zip_with(starts, lens, ...), x -> x)`) is a linear walk of
  * every run per data row; this is one binary search, codegen'd, so
  * the DV filter on the hot side of a snapshot read stays inside
  * whole-stage codegen at O(log #runs) per row. NULL arrays (a
  * file with no deletes) evaluate FALSE — "not deleted". */
case class DvRunsContain(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dv_runs_contain needs (array<bigint>, array<bigint>, bigint), got $other")
    }

  override def eval(input: InternalRow): Any = {
    val s = first.eval(input)
    if (s == null) return false
    val l = second.eval(input)
    if (l == null) return false
    val i = third.eval(input)
    if (i == null) return false
    DvRunsContain.contains(s.asInstanceOf[ArrayData],
      l.asInstanceOf[ArrayData], i.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val s = first.genCode(ctx)
    val l = second.genCode(ctx)
    val i = third.genCode(ctx)
    val code =
      code"""
        ${s.code}
        ${l.code}
        ${i.code}
        boolean ${ev.value} = false;
        if (!${s.isNull} && !${l.isNull} && !${i.isNull}) {
          ${ev.value} = graft.functions.DvRunsContain.contains(
            ${s.value}, ${l.value}, ${i.value});
        }
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): Expression = copy(f, s, t)
}

object DvRunsContain {
  /** Binary search for the last run starting at or before `ri`, then a
    * bounds check — called from generated code, so it must stay a
    * static-forwardable plain method over catalyst `ArrayData`. */
  def contains(starts: ArrayData, lens: ArrayData, ri: Long): Boolean = {
    var lo = 0
    var hi = starts.numElements() - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (starts.getLong(mid) <= ri) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans >= 0 && ri < starts.getLong(ans) + lens.getLong(ans)
  }

  def apply(starts: Column, lens: Column, idx: Column): Column =
    ColumnBridge.column(DvRunsContain(
      ColumnBridge.expression(starts), ColumnBridge.expression(lens),
      ColumnBridge.expression(idx)))
}
