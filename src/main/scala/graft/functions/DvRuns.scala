package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The RANGE-ENCODED deletion vectors of one snapshot, per data file:
  * `runs(path)` (normalized path) is `(starts, lens)`, the runs
  * `[starts(j), starts(j) + lens(j))` sorted by start and disjoint —
  * O(#runs) longs, never O(#deleted rows). Shipped as ONE broadcast
  * value; the path lookup builds lazily where it is first probed (once
  * per executor: a broadcast value is shared by the executor's tasks). */
final class DvRunIndex(runs: Map[String, (Array[Long], Array[Long])])
    extends Serializable {

  @transient private lazy val slots = {
    val m = new java.util.HashMap[UTF8String, (Array[Long], Array[Long])](
      runs.size * 2)
    runs.foreach { case (p, r) => m.put(UTF8String.fromString(p), r) }
    m
  }

  /** Whether row `ri` of the data file `path` is deleted. */
  def contains(path: UTF8String, ri: Long): Boolean = {
    val r = slots.get(path)
    r != null && DvRunsContain.contains(r._1, r._2, ri)
  }
}

/** The deletion-vector runs one [[DvRunsContain]] probes, collected
  * and broadcast LAZILY, on the driver, when the probe first runs:
  * building a read plans nothing and runs no job, and a read the MV
  * rewrite answers from a summary never collects its runs at all.
  * `load(jobs)` collects the runs and broadcasts them. Whole-stage
  * codegen loads them when it compiles the probe (`jobs = true`: the
  * query's own thread, where collecting may run a Spark job). A probe
  * outside whole-stage codegen loads when its task is first serialized,
  * which can be on the scheduler's event loop, where a nested job waits
  * on that same loop forever — so that path passes `jobs = false` and
  * the runs must load without one. Equal by `dvs`, the snapshot's DV
  * file set (the runs are immutable): two reads of one snapshot plan
  * equal. */
final class DvRunSet(val dvs: Seq[String],
    @transient private val load: Boolean => Broadcast[DvRunIndex])
    extends Serializable {

  @volatile private var bc: Broadcast[DvRunIndex] = _

  /** The broadcast runs, loaded on the first call (driver only). */
  def broadcast(jobs: Boolean): Broadcast[DvRunIndex] = {
    if (bc == null) synchronized {
      if (bc == null) {
        require(load != null, s"deletion vectors $dvs were not loaded " +
          "on the driver")
        bc = load(jobs)
      }
    }
    bc
  }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    broadcast(jobs = false)
    out.defaultWriteObject()
  }

  override def equals(o: Any): Boolean = o match {
    case s: DvRunSet => s.dvs == dvs
    case _ => false
  }
  override def hashCode: Int = dvs.hashCode
}

/** True iff row `idx` of the data file `path` (normalized) falls in one
  * of its deletion-vector runs ([[DvRunSet]]) — the read side of
  * merge-on-read deletes as a Filter (`NOT dvrunscontain(...)`), with no
  * join and no second relation: the runs never become a plan-side
  * table, so applying them plans no broadcast exchange.
  *
  * Why custom: the composable form is a join against the per-file run
  * rows; this is one hash lookup and one binary search per row, inside
  * whole-stage codegen. The run set is not printed. A NULL path or
  * index evaluates FALSE — "not deleted". */
case class DvRunsContain(runs: DvRunSet, left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  /** The snapshot's DV file set — the identity the MV rewrite pins a
    * DV-adjusted summary to. */
  def dvs: Seq[String] = runs.dvs

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dv_runs_contain needs (string path, bigint row index), got $other")
    }

  @transient private lazy val index = runs.broadcast(jobs = true).value

  def contains(path: UTF8String, ri: Long): Boolean = index.contains(path, ri)

  override def eval(input: InternalRow): Any = {
    val p = left.eval(input)
    if (p == null) return false
    val i = right.eval(input)
    i != null && contains(p.asInstanceOf[UTF8String], i.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    // compiling the probe is where the runs load: whole-stage codegen
    // does it on the driver, before the task closure is serialized
    runs.broadcast(jobs = true)
    val ref = ctx.addReferenceObj("dvRuns", this,
      classOf[DvRunsContain].getName)
    val p = left.genCode(ctx)
    val i = right.genCode(ctx)
    val code =
      code"""
        ${p.code}
        ${i.code}
        boolean ${ev.value} = !${p.isNull} && !${i.isNull} &&
          $ref.contains(${p.value}, ${i.value});
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

object DvRunsContain {
  /** Binary search for the last run starting at or before `ri`, then a
    * bounds check. `starts` sorted ascending, runs disjoint. */
  def contains(starts: Array[Long], lens: Array[Long], ri: Long): Boolean = {
    var i = java.util.Arrays.binarySearch(starts, ri)
    if (i < 0) i = -i - 2
    i >= 0 && ri < starts(i) + lens(i)
  }

  def apply(runs: DvRunSet, path: Column, idx: Column): Column =
    ColumnBridge.column(DvRunsContain(runs,
      ColumnBridge.expression(path), ColumnBridge.expression(idx)))
}
