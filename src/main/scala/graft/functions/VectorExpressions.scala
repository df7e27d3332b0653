package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, NumericType}

/** Native Catalyst expression for the dense-vector dot product.
  *
  * Why custom: the composable formulation (`aggregate(zip_with(a, b, *),
  * 0.0, +)`) is CodegenFallback — interpreted lambda dispatch and an
  * allocated intermediate array per row — which dominates the similarity
  * operators' runtime. This expression runs the multiply-add loop inside
  * whole-stage codegen, directly over the unsafe `ArrayData`, no
  * intermediate allocation.
  *
  * Semantics are IDENTICAL to the composable form (and the DuckDB oracle):
  * each element widened to double, products accumulated sequentially in
  * index order — bit-reproducible everywhere.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // Null in => null out (nullSafeEval): lets constraint inference
  // simplify isnotnull(f(x)) to isnotnull(x) instead of re-evaluating f.
  override def nullIntolerant: Boolean = true


  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(a: NumericType, _), ArrayType(b: NumericType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot needs two numeric arrays, got ${left.dataType} / ${right.dataType}")
    }
  }

  private def elemType(e: Expression): NumericType =
    e.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[NumericType]

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(xs.numElements(), ys.numElements())
    val (ta, tb) = (elemType(left), elemType(right))
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += toDouble(xs, i, ta) * toDouble(ys, i, tb)
      i += 1
    }
    sum
  }

  private def toDouble(arr: ArrayData, i: Int, t: NumericType): Double =
    t match {
      case FloatType => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case _ => arr.get(i, t) match {
        case n: java.lang.Number => n.doubleValue()
        case other => other.toString.toDouble
      }
    }

  private def getter(t: NumericType, arr: String, i: String): String =
    t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case _ => s"(double) $arr.getInt($i)" // integral fallback
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val (ta, tb) = (elemType(left), elemType(right))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += ${getter(ta, a, i)} * ${getter(tb, b, i)};
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Pack the sign bits of `width` consecutive vector elements (starting
  * at `offset`) into one long: bit i set iff `vec[offset+i] >= 0`.
  *
  * The scan-side half of 1-bit (binary) embedding quantization: a
  * 64-dim float vector (256 B) compresses to two 32-bit sign words
  * (16 B), and angular distance is estimated by Hamming distance over
  * the words (XOR + bit_count — both codegen'd builtins). `width` stays
  * ≤ 62 so the packed value is always a non-negative long and the
  * DuckDB oracle can rebuild it with exact BIGINT arithmetic.
  *
  * Why custom (same reason as [[VecDot]]): the composable
  * `aggregate(sequence(...), ...)` formulation is CodegenFallback and
  * allocates an index array per row; this runs the bit loop inside
  * whole-stage codegen directly over the unsafe `ArrayData`. Elements
  * past the array's end contribute 0-bits, so ragged inputs degrade
  * instead of throwing.
  */
case class SignPack(child: Expression, offset: Int, width: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(offset >= 0 && width > 0 && width <= 62,
    s"sign_pack needs 0 <= offset and 0 < width <= 62, got ($offset, $width)")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: NumericType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_pack needs a numeric array, got $other")
    }

  private def elemType: NumericType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[NumericType]

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = math.min(width, math.max(0, xs.numElements() - offset))
    val t = elemType
    var w = 0L
    var i = 0
    while (i < n) {
      val v = t match {
        case FloatType => xs.getFloat(offset + i).toDouble
        case DoubleType => xs.getDouble(offset + i)
        case _ => xs.get(offset + i, t).asInstanceOf[java.lang.Number].doubleValue()
      }
      if (v >= 0) w |= (1L << i)
      i += 1
    }
    w
  }

  private def getter(arr: String, i: String): String = elemType match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case _ => s"(double) $arr.getInt($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val w = ctx.freshName("w")
      s"""
         |int $n = java.lang.Math.min($width,
         |  java.lang.Math.max(0, $a.numElements() - $offset));
         |long $w = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (${getter(a, s"($offset + $i)")} >= 0) $w |= (1L << $i);
         |}
         |${ev.value} = $w;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignPack =
    copy(child = newChild)
}

/** Index of the row of `cents` (an array of double arrays, normally a
  * literal) with the largest [[VecDot]] against `vec` (a float or
  * double array) — ties to the higher index, NaN above every number, a
  * NULL `vec` to the last index: exactly the order of
  * `greatest(struct(vec_dot(vec, c_i), i)…)` over the rows, with each
  * dot accumulated like [[VecDot]] does.
  *
  * Why custom: the `greatest` form generates a struct comparison per
  * row of `cents`, about 7 KB of bytecode for 32 rows. Product
  * quantization encodes eight subspaces per vector, so one projection
  * passed the JVM's 64 KB method limit and Spark fell back from
  * whole-stage codegen for the whole stage (and a method over 8 KB is
  * never JIT-compiled). Here the loop is one static call.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = false

  private def floats: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any =
    NearestCentroid.nearest(left.eval(input).asInstanceOf[ArrayData], floats,
      right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val (v, c) = (left.genCode(ctx), right.genCode(ctx))
    ev.copy(code = code"""
      ${v.code}
      ${c.code}
      int ${ev.value} = graft.functions.NearestCentroid.nearest(
        ${v.isNull} ? null : ${v.value}, $floats, ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {
  /** See [[NearestCentroid]]; called from generated code. */
  def nearest(vec: ArrayData, floats: Boolean, cents: ArrayData): Int = {
    val k = cents.numElements()
    if (vec == null) return k - 1
    var best = 0
    var bestDot = 0.0
    var i = 0
    while (i < k) {
      val c = cents.getArray(i)
      val n = math.min(vec.numElements(), c.numElements())
      var sum = 0.0
      var j = 0
      while (j < n) {
        sum += (if (floats) vec.getFloat(j).toDouble else vec.getDouble(j)) *
          c.getDouble(j)
        j += 1
      }
      if (i == 0 || SQLOrderingUtil.compareDoubles(sum, bestDot) >= 0) {
        best = i
        bestDot = sum
      }
      i += 1
    }
    best
  }
}

object VectorFunctions {
  /** Σ aᵢ·bᵢ in double, sequential — codegen'd. */
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vec_norm(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(vec_dot(a, a))
  }

  def vec_cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))

  /** Index of the row of `cents` nearest `vec` by dot product. */
  def nearest_centroid(vec: Column, cents: Column): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(vec),
      ColumnBridge.expression(cents)))

  /** Sign bits of vec[offset .. offset+width) packed into a long. */
  def sign_pack(vec: Column, offset: Int, width: Int): Column =
    ColumnBridge.column(SignPack(ColumnBridge.expression(vec), offset, width))
}
