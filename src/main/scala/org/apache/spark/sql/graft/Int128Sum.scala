// Lives under org.apache.spark.sql — see FloatDotProduct.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, BinaryExpression, BitwiseAnd, BitwiseNot, BitwiseOr, EvalMode, ExpectsInputTypes, Expression, If, IsNull, Literal, Not, Or, ShiftRight, ShiftRightUnsigned, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BooleanType, DataType, DecimalType, DoubleType, LongType, Decimal}

/** The exact-decimal aggregate floor, removed (guide §1.2 step 2 "per-task
  * work", §4 "prefer codegen expressions").
  *
  * The TPC-H-style money queries keep the §6 float policy: every money
  * aggregate is exact fixed-point, only the FINAL value casts to DOUBLE.
  * The straightforward spelling — `sum(col.cast("decimal(18,4)"))` — pays
  * two interpreted-class costs per ROW: the double→decimal cast routes
  * through `BigDecimal(java.lang.Double.toString(d))` (an allocation + a
  * shortest-repr float format + a parse), and the sum buffer is a
  * precision-28 Decimal whose adds leave the compact-long fast path. An
  * r13 A/B put the all-long formulation at 0.57 s vs 0.98 s decimal for
  * Q1 at sf0.1 — but a plain long sum overflows past ≈SF 1.4e4, under the
  * 100 TB ≈ SF 1e5 target, so r13 rejected it.
  *
  * This file is the checked-overflow variant VERDICT r13 asked for, with
  * the overflow REMOVED instead of checked at runtime:
  *
  *  - [[FixedPointLong]] converts a money double to its scale-k unscaled
  *    long with one multiply + one `Math.round` — bit-identical to the
  *    decimal cast for every value that IS a 2-decimal money amount of
  *    magnitude < 2^52/10^k (the money columns are generated as exact
  *    cents; the double nearest k/100 times 10^4 lands within ~1e-8 of the
  *    integer 100k, so every round-half rule agrees, and
  *    `BigDecimal.valueOf(d)` recovers the shortest representation k/100
  *    exactly). The per-query gate hash-verifies the equality on every SF.
  *  - [[Int128Sum]] accumulates those longs in a TWO-LONG 128-bit
  *    accumulator (hi:lo, two's complement). Update and merge are ~6
  *    64-bit ALU ops expressed as Catalyst expressions, so the whole
  *    aggregate stays inside whole-stage codegen with a primitive-only
  *    UnsafeRow buffer; a 128-bit sum of 64-bit terms cannot overflow
  *    below 2^64 rows — no SF bound at all, hence no runtime check needed.
  *    Only the once-per-GROUP finish ([[Int128ToDecimal]]) touches
  *    BigInteger, and only when the total has outgrown a compact long.
  *
  * Result type is DECIMAL(38, scale), same value the decimal formulation's
  * wider-buffer sum produces, so the queries' trailing
  * `.cast("decimal(18,4)").cast("double")` chains are untouched and emit
  * bit-identical doubles.
  */
case class FixedPointLong(child: Expression, factor: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "fixed_point_long"

  override protected def nullSafeEval(d: Any): Any =
    Math.round(d.asInstanceOf[Double] * factor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, d => s"java.lang.Math.round($d * ${factor}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (hi, lo) two's-complement 128-bit → Decimal(38, scale). Runs once per
  * output group; takes the compact-long constructor whenever the value
  * fits in a signed 64-bit unscaled (hi is pure sign extension). */
case class Int128ToDecimal(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = DecimalType(38, scale)
  override def prettyName: String = "int128_to_decimal"

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    Int128ToDecimal.toDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hi, lo) =>
      s"org.apache.spark.sql.graft.Int128ToDecimal.toDecimal($hi, $lo, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Int128ToDecimal {
  private val TwoPow64 = java.math.BigInteger.ONE.shiftLeft(64)
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal =
    if (hi == (lo >> 63)) { // value fits in the signed low word
      Decimal(lo, 38, scale)
    } else {
      var bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      bi = bi.add(java.math.BigInteger.valueOf(lo))
      if (lo < 0) bi = bi.add(TwoPow64) // undo the sign of the low word
      Decimal(BigDecimal(new java.math.BigDecimal(bi, scale)), 38, scale)
    }
}

/** Exact SUM of scale-`scale` unscaled longs in a 128-bit accumulator;
  * NULL iff every input is NULL (built-in Sum semantics). */
case class Int128Sum(child: Expression, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "int128_sum"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private def add(a: Expression, b: Expression) = Add(a, b, EvalMode.LEGACY)
  /** carry-out of the unsigned 64-bit add a + b = s (0 or 1). */
  private def carry(a: Expression, b: Expression, s: Expression) =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = If(IsNull(child), Literal(0L), child)
    val newLo = add(lo, x)
    // hi += sign-extension of x + carry(lo + x)
    val newHi = add(add(hi, ShiftRight(x, Literal(63))), carry(lo, x, newLo))
    Seq(newHi, newLo, Or(seen, Not(IsNull(child))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = add(lo.left, lo.right)
    val newHi = add(add(hi.left, hi.right), carry(lo.left, lo.right, newLo))
    Seq(newHi, newLo, Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen, Int128ToDecimal(hi, lo, scale), Literal(null, dataType))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int128Sum {
  /** Exact fixed-point SUM: `col` is a money/measure DOUBLE holding
    * 2-decimal values; result is DECIMAL(38, scale) with unscaled value
    * Σ round(col·10^scale) — identical to
    * `sum(col.cast(s"decimal(18,$scale)"))` for in-range money data, at
    * long-sum speed. */
  def fixedPoint(col: Column, scale: Int): Column = {
    val factor = math.pow(10, scale).toLong
    sumLongs(ExpressionUtils.column(
      FixedPointLong(ExpressionUtils.expression(col), factor)), scale)
  }

  /** Exact SUM of an already-unscaled LongType column (e.g. a per-row
    * product of two fixed-point longs) as DECIMAL(38, scale). */
  def sumLongs(col: Column, scale: Int): Column =
    ExpressionUtils.column(
      Int128Sum(ExpressionUtils.expression(col), scale).toAggregateExpression())

  /** Scale-`scale` unscaled long of a money DOUBLE (for building per-row
    * products before [[sumLongs]]). */
  def unscaled(col: Column, scale: Int): Column =
    ExpressionUtils.column(
      FixedPointLong(ExpressionUtils.expression(col), math.pow(10, scale).toLong))
}
