// Lives under org.apache.spark.sql — see FloatDotProduct.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All space-joined word k-grams of a token array in one pass (r14,
  * guide §4): the n-gram count builds spelled the explode as an
  * interpreted `transform(sequence(1, size-k+1), i -> concat(toks[i-1],
  * ' ', …))` — a Catalyst higher-order function that never reaches
  * codegen and re-evaluates `k` element lookups plus a varargs concat
  * through interpreted Expression.eval per gram. This emits the identical
  * string array (same ' ' separator, same i < i+k windows, empty array
  * below k tokens) from one compiled loop over the array's UTF8String
  * slots. The kn5 count build alone spent ~160 task-seconds at sf0.1 in
  * the interpreted chain.
  *
  * k >= 2: every gram is a concat_ws (which skips nulls), so the
  * `containsNull = false` result type holds; a k = 1 "gram" would copy a
  * null token through.
  */
case class WordGrams(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 2, s"word_grams: k must be >= 2, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"

  override protected def nullSafeEval(a: Any): Any =
    WordGrams.build(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graft.WordGrams.build($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGrams {
  private val Space = UTF8String.fromString(" ")

  def build(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(toks: Column, k: Int): Column =
    ExpressionUtils.column(WordGrams(ExpressionUtils.expression(toks), k))
}
