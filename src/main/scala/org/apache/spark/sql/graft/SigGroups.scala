// Lives under org.apache.spark.sql — see FloatDotProduct.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's per-document combiner as ONE row-local pass
  * (mapphase/map.go:60-151 preprocessing + combine.go:13-47 group/union):
  * lowercase each whitespace token, trim leading/trailing non-letters,
  * drop non-all-letter words and stopwords, group the survivors by their
  * sorted-letter signature, and emit one (sig, sorted distinct words)
  * struct per group.
  *
  * The relational formulation needed two corpus-sized exchanges (a
  * (doc, word) distinct and a (doc, sig) aggregation) to compute a value
  * that is a pure function of the document — the reference itself computes
  * it in memory per split. With this expression the per-doc combine is a
  * map-only projection at any scale.
  *
  * Each token is cleaned by CleanWords.cleanToken, the one Scala-side
  * definition of the word rules (equal to the shared regex chain); word
  * order inside a group is UTF8String binary order (== sort_array ==
  * DuckDB list_sort); group order in the output array is binary order of
  * signatures (deterministic; consumers explode, so any order
  * hash-matches).
  */
case class SigGroups(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("sig", StringType, nullable = false),
      StructField("words", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "sig_groups"

  private lazy val stopSet = CleanWords.stopSet(stopwords)
  private lazy val useICU = CleanWords.icuCaseMappings()

  override protected def nullSafeEval(input: Any): Any =
    SigGroups.compute(input.asInstanceOf[ArrayData], stopSet, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.SigGroups.compute($c, $setRef, $useICU);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SigGroups {

  /** Clean each token (CleanWords.cleanToken), keep non-stopwords, group
    * by sorted-letter signature. TreeMap/TreeSet of UTF8String = binary
    * ordering, matching sort_array and DuckDB's list_sort. */
  def compute(arr: ArrayData, stop: java.util.HashSet[UTF8String],
              useICU: Boolean): ArrayData = {
    val groups = new java.util.TreeMap[UTF8String, java.util.TreeSet[UTF8String]]()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val w = CleanWords.cleanToken(arr.getUTF8String(i), useICU)
        if (w != null && !stop.contains(w)) {
          val sig = SortChars.sortUtf8(w)
          var set = groups.get(sig)
          if (set == null) { set = new java.util.TreeSet[UTF8String](); groups.put(sig, set) }
          set.add(w)
        }
      }
      i += 1
    }
    val out = new Array[Any](groups.size)
    var j = 0
    val it = groups.entrySet().iterator()
    val space = UTF8String.fromString(" ")
    while (it.hasNext) {
      val e = it.next()
      val words = e.getValue.toArray(new Array[UTF8String](e.getValue.size))
      out(j) = new GenericInternalRow(Array[Any](e.getKey,
        UTF8String.concatWs(space, words: _*)))
      j += 1
    }
    new GenericArrayData(out)
  }

  def apply(tokens: Column, stopwords: Seq[String]): Column =
    ExpressionUtils.column(SigGroups(ExpressionUtils.expression(tokens), stopwords))
}
