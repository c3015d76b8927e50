// Lives under org.apache.spark.sql — see FloatDotProduct.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Tokenize + lowercase + count dictionary hits for SEVERAL word profiles
  * in ONE pass over the raw string: returns
  * `struct(n_toks, hits_0, …, hits_{k-1})` where `n_toks` is
  * `size(TextFns.lowerTokens(text))` and `hits_p` counts tokens whose
  * lowercase form is in profile p.
  *
  * Replaces the `lowerTokens(text)` + per-profile
  * `size(filter(toks, isin(...)))` chain: those higher-order
  * functions run interpreted (per-element closure dispatch) and
  * materialize the token array once plus one filtered copy per profile —
  * on the corpus-scan hot path of the whole quality/language family. This
  * is a single codegen'd call with zero array materialization.
  *
  * Parity with the column chain is by construction:
  *  - token boundaries are Java-regex `\s` = the five ASCII whitespace
  *    chars + space, scanned byte-wise (all are < 0x80, so UTF-8
  *    continuation bytes can never false-match);
  *  - empty tokens (leading-whitespace artifact of `split`) are skipped,
  *    as `lowerTokens`' `!= ''` filter does;
  *  - lowercasing IS `UTF8String.toLowerCase` — the exact kernel behind
  *    Spark's `lower()` — with an ASCII fast path (a token with no `A-Z`
  *    and no non-ASCII byte is its own lowercase);
  *  - membership is UTF8String binary equality, which is Spark string
  *    equality.
  * PropertiesSpec locks expression ≡ chain on adversarial and real text.
  */
case class TokenProfileHits(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override val dataType: DataType = StructType(
    StructField("n_toks", LongType, nullable = false) +:
      profiles.indices.map(i => StructField(s"hits_$i", LongType, nullable = false)))
  override def prettyName: String = "token_profile_hits"

  @transient private lazy val lookup = new TokenProfileLookup(profiles)

  override protected def nullSafeEval(input: Any): Any =
    lookup.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("profLookup", lookup,
      classOf[TokenProfileLookup].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-expression dictionary: lowercase word → bitmask of the profiles
  * containing it (a word may sit in several — 'de' is a French and a
  * Spanish marker and an English-stopword candidate). Built once per
  * executor (transient lazy), shipped as the profile string lists. */
class TokenProfileLookup(profiles: Seq[Seq[String]]) extends Serializable {
  private val k = profiles.length
  require(k <= 30, s"at most 30 profiles per expression, got $k")

  @transient private lazy val map: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    profiles.zipWithIndex.foreach { case (ws, p) =>
      ws.foreach { w =>
        val u = UTF8String.fromString(w)
        val prev = m.get(u)
        m.put(u, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << p)))
      }
    }
    m
  }

  def compute(text: UTF8String): GenericInternalRow = {
    val lookup = map
    val bytes = text.getBytes
    val len = bytes.length
    val out = new Array[Any](k + 1)
    val counts = new Array[Long](k)
    var nToks = 0L
    var i = 0
    while (i < len) {
      val b = bytes(i) & 0xff
      if (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r') {
        i += 1
      } else {
        val s = i
        var needsLower = false
        while (i < len && {
          val c = bytes(i) & 0xff
          !(c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r')
        }) {
          val c = bytes(i) & 0xff
          if ((c >= 'A' && c <= 'Z') || c >= 0x80) needsLower = true
          i += 1
        }
        nToks += 1L
        var tok = UTF8String.fromBytes(bytes, s, i - s)
        if (needsLower) tok = tok.toLowerCase
        val m = lookup.get(tok)
        if (m != null) {
          var mask = m.intValue()
          while (mask != 0) {
            counts(java.lang.Integer.numberOfTrailingZeros(mask)) += 1L
            mask &= mask - 1
          }
        }
      }
    }
    out(0) = nToks
    var p = 0
    while (p < k) { out(p + 1) = counts(p); p += 1 }
    new GenericInternalRow(out)
  }
}

object TokenProfileHits {
  def apply(text: Column, profiles: Seq[Seq[String]]): Column =
    ExpressionUtils.column(
      TokenProfileHits(ExpressionUtils.expression(text), profiles))
}
