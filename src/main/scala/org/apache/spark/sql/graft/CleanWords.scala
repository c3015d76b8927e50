// Lives under org.apache.spark.sql — see FloatDotProduct.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's word rules (mapphase/split.go:68-133 + map.go:82-163)
  * as ONE pass over a document's UTF-8 bytes: split on whitespace,
  * lowercase, trim non-letters, keep letters-only non-stopwords, and dedup
  * per document. Returns the document's distinct clean words.
  *
  * The built-in chain `explode(TextFns.lowerTokens(text))` →
  * `regexp_replace(TrimRe)` → `rlike(LettersRe)` → `isin(stopwords)` ran
  * three regexes and a UTF-16 round trip per token row and emitted every
  * token occurrence. This kernel tokenizes in place, touches each token's
  * bytes once, and emits each word once per document — the reference's
  * per-split word map (split.go:119-133). The dedup is row-local, so it
  * needs no exchange.
  *
  * Semantics equal the chain exactly (PropertiesSpec pins this on
  * adversarial text under both case-mapping settings):
  *  - tokens are runs of bytes outside Java's `\s` = `[ \t\n\x0B\f\r]`;
  *    all six are ASCII, so a UTF-8 continuation byte never splits
  *  - lowercase is Spark's own `lower` path, `CollationSupport.Lower` with
  *    `spark.sql.icu.caseMappings.enabled` read the way `Lower` reads it,
  *    applied to the WHOLE token before the trim (final-sigma and other
  *    context-dependent mappings see the same neighbours). Two byte paths
  *    stand in for it where they are exact: ASCII tokens (A–Z → a–z under
  *    both settings), and, under the ICU setting, tokens whose code points
  *    are all ≤ U+00FF. ICU lowercases that range one code point at a time
  *    with no length change: A–Z and U+00C0–U+00DE except × move up by
  *    0x20, nothing else moves — unless the JVM's default locale is
  *    Turkish, Azeri or Lithuanian (I, Ì, Í), which keeps the ICU call.
  *    Raw books are decoded as ISO-8859-1, so the anagram job never makes
  *    the ICU call. Its first use in a JVM initialises Spark's
  *    `CollationAwareUTF8String`, whose static table title-cases all
  *    1,114,112 code points with ICU: 1.7 s on a 4-vCPU VM.
  *  - trim strips code points outside `\p{L}` (Character.isLetter) from
  *    both ends; the rest must be all letters
  */
case class CleanWords(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "clean_words"

  private lazy val stopSet = CleanWords.stopSet(stopwords)
  private lazy val useICU = CleanWords.icuCaseMappings()

  override protected def nullSafeEval(input: Any): Any =
    CleanWords.compute(input.asInstanceOf[UTF8String], stopSet, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.CleanWords.compute($c, $setRef, $useICU);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CleanWords {

  private val Utf8Binary = CollationFactory.UTF8_BINARY_COLLATION_ID

  /** The flag `Lower` passes to `CollationSupport.Lower`. */
  def icuCaseMappings(): Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  def stopSet(stopwords: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stopwords.length * 2)
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** Java `\s` without UNICODE_CHARACTER_CLASS: space and \t \n \x0B \f \r. */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** The document's distinct clean words, in first-seen order. */
  def compute(text: UTF8String, stop: java.util.HashSet[UTF8String],
              useICU: Boolean): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < n) {
      while (i < n && isSpace(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        var ascii = true
        var b: Byte = 0
        while (i < n && { b = Platform.getByte(base, off + i); !isSpace(b) }) {
          if (b < 0) ascii = false
          i += 1
        }
        val w = clean(base, off + start, i - start, ascii, useICU)
        // w may view the input row's bytes: copy before keeping it
        if (w != null && !stop.contains(w) && !seen.contains(w)) seen.add(w.copy())
      }
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** One token's clean word, or null: lowercase, trim non-letters, and
    * require the rest to be letters. Stopwords are the caller's check. The
    * result may share bytes with `tok`. */
  def cleanToken(tok: UTF8String, useICU: Boolean): UTF8String =
    clean(tok.getBaseObject, tok.getBaseOffset, tok.numBytes, tok.isFullAscii, useICU)

  private def clean(base: AnyRef, off: Long, len: Int, ascii: Boolean,
                    useICU: Boolean): UTF8String = {
    if (ascii) return cleanAscii(base, off, len)
    val latin1 = if (useICU && rootCaseLocale()) lowerLatin1(base, off, len) else null
    cleanLowered(if (latin1 != null) latin1 else CollationSupport.Lower.exec(
      UTF8String.fromAddress(base, off, len), Utf8Binary, useICU))
  }

  /** ICU lowercases by the JVM default locale; of its case locales only
    * Turkish/Azeri (I → ı) and Lithuanian (Ì, Í keep a dot above) lower a
    * code point ≤ U+00FF differently from the root locale. */
  private def rootCaseLocale(): Boolean =
    !LatinSpecialCasing.contains(java.util.Locale.getDefault.getLanguage)
  private val LatinSpecialCasing = Set("tr", "tur", "az", "aze", "lt", "lit")

  /** ICU's root lowercase of a valid UTF-8 token whose code points are all
    * ≤ U+00FF (bytes < 0x80, or C2/C3 plus one continuation byte): A–Z and
    * C3 80–C3 9E but C3 97 (×) add 0x20 to their last byte. Null for any
    * other token, which takes Spark's lower path. */
  def lowerLatin1(base: AnyRef, off: Long, len: Int): UTF8String = {
    val out = new Array[Byte](len)
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) {
        out(i) = if (b >= 'A' && b <= 'Z') (b | 0x20).toByte else b
        i += 1
      } else {
        if ((b & 0xfe) != 0xc2 || i + 1 == len) return null
        val c = Platform.getByte(base, off + i + 1)
        if ((c & 0xc0) != 0x80) return null
        out(i) = b
        out(i + 1) = if (b == 0xc3.toByte && (c & 0xff) <= 0x9e && c != 0x97.toByte)
          (c + 0x20).toByte else c
        i += 2
      }
    }
    UTF8String.fromBytes(out)
  }

  private def isAsciiLetter(b: Byte): Boolean = (b | 0x20) >= 'a' && (b | 0x20) <= 'z'

  /** ASCII token fast path. For a full-ASCII string both settings of
    * Spark's lower path reduce to `toLowerCaseAscii` (A–Z → a–z, nothing
    * else), and for ASCII `Character.isLetter` is exactly [A-Za-z]; so the
    * trim runs on the raw bytes and only the kept letters are lowered. */
  private def cleanAscii(base: AnyRef, off: Long, len: Int): UTF8String = {
    var a = 0
    while (a < len && !isAsciiLetter(Platform.getByte(base, off + a))) a += 1
    if (a == len) return null
    var end = len
    var upper = false
    var i = a
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (isAsciiLetter(b)) {
        if (end < len) return null // a letter after the trailing non-letters
        if (b < 'a') upper = true
      } else if (end == len) end = i
      i += 1
    }
    if (!upper) UTF8String.fromAddress(base, off + a, end - a)
    else {
      val bytes = new Array[Byte](end - a)
      var j = 0
      while (j < bytes.length) {
        bytes(j) = (Platform.getByte(base, off + a + j) | 0x20).toByte
        j += 1
      }
      UTF8String.fromBytes(bytes)
    }
  }

  /** Trim + letters-only over an already-lowercased, valid UTF-8 string,
    * one forward pass over its code points. */
  private def cleanLowered(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var a = 0
    while (a < n && !Character.isLetter(codePointAt(base, off, a))) a += width(base, off, a)
    if (a >= n) return null
    var end = n
    var i = a
    while (i < n) {
      if (Character.isLetter(codePointAt(base, off, i))) {
        if (end < n) return null
      } else if (end == n) end = i
      i += width(base, off, i)
    }
    UTF8String.fromAddress(base, off + a, end - a)
  }

  private def width(base: AnyRef, off: Long, i: Int): Int = {
    val b0 = Platform.getByte(base, off + i) & 0xff
    if (b0 < 0x80) 1 else if (b0 < 0xe0) 2 else if (b0 < 0xf0) 3 else 4
  }

  private def codePointAt(base: AnyRef, off: Long, i: Int): Int = {
    def cont(k: Int): Int = Platform.getByte(base, off + i + k) & 0x3f
    val b0 = Platform.getByte(base, off + i) & 0xff
    if (b0 < 0x80) b0
    else if (b0 < 0xe0) ((b0 & 0x1f) << 6) | cont(1)
    else if (b0 < 0xf0) ((b0 & 0x0f) << 12) | (cont(1) << 6) | cont(2)
    else ((b0 & 0x07) << 18) | (cont(1) << 12) | (cont(2) << 6) | cont(3)
  }

  def apply(text: Column, stopwords: Seq[String]): Column =
    ExpressionUtils.column(CleanWords(ExpressionUtils.expression(text), stopwords))
}
