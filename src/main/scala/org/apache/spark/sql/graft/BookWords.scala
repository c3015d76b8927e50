// Lives under org.apache.spark.sql — see FloatDotProduct.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A raw book file's distinct clean words, straight from its Latin-1
  * bytes: exactly `CleanWords(stripGutenberg(decode(content,
  * 'ISO-8859-1')), stopwords)` (mapphase/split.go:78-133), in one pass.
  *
  * The chain decoded the whole file, ran the three strip regexes over it
  * as UTF-16 (about seven UTF-8 ↔ UTF-16 copies per book) and only then
  * tokenized. Latin-1 maps each byte to the code point of the same value,
  * so a byte offset is a character offset: this kernel finds the body's
  * bounds by byte search ([[bodyFrom]], [[bodyTo]]), re-encodes only the
  * body to UTF-8, and hands it to [[CleanWords.compute]], which keeps the
  * word rules, the case-mapping setting and its locale guard in one place.
  * PropertiesSpec pins the bounds against the regexes byte for byte.
  */
case class BookWords(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "book_words"

  private lazy val stopSet = CleanWords.stopSet(stopwords)
  private lazy val useICU = CleanWords.icuCaseMappings()

  override protected def nullSafeEval(input: Any): Any =
    BookWords.compute(input.asInstanceOf[Array[Byte]], stopSet, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.BookWords.compute($c, $setRef, $useICU);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BookWords {

  private def ascii(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Stars = ascii("***")
  private val StartOf = ascii("START OF TH")
  private val EndOfMarker = ascii("END OF TH")
  private val MarkerE = ascii("E PROJECT GUTENBERG EBOOK")
  private val MarkerIs = ascii("IS PROJECT GUTENBERG EBOOK")
  private val EndOf = ascii("End of")
  private val ProjectGutenberg = ascii("Project Gutenberg")

  def compute(book: Array[Byte], stop: java.util.HashSet[UTF8String],
              useICU: Boolean): ArrayData = {
    val from = bodyFrom(book)
    CleanWords.compute(latin1ToUtf8(book, from, bodyTo(book, from)), stop, useICU)
  }

  /** Where the header strip (TextFns.HeaderRe) leaves the body: one byte
    * past the last `***` of the first line whose first `***` is followed,
    * on that line, by a START marker and then a `***` with a byte after
    * it; 0 when no line qualifies. A later `***` on a failed line sees a
    * subset of the same line, so it cannot match either. */
  def bodyFrom(b: Array[Byte]): Int = {
    val n = b.length
    var p = indexOf(b, Stars, 0, n)
    while (p >= 0) {
      val eol = lineEnd(b, p)
      val m = markerEnd(b, StartOf, p + 3, eol)
      if (m >= 0) {
        // the closing `***` and the byte the regex's `.` consumes after it
        var l = math.min(eol, n - 1) - 3
        while (l >= m && !startsWith(b, l, Stars)) l -= 1
        if (l >= m) return l + 4
      }
      p = if (eol < n) indexOf(b, Stars, eol + 1, n) else -1
    }
    0
  }

  /** Where the footer strip ends the body: the first footer-1 match
    * (TextFns.Footer1Re: `End of`, a run of `[ th(e|is)]` ending in a
    * space, `Project Gutenberg`) at or after `from`; else the first `***`
    * whose line holds an END marker and then a `***` (Footer2Re); else the
    * end of the bytes. */
  def bodyTo(b: Array[Byte], from: Int): Int = {
    val n = b.length
    var e = indexOf(b, EndOf, from, n)
    while (e >= 0) {
      var r = e + EndOf.length
      while (r < n && inFooterClass(b(r))) r += 1
      if (r > e + EndOf.length && b(r - 1) == ' ' && startsWith(b, r, ProjectGutenberg)) return e
      e = indexOf(b, EndOf, e + 1, n)
    }
    var q = indexOf(b, Stars, from, n)
    while (q >= 0) {
      val eol = lineEnd(b, q)
      val m = markerEnd(b, EndOfMarker, q + 3, eol)
      if (m >= 0 && indexOf(b, Stars, m, eol) >= 0) return q
      q = if (eol < n) indexOf(b, Stars, eol + 1, n) else -1
    }
    n
  }

  /** `[ th(e|is)]`: the regex's class, parentheses and bar included. */
  private def inFooterClass(c: Byte): Boolean =
    c == ' ' || c == 't' || c == 'h' || c == '(' || c == 'e' || c == '|' ||
      c == 'i' || c == 's' || c == ')'

  /** The end of the first `<prefix>(E|IS) PROJECT GUTENBERG EBOOK` that
    * starts in [from, eol), or -1. Markers hold no newline, so one that
    * starts on the line ends on it. */
  private def markerEnd(b: Array[Byte], prefix: Array[Byte], from: Int, eol: Int): Int = {
    var s = indexOf(b, prefix, from, eol)
    while (s >= 0) {
      val t = s + prefix.length
      if (startsWith(b, t, MarkerE)) return t + MarkerE.length
      if (startsWith(b, t, MarkerIs)) return t + MarkerIs.length
      s = indexOf(b, prefix, s + 1, eol)
    }
    -1
  }

  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && b(i) != '\n') i += 1
    i
  }

  private def startsWith(b: Array[Byte], at: Int, pat: Array[Byte]): Boolean = {
    if (at + pat.length > b.length) return false
    var k = 0
    while (k < pat.length && b(at + k) == pat(k)) k += 1
    k == pat.length
  }

  /** The first start in [from, until) of `pat`, which may run past `until`;
    * -1 if none. */
  private def indexOf(b: Array[Byte], pat: Array[Byte], from: Int, until: Int): Int = {
    val first = pat(0)
    var i = from
    while (i < until) {
      if (b(i) == first && startsWith(b, i, pat)) return i
      i += 1
    }
    -1
  }

  /** Latin-1 bytes [from, to) as UTF-8: bytes ≥ 0x80 become two. An
    * all-ASCII range is viewed in place (CleanWords copies the words it
    * keeps). */
  private def latin1ToUtf8(b: Array[Byte], from: Int, to: Int): UTF8String = {
    var high = 0
    var i = from
    while (i < to) { if (b(i) < 0) high += 1; i += 1 }
    if (high == 0) return UTF8String.fromBytes(b, from, to - from)
    val out = new Array[Byte](to - from + high)
    var j = 0
    i = from
    while (i < to) {
      val c = b(i)
      if (c >= 0) { out(j) = c; j += 1 }
      else {
        out(j) = (0xc0 | ((c & 0xff) >> 6)).toByte
        out(j + 1) = (0x80 | (c & 0x3f)).toByte
        j += 2
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  def apply(content: Column, stopwords: Seq[String]): Column =
    ExpressionUtils.column(BookWords(ExpressionUtils.expression(content), stopwords))
}
