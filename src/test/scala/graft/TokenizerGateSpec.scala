package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One definition of the whitespace tokenizer per engine: outside
  * `TextFns.scala`, no main source writes the tokenize regex, DuckDB's
  * split builtin, or the BPE-ish token and punctuation classes itself.
  * Copies drift: Java's `\s` includes `\x0B` and RE2's does not, so an
  * inline `string_split_regex(…, '\s+')` tokenizes differently from
  * Spark's `split`, and an inline `[^A-Za-z0-9\s]` counts a vertical tab
  * as a symbol in DuckDB only. Whitespace collapse
  * (`regexp_replace(…, '\s+', ' ')`) is a different rule and is not
  * matched. Specs keep their own reference chains and are not scanned. */
class TokenizerGateSpec extends AnyFunSuite {

  /** Each inline form of the tokenizer, matched per source line. */
  private val Copies: Seq[(String, scala.util.matching.Regex)] = Seq(
    "split on WsTokenRe" -> """split\(.*WsTokenRe""".r,
    "split on a \\s+ literal" -> """split\(.{0,40}, *['"]\\+s\+['"]""".r,
    "\\S+ literal" -> """["]\\+S\+["]""".r,
    "DuckDB string_split_regex" -> """string_split_regex\(""".r,
    "DuckDB \\S+ extract" -> """regexp_extract_all\([^)]*'\\+S\+'""".r,
    "BPE token class" -> """\[\^A-Za-z0-9""".r,
    "punctuation class" -> """\[\^\\+p\{L\}\\+p\{N\}""".r)

  private def copiesIn(line: String): Seq[String] =
    Copies.collect { case (what, re) if re.findFirstIn(line).isDefined => what }

  test("the gate catches each inline tokenizer form and no whitespace collapse") {
    val inline = Seq(
      """transform(split(col("text"), WsTokenRe), t => lower(t)),""",
      """  .selectExpr("doc_id", "explode(split(text, '\\\\s+')) AS tok")""",
      """regexp_count(col("text"), lit("\\S+")).cast("long")""",
      """  |  FROM documents d, unnest(string_split_regex(d.text, '\\s+')) AS t(w)""",
      """  |    string_split_regex(text, '\s+'), t -> lower(t)), t -> t <> '') AS t""",
      """  |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,""",
      """  |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)""",
      """  |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS bpe_tokens,""",
      """        cnt("[^\\p{L}\\p{N}\\s]").as("n_symbols"),""",
      """  |    CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]')) AS BIGINT) AS n_punct""")
    assert(inline.filter(copiesIn(_).isEmpty).isEmpty)
    val otherRules = Seq(
      """val canon = s"lower(trim(regexp_replace(content, '${TextFns.WsClass}+', ' ', 'g')))"""",
      """  |                                          '\\s+', ' '))))""",
      """  "<[^>]*>", " ")), "\\s+", " ")).as("anchor"))""",
      """  regexp_replace(c, "^\\s+|\\s+$", "")""",
      """trim(regexp_replace(htmlEntities(raw), "[ \\t\\n\\x0B\\f\\r]+", " "))""",
      """regexp_count(col("text"), lit(BpeTokenRe)).cast("long").as("bpe"))""",
      """CAST(len(regexp_extract_all(text, '$SymCharRe')) AS BIGINT)""",
      """       |    CAST(${sqlPunctCount("text")} AS BIGINT) AS n_punct""",
      """md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))""")
    assert(otherRules.filter(copiesIn(_).nonEmpty).isEmpty)
  }

  test("the whitespace tokenizer is written only in TextFns.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a directory")
    val files: Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val (defs, rest) = files.partition(_.getFileName.toString == "TextFns.scala")
    assert(defs.size == 1 && rest.size > 50)
    // the definitions themselves are what the gate matches
    val defined = Files.readAllLines(defs.head).asScala.flatMap(copiesIn).toSet
    assert(Set("split on WsTokenRe", "\\S+ literal", "DuckDB string_split_regex",
      "BPE token class", "punctuation class").subsetOf(defined))
    val found = for {
      f <- rest
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      what <- copiesIn(line)
    } yield s"$f:${i + 1}: $what: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
