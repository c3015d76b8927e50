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
  * matched. The same holds for the tokenizer trainers' building blocks:
  * one adjacent-pair explode, one `[a-z]+` word table, one merge
  * function. Specs keep their own reference chains and are not scanned. */
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

  private lazy val mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a directory")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** `file:line: text` of every main source line `re` matches. */
  private def linesMatching(re: scala.util.matching.Regex): Seq[String] = for {
    f <- mainSources
    (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    if re.findFirstIn(line).isDefined
  } yield s"$f:${i + 1}: ${line.trim}"

  test("the whitespace tokenizer is written only in TextFns.scala") {
    val (defs, rest) = mainSources.partition(_.getFileName.toString == "TextFns.scala")
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

  /** One pair-merge trainer for BPE, byte-level BPE and WordPiece: the
    * adjacent-pair explode, the `[a-z]+` word-frequency filter and the
    * merge function are each written once (`TextAnalysis.pairCounts`,
    * `alphaWordFreq`, `mergePairIn`). DuckDB `regexp_matches` strings in
    * the oracles are a different engine's twin and are not matched. */
  test("the merge trainer's pair explode, word table and merge function are written once") {
    val explode = linesMatching(
      """struct\(\s*syms\[i\s*-\s*1\]\s+AS\s+l\s*,\s*syms\[i\]\s+AS\s+r\s*\)""".r)
    assert(explode.size == 1, explode.mkString("\n", "\n", ""))
    val wordTable = linesMatching("""rlike\(\s*"\^\[a-z\]\+\$"\s*\)""".r)
    assert(wordTable.size == 1, wordTable.mkString("\n", "\n", ""))
    val merges = linesMatching("""def\s+merge\w*In\b""".r)
    assert(merges.size == 1 && merges.head.contains("def mergePairIn"),
      merges.mkString("\n", "\n", ""))
  }
}
