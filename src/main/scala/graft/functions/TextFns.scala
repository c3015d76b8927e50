package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-processing primitives shared by every operator AND by the DuckDB
  * oracle-SQL renderers, so both engines execute the same math.
  *
  * Semantics follow the reference (camwhite18/gcp-serverless-mapreduce):
  *  - stopword list: mapphase/map.go:86-110 (151 entries, verbatim)
  *  - trim: mapphase/map.go:130-151 — re-expressed as the regex
  *    `^[^\p{L}]+|[^\p{L}]+$` (see SURVEY.md §3 for the documented deviation
  *    from the reference's loop-bound quirk)
  *  - letters-only predicate: mapphase/map.go:154-163
  *  - anagram signature: mapphase/map.go:68-71 (sort the letters)
  *  - Gutenberg header/footer strip: mapphase/split.go:90-116
  *
  * The word rules (whitespace split, lowercase, trim, letters-only,
  * stopwords) are EXECUTED by the CleanWords row kernel
  * (org.apache.spark.sql.graft), which SigGroups shares per token.
  * `trimNonAlpha`/`isCleanWord` stay here as the Spark-side reference the
  * kernel is tested against, and `sqlTrim`/`sqlIsCleanWord` are their
  * DuckDB twins in the oracle SQL.
  *
  * The whitespace tokenizer (mapphase/split.go:68) is decided here and
  * nowhere else; every operator and every oracle SQL calls these:
  *  - [[wsTokens]]: the non-empty whitespace tokens of a text
  *    (`split(c, WsTokenRe)` minus `split`'s leading-whitespace ''; the
  *    `array_remove` form stays inside whole-stage codegen, a `filter`
  *    lambda does not);
  *    DuckDB twin [[sqlWsTokens]]
  *  - [[lowerTokens]]: the same tokens lowercased; twin [[sqlLowerTokens]]
  *  - [[wsTokenCount]]: how many tokens there are, as `regexp_count(c,
  *    '\S+')`; twin [[sqlWsTokenCount]]
  * Java's `\s` is `[ \t\n\x0B\f\r]`, but RE2's `\s` (DuckDB) leaves out
  * `\x0B` (vertical tab): `string_split_regex('a\x0Bb', '\s+')` is one
  * token in DuckDB and two in Spark. The twins therefore spell the class
  * out as [[WsClass]], which matches exactly where Java's `\s` does. The
  * BPE-ish token and punctuation classes have twins for the same reason
  * ([[SqlBpeTokenRe]], [[SqlPunctRe]]).
  */
object TextFns {

  /** mapphase/map.go:86-110 — the 151-entry stopword list, verbatim. */
  val Stopwords: Seq[String] = Seq(
    "'tis", "'twas", "a", "able", "about", "across", "after", "ain't", "all",
    "almost", "also", "am", "among", "an", "and", "any", "are", "aren't", "as",
    "at", "be", "because", "been", "but", "by", "can", "can't", "cannot",
    "could", "could've", "couldn't", "dear", "did", "didn't", "do", "does",
    "doesn't", "don't", "either", "else", "ever", "every", "for", "from",
    "get", "got", "had", "has", "hasn't", "have", "he", "he'd", "he'll",
    "he's", "her", "hers", "him", "his", "how", "how'd", "how'll", "how's",
    "however", "i", "i'd", "i'll", "i'm", "i've", "if", "in", "into", "is",
    "isn't", "it", "it's", "its", "just", "least", "let", "like", "likely",
    "may", "me", "might", "might've", "mightn't", "most", "must", "must've",
    "mustn't", "my", "neither", "no", "nor", "not", "of", "off", "often",
    "on", "only", "or", "other", "our", "own", "rather", "said", "say",
    "says", "shan't", "she", "she'd", "she'll", "she's", "should",
    "should've", "shouldn't", "since", "so", "some", "than", "that",
    "that'll", "that's", "the", "their", "them", "then", "there", "there's",
    "these", "they", "they'd", "they'll", "they're", "they've", "this",
    "tis", "to", "too", "twas", "us", "wants", "was", "wasn't", "we", "we'd",
    "we'll", "we're", "were", "weren't", "what", "what'd", "what's", "when",
    "when'd", "when'll", "when's", "where", "where'd", "where'll", "where's",
    "which", "while", "who", "who'd", "who'll", "who's", "whom", "why",
    "why'd", "why'll", "why's", "will", "with", "won't", "would", "would've",
    "wouldn't", "yet", "you", "you'd", "you'll", "you're", "you've", "your")

  /** Regexes shared by both engines (Java regex + RE2 compatible). */
  val TrimRe      = "^[^\\p{L}]+|[^\\p{L}]+$"
  val LettersRe   = "^[\\p{L}]+$"
  val WsTokenRe   = "\\s+"
  /** The members of Java's `\s`, spelled out for engines whose `\s`
    * differs (RE2 drops `\x0B`); every oracle twin below uses them. */
  val WsMembers   = " \\t\\n\\x0B\\f\\r"
  val WsClass     = s"[$WsMembers]"
  val NonWsClass  = s"[^$WsMembers]"
  /** BPE-ish token classes: letter runs, digit runs, single symbols. */
  val BpeTokenRe  = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  /** Punctuation/symbol characters: neither letter, digit nor whitespace. */
  val PunctRe     = "[^\\p{L}\\p{N}\\s]"
  /** DuckDB twins of [[BpeTokenRe]] and [[PunctRe]]. */
  val SqlBpeTokenRe = s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9$WsMembers]"
  val SqlPunctRe    = s"[^\\p{L}\\p{N}$WsMembers]"

  /** Gutenberg strip regexes — faithful to mapphase/split.go:92-115. The Go
    * patterns use `.` (no dot-all), i.e. "any char but newline" → `[^\n]`. */
  val HeaderRe  = "(?s)^.*?\\*\\*\\*[^\n]*START OF TH(E|IS) PROJECT GUTENBERG EBOOK[^\n]*\\*\\*\\*."
  val Footer1Re = "(?s)End of[ th(e|is)]* Project Gutenberg.*$"
  val Footer1DetectRe = "End of[ th(e|is)]* Project Gutenberg"
  val Footer2Re = "(?s)\\*\\*\\*[^\n]*END OF TH(E|IS) PROJECT GUTENBERG EBOOK[^\n]*\\*\\*\\*.*$"

  /** HTML→text extraction rules — the first stage every web-corpus
    * pipeline (CCNet/C4/FineWeb) runs over crawl payloads before any
    * quality gate. Regex-chain extraction (not a DOM parse): deterministic,
    * row-local, fully codegen'd, and each pattern avoids constructs whose
    * semantics differ between Java regex (Spark) and RE2 — no
    * backreferences, no `\s` (RE2 excludes `\x0B`), explicit character
    * classes only — so an oracle can replay the identical chain. */
  val HtmlScriptRe  = "(?is)<script\\b[^>]*>.*?</script>"
  val HtmlStyleRe   = "(?is)<style\\b[^>]*>.*?</style>"
  val HtmlCommentRe = "(?s)<!--.*?-->"
  val HtmlHeadRe    = "(?is)<head\\b[^>]*>.*?</head>"
  /** Block-level closers + `<br>`: these become newlines so paragraph /
    * list / table-row structure survives for downstream chunking. */
  val HtmlBlockRe   = "(?i)<br\\b[^>]*>|</(?:p|div|h[1-6]|li|tr|blockquote|section|article|ul|ol|table)[ \\t]*>"
  val HtmlTagRe     = "(?s)<[^>]*>"
  val HtmlTitleRe   = "(?is)<title\\b[^>]*>(.*?)</title>"

  // ---------------- Column (Spark) side ----------------

  /** mapphase/split.go:68 — the whitespace tokens of `c`, empties dropped. */
  def wsTokens(c: Column): Column = array_remove(split(c, WsTokenRe), lit(""))

  /** [[wsTokens]] lowercased: the token array every word-level query reads. */
  def lowerTokens(c: Column): Column =
    filter(transform(split(c, WsTokenRe), t => lower(t)), t => t =!= "")

  /** Number of whitespace tokens of `c` (INT; callers cast). */
  def wsTokenCount(c: Column): Column = regexp_count(c, lit("\\S+"))

  def trimNonAlpha(c: Column): Column = regexp_replace(c, TrimRe, "")

  /** Core named/numeric entity set, decoded AFTER tag stripping so a
    * decoded `&lt;` can never be re-parsed as markup; `&amp;` decodes last
    * (standard order: `&amp;lt;` is the literal text "&lt;"). Plain
    * `replace` (StringReplace, codegen'd) — global in Spark and DuckDB. */
  private[graft] def htmlEntities(c: Column): Column = {
    val steps = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
    steps.foldLeft(c) { case (col, (from, to)) =>
      replace(col, lit(from), lit(to)) }
  }

  /** `<title>` text of a raw HTML column: first title element's inner text,
    * entity-decoded, whitespace-collapsed, trimmed; '' when absent. */
  def htmlTitle(c: Column): Column = {
    val raw = regexp_extract(c, HtmlTitleRe, 1)
    trim(regexp_replace(htmlEntities(raw), "[ \\t\\n\\x0B\\f\\r]+", " "))
  }

  /** Body text of a raw HTML column. Chain (each step parity-replayable by
    * an oracle): drop script/style/comment/head blocks → block closers and
    * `<br>` become newlines → remaining tags become spaces → entities
    * decode → horizontal whitespace collapses to one space → space/newline
    * runs collapse to one newline → trim. Non-HTML text passes through
    * with only whitespace normalization (a lone '<' with no '>' is text).
    * Row-local and map-only: at 100 TB this is a projection inside
    * whole-stage codegen, no exchange. */
  def htmlToText(c: Column): Column = {
    val noScript = regexp_replace(c, HtmlScriptRe, " ")
    val noStyle  = regexp_replace(noScript, HtmlStyleRe, " ")
    val noCmt    = regexp_replace(noStyle, HtmlCommentRe, " ")
    val noHead   = regexp_replace(noCmt, HtmlHeadRe, " ")
    val blocks   = regexp_replace(noHead, HtmlBlockRe, "\n")
    val noTags   = regexp_replace(blocks, HtmlTagRe, " ")
    val decoded  = htmlEntities(noTags)
    val hws      = regexp_replace(decoded, "[ \\t\\x0B\\f\\r]+", " ")
    val lines    = regexp_replace(hws, " ?\\n[ \\n]*", "\n")
    regexp_replace(lines, "^[ \\n]+|[ \\n]+$", "")
  }

  /** mapphase/map.go:112-127 — drop stopwords and words with non-letters. */
  def isCleanWord(c: Column): Column =
    c.rlike(LettersRe) && !c.isin(Stopwords: _*)

  /** mapphase/map.go:66-71 — sorted-letter anagram signature. One
    * codegen'd code-point sort (SortChars) ≡ the built-in
    * `array_join(array_sort(split(c, '')), '')` chain, minus the per-word
    * single-char-array allocation and per-element byte comparisons. */
  def signature(c: Column): Column = org.apache.spark.sql.graft.SortChars(c)

  /** mapphase/split.go:90-116 — header strip then footer1-else-footer2. */
  def stripGutenberg(c: Column): Column = {
    val noHeader = regexp_replace(c, HeaderRe, "")
    when(noHeader.rlike(Footer1DetectRe), regexp_replace(noHeader, Footer1Re, ""))
      .otherwise(regexp_replace(noHeader, Footer2Re, ""))
  }

  /** Deterministic 60-bit hash shared with DuckDB: first 15 hex digits of md5. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** §6 float policy: exact fixed-point ratio in basis points — floor of
    * `num/den × 10⁴` as BIGINT via integral division. Pure integer math, so
    * the value is bit-identical in every engine, unlike `round(DOUBLE, 4)`
    * whose boundary behavior is engine/libm-specific. Non-negative operands
    * only (Spark `div` truncates toward zero, DuckDB `//` floors — identical
    * for non-negatives). */
  def bp(num: Column, den: Column): Column =
    org.apache.spark.sql.graft.ExactMath.intDiv(num.cast("long") * lit(10000L), den)

  // ---------------- SQL (DuckDB oracle) side ----------------

  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `(…, …, …)` literal list of the stopwords for SQL IN. */
  val stopwordsSqlIn: String = Stopwords.map(sqlLit).mkString("(", ", ", ")")

  /** Lambda parameter of the tokenizer twins; no oracle SQL uses it as a
    * table or column name. */
  private val TokVar = "ws_tok"

  /** DuckDB twin of [[wsTokens]]. */
  def sqlWsTokens(expr: String): String =
    s"list_filter(string_split_regex($expr, '$WsClass+'), $TokVar -> $TokVar <> '')"

  /** DuckDB twin of [[lowerTokens]]. */
  def sqlLowerTokens(expr: String): String =
    s"list_filter(list_transform(string_split_regex($expr, '$WsClass+'), " +
      s"$TokVar -> lower($TokVar)), $TokVar -> $TokVar <> '')"

  /** DuckDB twin of [[wsTokenCount]]. */
  def sqlWsTokenCount(expr: String): String =
    s"len(regexp_extract_all($expr, '$NonWsClass+'))"

  /** DuckDB: BPE-ish token count of `expr` (Spark: `regexp_count` on
    * [[BpeTokenRe]]). */
  def sqlBpeTokenCount(expr: String): String =
    s"len(regexp_extract_all($expr, '$SqlBpeTokenRe'))"

  /** DuckDB: punctuation/symbol character count of `expr` (Spark:
    * `regexp_count` on [[PunctRe]]). */
  def sqlPunctCount(expr: String): String =
    s"len(regexp_extract_all($expr, '$SqlPunctRe'))"

  /** DuckDB regex literals: single-quoted, backslashes pass through verbatim
    * (standard SQL strings do not process escapes). The Scala strings above
    * contain literal backslashes already, so re-use them directly. */
  def sqlTrim(expr: String): String =
    s"regexp_replace($expr, '^[^\\p{L}]+|[^\\p{L}]+$$', '', 'g')"

  def sqlIsCleanWord(expr: String): String =
    s"(regexp_matches($expr, '^[\\p{L}]+$$') AND $expr NOT IN $stopwordsSqlIn)"

  def sqlSignature(expr: String): String =
    s"list_aggr(list_sort(string_split($expr, '')), 'string_agg', '')"

  def sqlMd5Long(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"

  /** DuckDB twin of [[bp]]: `//` on BIGINTs is exact integral division. */
  def sqlBp(num: String, den: String): String =
    s"(CAST($num AS BIGINT) * 10000) // CAST($den AS BIGINT)"

  def sqlStripGutenberg(expr: String): String = {
    val noHeader =
      s"regexp_replace($expr, '(?s)^.*?\\*\\*\\*[^\\n]*START OF TH(E|IS) PROJECT GUTENBERG EBOOK[^\\n]*\\*\\*\\*.', '')"
    s"""CASE WHEN regexp_matches($noHeader, 'End of[ th(e|is)]* Project Gutenberg')
       THEN regexp_replace($noHeader, '(?s)End of[ th(e|is)]* Project Gutenberg.*$$', '')
       ELSE regexp_replace($noHeader, '(?s)\\*\\*\\*[^\\n]*END OF TH(E|IS) PROJECT GUTENBERG EBOOK[^\\n]*\\*\\*\\*.*$$', '') END"""
  }
}
