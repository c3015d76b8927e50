package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns._

/** Ports of the reference unit tests:
  * mapphase/map_test.go:139-181 (preprocess/trim) and
  * mapphase/split_test.go:237-262 (header/footer strip). */
class TextFnsSpec extends SparkTestBase {
  import spark.implicits._

  private def preProcess(word: String): String = {
    val out = Seq(word).toDF("w")
      .select(trimNonAlpha(lower(col("w"))).as("w"))
      .select(when(isCleanWord(col("w")), col("w")).otherwise(lit("")).as("w"))
      .as[String].collect()
    out.head
  }

  // TestProcessText: "teststring." → "teststring"
  test("preprocess strips trailing punctuation") {
    assert(preProcess("teststring.") == "teststring")
  }

  // TestProcessTextNumber: "test1string" → ""
  test("preprocess drops words with interior non-letters") {
    assert(preProcess("test1string") == "")
  }

  // TestProcessTextStopWord: "would've" → ""
  test("preprocess drops stopwords") {
    assert(preProcess("would've") == "")
    assert(preProcess("the") == "")
    assert(preProcess("a") == "")
  }

  // TestTrimNonAlphabetic: keeps unicode letters, strips punct both ends
  test("trim keeps unicode letters") {
    val out = Seq(";'.[]/,'][çteststringç];/];];/'").toDF("w")
      .select(trimNonAlpha(col("w")).as("w")).as[String].collect()
    assert(out.head == "çteststringç")
  }

  test("trim of all-punctuation yields empty (then dropped)") {
    assert(preProcess(";;;") == "")
  }

  // mapphase/map.go:66-71 — sorted-letter signature
  test("anagram signature sorts letters") {
    val out = Seq("quick", "brown", "fox", "care", "race")
      .toDF("w").select(signature(col("w")).as("s")).as[String].collect()
    assert(out.toSeq == Seq("cikqu", "bnorw", "fox", "acer", "acer"))
  }

  // split_test.go:237-248
  test("strip removes Gutenberg header and *** END footer") {
    val in = "#SOME BOOK HEADER# *** START OF THIS PROJECT GUTENBERG EBOOK SOME TITLE *** The quick brown fox jumps over the lazy dog.\n*** END OF THE PROJECT GUTENBERG EBOOK SOME TITLE *** #SOME BOOK FOOTER#"
    val out = Seq(in).toDF("t").select(stripGutenberg(col("t")).as("t")).as[String].collect()
    assert(out.head == "The quick brown fox jumps over the lazy dog.\n")
  }

  // split_test.go:250-262 — "End of Project Gutenberg's" footer wins
  test("strip removes alternative End-of footer") {
    val in = "#SOME BOOK HEADER# *** START OF THIS PROJECT GUTENBERG EBOOK SOME TITLE *** The quick brown fox jumps over the lazy dog.\nEnd of Project Gutenberg's Some Title, by Some Author\n*** END OF THE PROJECT GUTENBERG EBOOK SOME TITLE *** #SOME BOOK FOOTER#"
    val out = Seq(in).toDF("t").select(stripGutenberg(col("t")).as("t")).as[String].collect()
    assert(out.head == "The quick brown fox jumps over the lazy dog.\n")
  }

  test("strip is identity without header/footer") {
    val in = "plain text with no markers at all"
    val out = Seq(in).toDF("t").select(stripGutenberg(col("t")).as("t")).as[String].collect()
    assert(out.head == in)
  }

  test("md5Long matches an independent md5 computation") {
    val out = Seq("abc").toDF("w").select(md5Long(col("w")).as("h")).as[Long].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("abc".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.head == java.lang.Long.parseLong(hex.take(15), 16))
  }

  // The tokenizer twins spell Java's `\s` out because RE2's `\s` (DuckDB)
  // leaves out \x0B; the class must match exactly where Java's does.
  test("WsClass matches exactly where Java's \\s does, NonWsClass where \\S does") {
    import java.util.regex.Pattern
    val pairs = Seq(Pattern.compile(WsClass) -> Pattern.compile("\\s"),
      Pattern.compile(NonWsClass) -> Pattern.compile("\\S"))
    for ((spelled, java) <- pairs) {
      val differ = (0 to 0xFFFF).filter { cp =>
        val s = String.valueOf(cp.toChar)
        spelled.matcher(s).matches != java.matcher(s).matches
      }
      assert(differ.isEmpty,
        s"${spelled.pattern}: " + differ.take(10).map(cp => f"U+$cp%04X").mkString(", "))
    }
  }

  test("wsTokens, lowerTokens and wsTokenCount split on \\x0B and drop empties") {
    val vt = 0x0B.toChar
    val texts = Seq(s"a${vt}b c", "  Lead and\ttrail \n", "", "X\u00A0Y z",
      s" \t$vt\n ", "a  b\n\nc", null)
    val rows = texts.toDF("t")
      .select(wsTokens(col("t")), lowerTokens(col("t")), wsTokenCount(col("t")))
      .collect().map(r => (r.getAs[Seq[String]](0), r.getAs[Seq[String]](1), r.get(2)))
    assert(rows.toSeq == Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c"), 3),
      (Seq("Lead", "and", "trail"), Seq("lead", "and", "trail"), 3),
      (Seq(), Seq(), 0),
      (Seq("X\u00A0Y", "z"), Seq("x\u00A0y", "z"), 2),
      (Seq(), Seq(), 0),
      (Seq("a", "b", "c"), Seq("a", "b", "c"), 3),
      (null, null, null)))
  }

  // The BPE-ish token and punctuation classes have DuckDB twins for the
  // same reason. RE2 reads `\s` as [\t\n\f\r ]; each twin, compiled
  // with that reading, must count what Spark counts with the Java class,
  // so a twin that writes `\s` again fails here.
  test("the BPE and punctuation twins count what Spark counts on a\\x0Bb c") {
    import java.util.regex.Pattern
    val text = s"a${0x0B.toChar}b c"
    def re2Count(re: String): Int = {
      val m = Pattern.compile(re.replace("\\s", "\\t\\n\\f\\r ")).matcher(text)
      Iterator.continually(m.find()).takeWhile(identity).size
    }
    val counts = Seq(text).toDF("t")
      .select(regexp_count(col("t"), lit(BpeTokenRe)), regexp_count(col("t"), lit(PunctRe)))
      .head()
    assert((counts.getInt(0), counts.getInt(1)) == (3, 0))
    assert((re2Count(SqlBpeTokenRe), re2Count(SqlPunctRe)) == (3, 0))
    // the emulation does see the drift: the Java classes under RE2 count \x0B
    assert((re2Count(BpeTokenRe), re2Count(PunctRe)) == (4, 1))
  }

  // chat_dedup's key collapses whitespace runs (Java `\s` in Spark); the
  // DuckDB twin's collapse class, read under RE2, must collapse the same
  // runs, \x0B included, or a vertical tab splits one prompt into two keys.
  test("chat_dedup's prompt key and its twin agree on Hi\\x0Bthere  you") {
    import java.util.regex.Pattern
    val text = s"Hi${0x0B.toChar}there  you"
    val Collapse = """regexp_replace\(content, '([^']*)', ' ', 'g'\)""".r.unanchored
    val cls = graft.operators.Chat.chatDedupSql match {
      case Collapse(c) => c
      case _ => fail("no whitespace collapse in chatDedupSql")
    }
    // RE2 reads `\s` as [\t\n\f\r ]; DuckDB's trim strips spaces only
    val twin = Pattern.compile(cls.replace("\\s", "[\\t\\n\\f\\r ]")).matcher(text)
      .replaceAll(" ").replaceAll("^ +| +$", "").toLowerCase
    assert(twin == "hi there you")
    val keys = Seq(text).toDF("content")
      .select(array(struct(lit("user").as("role"), col("content"))).as("messages"))
      .select(graft.operators.Chat.promptKeyCol, md5Long(lit(twin)))
      .head()
    assert(keys.getLong(0) == keys.getLong(1))
  }
}
