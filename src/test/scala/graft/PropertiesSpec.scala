package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextFns._

/** Property-style checks over generated inputs (ScalaCheck generators drawn
  * deterministically, evaluated through the real Spark expressions). */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private def draw[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val word: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val messy: Gen[String] = for {
    pre <- Gen.listOf(Gen.oneOf('.', ';', '1', '[', '\'')).map(_.mkString)
    w <- word
    post <- Gen.listOf(Gen.oneOf('!', ',', '9', ']')).map(_.mkString)
  } yield pre + w + post

  test("property: signature is permutation-invariant and idempotent") {
    val ws = draw(word, 300)
    val shuffled = ws.map(w => new String(scala.util.Random.shuffle(w.toList).toArray))
    val rows = ws.zip(shuffled).toDF("a", "b")
      .select(signature(col("a")).as("sa"), signature(col("b")).as("sb"),
        signature(signature(col("a"))).as("saa"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"permutation: $r")
      assert(r.getString(0) == r.getString(2), s"idempotence: $r")
    }
  }

  test("property: trim output never starts/ends with a non-letter; idempotent") {
    val rows = draw(messy, 300).toDF("w")
      .select(trimNonAlpha(col("w")).as("t"),
        trimNonAlpha(trimNonAlpha(col("w"))).as("tt"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      assert(t.isEmpty || (t.head.isLetter && t.last.isLetter), s"'$t'")
      assert(t == r.getString(1), "idempotence")
    }
  }

  test("property: preprocessed words are letters-only non-stopwords") {
    val out = draw(messy, 300).toDF("w")
      .select(trimNonAlpha(lower(col("w"))).as("w"))
      .where(isCleanWord(col("w")))
      .as[String].collect()
    out.foreach { w =>
      assert(w.matches("^\\p{L}+$"), s"'$w'")
      assert(!Stopwords.contains(w), s"stopword leaked: '$w'")
    }
  }

  test("property: bp is exact floor(num·10⁴/den), matching BigInt math") {
    // the §6 float-policy foundation: basis points must be pure integer
    // arithmetic with zero rounding surface, including near Long-scale
    // numerators where a double-division detour would be off by ulps
    val gen = for {
      n <- Gen.chooseNum(0L, 1L << 44)
      d <- Gen.chooseNum(1L, 1L << 44)
    } yield (n, d)
    val cases = draw(gen, 300)
    val got = cases.toDF("n", "d")
      .select(bp(col("n"), col("d")).as("bp")).as[Long].collect()
    cases.zip(got).foreach { case ((n, d), g) =>
      assert(g == (BigInt(n) * 10000 / BigInt(d)).toLong, s"n=$n d=$d")
    }
  }

  test("property: md5Long is within [0, 2^60) and deterministic") {
    val ws = draw(word, 200)
    val a = ws.toDF("w").select(md5Long(col("w")).as("h")).as[Long].collect()
    val b = ws.toDF("w").select(md5Long(col("w")).as("h")).as[Long].collect()
    assert(a.toSeq == b.toSeq)
    a.foreach(h => assert(h >= 0 && h < (1L << 60)))
  }

  test("property: repetition stats are bounded and consistent") {
    // generated docs with controlled repetition: invariants hold for all
    val docGen: Gen[String] = for {
      vocab <- Gen.chooseNum(1, 8)
      n <- Gen.chooseNum(1, 40)
      ws <- Gen.listOfN(n, Gen.chooseNum(0, vocab - 1).map(i => s"w$i"))
    } yield ws.mkString(" ")
    val docs = draw(docGen, 50)
    val dir = writeDocsFixture(docs.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val rows = graft.operators.TextAnalysis.repetitionStats(spark, dir).collect()
    assert(rows.length == docs.length)
    rows.foreach { r =>
      val (n, d, dup, top) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(d >= 1 && d <= n)
      assert(dup >= 0L && dup < 10000L, s"dup_bp out of range: $dup")
      assert(top >= 10000L / d - 1 && top <= 10000L, s"top_token_bp: $top")
      // dup_bp and n_distinct must agree exactly: dup = floor((n-d)·10⁴/n)
      assert(dup == (n - d) * 10000L / n)
    }
  }

  test("property: WinnowMins equals brute-force sliding-window minima") {
    val gen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 1000L)))
    draw(gen, 200).foreach { xs =>
      val w = 4
      val expected = xs.sliding(w).filter(_.size == w).map(_.min).toSeq.distinct.sorted
      val got = org.apache.spark.sql.graft.WinnowMins.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(xs.toArray), w)
        .toLongArray().toSeq
      assert(got == expected, s"xs=$xs")
    }
  }

  test("property: TokenStats equals brute-force counting") {
    val gen = Gen.listOf(Gen.oneOf("a", "b", "ab", "ba", "ccc"))
    draw(gen, 200).foreach { toks =>
      val row = org.apache.spark.sql.graft.TokenStats.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray))
      val byTok = toks.groupBy(identity).view.mapValues(_.size)
      assert(row.getLong(0) == toks.size)
      assert(row.getLong(1) == byTok.size)
      assert(row.getLong(2) == (if (toks.isEmpty) 0L else byTok.values.max.toLong))
    }
  }

  test("property: MinhashSig equals per-coefficient brute-force minima") {
    import graft.operators.Dedup.{CoefA, CoefB, P}
    val gen = Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, P - 1)))
    draw(gen, 100).foreach { hs =>
      val got = org.apache.spark.sql.graft.MinhashSig.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(hs.toArray),
        CoefA.toArray, CoefB.toArray, P).toLongArray().toSeq
      val expected = (0 until graft.operators.Dedup.K)
        .map(i => hs.map(h => (h * CoefA(i) + CoefB(i)) % P).min)
      assert(got == expected)
    }
  }

  test("property: SigGroups equals the relational combine on random tokens") {
    val tokGen = Gen.oneOf(word, messy, Gen.oneOf(Stopwords), Gen.const(""))
    val docGen = Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, tokGen))
    val docsSeq = draw(docGen, 60).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val df = docsSeq.toDF("doc_id", "text")
    val viaExpr = df.select(col("doc_id"),
        explode(org.apache.spark.sql.graft.SigGroups(
          split(col("text"), WsTokenRe), Stopwords)).as("g"))
      .select(col("doc_id"), col("g.sig"), col("g.words"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val viaRel = df
      .select(col("doc_id"), explode(split(col("text"), WsTokenRe)).as("tok"))
      .where(col("tok") =!= "")
      .select(col("doc_id"), trimNonAlpha(lower(col("tok"))).as("word"))
      .where(isCleanWord(col("word")))
      .distinct()
      .groupBy(col("doc_id"), signature(col("word")).as("sig"))
      .agg(array_join(sort_array(collect_set(col("word"))), " ").as("words"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(viaExpr == viaRel)
  }

  /** Text drawn to break a tokenizer: both ASCII cases, Latin-1 letters,
    * case-mapping edge letters (İ ı ß Σ ς ǅ µ ª º), a non-BMP letter,
    * a combining accent, NBSP, U+2028, all six `\s` bytes, digits,
    * punctuation, and whole stopwords in either case. U+A7CB is newer
    * than the JDK's Unicode tables: only the ICU case mapping lowers it,
    * to the letter ɤ, so the two `lower` settings give different words. */
  private val adversarialDoc: Gen[String] = {
    val chars = "aAbBeEsSzZ" + "éÉüÜñÑÿçÇ" + "İıßΣσςǅµªº" + "\uA7CB" +
      "\u0301\u00A0\u2028" + " \t\n\u000B\f\r" + "09.,'-!"
    val piece = Gen.frequency(
      12 -> Gen.oneOf(chars.map(_.toString) :+ "\uD835\uDC00"), // 𝐀, U+1D400
      1 -> Gen.oneOf(Stopwords).flatMap(w => Gen.oneOf(w, w.toUpperCase)),
      1 -> Gen.const(" "))
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
  }

  private def withIcuCaseMappings[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.icu.caseMappings.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("property: CleanWords equals the regex chain with per-doc distinct") {
    import org.apache.spark.sql.graft.CleanWords
    val docs = draw(adversarialDoc, 2000).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // read back from parquet so the kernel runs inside generated code
    val df = spark.read.parquet(s"${writeDocsFixture(docs)}/documents.parquet")
    val chainBySetting = for (icu <- Seq(false, true)) yield withIcuCaseMappings(icu) {
      val viaKernel = df
        .select(col("doc_id"), explode(CleanWords(col("text"), Stopwords)).as("word"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val viaChain = df
        .select(col("doc_id"), explode(split(col("text"), WsTokenRe)).as("tok"))
        .where(col("tok") =!= "")
        .select(col("doc_id"), trimNonAlpha(lower(col("tok"))).as("word"))
        .where(isCleanWord(col("word")))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val (unique, same) = (viaKernel.distinct.length == viaKernel.length, viaKernel.toSet == viaChain)
      assert(unique, s"icu=$icu: a word repeats in a doc")
      assert(same, s"icu=$icu: " +
        s"kernel-only ${(viaKernel.toSet -- viaChain).take(5)}, " +
        s"chain-only ${(viaChain -- viaKernel).take(5)}")
      assert(viaChain.exists(_._2.exists(_ > 0x7f)), "non-ASCII words were exercised")
      viaChain
    }
    assert(chainBySetting.distinct.length == 2, "the case-mapping setting was exercised")
  }

  /** Every token of one or two code points from U+0000–U+00FF (the six
    * `\s` characters left out), and each of those code points before,
    * inside and after a mixed-case ASCII word. */
  private lazy val latin1Tokens: Seq[String] = {
    val cps = (0 to 0xff).map(_.toChar.toString).filterNot(c => " \t\n\u000B\f\r".contains(c))
    cps ++ (for (a <- cps; b <- cps) yield a + b) ++
      cps.flatMap(c => Seq(c + "Word", "Wo" + c + "rd", "Word" + c))
  }

  test("exhaustive Latin-1: the byte lowercase equals ICU's root lowercase") {
    import com.ibm.icu.lang.UCharacter
    import com.ibm.icu.util.ULocale
    import org.apache.spark.sql.graft.CleanWords
    import org.apache.spark.unsafe.types.UTF8String
    val diffs = latin1Tokens.flatMap { t =>
      val u = UTF8String.fromString(t)
      val got = CleanWords.lowerLatin1(u.getBaseObject, u.getBaseOffset, u.numBytes)
      val want = UCharacter.toLowerCase(ULocale.ROOT, t)
      if (got != null && got.toString == want) None else Some(s"'$t': ${Option(got)} != '$want'")
    }
    assert(diffs.isEmpty, diffs.take(5).mkString("\n"))
    // code points above U+00FF are not the byte path's
    Seq("\u0100", "a\u0130", "\u03A3", "\uD835\uDC00").foreach { t =>
      val u = UTF8String.fromString(t)
      assert(CleanWords.lowerLatin1(u.getBaseObject, u.getBaseOffset, u.numBytes) == null, t)
    }
  }

  test("exhaustive Latin-1: CleanWords and SigGroups equal the regex chain") {
    import org.apache.spark.sql.graft.{CleanWords, SigGroups}
    val docs = latin1Tokens.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // read back from parquet so the kernels run inside generated code
    val df = spark.read.parquet(s"${writeDocsFixture(docs)}/documents.parquet")
    for (icu <- Seq(false, true)) withIcuCaseMappings(icu) {
      val viaKernel = df
        .select(col("doc_id"), explode(CleanWords(col("text"), Stopwords)).as("word"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val viaChain = df
        .select(col("doc_id"), explode(split(col("text"), WsTokenRe)).as("tok"))
        .where(col("tok") =!= "")
        .select(col("doc_id"), trimNonAlpha(lower(col("tok"))).as("word"))
        .where(isCleanWord(col("word")))
        .distinct()
      val chain = viaChain.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(viaKernel == chain, s"icu=$icu: " +
        s"kernel-only ${(viaKernel -- chain).take(5)}, chain-only ${(chain -- viaKernel).take(5)}")
      val viaSigGroups = df
        .select(col("doc_id"), explode(SigGroups(split(col("text"), WsTokenRe), Stopwords)).as("g"))
        .select(col("doc_id"), col("g.sig"), col("g.words"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val chainGroups = viaChain
        .groupBy(col("doc_id"), signature(col("word")).as("sig"))
        .agg(array_join(sort_array(collect_set(col("word"))), " ").as("words"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(viaSigGroups == chainGroups, s"icu=$icu: sig_groups-only " +
        s"${(viaSigGroups -- chainGroups).take(5)}, chain-only ${(chainGroups -- viaSigGroups).take(5)}")
      // each Latin-1 capital, as a token of its own, became its small letter
      val capitals = (0xc0 to 0xde).filter(_ != 0xd7).map(_.toChar.toString)
      val notLowered = capitals.filterNot(c =>
        chain((latin1Tokens.indexOf(c).toLong, c.toLowerCase(java.util.Locale.ROOT))))
      assert(notLowered.isEmpty, s"icu=$icu: $notLowered")
    }
  }

  test("CleanWords under ICU keeps Spark's lower path where the default locale is tr, az or lt") {
    import java.util.Locale
    import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
    import org.apache.spark.sql.graft.CleanWords
    import org.apache.spark.unsafe.types.UTF8String
    val toks = Seq("IÇI", "Ìsola", "Ídolo", "ÏÎ", "Àmbit")
    def chain(t: String): String = {
      val w = CollationSupport.Lower.exec(UTF8String.fromString(t),
        CollationFactory.UTF8_BINARY_COLLATION_ID, true).toString.replaceAll(TrimRe, "")
      if (w.matches(LettersRe)) w else null
    }
    val prev = Locale.getDefault
    val byLocale = try Seq("tr", "az", "lt", "en").map { lang =>
      Locale.setDefault(Locale.forLanguageTag(lang))
      val got = toks.map(t => Option(CleanWords.cleanToken(UTF8String.fromString(t), true)).map(_.toString).orNull)
      assert(got == toks.map(chain), s"default locale $lang")
      got
    } finally Locale.setDefault(prev)
    // the special casings moved the words, so the guard was exercised
    assert(byLocale.distinct.length == 3, byLocale)
  }

  test("CleanWords: null text is null; empty and whitespace-only text have no words") {
    import org.apache.spark.sql.graft.CleanWords
    val got = Seq[(Long, Option[String])](
        (0L, None), (1L, Some("")), (2L, Some(" \t\n\u000B\f\r ")), (3L, Some("Listen, silent!")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), CleanWords(col("text"), Stopwords).as("w"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(got == Map(0L -> None, 1L -> Some(Seq()), 2L -> Some(Seq()),
      3L -> Some(Seq("listen", "silent"))))
  }

  /** Book files drawn to break the strip's byte search: stars, line ends,
    * the marker texts whole and in pieces (so near-misses are common),
    * the footer-1 class's own characters, ASCII words and Latin-1 bytes. */
  private val bookBytes: Gen[Array[Byte]] = {
    val markers = Seq("START OF THE PROJECT GUTENBERG EBOOK", "START OF THIS PROJECT GUTENBERG EBOOK",
      "END OF THE PROJECT GUTENBERG EBOOK", "END OF THIS PROJECT GUTENBERG EBOOK")
    val pieces = Seq("START OF TH", "IS ", "E PROJECT GUTENBERG EBOOK", "PROJECT GUTENBERG EBOOK",
      "END OF TH", "End of", " the", "(e|is)", " Project Gutenberg", "|", "(")
    val fragment: Gen[Array[Byte]] = Gen.frequency(
      3 -> Gen.oneOf(markers),
      2 -> Gen.oneOf(markers).map(m => s"*** $m ***"),
      1 -> (for { // footer-1 texts and near misses
        n <- Gen.chooseNum(0, 6)
        run <- Gen.listOfN(n, Gen.oneOf(" ", "t", "h", "e", "i", "s", "(", "|", ")", "x"))
        end <- Gen.oneOf(" Project Gutenberg", "Project Gutenberg")
      } yield "End of" + run.mkString + end),
      8 -> Gen.oneOf(pieces),
      5 -> Gen.oneOf("*", "***", "****"),
      3 -> Gen.oneOf("\n", "\r", "\r\n", " ", "  "),
      3 -> Gen.oneOf("Care", "race", "acre", "the", "Word", "s"),
      2 -> Gen.choose(0x80, 0xff).map(b => new String(Array(b.toChar))))
      .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, fragment)).map(_.toArray.flatten)
  }

  /** The named cases, each with its stripped body. */
  private val namedBooks: Seq[(String, String)] = Seq(
    "x **** START OF THE PROJECT GUTENBERG EBOOK A **** body" -> "body", // `****` runs
    // a marker with no closing `***` on its line: no header
    "*** START OF THE PROJECT GUTENBERG EBOOK A\n*** body ***" -> "*** START OF THE PROJECT GUTENBERG EBOOK A\n*** body ***",
    // `***` as the last byte: the regex's `.` has nothing to consume
    "*** START OF THIS PROJECT GUTENBERG EBOOK A ***" -> "*** START OF THIS PROJECT GUTENBERG EBOOK A ***",
    "*** START OF THIS PROJECT GUTENBERG EBOOK A ***\n" -> "",
    // both footers: footer 1 wins though it comes later
    "h *** START OF THE PROJECT GUTENBERG EBOOK T ***\nbody\n*** END OF THE PROJECT GUTENBERG EBOOK T ***\n" +
      "End of the Project Gutenberg EBook" -> "body\n*** END OF THE PROJECT GUTENBERG EBOOK T ***\n",
    "h *** START OF THE PROJECT GUTENBERG EBOOK T ***\r\nbody\r\n*** END OF THIS PROJECT GUTENBERG EBOOK T ***" ->
      "\nbody\r\n",
    "lic *** START OF THE PROJECT GUTENBERG EBOOK T *** body text" -> "body text", // a header only
    "plain text" -> "plain text", // no markers
    "" -> "") // an empty file

  test("property: BookWords' body bounds equal the strip regexes; the kernel equals the CleanWords chain") {
    import org.apache.spark.sql.graft.{BookWords, CleanWords}
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val books = (namedBooks.map(_._1.getBytes(latin1)) ++ draw(bookBytes, 5000)).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }
    val dir = java.nio.file.Files.createTempDirectory("graft-bookbytes").toString
    books.toDF("id", "content").coalesce(1).write.mode("overwrite").parquet(dir)
    // read back from parquet so the kernel runs inside generated code
    val df = spark.read.parquet(dir)
    val text = stripGutenberg(decode(col("content"), "ISO-8859-1"))
    val viaRegex = df.select(col("id"), text).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val bounds = books.map { case (id, b) =>
      val from = BookWords.bodyFrom(b)
      id -> (from, BookWords.bodyTo(b, from))
    }.toMap
    val diffs = books.flatMap { case (id, b) =>
      val (from, to) = bounds(id)
      if (new String(b, from, to - from, latin1) == viaRegex(id)) None
      else Some(s"${new String(b, latin1).replace("\n", "\\n")} -> ($from, $to)")
    }
    val nDiffs = diffs.length
    assert(nDiffs == 0, s"bodies differ:\n${diffs.take(5).mkString("\n")}")
    namedBooks.zipWithIndex.foreach { case ((book, body), i) => assert(viaRegex(i.toLong) == body, book) }
    // every way the strip can cut was drawn many times
    val headers = bounds.values.count(_._1 > 0)
    val footers = books.count { case (id, b) => bounds(id)._2 < b.length }
    val footer1 = books.count { case (id, b) =>
      new String(b, latin1).substring(bounds(id)._1).matches(s"(?s).*$Footer1DetectRe.*") }
    assert(headers > 300 && footer1 > 300 && footers - footer1 > 300, (headers, footer1, footers))
    for (icu <- Seq(false, true)) withIcuCaseMappings(icu) {
      val both = df.select(col("id"), BookWords(col("content"), Stopwords).as("k"),
          CleanWords(text, Stopwords).as("c"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2)))
      val differ = both.filter(r => r._2 != r._3)
      val nDiffer = differ.length
      assert(nDiffer == 0, s"icu=$icu: ${differ.take(5).mkString("\n")}")
      assert(both.exists(_._2.exists(_.exists(_ > 0x7f))), "non-ASCII words were exercised")
    }
  }

  test("property: embedding-dedup blocking finds all pairs within hamming<=1 buckets") {
    // brute-force check on random float vectors: every pair above the
    // cosine threshold whose hyperplane buckets differ by <=1 bit must be
    // emitted by the blocked join (the blocking predicate, exactly)
    import graft.operators.{Dedup, Similarity}
    val rng = new scala.util.Random(7)
    val dim = Dedup.Dim
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(dim)((rng.nextGaussian() * 0.3).toFloat), 0))
    val d = java.nio.file.Files.createTempDirectory("graft-embp").toString
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = Dedup.dedupEmbedding(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def bucket(v: Array[Float], t: Int): Long =
      (0 until Similarity.NumPlanes).map { j =>
        val dot = (0 until dim).foldLeft(0.0)((a, i) =>
          a + v(i).toDouble * Similarity.Planes(t * Similarity.NumPlanes + j)(i))
        if (dot > 0.0) 1L << j else 0L
      }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        (0 until dim).foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val expect = (for {
      (ia, va, _) <- vecs; (ib, vb, _) <- vecs if ia < ib
      if (0 until Similarity.NumTables).exists(t =>
        java.lang.Long.bitCount(bucket(va, t) ^ bucket(vb, t)) <= 1)
      // §6: the operator thresholds on the RAW cosine (bit-identical IEEE
      // math), not the rounded one
      if cos(va, vb) >= Dedup.CosineThreshold
    } yield (ia, ib)).toSet
    assert(got == expect)
  }

  test("property: containment values match brute-forced shingle sets") {
    import graft.operators.Dedup
    // random word-soup docs with shared vocabulary → real LSH candidates
    val rng = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docsSeq = (1 to 20).map { i =>
      i.toLong -> (0 until 30).map(_ => vocab(rng.nextInt(3 + rng.nextInt(3))))
        .mkString(" ")
    }
    val d = writeDocsFixture(docsSeq)
    // the operator's own rolling hash, in plain Scala
    def shingles(text: String): Set[Long] =
      (0 to text.length - Dedup.ShingleK).map { p =>
        (0 until Dedup.ShingleK).foldLeft(0L)((acc, j) =>
          (acc * Dedup.ShingleB + text.charAt(p + j).toLong) % Dedup.P)
      }.toSet
    val byId = docsSeq.toMap
    val rows = Dedup.minhashContainment(spark, d).collect()
    assert(rows.nonEmpty) // shared vocabulary must produce candidates
    rows.foreach { r =>
      val (a, b) = (shingles(byId(r.getLong(0))), shingles(byId(r.getLong(1))))
      val inter = (a intersect b).size.toLong
      assert(r.getLong(2) == inter * 10000L / a.size)
      assert(r.getLong(3) == inter * 10000L / b.size)
    }
  }

  test("property: incremental dedup equals the full pair set restricted to odd-even") {
    import graft.operators.Dedup
    val rng = new scala.util.Random(17)
    val vocab = Vector("red", "green", "blue", "cyan")
    val docsSeq = (1 to 24).map { i =>
      // near-dup groups: docs i and i+1 share a seeded prefix
      val seed = (0 until 25).map(_ => vocab((i / 2) % vocab.size match {
        case k => (k + rng.nextInt(2)) % vocab.size
      })).mkString(" ")
      i.toLong -> seed
    }
    val d = writeDocsFixture(docsSeq)
    val full = Dedup.dedupMinhash(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.dedupIncremental(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // orient full pairs as (odd, even); parities equal → not incremental's job
    val expect = full.collect {
      case (a, b) if a % 2 == 1 && b % 2 == 0 => (a, b)
      case (a, b) if a % 2 == 0 && b % 2 == 1 => (b, a)
    }
    assert(inc == expect)
    assert(inc.nonEmpty) // the seeded groups must cross the parity boundary
  }

  test("property: chunks tile the token array at stride with bounded windows") {
    import graft.operators.Curation
    val (len, stride) = (Curation.ChunkLen, Curation.ChunkStride)
    val sizes = draw(Gen.chooseNum(1, 150), 40)
    val docsSeq = sizes.zipWithIndex.map { case (n, i) =>
      (i + 1).toLong -> (1 to n).map(k => s"t$k").mkString(" ")
    }
    val d = writeDocsFixture(docsSeq)
    val byDoc = Curation.chunkDocuments(spark, d).collect()
      .groupBy(_.getLong(0))
    val nByDoc = docsSeq.toMap.map { case (id, t) => id -> t.split(" ").length }
    byDoc.foreach { case (id, rows) =>
      val n = nByDoc(id)
      val m = if (n > len) (n - len + stride - 1) / stride else 0
      val chunks = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(chunks.keySet == (0L to m.toLong).toSet) // contiguous indices
      chunks.foreach { case (idx, sz) =>
        val start = idx * stride // 0-based
        assert(sz == math.min(len.toLong, n - start)) // clamped window
        assert(sz >= 1)
      }
      // final chunk reaches the last token
      assert(m.toLong * stride + chunks(m.toLong) == n.toLong || n <= len)
    }
    assert(byDoc.keySet == nByDoc.keySet)
  }

  test("property: int8 quantization matches a direct model on random vectors") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(graft.operators.Dedup.Dim)(
        (rnd.nextFloat() * 2f - 1f) * (1 + rnd.nextInt(5))), 0))
    val d = java.nio.file.Files.createTempDirectory("graft-quantprop").toString
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    // direct model: the operator's arithmetic in plain Scala
    def model(v: Array[Float]): (Long, Long) = {
      val s = v.map(x => math.abs(x.toDouble)).max / 127.0
      val q = v.map(x => math.max(-127.0, math.min(127.0,
        BigDecimal(x.toDouble / s).setScale(0, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)).toLong)
      (q.map(math.abs).sum, q.sum)
    }
    val got = graft.operators.Similarity.embeddingQuantize(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    vecs.foreach { case (id, v, _) =>
      val (l1, sm) = model(v)
      assert(got(id)._1 == l1 && got(id)._2 == sm, s"vec $id")
      assert(got(id)._3 > 0.995, s"recon cos for vec $id") // int8 on 64 dims
    }
  }

  test("property: codepoints agrees with split-per-char and length, incl. astral") {
    // the suffix index replaced split(text, '') with StringCodepoints: the
    // element COUNT must equal Spark's length() (codepoints, the oracle's
    // substr/length unit) and the elements must be exactly the codepoints
    // of split(text, '')'s per-char strings — including surrogate pairs
    val texts = Seq("abc", "héllo wörld", "𝄞 music 𝄞𝄞",
      "日本語テキスト", "a𝄞b", "mixed ascii ɣ ʷ 𐍈")
    val rows = texts.toDF("t").select(col("t"),
      org.apache.spark.sql.graft.StringCodepoints(col("t")).as("cps"),
      split(col("t"), "").as("chs"), length(col("t")).as("n")).collect()
    rows.foreach { r =>
      val t = r.getString(0)
      val cps = r.getSeq[Int](1)
      val chs = r.getSeq[String](2)
      assert(cps.length == r.getInt(3), s"'$t': count != length()")
      assert(cps.length == chs.length, s"'$t': count != split elements")
      assert(cps == chs.map(_.codePointAt(0)), s"'$t': codepoint mismatch")
      assert(new String(cps.toArray, 0, cps.length) == t, s"'$t': reconstruct")
    }
  }

  test("property: Int8QuantStats equals the lambda formulation bit for bit") {
    // the codegen'd expression replaced an interpreted
    // transform/aggregate/zip_with chain; its §6 contract is BIT equality
    // with that chain (same fold order, same Spark round() semantics).
    // Every third vector pins max=127 so s=1 exactly and the remaining
    // elements hit exact ±k.5 halves — the adversarial rounding boundary.
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 60).map { i =>
      val dim = 16 + rnd.nextInt(17)
      val arr =
        if (i % 3 == 0)
          Array(127f) ++ Array.fill(dim - 1)((rnd.nextInt(509) - 254).toFloat / 2f)
        else Array.fill(dim)((rnd.nextFloat() * 2f - 1f) * (1 + rnd.nextInt(9)))
      (i.toLong, arr)
    } :+ (1000L, Array.fill(8)(0f)) // zero vector: dropped by both paths
    val df = vecs.toDF("vec_id", "embedding")
    val s = (array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      / 127.0).as("s")
    val qv = transform(col("embedding"), x =>
      least(greatest(round(x.cast("double") / col("s")), lit(-127.0)), lit(127.0))
        .cast("long"))
    val expected = df
      .select(col("vec_id"), col("embedding"), s)
      .where(col("s") > 0.0)
      .select(col("vec_id"), col("embedding"), qv.as("qv"))
      .select(col("vec_id"),
        size(col("qv")).cast("long").as("n_dims"),
        aggregate(transform(col("qv"), x => abs(x)), lit(0L), (a, x) => a + x)
          .as("q_l1"),
        aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
        (aggregate(zip_with(col("qv"), col("embedding"),
          (q, v) => q.cast("double") * v.cast("double")), lit(0.0), (a, x) => a + x)
          / (sqrt(aggregate(transform(col("qv"), x => x * x), lit(0L), (a, x) => a + x)
              .cast("double"))
            * sqrt(aggregate(transform(col("embedding"),
                v => v.cast("double") * v.cast("double")), lit(0.0), (a, x) => a + x))))
          .as("raw"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val got = df
      .select(col("vec_id"),
        org.apache.spark.sql.graft.Int8QuantStats(col("embedding")).as("qs"))
      .where(col("qs").isNotNull)
      .select(col("vec_id"), col("qs.n_dims"), col("qs.q_l1"), col("qs.q_sum"),
        col("qs.recon_raw"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == expected.keySet) // incl. the s=0 drop
    expected.foreach { case (id, (nd, l1, sm, raw)) =>
      val g = got(id)
      assert(g._1 == nd && g._2 == l1 && g._3 == sm, s"vec $id ints: $g")
      assert(java.lang.Double.doubleToLongBits(g._4)
        == java.lang.Double.doubleToLongBits(raw), s"vec $id raw cos bits")
    }
  }

  test("property: DsirLlrE4 equals the decimal-fold formulation bit for bit") {
    // the codegen'd scorer replaced an interpreted aggregate/element_at
    // fold over DECIMAL(18,4) model values; its §6 contract is BIT
    // equality with that fold — same hash, same bucket, and the final
    // sum_e4/10⁴ double division is the correctly-rounded value the
    // decimal narrow+cast produced (both operands exactly representable)
    val rnd = new scala.util.Random(11)
    val buckets = 64 // bucket count follows the model array's length
    val lrE4 = Seq.tabulate(buckets)(_ => (rnd.nextInt(200001) - 100000).toLong)
    val pool = Seq("alpha", "beta", "Gamma", "δοκιμή", "中文词", "x",
      "emoji😀", "num123", "tab\tchar")
    val docs = (0 until 40).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(pool(rnd.nextInt(pool.size))))
    }
    val df = docs.toDF("id", "toks")
    val lrArrDec = array(lrE4.map(v =>
      lit((BigDecimal(v) / 10000).toDouble).cast("decimal(18,4)")): _*)
    val expected = df.select(col("id"),
        aggregate(col("toks"), lit(0).cast("decimal(38,4)"),
          (acc, t) => acc + element_at(lrArrDec,
            (graft.functions.TextFns.md5Long(t) % buckets.toLong).cast("int") + 1))
          .cast("decimal(18,4)").cast("double").as("llr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = df.select(col("id"),
        (org.apache.spark.sql.graft.DsirLlrE4(col("toks"), typedLit(lrE4))
          .cast("double") / lit(10000.0)).as("llr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(got(id))
        == java.lang.Double.doubleToLongBits(v), s"doc $id llr bits")
    }
    // and the SQL registration serves the same expression
    val viaSql = spark.sql(
      s"SELECT dsir_llr_e4(array('alpha','中文词'), array(${lrE4.map(v => s"${v}L").mkString(",")}))")
      .collect()(0).getLong(0)
    val direct = df.sparkSession.range(1).select(
      org.apache.spark.sql.graft.DsirLlrE4(
        typedLit(Seq("alpha", "中文词")), typedLit(lrE4))).collect()(0).getLong(0)
    assert(viaSql == direct)
  }

  test("property: bpe_pair_counts equals brute-force weighted pair counting") {
    val docGen = Gen.chooseNum(3, 12)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val texts = draw(docGen, 12)
    val dir = writeDocsFixture(texts.zipWithIndex.map { case (t, i) => (i + 1L) -> t })
    // brute force: distinct-word freq over [a-z]{2,} tokens, adjacent pairs
    val freq = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty).map(_.toLowerCase)
      .filter(w => w.matches("^[a-z]+$") && w.length >= 2)
      .groupBy(identity).view.mapValues(_.size.toLong)
    val expect = freq.toSeq
      .flatMap { case (w, f) => w.sliding(2).map(p => p -> f) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(graft.operators.TextAnalysis.BpePairTopN)
    val got = graft.operators.TextAnalysis.bpePairCounts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
      .sortBy { case (p, c) => (-c, p) }
    assert(got == expect)
  }

  test("property: oov_stats equals brute-force coverage at any k") {
    val docGen = Gen.chooseNum(2, 10)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val texts = draw(docGen, 15)
    val dir = writeDocsFixture(texts.zipWithIndex.map { case (t, i) => (i + 1L) -> t })
    val toks = texts.map(_.split("\\s+").filter(_.nonEmpty).map(_.toLowerCase).toSeq)
    val freq = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toSeq
    for (k <- Seq(1, 5, 50)) {
      val vocab = freq.sortBy { case (t, f) => (-f, t) }.take(k).map(_._1).toSet
      val got = graft.operators.TextAnalysis.oovStatsK(spark, dir, k).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      toks.zipWithIndex.foreach { case (ts, i) =>
        val oov = ts.count(!vocab(_)).toLong
        assert(got(i + 1L) == ((ts.size.toLong, oov, oov * 10000 / ts.size)),
          s"doc ${i + 1} k=$k")
      }
    }
  }

  test("property: vocab_growth rungs are monotone and match brute force") {
    val docGen = Gen.chooseNum(2, 10)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val texts = draw(docGen, 15)
    val dir = writeDocsFixture(texts.zipWithIndex.map { case (t, i) => (i + 1L) -> t })
    val all = texts.flatMap(_.split("\\s+").filter(_.nonEmpty).map(_.toLowerCase))
    val freq = all.groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val total = all.size.toLong
    val r = graft.operators.TextAnalysis.vocabGrowth(spark, dir).collect().head
    assert(r.getLong(0) == freq.size && r.getLong(1) == total)
    val rungs = graft.operators.TextAnalysis.VocabGrowthKs.zipWithIndex.map {
      case (k, i) =>
        val covered = freq.sortBy { case (t, f) => (-f, t) }.take(k).map(_._2).sum
        val bp = r.getLong(2 + i)
        assert(bp == covered * 10000 / total, s"k=$k")
        bp
    }
    assert(rungs == rungs.sorted) // more vocab never covers less
  }

  /** Random corpus with natural segment repeats: a pool of SegLen-token
    * "paragraphs"; each doc concatenates 1-4 pool draws plus an optional
    * unique partial tail, so segments align to paragraphs and duplicate
    * across docs exactly when the same paragraph was drawn twice. */
  private def segCorpus(nDocs: Int, seed: Int): Seq[(Long, String)] = {
    val sl = graft.operators.Curation.SegLen
    val rnd = new scala.util.Random(seed)
    def rw() = (0 until 1 + rnd.nextInt(8))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // 6 genuinely distinct paragraphs (independent random words)
    val pool = (0 until 6).map(_ => Seq.fill(sl)(rw()).mkString(" "))
    assert(pool.distinct.size == pool.size)
    (1 to nDocs).map { i =>
      val paras = (0 until 1 + rnd.nextInt(4)).map(_ => pool(rnd.nextInt(pool.size)))
      val tail = if (rnd.nextBoolean()) Seq.fill(rnd.nextInt(sl - 1) + 1)(rw())
        .mkString(" ") else ""
      i.toLong -> (paras :+ tail).filter(_.nonEmpty).mkString(" ")
    }
  }
  private def bruteSegs(text: String): Seq[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).grouped(
      graft.operators.Curation.SegLen).map(_.mkString(" ")).toSeq

  test("property: dedup_bloom equals brute-force segment membership") {
    val corpus = segCorpus(24, seed = 7)
    val dir = writeDocsFixture(corpus)
    val oldSet = corpus.filter(_._1 % 2 == 0).flatMap(d => bruteSegs(d._2)).toSet
    val expected = corpus.filter(_._1 % 2 == 1).map { case (id, text) =>
      val segs = bruteSegs(text)
      id -> ((segs.size.toLong, segs.count(oldSet.contains).toLong))
    }.toMap
    val rows = graft.operators.Dedup.dedupBloom(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // exactness both ways: the bloom prefilter loses nothing (no false
    // negatives) and the confirm join admits nothing extra
    assert(rows == expected)
  }

  test("property: trim_segments equals brute-force paragraph trimming") {
    val corpus = segCorpus(24, seed = 11)
    val dir = writeDocsFixture(corpus)
    val counts = corpus.flatMap(d => bruteSegs(d._2))
      .groupBy(identity).view.mapValues(_.size).toMap
    val expected = corpus.map { case (id, text) =>
      val segs = bruteSegs(text)
      id -> ((segs.size.toLong, segs.count(counts(_) > 1).toLong,
        segs.filter(counts(_) == 1).mkString(" ")))
    }.toMap
    val rows = graft.operators.Curation.trimSegments(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(rows == expected)
  }

  test("property: minhash sim_hat tracks true Jaccard on synthetic overlaps") {
    // doc pairs sharing a controlled fraction of shingles: sim_hat must
    // correlate (loose statistical bound, K=32 → σ≈0.09)
    val base = draw(word, 60).distinct
    val docA = base.mkString(" ")
    val docB = (base.take(base.length / 2) ++ draw(word, 40).map(_.reverse)).distinct.mkString(" ")
    val dir = writeDocsFixture(Seq(1L -> docA, 2L -> docB, 3L -> docA))
    val sigs = graft.operators.Dedup.signatures(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to graft.operators.Dedup.K).map(r.getLong)).toMap
    val simIdentical = sigs(1L).zip(sigs(3L)).count(p => p._1 == p._2).toDouble / graft.operators.Dedup.K
    val simPartial = sigs(1L).zip(sigs(2L)).count(p => p._1 == p._2).toDouble / graft.operators.Dedup.K
    assert(simIdentical == 1.0)
    assert(simPartial < 1.0 && simPartial > 0.05)
  }

  test("property: WARC records round-trip through parseWarc for arbitrary payloads") {
    // Content-Length framing must recover every record EXACTLY no matter
    // what the payload contains — record markers, CRLF runs, raw binary,
    // LF-free stretches. This is the property marker-splitting breaks.
    import graft.sources.WarcSource
    val payloadByte: Gen[Byte] = Gen.frequency(
      8 -> Gen.chooseNum(0, 255).map(_.toByte),
      1 -> Gen.const('\n'.toByte),
      1 -> Gen.const('\r'.toByte))
    val payload: Gen[Array[Byte]] = Gen.frequency(
      // adversarial: a payload that embeds a whole fake record
      1 -> Gen.const("WARC/1.0\r\nWARC-Type: fake\r\nContent-Length: 3\r\n\r\nxyz"
        .getBytes("ISO-8859-1")),
      1 -> Gen.const(Array.empty[Byte]),
      6 -> Gen.chooseNum(0, 400).flatMap(n =>
        Gen.listOfN(n, payloadByte).map(_.toArray)))
    val rec: Gen[(String, String, Array[Byte])] = for {
      t <- Gen.oneOf("response", "request", "metadata", "resource")
      u <- Gen.listOfN(8, Gen.alphaNumChar).map(cs => s"http://x.example/${cs.mkString}")
      b <- payload
    } yield (t, u, b)
    (0 until 20).foreach { trial =>
      val recs = draw(Gen.chooseNum(1, 12).flatMap(Gen.listOfN(_, rec)), 1)
        .head.zipWithIndex.map { case ((t, u, b), i) => (t, s"$u$trial$i", b) }
      val file = recs.flatMap { case (t, u, b) =>
        (s"WARC/1.0\r\nWARC-Type: $t\r\nWARC-Target-URI: $u\r\n" +
          s"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: ${b.length}\r\n\r\n")
          .getBytes("ISO-8859-1") ++ b ++ "\r\n\r\n".getBytes("ISO-8859-1")
      }.toArray
      val parsed = WarcSource.parseWarc(file).toSeq
      assert(parsed.length == recs.length, s"trial $trial: record count")
      parsed.zip(recs).foreach { case ((ix, url, _, wtype, block), (t, u, b)) =>
        assert(wtype == t && url == u, s"trial $trial rec $ix: headers")
        assert(java.util.Arrays.equals(block, b), s"trial $trial rec $ix: payload bytes")
      }
      // pushed-filter parse (keepType) ≡ full parse + post-filter, with
      // rec_ix counting SKIPPED records too (stable doc_ids — r7 V2
      // filter pushdown); and the pruned-payload walk keeps the indices
      def stream(wantBlock: Boolean, keep: String) = WarcSource.parseWarcStream(
        new java.io.ByteArrayInputStream(file), wantBlock, keep).toSeq
      val full = parsed.filter(_._4 == "response")
      val pushed = stream(wantBlock = true, keep = "response")
      assert(pushed.map(r => (r._1, r._2, r._4)) == full.map(r => (r._1, r._2, r._4)),
        s"trial $trial: pushed-filter indices/headers diverge")
      pushed.zip(full).foreach { case (p, f) =>
        assert(java.util.Arrays.equals(p._5, f._5), s"trial $trial: pushed blocks")
      }
      val prunedPushed = stream(wantBlock = false, keep = "response")
      assert(prunedPushed.map(r => (r._1, r._2, r._4)) == full.map(r => (r._1, r._2, r._4)),
        s"trial $trial: pruned+pushed indices diverge")
      assert(prunedPushed.forall(_._5.isEmpty), s"trial $trial: pruned blocks not empty")
    }
  }

  test("property: token_profile_hits equals the interpreted lambda chain " +
      "on adversarial and real text") {
    import spark.implicits._
    val profiles = Stopwords +: graft.operators.TextAnalysis.LangProfiles.map(_._2)
    val adversarial = Seq(
      "", " ", "\t\n\u000B\u000C\r", "the", "The THE tHe", "  the  and\tof\n",
      // NBSP is NOT Java-regex \s: "a\u00A0the" must stay ONE token
      "a\u00A0the", "\u00C9T\u00C9 \u00E9t\u00E9 v\u00E4l Gr\u00F6\u00DFe",
      "\u7684 \u662F \u5728 x", "de DE dE de,", "-", "\u000Bthe\u000C",
      "the\r\nand", "el lo Los l\u00E9", "und DER die\fdas")
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).as[String].collect().toSeq
    val df = (adversarial ++ real).toDF("text")
    // the reference chain, rebuilt here from public pieces (NOT the
    // production helpers): split/lower/filter + one isin pass per profile
    val toksCol = filter(transform(split(col("text"), "\\s+"), t => lower(t)),
      t => t =!= "")
    val oldCols = size(toksCol).cast("long") +: profiles.map(ws =>
      size(filter(toksCol, t => t.isin(ws: _*))).cast("long"))
    val p = org.apache.spark.sql.graft.TokenProfileHits(col("text"), profiles)
    val newCols = p.getField("n_toks") +: profiles.indices.map(i =>
      p.getField(s"hits_$i"))
    val w = oldCols.size
    val rows = df.select((oldCols ++ newCols).zipWithIndex
      .map { case (c, i) => c.as(s"c$i") }: _*).collect()
    assert(rows.length == adversarial.length + real.length)
    rows.foreach { r =>
      (0 until w).foreach { i =>
        assert(r.getLong(i) == r.getLong(i + w),
          s"field $i diverges on ${r.toString.take(120)}")
      }
    }
  }
}
