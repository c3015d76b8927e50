package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns._
import graft.sources.Corpus

/** LLM-pipeline text analysis (SURVEY.md §2 #22-25): language ID, quality
  * scoring, token counting, winnowing fingerprints. All single-pass
  * projections/aggregations of codegen'd built-ins — no UDFs — so at 100 TB
  * each is one scan with map-side partials and (for fingerprints) one
  * vocabulary-bounded shuffle.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "que", "est", "pour"),
    "es" -> Seq("el", "los", "las", "de", "y", "un", "una", "que", "es", "para"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "就", "不", "人"),
  )

  /** Stopword hits over an ALREADY-TOKENIZED array column — callers
    * project the token array once per row and score every profile from it
    * (tokenizing inside each profile's expression would re-split the text
    * per profile). */
  private def hitsIn(toksCol: Column, words: Seq[String]): Column =
    size(filter(toksCol, t => t.isin(words: _*))).cast("long")

  private def hits(c: Column, words: Seq[String]): Column =
    hitsIn(lowerTokens(c), words)

  private def sqlHits(expr: String, words: Seq[String]): String = {
    val lst = words.map(sqlLit).mkString("(", ", ", ")")
    s"len(list_filter(${sqlLowerTokens(expr)}, t -> t IN $lst))"
  }

  // ---- #22 language ID --------------------------------------------------
  /** Per-language stopword-hit columns over a shared `__toks` array column
    * (project `lowerTokens(text)` once; each profile is one array pass).
    * Retained as the reference chain the codegen'd [[profileCol]] path is
    * spec-locked against (PropertiesSpec); hot paths read
    * [[langHitColsFrom]]. */
  private[operators] def langHitCols: Seq[Column] =
    LangProfiles.map { case (l, ws) => hitsIn(col("__toks"), ws).as(s"hits_$l") }

  /** The stopword list + the five language profiles, in the fixed order the
    * one-pass [[profileCol]] struct reports them (hits_0 = stopwords). */
  private[operators] val AllProfiles: Seq[Seq[String]] =
    Stopwords +: LangProfiles.map(_._2)

  /** ONE codegen'd pass over the raw text: n_toks + stopword hits + all
    * five language-profile hits (TokenProfileHits). The whole quality/
    * language family projects this once as `__p` and reads fields —
    * replacing the interpreted split/transform/filter token array plus one
    * interpreted array pass per profile on every corpus-scan hot path. */
  private[graft] def profileCol: Column =
    org.apache.spark.sql.graft.TokenProfileHits(col("text"), AllProfiles)

  /** The `hits_<lang>` columns read from a projected [[profileCol]] struct
    * — same names and values as [[langHitCols]], zero array passes. */
  private[operators] def langHitColsFrom(p: Column): Seq[Column] =
    LangProfiles.zipWithIndex.map { case ((l, _), i) =>
      p.getField(s"hits_${i + 1}").as(s"hits_$l") }

  /** [[qualityBpIn]]'s exact integer score read from a projected
    * [[profileCol]] struct (n = n_toks, stop = hits_0). */
  private[graft] def qualityBpFrom(p: Column): Column = {
    val n = p.getField("n_toks")
    val nStop = p.getField("hits_0")
    org.apache.spark.sql.graft.ExactMath.intDiv(
      least(n, lit(50L)) * (n - nStop) * lit(10000L),
      greatest(n, lit(1L)) * lit(50L))
  }

  /** Argmax over the hit columns with fixed priority order (earlier
    * language wins ties) — shared by langId and curatedCorpus. */
  private[operators] def predLangFromHits: Column = {
    val langs = LangProfiles.map(_._1)
    langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), rest) =>
        val geAll = langs.drop(i + 1)
          .map(o => col(s"hits_$l") >= col(s"hits_$o")).reduce(_ && _)
        when(geAll, lit(l)).otherwise(rest)
    }
  }

  // ---- #22c Unicode-script census ----------------------------------------
  /** The pinned script classes: (output column, Java regex class, RE2
    * regex class). Both engines implement the Unicode Script property, so
    * counts agree code-point-for-code-point; `kana` unions Hiragana and
    * Katakana (one writing system for routing purposes). */
  private[operators] val ScriptClasses: Seq[(String, String, String)] = Seq(
    ("latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("arabic", "\\p{IsArabic}", "\\p{Arabic}"),
    ("devanagari", "\\p{IsDevanagari}", "\\p{Devanagari}"),
    ("greek", "\\p{IsGreek}", "\\p{Greek}"),
    ("hangul", "\\p{IsHangul}", "\\p{Hangul}"),
    ("kana", "[\\p{IsHiragana}\\p{IsKatakana}]",
      "[\\p{Hiragana}\\p{Katakana}]"))

  /** Per-doc script-class character counts — the row-local substrate of
    * [[scriptStats]] (exposed for composition: the router a multilingual
    * corpus consults before any language decision). Map-only, fused into
    * the scan. */
  private def docScriptCounts(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents").select(
      col("doc_id") +: col("source") +:
        ScriptClasses.map { case (name, jre, _) =>
          regexp_count(col("text"), lit(jre)).cast("long").as(name) }: _*)

  /** Unicode-script census per source (SURVEY §2 #22c; VERDICT r12 #5):
    * summed per-script code-point counts for the 8 pinned classes plus
    * how many docs carry any of the 7 pinned NON-LATIN classes — the
    * signal that routes a corpus to per-script handling BEFORE the
    * stopword-based `lang_id` (Latin-alphabet-only by construction) can
    * mislead on non-Latin text. NOTE the flag covers exactly the pinned
    * classes: a script outside them (Thai, Hebrew, …) contributes to no
    * column — extend [[ScriptClasses]] for such corpora rather than
    * treating the flag as an any-non-Latin detector (RE2 has no class
    * intersection, so "any letter outside Latin" is not expressible
    * identically in both engines).
    *
    * Scale: 8 row-local regexp_count projections fused into the scan
    * (RE2-safe character classes — no backtracking blowup), then ONE
    * map-side-partial agg on the ~10²-key source column. */
  def scriptStats(spark: SparkSession, dir: String): DataFrame = {
    val nonLatin = ScriptClasses.collect {
      case (n, _, _) if n != "latin" => col(n) }.reduce(_ + _)
    docScriptCounts(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (ScriptClasses.map { case (n, _, _) => sum(col(n)).as(n) } :+
          sum(when(nonLatin > 0L, 1L).otherwise(0L)).as("n_docs_non_latin")): _*)
  }
  val scriptStatsSql: String = {
    val per = ScriptClasses.map { case (n, _, re2) =>
      s"CAST(length(regexp_extract_all(text, '$re2')) AS BIGINT) AS $n"
    }.mkString(",\n    ")
    // CAST each sum: DuckDB types sum(BIGINT) as HUGEINT (§6 ban)
    val sums = ScriptClasses
      .map { case (n, _, _) => s"CAST(sum($n) AS BIGINT) AS $n" }
      .mkString(", ")
    val nonLatin = ScriptClasses.collect { case (n, _, _) if n != "latin" => n }
      .mkString(" + ")
    s"""WITH per AS (
       |  SELECT source,
       |    $per
       |  FROM documents
       |)
       |SELECT source, count(*) AS n_docs, $sums,
       |  CAST(sum(CASE WHEN $nonLatin > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_non_latin
       |FROM per GROUP BY 1""".stripMargin
  }

  /** Driver-contract query: the per-DOC script router (VERDICT r12 #5's
    * "per doc" half) — each document's 8 class counts plus the dominant
    * script (argmax with the fixed [[ScriptClasses]] priority order on
    * ties — the predLangFromHits discipline; all-zero docs route to
    * 'none'). This is the column a multilingual pipeline branches on
    * before any language decision. Map-only, fused into the scan. */
  def docScripts(spark: SparkSession, dir: String): DataFrame = {
    val names = ScriptClasses.map(_._1)
    val dominant = names.init.zipWithIndex.foldRight(lit(names.last)) {
      case ((n, i), rest) =>
        val geAll = names.drop(i + 1).map(o => col(n) >= col(o)).reduce(_ && _)
        when(geAll, lit(n)).otherwise(rest)
    }
    docScriptCounts(spark, dir).drop("source")
      .withColumn("script",
        when(names.map(col).reduce(_ + _) === 0L, "none").otherwise(dominant))
  }
  val docScriptsSql: String = {
    val per = ScriptClasses.map { case (n, _, re2) =>
      s"CAST(length(regexp_extract_all(text, '$re2')) AS BIGINT) AS $n"
    }.mkString(",\n    ")
    val names = ScriptClasses.map(_._1)
    val caseChain = names.init.zipWithIndex.foldRight(s"'${names.last}'") {
      case ((n, i), rest) =>
        val geAll = names.drop(i + 1).map(o => s"$n >= $o").mkString(" AND ")
        s"CASE WHEN $geAll THEN '$n' ELSE $rest END"
    }
    s"""WITH per AS (
       |  SELECT doc_id,
       |    $per
       |  FROM documents
       |)
       |SELECT doc_id, ${names.mkString(", ")},
       |  CASE WHEN ${names.mkString(" + ")} = 0 THEN 'none'
       |       ELSE $caseChain END AS script
       |FROM per""".stripMargin
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"), profileCol.as("__p"))
      .select(col("doc_id") +: col("labeled_lang") +: langHitColsFrom(col("__p")): _*)
      .withColumn("pred_lang", predLangFromHits)
  private[operators] val sqlLangHitCols: String = LangProfiles
    .map { case (l, ws) => s"${sqlHits("text", ws)} AS hits_$l" }.mkString(",\n  ")
  private[operators] val sqlPredLangFromHits: String = {
    val langs = LangProfiles.map(_._1)
    langs.init.zipWithIndex.foldRight(s"'${langs.last}'") {
      case ((l, i), rest) =>
        val geAll = langs.drop(i + 1).map(o => s"hits_$l >= hits_$o").mkString(" AND ")
        s"CASE WHEN $geAll THEN '$l' ELSE $rest END"
    }
  }
  val langIdSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |  $sqlLangHitCols
       |  FROM documents
       |)
       |SELECT *, $sqlPredLangFromHits AS pred_lang FROM scored""".stripMargin

  // ---- #23 quality scoring ---------------------------------------------
  /** The quality score over a shared token-array column — identical math
    * to qualityScore's staged columns (`size(toks)` ≡ the \S+ count); used
    * where quality is a filter input on an existing scan (curatedCorpus)
    * rather than the output.
    *
    * §6: exact integer basis points, never round(DOUBLE). The score
    * min(n/50, 1)·(1 − stop/n) is the rational min(n,50)·(n−stop)/(50n),
    * so floor(·×10⁴) is pure integer arithmetic — bit-identical in every
    * engine, and safe to THRESHOLD on (curatedCorpus, the stream gate). */
  private[operators] def qualityBpIn(toksCol: Column): Column = {
    val n = size(toksCol).cast("long")
    val nStop = hitsIn(toksCol, Stopwords).cast("long")
    // greatest(n,1): an empty/whitespace-only doc must score 0, not throw —
    // ANSI IntegralDivide raises DIVIDE_BY_ZERO (ADVICE r5; WARC ingestion
    // emits text='' for header-only responses) and DuckDB // yields NULL.
    // The numerator is 0 whenever n is, so the guarded quotient is 0 in
    // both engines.
    org.apache.spark.sql.graft.ExactMath.intDiv(
      least(n, lit(50L)) * (n - nStop) * lit(10000L),
      greatest(n, lit(1L)) * lit(50L))
  }
  private[operators] val sqlQualityBpExpr: String = {
    val n = s"CAST(${sqlWsTokenCount("text")} AS BIGINT)"
    val stop = s"CAST(${sqlHits("text", Stopwords)} AS BIGINT)"
    s"(least($n, 50) * ($n - $stop) * 10000) // (greatest($n, 1) * 50)"
  }

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents").select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      profileCol.as("__p"),
      regexp_count(col("text"), lit(PunctRe)).cast("long").as("n_punct"),
      // greatest(…,1) guards: empty docs score 0 instead of throwing under
      // ANSI IntegralDivide / going NULL under DuckDB // (ADVICE r5); every
      // guarded numerator is 0 whenever its denominator is
    ).select(col("doc_id"), col("len_chars"),
      // n_toks IS the \S+ run count the regexp computed before — one pass
      col("__p").getField("n_toks").as("n_tokens"),
      col("__p").getField("hits_0").as("n_stopwords"),
      col("n_punct"))
      .withColumn("stopword_bp", bp(col("n_stopwords"), greatest(col("n_tokens"), lit(1L))))
      .withColumn("punct_bp", bp(col("n_punct"), greatest(col("len_chars"), lit(1L))))
      .withColumn("quality_bp",
        org.apache.spark.sql.graft.ExactMath.intDiv(
          least(col("n_tokens"), lit(50L)) * (col("n_tokens") - col("n_stopwords"))
            * lit(10000L),
          greatest(col("n_tokens"), lit(1L)) * lit(50L)))
  val qualityScoreSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS len_chars,
       |    CAST(${sqlWsTokenCount("text")} AS BIGINT) AS n_tokens,
       |    CAST(${sqlHits("text", Stopwords)} AS BIGINT) AS n_stopwords,
       |    CAST(${sqlPunctCount("text")} AS BIGINT) AS n_punct
       |  FROM documents
       |)
       |SELECT *,
       |  ${sqlBp("n_stopwords", "greatest(n_tokens, 1)")} AS stopword_bp,
       |  ${sqlBp("n_punct", "greatest(len_chars, 1)")} AS punct_bp,
       |  (least(n_tokens, 50) * (n_tokens - n_stopwords) * 10000)
       |    // (greatest(n_tokens, 1) * 50) AS quality_bp
       |FROM base""".stripMargin

  // ---- #23b model-based quality gate (hashed linear classifier) ----------
  /** The fastText/CCNet-style TRAINED-classifier gate shape: per document,
    * a linear score over hashed token features and a keep decision at the
    * decision boundary. The Spark-side plumbing is the real serving path —
    * hashed feature lookup, fixed-point dot product, row-local gate, all
    * inside one map-only projection (zero exchanges, like doc_features);
    * the WEIGHTS are a deterministic md5-derived placeholder (the training
    * container isn't in scope), so serving a real model is swapping the
    * hash expression for a broadcast weight-table lookup — the plan shape
    * is unchanged. Fixed-point per §6: raw weights live in [0, 2000]
    * (= centered weight ×10³ + 1000, kept NON-NEGATIVE so integral
    * division floors identically in both engines), and only the final
    * outputs re-center. */
  val ClfSeed = "clf"
  def classifierScore(spark: SparkSession, dir: String): DataFrame =
    lowerToks(spark, dir)
      .select(col("doc_id"), col("toks").as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_toks"),
        aggregate(
          transform(col("tk"), t =>
            pmod(md5Long(concat(lit(ClfSeed), lit("\u0001"), t)), lit(2001L))),
          lit(0L), (a, x) => a + x).as("s"))
      .select(col("doc_id"), col("n_toks"),
        (col("s") - lit(1000L) * col("n_toks")).as("clf_sum"),
        (org.apache.spark.sql.graft.ExactMath.intDiv(
          col("s"), greatest(col("n_toks"), lit(1L))) - lit(1000L))
          .as("clf_mean_e3"))
      .withColumn("keep", col("clf_mean_e3") >= 0L)
  val classifierScoreSql: String = {
    val wgt = sqlMd5Long(s"concat('$ClfSeed', chr(1), tok)") + " % 2001"
    s"""WITH tok AS (
       |  SELECT doc_id, t.w AS tok
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), agg AS (
       |  SELECT doc_id, count(*) AS n, sum($wgt) AS s
       |  FROM tok GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(n, 0) AS BIGINT) AS n_toks,
       |  CAST(coalesce(s, 0) - 1000 * coalesce(n, 0) AS BIGINT) AS clf_sum,
       |  CAST(coalesce(s, 0) // greatest(coalesce(n, 0), 1) - 1000
       |    AS BIGINT) AS clf_mean_e3,
       |  (coalesce(s, 0) // greatest(coalesce(n, 0), 1) - 1000) >= 0 AS keep
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  // ---- #23c scorer agreement (quality gate vs hashed classifier) --------
  /** Before swapping one quality filter for another, measure where they
    * DISAGREE: the 2×2 contingency between the exact quality gate
    * (quality_bp ≥ the curated-corpus threshold) and the hashed-classifier
    * keep (clf_mean_e3 ≥ 0) over every document, plus observed agreement
    * (exact bp) and Cohen's κ (one IEEE division of exact integer bp
    * quantities, rounded and DECIMAL-pinned — §6). ONE corpus scan: both
    * signals are row-local (the codegen'd profile pass + the hashed-
    * unigram fold), then a 1-row aggregation with map-side partials —
    * nothing past the scan at any scale. */
  def scorerAgreement(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    val sig = Corpus.table(spark, dir, "documents").select(
        profileCol.as("__p"),
        aggregate(
          transform(lowerTokens(col("text")), t =>
            pmod(md5Long(concat(lit(ClfSeed), lit("\u0001"), t)), lit(2001L))),
          lit(0L), (a, x) => a + x).as("s"))
      .select(
        (qualityBpFrom(col("__p")) >= lit(Curation.CuratedQualityMinBp)).as("qk"),
        ((intDiv(col("s"), greatest(col("__p").getField("n_toks"), lit(1L)))
          - lit(1000L)) >= 0L).as("ck"))
    sig.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("qk") && col("ck"), 1L).otherwise(0L)).as("both_keep"),
        sum(when(col("qk") && !col("ck"), 1L).otherwise(0L)).as("quality_only"),
        sum(when(!col("qk") && col("ck"), 1L).otherwise(0L)).as("clf_only"),
        sum(when(!col("qk") && !col("ck"), 1L).otherwise(0L)).as("both_drop"))
      .withColumn("po_bp",
        bp(col("both_keep") + col("both_drop"), greatest(col("n_docs"), lit(1L))))
      // chance agreement from the two marginal keep rates, computed IN BP
      // SPACE (intermediates bounded by 10^8 — overflow-safe at any corpus)
      .withColumn("pq_bp",
        bp(col("both_keep") + col("quality_only"), greatest(col("n_docs"), lit(1L))))
      .withColumn("pc_bp",
        bp(col("both_keep") + col("clf_only"), greatest(col("n_docs"), lit(1L))))
      .withColumn("pe_bp", intDiv(
        col("pq_bp") * col("pc_bp")
          + (lit(10000L) - col("pq_bp")) * (lit(10000L) - col("pc_bp")),
        lit(10000L)))
      .select(col("n_docs"), col("both_keep"), col("quality_only"),
        col("clf_only"), col("both_drop"), col("po_bp").as("agreement_bp"),
        round((col("po_bp") - col("pe_bp")).cast("double")
            / greatest(lit(10000L) - col("pe_bp"), lit(1L)).cast("double"), 4)
          .cast("decimal(14,4)").cast("double").as("kappa"))
  }
  lazy val scorerAgreementSql: String = {
    val wgt = sqlMd5Long(s"concat('$ClfSeed', chr(1), tok)") + " % 2001"
    s"""WITH tok AS (
       |  SELECT doc_id, t.w AS tok
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), agg AS (
       |  SELECT doc_id, count(*) AS n, sum($wgt) AS s
       |  FROM tok GROUP BY 1
       |), sig AS (
       |  SELECT
       |    ($sqlQualityBpExpr) >= ${Curation.CuratedQualityMinBp} AS qk,
       |    (coalesce(s, 0) // greatest(coalesce(n, 0), 1) - 1000) >= 0 AS ck
       |  FROM documents d LEFT JOIN agg USING (doc_id)
       |), c AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(CASE WHEN qk AND ck THEN 1 ELSE 0 END) AS BIGINT) AS both_keep,
       |    CAST(sum(CASE WHEN qk AND NOT ck THEN 1 ELSE 0 END) AS BIGINT) AS quality_only,
       |    CAST(sum(CASE WHEN NOT qk AND ck THEN 1 ELSE 0 END) AS BIGINT) AS clf_only,
       |    CAST(sum(CASE WHEN NOT qk AND NOT ck THEN 1 ELSE 0 END) AS BIGINT) AS both_drop
       |  FROM sig
       |), m AS (
       |  SELECT *,
       |    ${sqlBp("both_keep + both_drop", "greatest(n_docs, 1)")} AS po_bp,
       |    ${sqlBp("both_keep + quality_only", "greatest(n_docs, 1)")} AS pq_bp,
       |    ${sqlBp("both_keep + clf_only", "greatest(n_docs, 1)")} AS pc_bp
       |  FROM c
       |), p AS (
       |  SELECT *, (pq_bp * pc_bp + (10000 - pq_bp) * (10000 - pc_bp))
       |    // 10000 AS pe_bp
       |  FROM m
       |)
       |SELECT n_docs, both_keep, quality_only, clf_only, both_drop,
       |  po_bp AS agreement_bp,
       |  CAST(CAST(round(CAST(po_bp - pe_bp AS DOUBLE)
       |    / CAST(greatest(10000 - pe_bp, 1) AS DOUBLE), 4) AS DECIMAL(14,4))
       |    AS DOUBLE) AS kappa
       |FROM p""".stripMargin
  }

  // ---- #24 token counting ----------------------------------------------
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents").select(
      col("doc_id"),
      wsTokenCount(col("text")).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit(BpeTokenRe)).cast("long").as("bpe_tokens"),
    )
  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(${sqlWsTokenCount("text")} AS BIGINT) AS ws_tokens,
       |  CAST(${sqlBpeTokenCount("text")} AS BIGINT) AS bpe_tokens
       |FROM documents""".stripMargin

  // ---- #24b tokenizer fertility by language ------------------------------
  /** Tokens-per-word by language — the tokenizer-fairness audit behind
    * every multilingual vocab decision (mT5/BLOOM/NLLB report exactly
    * this): languages the BPE-ish tokenizer fragments harder pay more
    * sequence length per word, which silently reweights the training mix
    * and the per-language context budget. Fertility = BPE-ish tokens per
    * whitespace word, in exact basis points (§6). Plan: the same two
    * row-local regexp counts as `token_count`, rolled up on the ~10²-key
    * lang column — one map-only scan with map-side partials, nothing
    * corpus-sized past the scan. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents").select(col("lang"),
        wsTokenCount(col("text")).cast("long").as("ws"),
        regexp_count(col("text"), lit(BpeTokenRe)).cast("long").as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        bp(col("bpe_tokens"), greatest(col("ws_tokens"), lit(1L)))
          .as("fertility_bp"))
  val tokenizerFertilitySql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(${sqlWsTokenCount("text")}) AS BIGINT) AS ws_tokens,
       |  CAST(sum(${sqlBpeTokenCount("text")}) AS BIGINT) AS bpe_tokens,
       |  ${sqlBp(s"sum(${sqlBpeTokenCount("text")})",
            s"greatest(sum(${sqlWsTokenCount("text")}), 1)")}
       |    AS fertility_bp
       |FROM documents GROUP BY 1""".stripMargin

  // ---- TF-IDF top terms per document ------------------------------------
  // rank on (rounded score, term) so a last-ulp ln() difference between
  // libm implementations can't flip the ordering.
  val TfIdfTopN = 5
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    // identical term multiset: lower-then-drop-empty ≡ drop-empty-then-lower.
    // doc_len comes from the token ARRAY (size(toks) ≡ the former
    // sum(tf) OVER (PARTITION BY doc_id) — the doc's token count either
    // way), so the per-doc length window and its exchange are gone.
    val toksDf = lowerToks(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("doc_len"),
        explode(col("toks")).as("term"))
    val nDocs = Corpus.table(spark, dir, "documents").select(countDistinct(col("doc_id")).as("nd"))
    val tf = toksDf.groupBy("doc_id", "doc_len", "term")
      .agg(count(lit(1)).as("tf"))
    // tf already has exactly one row per (doc, term), so document frequency
    // is a row count over it — no second corpus explode + distinct shuffle
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df_, "term").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round((col("tf").cast("double") / col("doc_len"))
          * log((col("nd").cast("double") + 1.0) / (col("df").cast("double") + 1.0)), 4)
          .cast("decimal(14,4)"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= TfIdfTopN)
      .select(col("doc_id"), col("term"), col("score").cast("double").as("score"),
        col("rk").cast("long").as("rk"))
  }
  val tfidfTopTermsSql: String =
    s"""WITH toks AS (
       |  SELECT d.doc_id, t.w AS term
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
       |), tl AS (
       |  SELECT *, sum(tf) OVER (PARTITION BY doc_id) AS doc_len FROM tf
       |), dfq AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
       |), nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
       |scored AS (
       |  SELECT tl.doc_id, tl.term,
       |    CAST(round((CAST(tf AS DOUBLE) / doc_len)
       |      * ln((CAST(nd AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)), 4)
       |      AS DECIMAL(14,4)) AS score
       |  FROM tl JOIN dfq USING (term) CROSS JOIN nd
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS rk FROM scored
       |)
       |SELECT doc_id, term, CAST(score AS DOUBLE) AS score,
       |  CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $TfIdfTopN""".stripMargin

  // ---- deterministic hash sampling (reproducible data mixing) -----------
  val SamplePct = 10
  def sampleDeterministic(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .where(pmod(md5Long(col("text")), lit(100)) < SamplePct)
      .select(col("doc_id"), col("source"), col("n_chars"))
  val sampleDeterministicSql: String =
    s"""SELECT doc_id, source, n_chars FROM documents
       |WHERE ${sqlMd5Long("text")} % 100 < $SamplePct""".stripMargin

  // ---- #25n bigram-LM self-perplexity (CCNet-style quality signal) ------
  /** Score each document under the corpus's own MLE bigram model:
    * P(w2|w1) = C(w1 w2) / C(w1 ·), avg_logp = mean ln P over the doc's
    * bigrams, ppl = exp(-avg_logp). Low perplexity ⇒ the doc is made of
    * corpus-typical word transitions (boilerplate, templates); high ⇒
    * unusual text. The production shape of CCNet's KenLM filter with the
    * corpus itself as the LM — every doc bigram exists in the counts, so
    * no smoothing term is needed.
    *
    * Scale: one corpus tokenize+explode; the bigram-count agg and both
    * joins key on bigram/first-word — Zipf-skewed keys, but the build side
    * is ONE row per key (a count), so skew costs partition imbalance only
    * (AQE splits), never row amplification. ln values are rounded then
    * summed as DECIMAL so the per-doc sum is exact and order-insensitive
    * across engines (§6 float policy). */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame =
    // counts come from the shared materialized table; C(w1 ·) derives from
    // it, so the corpus explode behind the model runs zero extra times.
    // The per-doc score frame is itself a per-corpus artifact (the
    // perplexity filter's input, also consumed by perplexity_buckets), so
    // it materializes like the model: the doc-keyed join+rollup runs once
    // per corpus, steady reads are cache hits
    Materialized.frame(spark, dir, "lmPerplexity") {
      lmPerplexityOn(docGrams(spark, dir, 2), gramCounts(spark, dir, 2))
    }

  /** Join+aggregate core of [[lmPerplexity]], parameterized by the bigram
    * explode and the count table. `private[graft]` for the AQE-skew lock
    * in ScaleSpec, which drives it in the PRODUCTION shape — the model
    * table written to storage and re-read, so both join sides arrive
    * through fresh ENSURE_REQUIREMENTS shuffles and AQE's
    * OptimizeSkewedJoin can split a hot bigram. The in-session shape
    * instead feeds the join from the cached count frame's preserved hash
    * partitioning (no new exchange — better co-location), which that rule
    * cannot split; a hot key there is imbalance the 32-partition local
    * runs absorb, and cluster deployments avoid by re-reading the model
    * artifact (both paths are locked by the spec). */
  private[graft] def lmPerplexityOn(bg: DataFrame, c2: DataFrame): DataFrame = {
    val c1 = c2.select(substring_index(col("bigram"), " ", 1).as("w1"), col("n"))
      .groupBy("w1").agg(sum(col("n")).as("n1"))
    val p = c2.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(c1, "w1")
      .select(col("bigram"),
        round(log(col("n").cast("double") / col("n1")), 4)
          .cast("decimal(18,4)").as("lp"))
    // sum_lp: the per-bigram log-probs are rounded to exact decimals, so
    // their sum is deterministic regardless of fold order; the output then
    // narrows to DECIMAL(18,4) and casts to DOUBLE (both engines' decimal->
    // double is correctly rounded, so the bits agree) because the driver's
    // compare only hashes DECIMAL-typed outputs unstably (VERDICT r5).
    // round(sum/n, 4) or exp() on top would reimport engine variance;
    // ppl = exp(-sum_lp/n_bigrams) is derivable by any consumer.
    // shuffle_hash on the model side: the planner must never broadcast
    // either side here — bg is corpus-sized however small its local
    // stats look (the cached-map-only-frame pitfall), and p is
    // vocabulary-bounded but still too big to ship at 100 TB.
    bg.join(p.hint("shuffle_hash"), "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp")).cast("decimal(18,4)").cast("double").as("sum_lp"))
  }
  val lmPerplexitySql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, ${sqlLowerTokens("text")} AS t
      |  FROM documents
      |), bg AS (
      |  SELECT doc_id, g.b AS bigram
      |  FROM toks, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
      |  WHERE len(t) >= 2
      |), c2 AS (
      |  SELECT bigram, count(*) AS n2 FROM bg GROUP BY 1
      |), c1 AS (
      |  SELECT split_part(bigram, ' ', 1) AS w1, sum(n2) AS n1
      |  FROM c2 GROUP BY 1
      |), p AS (
      |  SELECT bigram,
      |    CAST(round(ln(CAST(n2 AS DOUBLE) / n1), 4) AS DECIMAL(18,4)) AS lp
      |  FROM c2 JOIN c1 ON split_part(c2.bigram, ' ', 1) = c1.w1
      |)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
      |FROM bg JOIN p USING (bigram) GROUP BY 1""".stripMargin

  // ---- PII-style redaction ----------------------------------------------
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongDigitsRe = "[0-9]{7,}"
  def redactPii(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents").select(
      col("doc_id"),
      (regexp_count(col("text"), lit(EmailRe))
        + regexp_count(col("text"), lit(LongDigitsRe))).cast("long").as("n_redactions"),
      md5(regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        LongDigitsRe, "<NUM>")).as("redacted_md5"))
  val redactPiiSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe'))
       |    + len(regexp_extract_all(text, '$LongDigitsRe')) AS BIGINT) AS n_redactions,
       |  md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |    '$LongDigitsRe', '<NUM>', 'g')) AS redacted_md5
       |FROM documents""".stripMargin

  // ---- #25d-b per-source PII audit ---------------------------------------
  /** The PII exposure report a data-release review reads BEFORE deciding
    * what `redact_pii` must rewrite (that operator redacts; this one
    * answers "which feed is leaking what"): per source — docs scanned,
    * docs with ANY hit, exact-bp affected share, and per-class totals for
    * four pinned detectors. Classes (Java-regex ≡ RE2, shared verbatim
    * with the oracle): emails ([[EmailRe]] — the redaction pin), IPv4
    * dotted quads (word-bounded 1-3 digit octets), SSN-shaped 3-2-4 digit
    * groups (word-bounded), and [[LongDigitsRe]] runs (phone/account/card
    * material) counted on EMAIL-SCRUBBED text — a user1234567@… address
    * must not inflate the digit-run tally too (ipv4/ssn can't collide
    * with 7+-digit runs: their dots/dashes break every run).
    *
    * Scale: four row-local regexp counters fused into the scan projection
    * + ONE uniform source-keyed agg (the mojibake_stats shape). */
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  def piiStats(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed = regexp_replace(col("text"), EmailRe, " ")
    Corpus.table(spark, dir, "documents")
      .select(col("source"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("email"),
        regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("ipv4"),
        regexp_count(col("text"), lit(SsnRe)).cast("long").as("ssn"),
        regexp_count(scrubbed, lit(LongDigitsRe)).cast("long").as("digits"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("email") + col("ipv4") + col("ssn") + col("digits") > 0,
          1L).otherwise(0L)).as("n_affected"),
        sum(col("email")).as("email_hits"),
        sum(col("ipv4")).as("ipv4_hits"),
        sum(col("ssn")).as("ssn_hits"),
        sum(col("digits")).as("digit_run_hits"))
      .select(col("source"), col("n_docs"), col("n_affected"),
        bp(col("n_affected"), col("n_docs")).as("affected_bp"),
        col("email_hits"), col("ipv4_hits"), col("ssn_hits"),
        col("digit_run_hits"))
  }
  val piiStatsSql: String =
    s"""WITH perdoc AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS email,
       |    CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS ipv4,
       |    CAST(len(regexp_extract_all(text, '$SsnRe')) AS BIGINT) AS ssn,
       |    CAST(len(regexp_extract_all(regexp_replace(text,
       |      '$EmailRe', ' ', 'g'), '$LongDigitsRe')) AS BIGINT) AS digits
       |  FROM documents
       |), agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN email + ipv4 + ssn + digits > 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
       |    CAST(sum(email) AS BIGINT) AS email_hits,
       |    CAST(sum(ipv4) AS BIGINT) AS ipv4_hits,
       |    CAST(sum(ssn) AS BIGINT) AS ssn_hits,
       |    CAST(sum(digits) AS BIGINT) AS digit_run_hits
       |  FROM perdoc GROUP BY source
       |)
       |SELECT source, n_docs, n_affected,
       |  ${sqlBp("n_affected", "n_docs")} AS affected_bp,
       |  email_hits, ipv4_hits, ssn_hits, digit_run_hits
       |FROM agg""".stripMargin

  // ---- #25d-d license-marker detection ------------------------------------
  /** Per-document license detection by pinned marker phrase — the router a
    * compliance-aware corpus build runs (keep permissive, quarantine
    * copyleft, respect CC terms). Families and their unambiguous marker
    * phrases (case-insensitive substring, [[LicenseMarkers]] order is the
    * PRECEDENCE when several match — a MIT-licensed file quoting the GPL
    * name reports 'mit' because the grant phrase is the stronger signal):
    * mit (the grant sentence), apache, gpl, cc_by, gutenberg. Docs with no
    * marker report ''. `n_families` counts how many DISTINCT families
    * matched so multi-license texts are flaggable.
    *
    * Scale: MAP-ONLY — five lowered instr probes fused into the scan. */
  val LicenseMarkers: Seq[(String, String)] = Seq(
    "mit" -> "permission is hereby granted, free of charge",
    "apache" -> "licensed under the apache license",
    "gpl" -> "gnu general public license",
    "cc_by" -> "creative commons attribution",
    "gutenberg" -> "project gutenberg license")

  def licenseDetect(spark: SparkSession, dir: String): DataFrame = {
    val lt = lower(col("text"))
    val hits = LicenseMarkers.map { case (fam, phrase) =>
      fam -> (instr(lt, phrase) > 0)
    }
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        hits.reverse.foldLeft(lit("")) { case (acc, (fam, hit)) =>
          when(hit, fam).otherwise(acc)
        }.as("license"),
        hits.map { case (_, hit) => when(hit, 1L).otherwise(0L) }
          .reduce(_ + _).as("n_families"))
  }
  val licenseDetectSql: String = {
    val precedence = LicenseMarkers.reverse.foldLeft("''") {
      case (acc, (fam, phrase)) =>
        s"CASE WHEN contains(lower(text), ${sqlLit(phrase)}) " +
          s"THEN ${sqlLit(fam)} ELSE $acc END"
    }
    val counts = LicenseMarkers.map { case (_, phrase) =>
      s"CASE WHEN contains(lower(text), ${sqlLit(phrase)}) THEN 1 ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT doc_id, $precedence AS license,
       |  CAST($counts AS BIGINT) AS n_families
       |FROM documents""".stripMargin
  }

  // ---- word bigram counts (corpus n-gram statistics) --------------------
  val BigramTopN = 50

  /** The lowered, empty-filtered token array per doc — the ONE tokenize
    * the whole n-gram family (bigram/trigram/4/5-gram counts, the k-gram
    * frames, each KN model's per-doc scoring pass) shares, materialized
    * once per (session, corpus). r13's builds each re-split the corpus
    * text (4 regex tokenizes of the same documents for the 4 gram orders;
    * r13 candidate #3). At 100 TB this is the tokenized-corpus artifact an
    * n-gram pipeline writes once before counting (KenLM's preprocessing
    * step) — the same once-per-corpus discipline as the LSH signature and
    * PPJoin prefix tables. */
  private[operators] def lowerToks(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "lowerToks")(
      Corpus.table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          lowerTokens(col("text")).as("toks")))

  /** Column name of a k-gram (k ∈ 2..5) in [[docGrams]]/[[gramCounts]]. */
  private[operators] def gramCol(k: Int): String =
    Seq("bigram", "trigram", "fourgram", "fivegram")(k - 2)

  /** Per-doc consecutive word k-grams (k ∈ 2..5), space-joined so
    * `split_part`/`split` recover the words on both engines — the
    * corpus-sized explode behind `word_bigrams`, `lm_perplexity` and the
    * order-k Kneser–Ney models ([[Selection.knModel]]). */
  private[graft] def docGrams(spark: SparkSession, dir: String, k: Int): DataFrame =
    lowerToks(spark, dir)
      .where(size(col("toks")) >= k) // WordGrams is empty below k anyway
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.WordGrams(col("toks"), k)).as(gramCol(k)))

  /** Corpus k-gram counts (gram, n), materialized once per (session,
    * corpus) — k-gram-type-bounded, so every consumer (bigram top/PMI/
    * phrase search, each KN level) derives from one table and the corpus
    * explode behind it runs once, not once per consumer. */
  private[operators] def gramCounts(spark: SparkSession, dir: String, k: Int): DataFrame =
    Materialized.frame(spark, dir, s"gramCounts/$k")(
      docGrams(spark, dir, k)
        .groupBy(gramCol(k)).agg(count(lit(1)).as("n")))

  def wordBigrams(spark: SparkSession, dir: String): DataFrame =
    gramCounts(spark, dir, 2)
      // top-N via orderBy+limit → TakeOrderedAndProject (per-partition
      // partial top-N, N-row merge), NOT an unpartitioned window that would
      // single-partition the billion-row distinct-bigram table at 100 TB;
      // ranks recovered by sorting the ≤N survivors inside one array.
      .orderBy(col("n").desc, col("bigram")).limit(BigramTopN)
      .select(struct(negate(col("n")).as("nn"), col("bigram").as("bigram"),
        col("n").as("n")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.bigram").as("bigram"), col("s.n").as("n"),
        (col("pos") + 1).cast("long").as("rk"))
  val wordBigramsSql: String =
    s"""WITH toks AS (
       |  SELECT ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), bg AS (
       |  SELECT g.b AS bigram
       |  FROM toks, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
       |  WHERE len(t) >= 2
       |), counted AS (
       |  SELECT bigram, count(*) AS n FROM bg GROUP BY 1
       |), ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY n DESC, bigram) AS rk FROM counted
       |)
       |SELECT bigram, n, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $BigramTopN""".stripMargin

  // ---- #25e-b collocation extraction (PMI-proxy lift) --------------------
  /** Top bigram collocations by LIFT — n_xy·N / (n_x·n_y), the monotone
    * PMI proxy (PMI = log lift) that needs NO logarithm, so the score is a
    * ratio of exact integer products: the doubles come from exact
    * BIGINT→DOUBLE conversion and one IEEE division — deterministic in
    * both engines, and safe to RANK on (the ann-cosine precedent). The
    * classic "new york"-style phrase detector a tokenizer/vocab pipeline
    * runs before merging multiword units. Reads the SHARED materialized
    * bigram + term frames (no new corpus pass), with a MinPairN support
    * floor to keep noise out; both join sides are vocabulary-bounded and
    * the top-N is TakeOrderedAndProject + in-array rank recovery. */
  val PmiTopN = 20
  val MinPairN = 5L
  def pmiTopPairs(spark: SparkSession, dir: String): DataFrame = {
    val terms = termCounts(spark, dir)
    val totals = terms.agg(sum(col("n")).cast("long").as("n_tokens"))
    val bg = gramCounts(spark, dir, 2)
      .where(col("n") >= MinPairN)
      .select(col("bigram"), col("n").as("n_xy"),
        split(col("bigram"), " ").getItem(0).as("w1"),
        split(col("bigram"), " ").getItem(1).as("w2"))
    bg.join(terms.select(col("term").as("w1"), col("n").as("n_x")), Seq("w1"))
      .join(terms.select(col("term").as("w2"), col("n").as("n_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      // lift = (n_xy/n_x)·(n_tokens/n_y), NOT (n_xy·n_tokens)/(n_x·n_y):
      // the BIGINT products overflow 2^63 once the corpus passes ~3e9
      // tokens (ADVICE r7). Each factor is an exact BIGINT→DOUBLE cast
      // (counts < 2^53 up to ~9e15 tokens ≫ the 100 TB target) followed by
      // one IEEE divide; the same op sequence runs on the oracle, so the
      // doubles stay bit-identical.
      .select(col("bigram"), col("n_xy"),
        ((col("n_xy").cast("double") / col("n_x").cast("double"))
          * (col("n_tokens").cast("double") / col("n_y").cast("double")))
          .as("lift_raw"))
      .orderBy(col("lift_raw").desc, col("bigram")).limit(PmiTopN)
      .select(struct(negate(col("lift_raw")).as("nl"),
        col("bigram").as("bigram"), col("n_xy").as("n_xy"),
        round(col("lift_raw"), 4).cast("decimal(14,4)").cast("double").as("lift"))
        .as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.bigram").as("bigram"), col("s.n_xy").as("n_xy"),
        col("s.lift").as("lift"), (col("pos") + 1).cast("long").as("rk"))
  }
  val pmiTopPairsSql: String =
    s"""WITH toks AS (
       |  SELECT ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), tk AS (
       |  SELECT g.w AS term FROM toks, unnest(t) AS g(w)
       |), tc AS (
       |  SELECT term, count(*) AS n FROM tk GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_tokens FROM tc
       |), bg AS (
       |  SELECT g.b AS bigram, count(*) AS n_xy
       |  FROM toks, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
       |  WHERE len(t) >= 2 GROUP BY 1 HAVING count(*) >= $MinPairN
       |), scored AS (
       |  SELECT bg.bigram, CAST(bg.n_xy AS BIGINT) AS n_xy,
       |    (CAST(bg.n_xy AS DOUBLE) / CAST(x.n AS DOUBLE))
       |      * (CAST(tot.n_tokens AS DOUBLE) / CAST(y.n AS DOUBLE)) AS lift_raw
       |  FROM bg
       |  JOIN tc x ON x.term = string_split(bg.bigram, ' ')[1]
       |  JOIN tc y ON y.term = string_split(bg.bigram, ' ')[2]
       |  , tot
       |), ranked AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY lift_raw DESC, bigram)
       |    AS BIGINT) AS rk
       |  FROM scored
       |)
       |SELECT bigram, n_xy,
       |  CAST(CAST(round(lift_raw, 4) AS DECIMAL(14,4)) AS DOUBLE) AS lift, rk
       |FROM ranked WHERE rk <= $PmiTopN""".stripMargin

  // ---- #25r corpus token-distribution diagnostics (Zipf fit) -------------
  /** One-row corpus report: vocabulary size, total tokens, head mass
    * (top-1 / top-N token share), and the Zipf slope — the least-squares
    * slope of ln(count) vs ln(rank) over the top ZipfN tokens. A natural-
    * language corpus sits near −1; a templated/synthetic one doesn't, which
    * is why mixing stages run exactly this diagnostic.
    *
    * Scale: the count table is vocabulary-bounded; top-N is
    * TakeOrderedAndProject (per-partition partial top-N, N-row merge, never
    * a global sort); the regression runs over ≤ ZipfN rows. Float policy:
    * ln values are rounded→DECIMAL so all five regression sums are exact
    * and order-insensitive; the slope arithmetic then runs in double from
    * identical inputs on both engines (§6). */
  val ZipfTopN = 100

  /** Corpus term counts, materialized per (session, corpus): zipfStats
    * consumes this frame from two branches (global totals + top-N fit),
    * and without the cache each branch re-runs the corpus tokenize+explode
    * (the first plan audit showed two full text scans). Vocabulary-bounded
    * — a columnar intermediate at cluster scale. */
  private[operators] def termCounts(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "termCounts")(
      lowerToks(spark, dir)
        .select(explode(col("toks")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n")))

  def zipfStats(spark: SparkSession, dir: String): DataFrame = {
    val counts = termCounts(spark, dir)
    val totals = counts.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("n")).as("total_tokens"),
      max(col("n")).as("top1_n"))
    // ranks recovered from the ≤ ZipfN survivors inside one array — the
    // same TakeOrderedAndProject-then-rank shape as wordBigrams
    val top = counts.orderBy(col("n").desc, col("term")).limit(ZipfTopN)
      .select(struct(negate(col("n")).as("nn"), col("term").as("term"),
        col("n").as("n")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rk"), col("s.n").as("n"))
    val fit = top
      .select(col("n"),
        round(log(col("rk").cast("double")), 6).cast("decimal(12,6)").as("x"),
        round(log(col("n").cast("double")), 6).cast("decimal(12,6)").as("y"))
      .agg(count(lit(1)).as("np"),
        sum(col("n")).as("topn_sum"),
        sum(col("x")).cast("decimal(38,12)").as("sx"),
        sum(col("y")).cast("decimal(38,12)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(38,12)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(38,12)").as("sxx"))
    totals.crossJoin(fit).select(
      col("vocab_size"), col("total_tokens"),
      // §6: integer ratios as exact basis points; the slope (a genuinely
      // transcendental value) is rounded, pinned to a decimal to erase any
      // engine round() boundary variance, then cast to DOUBLE because the
      // driver's compare hashes DECIMAL outputs unstably (VERDICT r5)
      bp(col("top1_n"), col("total_tokens")).as("top1_bp"),
      bp(col("topn_sum"), col("total_tokens")).as("topn_bp"),
      round((col("np").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        / (col("np").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")), 4)
        .cast("decimal(14,4)").cast("double").as("zipf_slope"))
  }
  val zipfStatsSql: String =
    s"""WITH toks AS (
       |  SELECT t.w AS term
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), cnt AS (
       |  SELECT term, count(*) AS n FROM toks GROUP BY 1
       |), tot AS (
       |  SELECT count(*) AS vocab_size, sum(n) AS total_tokens,
       |    max(n) AS top1_n FROM cnt
       |), top AS (
       |  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rk
       |  FROM cnt ORDER BY n DESC, term LIMIT $ZipfTopN
       |), xy AS (
       |  SELECT n,
       |    CAST(round(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
       |    CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
       |  FROM top
       |), fit AS (
       |  SELECT count(*) AS np, sum(n) AS topn_sum,
       |    CAST(sum(x) AS DECIMAL(38,12)) AS sx,
       |    CAST(sum(y) AS DECIMAL(38,12)) AS sy,
       |    CAST(sum(x * y) AS DECIMAL(38,12)) AS sxy,
       |    CAST(sum(x * x) AS DECIMAL(38,12)) AS sxx
       |  FROM xy
       |)
       |SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
       |  CAST(total_tokens AS BIGINT) AS total_tokens,
       |  ${sqlBp("top1_n", "total_tokens")} AS top1_bp,
       |  ${sqlBp("topn_sum", "total_tokens")} AS topn_bp,
       |  CAST(CAST(round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS DECIMAL(14,4))
       |    AS DOUBLE) AS zipf_slope
       |FROM tot CROSS JOIN fit""".stripMargin

  // ---- token-repetition stats (Gopher-style repetition signal) ----------
  // Repetitious documents (boilerplate, keyword stuffing, generation loops)
  // are a standard filter target for training corpora: dup_frac is the
  // fraction of tokens that are repeats, top_token_frac the mass of the
  // single most frequent token. Two map-side-partial aggregations — the
  // first keyed by (doc, token), vocabulary-bounded per doc.
  // Map-only: the stats are a pure function of the document, computed by
  // TokenStats in one in-row pass — the previous formulation shuffled the
  // tokenized corpus through (doc, token) and per-doc aggregation
  // exchanges. Population guard (≥1 token) matches the explode form.
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    lowerToks(spark, dir)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TokenStats(col("toks")).as("s"))
      .where(col("s.n_tokens") > 0)
      .select(col("doc_id"),
        col("s.n_tokens").as("n_tokens"),
        col("s.n_distinct").as("n_distinct"),
        // §6: 1 − d/n ≡ (n−d)/n — exact basis points
        bp(col("s.n_tokens") - col("s.n_distinct"), col("s.n_tokens"))
          .as("dup_bp"),
        bp(col("s.top_count"), col("s.n_tokens")).as("top_token_bp"))
  val repetitionStatsSql: String =
    s"""WITH toks AS (
       |  SELECT d.doc_id, t.w AS tok
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), cnt AS (
       |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
       |)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  count(*) AS n_distinct,
       |  ${sqlBp("sum(c) - count(*)", "sum(c)")} AS dup_bp,
       |  ${sqlBp("max(c)", "sum(c)")} AS top_token_bp
       |FROM cnt GROUP BY 1""".stripMargin

  // ---- boilerplate n-gram detection (decontamination shape) -------------
  // The corpus's most frequent word 5-grams are boilerplate (or, when the
  // probe set is an eval benchmark instead, contamination); docs containing
  // them get flagged with a count. Top-N via orderBy+limit
  // (TakeOrderedAndProject) and a broadcast join back — the gram table
  // shuffles once, the probe set never exceeds N rows.
  val BoilerK = 5
  val BoilerTopN = 20

  /** (doc_id, word k-gram) frame, materialized per (session, corpus, k):
    * the top-N aggregation and the per-doc membership join both consume it,
    * so the tokenize + gram explode runs once per gram size (the
    * decontamination query reuses the same frame at its own k). */
  private[operators] def gramFrame(spark: SparkSession, dir: String,
      k: Int = BoilerK): DataFrame =
    Materialized.frame(spark, dir, s"gramFrame/$k")(
      lowerToks(spark, dir)
        .where(size(col("toks")) >= k) // WordGrams is empty below k anyway
        .select(col("doc_id"), explode(
          org.apache.spark.sql.graft.WordGrams(col("toks"), k)).as("gram")))

  /** The k-gram CTE shared by the boilerplate and decontamination oracles. */
  private[operators] def sqlGramsCte(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), grams AS (
       |  SELECT doc_id, g.gm AS gram
       |  FROM toks, unnest(list_transform(range(1, len(t) - ${k - 2}),
       |    i -> list_aggr(t[i:i+${k - 1}], 'string_agg', ' '))) AS g(gm)
       |  WHERE len(t) >= $k
       |)""".stripMargin

  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val grams = gramFrame(spark, dir)
    val top = grams.groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(BoilerTopN)
    grams.join(broadcast(top.select("gram")), "gram")
      .groupBy("doc_id").agg(countDistinct(col("gram")).as("n_boiler_grams"))
  }
  val boilerplateNgramsSql: String =
    s"""${sqlGramsCte(BoilerK)}, top AS (
       |  SELECT gram, count(*) AS n FROM grams GROUP BY 1
       |  ORDER BY n DESC, gram LIMIT $BoilerTopN
       |)
       |SELECT doc_id, count(DISTINCT gram) AS n_boiler_grams
       |FROM grams JOIN top USING (gram) GROUP BY 1""".stripMargin

  // ---- #25e-b per-doc n-gram novelty --------------------------------------
  /** How much NEW content each document contributes: the fraction of its
    * distinct word 5-grams whose first occurrence (min doc_id across the
    * corpus) is this document — the novel-token-fraction curation signal
    * that separates original content from recombinations of text already
    * in the corpus (novelty ≈ 0 ⇒ the doc is assembled from seen n-grams
    * even when no single source passes a dedup threshold).
    *
    * Scale: reads the SHARED materialized gram frame (no new corpus
    * explode); one gram-keyed exchange serves the (doc, gram) distinct and
    * the first-owner min, then two doc-bounded rollups join on doc_id —
    * the corpus-sized gram frame never joins against itself. Exact basis
    * points (§6). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val dg = gramFrame(spark, dir)
      .repartition(col("gram"))
      .dropDuplicates("gram", "doc_id")
    val denom = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val novel = dg.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    denom.join(novel, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_grams"),
        bp(coalesce(col("n_novel"), lit(0L)), col("n_grams")).as("novel_bp"))
  }
  val ngramNoveltySql: String =
    s"""${sqlGramsCte(BoilerK)}, dg AS MATERIALIZED (
       |  SELECT DISTINCT gram, doc_id FROM grams
       |), denom AS (
       |  SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1
       |), novel AS (
       |  SELECT first_doc, count(*) AS n_novel FROM (
       |    SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY 1
       |  ) GROUP BY 1
       |)
       |SELECT d.doc_id, d.n_grams,
       |  ${sqlBp("coalesce(n.n_novel, 0)", "d.n_grams")} AS novel_bp
       |FROM denom d LEFT JOIN novel n ON d.doc_id = n.first_doc""".stripMargin

  // ---- corpus mixing report ---------------------------------------------
  // The per-(language, source) composition a data-mixing stage feeds on:
  // one map-side-partial aggregation over a pruned 3-column scan.
  def corpusMix(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents").groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        // §6: exact ×100 fixed point (mean chars to 2dp, floored)
        org.apache.spark.sql.graft.ExactMath.intDiv(
          sum(col("n_chars")) * lit(100L), count(lit(1))).as("avg_chars_e2"))
  val corpusMixSql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  (CAST(sum(n_chars) AS BIGINT) * 100) // count(*) AS avg_chars_e2
      |FROM documents GROUP BY 1, 2""".stripMargin

  // ---- #25h-b corpus-mix divergence (per-source χ²) ----------------------
  /** How far each source's language mix sits from the corpus mix — the
    * χ² divergence Σ_l (p_l − q_l)²/q_l, the mixing-drift alarm a corpus
    * dashboard tracks per feed. χ² instead of KL BY DESIGN: it is a pure
    * rational function of the integer counts, so the doubles come from
    * exact BIGINT→DOUBLE conversions through +,−,×,÷ only (IEEE
    * correctly-rounded, bit-identical in every engine) — no ln/libm
    * divergence risk. The lang term list is fixed and folded in declared
    * order, so the sum is order-deterministic; corpus totals are a 1-row
    * broadcast. One scan, one ≤|sources| rollup. */
  def mixDivergence(spark: SparkSession, dir: String): DataFrame = {
    val langs = LangProfiles.map(_._1)
    def cnt(l: String) = sum(when(col("lang") === l, 1L).otherwise(0L))
    val perSource = Corpus.table(spark, dir, "documents").groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"),
        langs.map(l => cnt(l).as(s"c_$l")): _*)
    val corpus = Corpus.table(spark, dir, "documents")
      .agg(count(lit(1)).as("n"), langs.map(l => cnt(l).as(s"t_$l")): _*)
    val chi2 = langs.map { l =>
      val pd = col(s"c_$l").cast("double") / col("n_s").cast("double")
      val qd = col(s"t_$l").cast("double") / col("n").cast("double")
      when(col(s"t_$l") > 0L, (pd - qd) * (pd - qd) / qd).otherwise(lit(0.0))
    }.reduce(_ + _)
    perSource.crossJoin(broadcast(corpus))
      .select(col("source"), col("n_s").as("n_docs"),
        round(chi2, 6).cast("decimal(14,6)").cast("double").as("chi2"))
  }
  val mixDivergenceSql: String = {
    val langs = LangProfiles.map(_._1)
    val sCnts = langs.map(l =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS c_$l")
      .mkString(",\n    ")
    val tCnts = langs.map(l =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS t_$l")
      .mkString(",\n    ")
    val terms = langs.map { l =>
      val pd = s"(CAST(c_$l AS DOUBLE) / CAST(n_s AS DOUBLE))"
      val qd = s"(CAST(t_$l AS DOUBLE) / CAST(n AS DOUBLE))"
      s"CASE WHEN t_$l > 0 THEN ($pd - $qd) * ($pd - $qd) / $qd ELSE 0.0 END"
    }.mkString("\n    + ")
    s"""WITH s AS (
       |  SELECT source, count(*) AS n_s,
       |    $sCnts
       |  FROM documents GROUP BY 1
       |), c AS (
       |  SELECT count(*) AS n,
       |    $tCnts
       |  FROM documents
       |)
       |SELECT source, n_s AS n_docs,
       |  CAST(CAST(round($terms, 6) AS DECIMAL(14,6)) AS DOUBLE) AS chi2
       |FROM s, c""".stripMargin
  }

  // ---- #25h-c pairwise source vocabulary overlap -------------------------
  /** Which feeds write with the same words — vocabulary Jaccard for every
    * source pair, the lexical companion to `dedup_report`'s near-dup pair
    * census (feeds can share vocabulary long before they share documents:
    * same scraper templates, same domain). The distinct (source, term)
    * frame is vocabulary-bounded; the self-join keys on the TERM (each
    * term contributes its ≤|sources|² co-occurring pairs — bounded by
    * vocab × |sources|², never corpus-sized), then one ≤|sources|²-key
    * rollup and two broadcast size joins. Exact integer basis points. */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = lowerToks(spark, dir)
      .select(col("source"), explode(col("toks")).as("term"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = st.select(col("source").as("src_a"), col("term"))
      .join(st.select(col("source").as("src_b"), col("term")), Seq("term"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter").cast("long").as("inter"),
        bp(col("inter"), col("na") + col("nb") - col("inter")).as("jaccard_bp"))
  }
  val vocabOverlapSql: String =
    s"""WITH st AS (
       |  SELECT DISTINCT source, g.t AS term
       |  FROM (SELECT source, ${sqlLowerTokens("text")} AS ts
       |    FROM documents),
       |  unnest(ts) AS g(t)
       |), sizes AS (
       |  SELECT source, count(*) AS n FROM st GROUP BY 1
       |), inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
       |  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT i.src_a, i.src_b, CAST(i.inter AS BIGINT) AS inter,
       |  ${graft.functions.TextFns.sqlBp("i.inter",
            "(na.n + nb.n - i.inter)")} AS jaccard_bp
       |FROM inter i
       |JOIN sizes na ON i.src_a = na.source
       |JOIN sizes nb ON i.src_b = nb.source""".stripMargin

  // ---- #25t-b tokenizer-training pair statistics (first BPE merge) ------
  /** The `[a-z]+` word-frequency table `(word, freq)`: a filter of the
    * shared materialized term-count frame (same tokenization, no second
    * corpus tokenize). The char-level tokenizer families (BPE, WordPiece,
    * unigram-LM) train on it and encode its words; restricting to ASCII
    * letters keeps character indexing engine-neutral. */
  private[operators] def alphaWordFreq(spark: SparkSession, dir: String): DataFrame =
    termCounts(spark, dir)
      .where(col("term").rlike("^[a-z]+$"))
      .select(col("term").as("word"), col("n").as("freq"))

  /** The first iteration of BPE tokenizer training: the corpus-frequency-
    * weighted counts of adjacent character pairs inside words — the
    * statistic each merge round maximizes. Restricted to ASCII-letter words
    * so character indexing is engine-neutral (both engines index code
    * points, but staying in ASCII removes any normalization ambiguity).
    *
    * Scale: pair space is vocabulary-bounded (≤26² here), so the plan is
    * explode→two partial-agg shuffles on bounded keys, and the top-N is
    * TakeOrderedAndProject (per-partition heap + driver merge of N rows),
    * never a global sort. Working over DISTINCT words with a freq weight —
    * not raw tokens — shrinks the pair explode from corpus-token size to
    * vocabulary size, the same trick the anagram reduce uses. */
  val BpePairTopN = 20

  def bpePairCounts(spark: SparkSession, dir: String): DataFrame =
    alphaWordFreq(spark, dir).where(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(BpePairTopN)
  val bpePairCountsSql: String =
    s"""WITH w AS (
       |  SELECT t.w AS word
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), wf AS (
       |  SELECT word, count(*) AS freq FROM w
       |  WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) >= 2
       |  GROUP BY 1
       |), p AS (
       |  SELECT substr(word, CAST(g.i AS INTEGER), 2) AS pair, freq
       |  FROM wf, unnest(range(1, length(word))) AS g(i)
       |)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
       |FROM p GROUP BY 1
       |ORDER BY pair_count DESC, pair LIMIT $BpePairTopN""".stripMargin

  // ---- the pair-merge trainer (BPE, byte-level BPE, WordPiece) -----------
  /** Greedy left-to-right non-overlapping merge of the pair (l, r) into
    * `fused` — the reference semantics ("aaa" under a+a → "aa","a"). BPE
    * fuses to l + r; WordPiece strips r's `##` continuation prefix. */
  private[operators] def mergePairIn(s: IndexedSeq[String], l: String,
      r: String, fused: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { out += fused; i += 2 }
      else { out += s(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Freq-weighted adjacent-symbol pair counts `(l, r, pair_count)` of a
    * `(freq, syms)` frame — the statistic every merge round ranks. */
  private[operators] def pairCounts(symsDf: DataFrame): DataFrame =
    // single-symbol words guard: sequence(1, 0) is DESCENDING in Spark
    // ([1,0] — not empty), which would fabricate null-symbol pairs
    symsDf.where(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("pair_count"))

  /** The iterative greedy pair-merge trainer behind BPE, byte-level BPE
    * and WordPiece (they differ only in `symbolize`, `fuse` and `rank`).
    * `words` is a `(word, freq)` frame; each round ranks the current
    * `(freq, syms)` frame with `rank` (its first two columns are the pair),
    * collects the ONE top row (the same bounded per-round collect as Lloyd
    * centroid training) and merges that pair in every word; it stops after
    * `rounds` merges or when no pair is left, and returns the winning rows
    * in round order.
    *
    * Scale: training runs on the word-frequency table, never the corpus
    * (the corpus-sized explode happened once, in the table behind
    * `words`): at 100 TB that is ~10⁷ rows, so each round is a small job.
    * The loop runs in one [[Scale.loop]] scope sized by the word count;
    * `localCheckpoint` every 4 rounds truncates the per-round `map`
    * lineage (the connected-components pattern). The per-round plan text
    * is round-invariant (the pair rides in the map closure, not a
    * literal), so codegen stays on. Rows-only BY DESIGN: round N's
    * aggregation input depends on round N−1's argmax applied to every
    * row, which one SQL query cannot express (a recursive CTE cannot
    * re-aggregate globally per step); the specs brute-force each merge
    * table against plain-Scala trainers instead. */
  private[operators] def trainMerges(words: DataFrame,
      symbolize: String => IndexedSeq[String], fuse: (String, String) => String,
      rank: DataFrame => DataFrame, rounds: Int): IndexedSeq[Row] = {
    val nWords = words.count()
    Scale.loop(words.sparkSession) { lp =>
      val cs = lp.sized(nWords)
      import cs.implicits._
      var syms = lp.rebind(words).as[(String, Long)]
        .map { case (w, f) => (f, symbolize(w)) }
      val won = scala.collection.mutable.ArrayBuffer.empty[Row]
      var exhausted = false
      while (won.size < rounds && !exhausted)
        rank(syms.toDF("freq", "syms")).limit(1).collect().headOption match {
          case None => exhausted = true
          case Some(best) =>
            won += best
            val (l, r) = (best.getString(0), best.getString(1))
            val fused = fuse(l, r)
            syms = syms.map { case (f, s) => (f, mergePairIn(s, l, r, fused)) }
            if (won.size % 4 == 0) syms = lp.checkpoint(syms, eager = true)
        }
      won.toIndexedSeq
    }
  }

  /** The ordered merge table `(merge_ix, left, right, merged, pair_count)`
    * of count-ranked BPE over `words` (argmax ties on (count desc, left,
    * right), fused symbol l + r) — char-level and byte-level BPE differ
    * only in `symbolize`. */
  private[operators] def bpeMergeTable(words: DataFrame,
      symbolize: String => IndexedSeq[String], rounds: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    trainMerges(words, symbolize, _ + _,
        pairCounts(_).orderBy(col("pair_count").desc, col("l"), col("r")),
        rounds)
      .zipWithIndex.map { case (b, i) =>
        (i + 1L, b.getString(0), b.getString(1), b.getLong(2)) }
      .toDF("merge_ix", "left", "right", "pair_count")
      .select(col("merge_ix"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("pair_count"))
  }

  /** Replays a BPE merge table on a symbol sequence in merge order — the
    * serving half of char- and byte-level BPE. The table is ≤ its round
    * count of pairs, so the returned function carries it by value. */
  private[operators] def bpeReplay(
      table: DataFrame): IndexedSeq[String] => IndexedSeq[String] = {
    val merges = table.select("merge_ix", "left", "right")
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
    s => merges.foldLeft(s) { case (acc, (l, r)) => mergePairIn(acc, l, r, l + r) }
  }

  /** The serving rollup of every tokenizer family: explode the per-doc
    * token array `toks` of `docs` into `(doc_id, term)`, equi-join the
    * tokens to an encoded vocabulary `(term, <per-word counts>)` (encoding
    * ran ONCE PER DISTINCT WORD; tokens outside the vocabulary drop), and
    * aggregate back to doc grain — the matched token count `n_words`,
    * then the sum of every vocabulary column under its own name. The
    * vocabulary is ~10⁷ rows at 100 TB: a plain shuffle join, or a
    * broadcast if it is top-K-capped. `toks` is exploded where it is
    * computed: over a projected array attribute the optimizer would infer
    * a non-empty filter and tokenize every document twice. */
  private[operators] def encodeRollup(docs: DataFrame, toks: Column,
      vocab: DataFrame): DataFrame = {
    val sums = vocab.columns.toSeq.filter(_ != "term")
      .map(c => sum(col(c)).cast("long").as(c))
    docs.select(col("doc_id"), explode(toks).as("term"))
      .join(vocab, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sums: _*)
  }

  // ---- #25t-c full BPE tokenizer-training loop ---------------------------
  /** The complete iterative BPE merge-training loop (`bpe_pair_counts` is
    * its single-round statistic): [[BpeMergeRounds]] rounds of the
    * [[trainMerges]] fixpoint over the `[a-z]{2,}` word table, one symbol
    * per character, producing the ordered merge table a tokenizer ships. */
  val BpeMergeRounds = 12

  /** One symbol per character ("abc" → a, b, c). */
  private def charSyms(w: String): IndexedSeq[String] = w.split("").toIndexedSeq

  // the merge table and the encoded vocabulary are per-corpus training
  // artifacts exactly like Lloyd centroids / the LSH signature frame:
  // materialize once per (session, corpus) — before r9 every bpe_merges
  // invocation re-ran the full 12-round loop (2.3 s steady at sf0.1) and
  // bpe_encode re-ran it AGAIN for its merge-table collect
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "bpeMerges")(bpeMergeTable(
      alphaWordFreq(spark, dir).where(length(col("word")) >= 2),
      charSyms, BpeMergeRounds))

  // ---- #25t-d BPE encode (tokenizer serving path) ------------------------
  /** Applies the [[bpeMerges]]-trained merge table to the corpus — the
    * serving half of the tokenizer loop (train → ship merge table →
    * encode). Per document: encodable words, their characters, and the
    * symbol count after all merges, i.e. the fertility statistic
    * (symbols per word) that decides whether a tokenizer fits a corpus.
    * Encoding runs once per distinct `[a-z]+` word, then
    * [[encodeRollup]] over the shared `lowerToks` frame. Rows-only BY
    * DESIGN: the merge table is an iterative argmax fixpoint, so no single
    * SQL oracle can reproduce the encoding; the spec instead proves (a)
    * encode∘train reproduces the training fixpoint and (b) agreement with
    * an independent in-memory BPE. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // EAGER at construction by design: resolving the merge table IS a
    // (cached) training job, like Lloyd centroids. The encoded vocabulary
    // is itself a materialized per-corpus artifact — steady runs pay only
    // the corpus-grain join + rollup.
    val encodedVocab = Materialized.frame(spark, dir, "bpeEncodedVocab") {
      val replay = bpeReplay(bpeMerges(spark, dir))
      alphaWordFreq(spark, dir).select(col("word")).as[String]
        .map(w => (w, w.length.toLong, replay(charSyms(w)).length.toLong))
        .toDF("term", "n_chars", "n_bpe_syms")
    }
    encodeRollup(lowerToks(spark, dir), col("toks"), encodedVocab)
  }

  // ---- #24b vocabulary coverage / out-of-vocabulary rate -----------------
  /** Token-coverage audit against the corpus's own top-VocabK vocabulary:
    * per document, how many tokens fall outside the vocabulary (the signal
    * behind fertility/coverage checks when fitting a tokenizer to a new
    * corpus — high OOV rate means the vocab under-serves the document).
    *
    * Scale: the vocabulary is top-K by construction, so it always
    * broadcasts; selection is TakeOrderedAndProject with a deterministic
    * (freq DESC, term) tie-break at the K boundary. The corpus-sized token
    * explode is scanned once and aggregated straight back to doc grain. */
  val VocabK = 1000

  def oovStats(spark: SparkSession, dir: String): DataFrame =
    oovStatsK(spark, dir, VocabK)

  private[graft] def oovStatsK(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val tok = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), explode(lowerTokens(col("text"))).as("term"))
    // vocabulary from the shared materialized term-count frame (zipfStats,
    // vocabGrowth) — no second corpus tokenize for the vocab branch
    val vocab = termCounts(spark, dir)
      .orderBy(col("n").desc, col("term")).limit(k)
      .select(col("term"), lit(1L).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        bp(col("n_oov"), col("n_tokens")).as("oov_bp"))
  }
  val oovStatsSql: String =
    s"""WITH tok AS (
       |  SELECT d.doc_id, t.w AS term
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), vocab AS (
       |  SELECT term FROM (
       |    SELECT term, count(*) AS freq FROM tok GROUP BY 1
       |    ORDER BY freq DESC, term LIMIT $VocabK)
       |), agg AS (
       |  SELECT tok.doc_id, count(*) AS n_tokens,
       |    sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
       |  FROM tok LEFT JOIN vocab v ON tok.term = v.term
       |  GROUP BY 1
       |)
       |SELECT doc_id, n_tokens, CAST(n_oov AS BIGINT) AS n_oov,
       |  ${sqlBp("n_oov", "n_tokens")} AS oov_bp
       |FROM agg""".stripMargin

  // ---- #24c vocabulary-growth curve (tokenizer sizing diagnostic) -------
  /** How much of the corpus's token mass the top-K term types cover, for a
    * ladder of K — the Zipf/Heaps curve read before choosing a tokenizer
    * vocabulary size. One row: total mass, type count, covered basis
    * points per K.
    *
    * Scale: each top-K is TakeOrderedAndProject over the term-frequency
    * frame (never a global rank window — ranking the full vocabulary would
    * be a single-partition sort of ~10⁸ types at 100 TB), and each summed
    * top-K is a 1-row broadcast. The term-frequency aggregation itself is
    * computed once and reused by every rung. */
  val VocabGrowthKs: Seq[Int] = Seq(10, 100, 1000)

  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    // reuses the per-(session, corpus) materialized term-count frame shared
    // with zipfStats/oovStats — the corpus is tokenized once per session
    val tf = termCounts(spark, dir).withColumnRenamed("n", "freq")
    val base = tf.agg(count(lit(1)).as("n_terms"),
      sum(col("freq")).as("total_tokens"))
    val out = VocabGrowthKs.foldLeft(base) { (acc, k) =>
      val topK = tf.orderBy(col("freq").desc, col("term")).limit(k)
        .agg(sum(col("freq")).as(s"__top$k"))
      acc.crossJoin(broadcast(topK))
    }
    VocabGrowthKs.foldLeft(out) { (acc, k) =>
      acc.withColumn(s"covered_${k}_bp",
        bp(col(s"__top$k"), col("total_tokens")))
    }.select(col("n_terms") +: col("total_tokens") +:
      VocabGrowthKs.map(k => col(s"covered_${k}_bp")): _*)
  }
  val vocabGrowthSql: String = {
    val rungs = VocabGrowthKs.map { k =>
      s"""k$k AS (
         |  SELECT CAST(sum(freq) AS BIGINT) AS s
         |  FROM (SELECT freq FROM tf ORDER BY freq DESC, term LIMIT $k))"""
        .stripMargin
    }.mkString(",\n")
    val cols = VocabGrowthKs.map { k =>
      s"  ${sqlBp(s"k$k.s", "t.total_tokens")} AS covered_${k}_bp"
    }.mkString(",\n")
    s"""WITH tok AS (
       |  SELECT t.w AS term
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), tf AS (
       |  SELECT term, count(*) AS freq FROM tok GROUP BY 1
       |), t AS (
       |  SELECT count(*) AS n_terms, CAST(sum(freq) AS BIGINT) AS total_tokens
       |  FROM tf
       |),
       |$rungs
       |SELECT t.n_terms, t.total_tokens,
       |$cols
       |FROM t, ${VocabGrowthKs.map(k => s"k$k").mkString(", ")}""".stripMargin
  }

  // ---- #25o document-length histogram (power-of-two buckets) ------------
  /** Corpus length distribution in log2 buckets — the diagnostic a
    * curation run reads before choosing chunking/length-filter thresholds.
    * Bucket = number of binary digits of n_chars (⌊log2⌋+1), computed with
    * INTEGER string arithmetic (`length(bin(n))`) rather than
    * `floor(log2(...))` so no float sits near a bucket boundary. One
    * map-side-partial agg on ≤64 keys. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .groupBy(length(bin(col("n_chars"))).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  val lengthHistogramSql: String =
    """SELECT CAST(length(bin(n_chars)) AS BIGINT) AS len_bucket,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY 1""".stripMargin

  // ---- #25o-b length × quality calibration curve --------------------------
  /** Does the quality score just proxy length? The calibration curve a
    * curation run reads before composing a length filter WITH a quality
    * gate: per power-of-two length bucket (length_histogram's integer
    * bucketing — no float near a boundary), doc count and the exact mean /
    * min / max quality bp. Mean is integer division of exact sums (§6).
    * One corpus scan: the codegen'd profile pass scores each row, then a
    * ≤64-key map-side-partial agg. */
  def lengthQualityCurve(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(length(bin(col("n_chars"))).cast("long").as("len_bucket"),
        qualityBpFrom(profileCol).as("q"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        org.apache.spark.sql.graft.ExactMath.intDiv(
          sum(col("q")), greatest(count(lit(1)), lit(1L))).as("mean_quality_bp"),
        min(col("q")).as("min_quality_bp"),
        max(col("q")).as("max_quality_bp"))
  val lengthQualityCurveSql: String =
    s"""SELECT CAST(length(bin(n_chars)) AS BIGINT) AS len_bucket,
       |  count(*) AS n_docs,
       |  CAST(sum($sqlQualityBpExpr) // greatest(count(*), 1) AS BIGINT)
       |    AS mean_quality_bp,
       |  CAST(min($sqlQualityBpExpr) AS BIGINT) AS min_quality_bp,
       |  CAST(max($sqlQualityBpExpr) AS BIGINT) AS max_quality_bp
       |FROM documents GROUP BY 1""".stripMargin

  // ---- #25 winnowing fingerprints (k=5 char-grams, window w=4) ----------
  // Map-only: ShinglePolyHash emits the k-gram hash array in-row and
  // WinnowMins takes the sorted distinct sliding-window minima in one
  // deque pass — the fingerprint never leaves its document's row. The
  // previous formulation exploded every char position and pushed the
  // corpus-of-grams through a per-doc window sort plus an aggregation
  // exchange. The oracle keeps the windowed formulation over the same
  // rolling hash — two independent implementations of winnowing agreeing.
  val FpK = 5
  val FpW = 4
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      // same population as the explode form: at least one full window
      .where(length(col("text")) >= FpK + FpW - 1)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.WinnowMins(
          org.apache.spark.sql.graft.ShinglePolyHash(
            col("text"), FpK, Dedup.ShingleB, Dedup.P), FpW).as("wm"))
      .select(col("doc_id"),
        size(col("wm")).cast("long").as("n_fp"),
        array_join(transform(col("wm"), _.cast("string")), " ").as("fp"))
  val fingerprintSql: String =
    s"""WITH grams AS (
       |  SELECT d.doc_id, length(d.text) AS len, g.pos,
       |    ${Dedup.sqlShingleHash("d.text", "g.pos")} AS h
       |  FROM documents d, unnest(range(1, length(d.text) - ${FpK - 1} + 1)) AS g(pos)
       |  WHERE length(d.text) >= ${FpK + FpW - 1}
       |), wins AS (
       |  SELECT doc_id, len, pos,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND ${FpW - 1} FOLLOWING) AS wmin
       |  FROM grams
       |)
       |SELECT doc_id, count(DISTINCT wmin) AS n_fp,
       |  list_aggr(list_transform(list_sort(list(DISTINCT wmin)),
       |    x -> CAST(x AS VARCHAR)), 'string_agg', ' ') AS fp
       |FROM wins WHERE pos <= len - ${FpK - 1} - ${FpW - 1}
       |GROUP BY doc_id""".stripMargin

  // ---- #19x winnowing fingerprint overlap (MOSS-style near-dup) ----------
  /** The THIRD near-dup algorithm family beside minhash-LSH and simhash:
    * MOSS-style winnowing overlap (Schleimer et al. 2003) — two documents
    * are near-dups when they share selected k-gram window minima. Pairs
    * come from an equi-join on the fingerprint hash with the LSH bucket
    * discipline (a hash shared by more than [[WinnowBucketCap]] docs is
    * boilerplate, dropped BEFORE the self-join — candidates bounded by
    * |hashes|·cap², never all-pairs); overlap is reported as shared
    * fingerprints over the smaller doc's fingerprint count, in exact bp.
    * ONE corpus scan computes (n_fp, exploded hashes) from the same
    * codegen'd WinnowMins∘ShinglePolyHash projection as `fingerprint`. */
  val WinnowBucketCap = 64
  val WinnowMinShared = 2L
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = Corpus.table(spark, dir, "documents")
      .where(length(col("text")) >= FpK + FpW - 1)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.WinnowMins(
          org.apache.spark.sql.graft.ShinglePolyHash(
            col("text"), FpK, Dedup.ShingleB, Dedup.P), FpW).as("wm"))
      .select(col("doc_id"), size(col("wm")).cast("long").as("n_fp"),
        explode(col("wm")).as("h"))
    val capped = fp
      .withColumn("m", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("m") <= WinnowBucketCap)
    capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(least(col("a.n_fp"), col("b.n_fp"))).as("min_fp"))
      .where(col("n_shared") >= WinnowMinShared)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("min_fp"),
        bp(col("n_shared"), col("min_fp")).as("overlap_bp"))
  }
  val winnowPairsSql: String =
    s"""WITH grams AS (
       |  SELECT d.doc_id, length(d.text) AS len, g.pos,
       |    ${Dedup.sqlShingleHash("d.text", "g.pos")} AS h
       |  FROM documents d, unnest(range(1, length(d.text) - ${FpK - 1} + 1)) AS g(pos)
       |  WHERE length(d.text) >= ${FpK + FpW - 1}
       |), wins AS (
       |  SELECT doc_id, len, pos,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND ${FpW - 1} FOLLOWING) AS wmin
       |  FROM grams
       |), fp AS MATERIALIZED (
       |  SELECT doc_id, wmin AS h,
       |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_fp
       |  FROM (
       |    SELECT DISTINCT doc_id, wmin FROM wins
       |    WHERE pos <= len - ${FpK - 1} - ${FpW - 1}
       |  )
       |), capped AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY h) AS m FROM fp
       |  ) WHERE m <= $WinnowBucketCap
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*) AS n_shared,
       |  CAST(min(least(a.n_fp, b.n_fp)) AS BIGINT) AS min_fp,
       |  ${sqlBp("count(*)", "min(least(a.n_fp, b.n_fp))")} AS overlap_bp
       |FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= $WinnowMinShared""".stripMargin

  // ---- #25ad heavy hitters: sketch candidates + exact confirm ------------
  /** Per-source top-[[HhTopN]] tokens by the canonical two-pass
    * heavy-hitters shape: pass 1 aggregates a Misra–Gries
    * [[org.apache.spark.sql.graft.FreqSketch]] per source (constant memory,
    * ≤[[HhCapacity]] rows shipped per map task per source — a full
    * `GROUP BY (source, term)` would shuffle every distinct pair), pass 2
    * re-scans the token stream and exact-counts ONLY the broadcast
    * candidate set, so the published counts are exact and the final rank
    * window runs over ≤capacity rows per source, never the corpus.
    *
    * MG guarantee: any term with frequency > N/(capacity+1) of its source's
    * N tokens is in the candidate set (order- and partitioning-free), so
    * the confirmed top-N is the TRUE top-N whenever the N-th count clears
    * that bound. CONDITION, not a theorem: capacity 1024 puts the bound at
    * ~0.1% of a source's tokens — every Zipfian source's 5th-most-common
    * token sits far above that (here the corpus vocabulary is smaller than
    * the capacity outright, so the sketch never decrements and holds exact
    * counts) — but a pathologically flat source could in principle evict a
    * boundary token; size capacity to the corpus before trusting the row.
    * The spec asserts the guarantee under forced decrements. At 100 TB
    * this two-pass shape is how you top-k a multi-billion-key stream
    * without materializing it. */
  val HhCapacity = 1024
  val HhTopN = 5
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Corpus.table(spark, dir, "documents")
      .select(col("source"), explode(lowerTokens(col("text"))).as("term"))
    val cand = tokens.groupBy(col("source"))
      .agg(org.apache.spark.sql.graft.FreqSketch.column(
        col("term"), HhCapacity).as("sk"))
      .select(col("source"), explode(col("sk.key")).as("term"))
    val w = Window.partitionBy("source").orderBy(col("n").desc, col("term"))
    tokens
      .join(broadcast(cand), Seq("source", "term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= HhTopN)
  }
  val heavyHittersSql: String =
    s"""WITH tk AS (
       |  SELECT source, g.t AS term
       |  FROM (SELECT source, ${sqlLowerTokens("text")} AS ts
       |    FROM documents),
       |  unnest(ts) AS g(t)
       |), c AS (
       |  SELECT source, term, count(*) AS n FROM tk GROUP BY 1, 2
       |)
       |SELECT source, term, n, rk FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY n DESC, term) AS BIGINT) AS rk
       |  FROM c)
       |WHERE rk <= $HhTopN""".stripMargin

  // ---- #22b language-ID confusion matrix ---------------------------------
  /** The evaluation loop for the #22 classifier: predicted vs labeled
    * language counts (the confusion matrix a model card reports). Same
    * row-local scoring expressions as `lang_id` — one scan, one ≤|langs|²
    * rollup with map-side partials, no joins. The exact-match diagonal over
    * these counts is the classifier's accuracy; off-diagonal cells name the
    * confusable pairs that drive profile tuning. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("lang").as("labeled_lang"), profileCol.as("__p"))
      .select(col("labeled_lang") +: langHitColsFrom(col("__p")): _*)
      .select(col("labeled_lang"), predLangFromHits.as("pred_lang"))
      .groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  val langConfusionSql: String =
    s"""WITH scored AS (
       |  SELECT lang AS labeled_lang,
       |  $sqlLangHitCols
       |  FROM documents
       |)
       |SELECT labeled_lang, $sqlPredLangFromHits AS pred_lang,
       |  count(*) AS n_docs
       |FROM scored GROUP BY 1, 2""".stripMargin

  // ---- #23c per-source quality trend (grouped OLS) -----------------------
  /** Per-source least-squares slope of quality over doc_id — the drift
    * monitor that catches a feed degrading over time. Grouped OLS needs
    * only the moment sums (n, Σx, Σy, Σxy, Σx²), so the whole regression
    * is ONE map-side-partial aggregation per source — no per-group
    * iteration, no collect. All moments are exact BIGINTs (x = doc_id,
    * y = the integer quality bp); the closed-form slope
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) divides two exact integers, emitted via
    * the §6 round→DECIMAL→DOUBLE pattern. BOUND: the BIGINT moments hold
    * to doc_id ~2³¹ at 10⁴-bp quality; past that, center x per source or
    * widen the sums to DECIMAL (documented, same q1_agg-style cap). */
  def qualityTrend(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("source"), col("doc_id").cast("long").as("x"),
        qualityBpFrom(profileCol).as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_docs"),
        round((col("n_docs") * col("sxy") - col("sx") * col("sy")).cast("double")
            / greatest(col("n_docs") * col("sxx") - col("sx") * col("sx"), lit(1L))
              .cast("double"), 4)
          .cast("decimal(14,4)").cast("double").as("slope"))
  val qualityTrendSql: String =
    s"""WITH q AS (
       |  SELECT source, CAST(doc_id AS BIGINT) AS x,
       |    CAST(($sqlQualityBpExpr) AS BIGINT) AS y
       |  FROM documents
       |), s AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM q GROUP BY 1
       |)
       |SELECT source, n_docs,
       |  CAST(CAST(round(
       |    CAST(n_docs * sxy - sx * sy AS DOUBLE)
       |      / CAST(greatest(n_docs * sxx - sx * sx, 1) AS DOUBLE), 4)
       |    AS DECIMAL(14,4)) AS DOUBLE) AS slope
       |FROM s""".stripMargin

  // ---- #25ae inverted index (posting lists) ------------------------------
  /** The IR-side product of a text corpus: per term, document frequency,
    * total term frequency, and a bounded posting-list sample (the
    * [[IdxPostings]] lowest doc_ids, space-joined). Scale shape: tokens
    * reduce to (term, doc_id, tf) partials first (map-side combine takes
    * the per-doc explosion out of the shuffle), then ONE hash partitioning
    * by term serves both the rank window and the final rollup (exchange
    * reuse — `.explain` shows a single Exchange). The posting sample is
    * rank-filtered BEFORE collect_list, so no aggregation buffer ever
    * holds more than [[IdxPostings]] ids — the full-posting-list
    * `collect_list(doc_id)` formulation would OOM on a stopword's
    * billion-doc postings at 100 TB. */
  val IdxPostings = 8
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), explode(lowerTokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("term").orderBy("doc_id")
    perDoc
      .withColumn("rk", row_number().over(w))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).cast("long").as("df"),
        sum(col("tf")).cast("long").as("tf_total"),
        array_join(transform(
          array_sort(collect_list(when(col("rk") <= IdxPostings, col("doc_id")))),
          _.cast("string")), " ").as("postings"))
  }
  val invertedIndexSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, g.t AS term
       |  FROM (SELECT doc_id, ${sqlLowerTokens("text")} AS ts
       |    FROM documents),
       |  unnest(ts) AS g(t)
       |), pd AS (
       |  SELECT term, doc_id, count(*) AS tf FROM tk GROUP BY 1, 2
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
       |  FROM pd
       |)
       |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
       |  coalesce(string_agg(CASE WHEN rk <= $IdxPostings
       |    THEN CAST(doc_id AS VARCHAR) END, ' ' ORDER BY doc_id), '') AS postings
       |FROM r GROUP BY 1""".stripMargin

  // ---- #25z-b BM25 ranked retrieval --------------------------------------
  /** Okapi parameters (the Lucene defaults) and a fixed query over the
    * corpus's own vocabulary. Lucene's +1 idf variant keeps idf > 0, so
    * score > 0 ⇔ the doc contains a query term. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopN = 20
  val Bm25Query: Seq[String] = Seq("window", "merge", "scan")

  /** BM25 top-N (Robertson–Spärck Jones / Okapi; Lucene's practical
    * scoring) — the production lexical ranker the inverted index serves,
    * complementing hybrid_search_rrf's Jaccard leg. Spark-first shape:
    * per-doc tf for each query term is ROW-LOCAL (an array scan per term —
    * no corpus token explode, no shuffle), the corpus statistics (N,
    * Σlen, per-term df) are ONE map-side-partial aggregation row that
    * broadcasts back, idf and the tf saturation are computed with
    * IDENTICAL formula text in both engines, and each per-term score is
    * §6-rounded to DECIMAL(14,6) BEFORE the cross-term sum so the total
    * is fold-order free. Top-N is TakeOrderedAndProject + in-array rank
    * recovery. At 100 TB: two map-only scans and a 1-row broadcast —
    * nothing shuffles but the k-row merge. */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val qs = Bm25Query
    val base = lowerToks(spark, dir)
      .select(col("doc_id") +: col("toks").as("__t") +: Nil: _*)
      .select(col("doc_id") +: size(col("__t")).cast("long").as("len_d") +:
        qs.zipWithIndex.map { case (term, i) =>
          size(filter(col("__t"), t => t === term)).cast("long").as(s"tf_$i")
        }: _*)
    val aggCols = count(lit(1)).as("n_docs") +: sum(col("len_d")).as("sum_len") +:
      qs.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val statsAgg = base.agg(aggCols.head, aggCols.tail: _*)
    // score > 0 ⇔ Σtf > 0 (the +1 idf variant keeps idf > 0 and the
    // saturation term is positive for tf > 0), so the containment filter
    // is a BASE-side predicate — it pushes below the broadcast join to the
    // scan instead of becoming a (lint-banned) conditioned nested loop
    val hits = base.where(
      qs.indices.map(i => col(s"tf_$i")).reduce(_ + _) > 0)
    val scored = hits.crossJoin(broadcast(statsAgg))
      .withColumn("avgdl", expr("CAST(sum_len AS DOUBLE) / n_docs"))
      .select(col("doc_id") +: col("len_d") +:
        qs.indices.map { i =>
          expr(
            s"""CAST(CAST(round(
               |  CAST(CAST(round(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0), 6)
               |    AS DECIMAL(14,6)) AS DOUBLE)
               |  * ((CAST(tf_$i AS DOUBLE) * ${Bm25K1 + 1.0})
               |     / (CAST(tf_$i AS DOUBLE)
               |        + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * (CAST(len_d AS DOUBLE) / avgdl)))),
               |  6) AS DECIMAL(14,6)) AS DECIMAL(16,6))""".stripMargin
            ).as(s"s_$i")
        }: _*)
      .select(col("doc_id"), col("len_d"),
        qs.indices.map(i => col(s"s_$i")).reduce(_ + _)
          .cast("decimal(16,6)").cast("double").as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(Bm25TopN)
      .select(struct(negate(col("score")).as("ns"), col("doc_id").as("doc_id"),
        col("len_d").as("len_d"), col("score").as("score")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.doc_id").as("doc_id"), col("s.len_d").as("len_d"),
        col("s.score").as("score"), (col("pos") + 1).cast("long").as("rk"))
  }
  val bm25TopkSql: String = {
    val qs = Bm25Query
    val tfCols = qs.zipWithIndex.map { case (term, i) =>
      s"len(list_filter(t, x -> x = '$term')) AS tf_$i" }.mkString(",\n      |    ")
    val dfCols = qs.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(",\n      |    ")
    val sCols = qs.indices.map { i =>
      s"""CAST(CAST(round(
         |      CAST(CAST(round(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0), 6)
         |        AS DECIMAL(14,6)) AS DOUBLE)
         |      * ((CAST(tf_$i AS DOUBLE) * ${Bm25K1 + 1.0})
         |         / (CAST(tf_$i AS DOUBLE)
         |            + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * (CAST(len_d AS DOUBLE) / avgdl)))),
         |      6) AS DECIMAL(14,6)) AS DECIMAL(16,6)) AS s_$i""".stripMargin
    }.mkString(",\n      |    ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, len(t) AS len_d,
       |    $tfCols
       |  FROM (SELECT doc_id, ${sqlLowerTokens("text")} AS t
       |    FROM documents)
       |), st0 AS (
       |  SELECT count(*) AS n_docs, sum(len_d) AS sum_len,
       |    $dfCols
       |  FROM base
       |), st AS (
       |  SELECT *, CAST(sum_len AS DOUBLE) / n_docs AS avgdl FROM st0
       |), scored AS (
       |  SELECT doc_id, len_d,
       |    $sCols
       |  FROM base CROSS JOIN st
       |  WHERE ${qs.indices.map(i => s"tf_$i").mkString(" + ")} > 0
       |)
       |SELECT doc_id, len_d, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |FROM (
       |  SELECT doc_id, len_d,
       |    CAST(CAST(${qs.indices.map(i => s"s_$i").mkString(" + ")}
       |      AS DECIMAL(16,6)) AS DOUBLE) AS score
       |  FROM scored)
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopN""".stripMargin
  }

  // ---- #25z-c positional phrase search ------------------------------------
  /** Exact phrase match over a positional index — the Lucene PhraseQuery
    * shape: per query term, the (doc, position) postings; consecutive
    * terms join on `pos₂ = pos₁ + 1` within the doc. A k-term phrase
    * chains k-1 adjacency joins; the demonstrator runs the 2-term case on
    * the corpus's own most-frequent bigram (read from the SHARED
    * materialized bigram frame — non-vacuous at every SF, no new corpus
    * pass to pick the phrase). Plan shape: the 1-row phrase broadcasts
    * into each postings scan, so only matching-term positions survive
    * BEFORE the adjacency shuffle; that join is a composite equi-join on
    * (doc_id, pos+1) = (doc_id, pos) — co-partitioned, never positional
    * cross-product. At 100 TB the postings frame is the inverted index's
    * position payload, doc-bucketed, and a phrase query touches only the
    * probed terms' postings. Per-doc result: match count + first match
    * position (0-based). */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val ph = gramCounts(spark, dir, 2)
      .orderBy(col("n").desc, col("bigram")).limit(1)
      .select(split(col("bigram"), " ").as("ws"))
      .select(element_at(col("ws"), 1).as("w1"),
        element_at(col("ws"), 2).as("w2"))
    val pos = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), posexplode(lowerTokens(col("text"))).as(Seq("pos", "term")))
    def postings(w: String): DataFrame =
      pos.join(broadcast(ph), col("term") === col(w))
        .select(col("doc_id"), col("pos"))
    postings("w1").as("a").join(postings("w2").as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.pos") === col("a.pos") + 1)
      .select(col("a.doc_id").as("doc_id"), col("a.pos").as("pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
  }
  val phraseSearchSql: String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), bg AS (
       |  SELECT g.b AS bigram
       |  FROM toks, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
       |  WHERE len(t) >= 2
       |), ph AS (
       |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
       |  FROM (SELECT bigram, count(*) AS n FROM bg GROUP BY 1
       |        ORDER BY n DESC, bigram LIMIT 1)
       |), pos AS MATERIALIZED (
       |  SELECT doc_id, g.i - 1 AS pos, t[g.i] AS term
       |  FROM toks, unnest(range(1, len(t) + 1)) AS g(i)
       |)
       |SELECT a.doc_id, count(*) AS n_matches, CAST(min(a.pos) AS BIGINT) AS first_pos
       |FROM pos a
       |JOIN ph ON a.term = ph.w1
       |JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = ph.w2
       |GROUP BY 1""".stripMargin

  // ---- #23e readability scoring -------------------------------------------
  /** Flesch–Kincaid grade level per document — the classic complexity
    * signal education-targeted filters (FineWeb-Edu-style) threshold on.
    * Pinned, engine-agnostic variant of the three inputs:
    *  - words: `\S+` runs;
    *  - sentences: occurrences of `. ! ?` (the c4_line_filters sentence
    *    pin), floored at 1 so sentence-less prose still scores;
    *  - syllables: `[aeiouy]+` vowel groups over the lowered text — the
    *    standard dictionary-free heuristic.
    * Outputs are exact ×10² fixed-point integers (§6): words/sentence,
    * syllables/word, and the grade `0.39·w/s + 11.8·syl/w − 15.59`
    * evaluated as ONE integral division of exact integers — the possibly
    * negative numerator is offset by +10⁶·den so truncating (Spark `div`)
    * and flooring (DuckDB `//`) division agree, then shifted back.
    *
    * Scale: MAP-ONLY — three regexp counters fused into the scan
    * projection; nothing leaves the row. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        wsTokenCount(col("text")).cast("long").as("n_words"),
        ((length(col("text")) - length(replace(col("text"), lit(".")))) +
          (length(col("text")) - length(replace(col("text"), lit("!")))) +
          (length(col("text")) - length(replace(col("text"), lit("?")))))
          .cast("long").as("n_sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
          .as("n_syllables"))
      .where(col("n_words") > 0)
      .withColumn("s1", greatest(col("n_sentences"), lit(1L)))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        intDiv(col("n_words") * lit(100L), col("s1")).as("wps_e2"),
        intDiv(col("n_syllables") * lit(100L), col("n_words")).as("spw_e2"),
        (intDiv(
          lit(39L) * col("n_words") * col("n_words") +
            lit(1180L) * col("n_syllables") * col("s1") -
            lit(1559L) * col("n_words") * col("s1") +
            lit(1000000L) * col("n_words") * col("s1"),
          col("n_words") * col("s1")) - lit(1000000L)).as("fk_grade_e2"))
  }
  val readabilitySql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(${sqlWsTokenCount("text")} AS BIGINT) AS n_words,
       |    CAST((length(text) - length(replace(text, '.', '')))
       |      + (length(text) - length(replace(text, '!', '')))
       |      + (length(text) - length(replace(text, '?', ''))) AS BIGINT)
       |      AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
       |      AS n_syllables
       |  FROM documents
       |), s AS (
       |  SELECT *, greatest(n_sentences, 1) AS s1 FROM base WHERE n_words > 0
       |)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  (n_words * 100) // s1 AS wps_e2,
       |  (n_syllables * 100) // n_words AS spw_e2,
       |  ((39 * n_words * n_words + 1180 * n_syllables * s1
       |    - 1559 * n_words * s1 + 1000000 * n_words * s1)
       |   // (n_words * s1)) - 1000000 AS fk_grade_e2
       |FROM s""".stripMargin
}
