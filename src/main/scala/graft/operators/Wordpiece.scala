package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns.sqlLowerTokens
import graft.sources.Corpus

/** WordPiece tokenizer training + serving — the THIRD production tokenizer
  * family next to BPE and unigram-LM (Schuster & Nakajima 2012; the
  * BERT-family tokenizer). Trained by BPE's own pair-merge trainer
  * ([[TextAnalysis.trainMerges]]) with a different ranking: each round
  * merges the adjacent symbol pair maximizing the LIKELIHOOD score
  * count(ab) / (count(a)·count(b)) instead of the raw pair count — the
  * pair whose fusion most improves a unigram LM of the symbol stream.
  * Serving differs too: WordPiece encodes by greedy LONGEST-MATCH-FIRST
  * against the final vocabulary (the actual BERT runtime algorithm), not
  * by replaying merges.
  *
  * Pinned variant (spec-locked in PipelineOpsSpec):
  *  - Train on the [a-z]+ word-frequency table (the shared materialized
  *    term frame — the vocabulary-not-corpus reduction all three trainers
  *    use). Symbolization: first char bare, every later char carries the
  *    `##` continuation prefix ("hello" → h ##e ##l ##l ##o).
  *  - [[WpMergeRounds]] rounds; the argmax score is the EXACT integral
  *    ×10⁶ ratio score_e6 = ⌊count(ab)·10⁶ / (count(a)·count(b))⌋ with
  *    ties on (pair_count desc, left, right); merging strips the right
  *    side's `##` (a + ##b → a·b with a's prefix); merges apply greedily
  *    left-to-right non-overlapping (the BPE reference semantics).
  *  - Encode: greedy longest-match-first against the final inventory
  *    (initial chars + every merged symbol); a word with an unmatchable
  *    position becomes ONE UNK symbol (BERT's whole-word [UNK] rule).
  *
  * Scale: per round ONE distributed pass over the vocabulary-sized symbol
  * frame producing two bounded aggregations (pair inventory + symbol
  * inventory, both piece-bounded) joined piece-keyed, with exactly ONE
  * argmax row collected (the Lloyd/BPE pattern); the corpus is touched
  * only by the serving rollup ([[TextAnalysis.encodeRollup]], shared by
  * all four tokenizer families).
  *
  * Driver checks: `wordpiece_pair_scores` (the round-0 statistic over the
  * initial symbolization) is fully SQL-expressible and oracled, like
  * `bpe_pair_counts`. The merge fixpoint (`wordpiece_merges`) and the
  * greedy encode over it (`wordpiece_encode`) are rows-only BY DESIGN —
  * round N's aggregation input depends on round N−1's collected argmax,
  * the `bpe_merges` no-single-SQL argument — and are brute-forced from
  * scratch in PipelineOpsSpec.
  */
object Wordpiece {

  val WpMergeRounds = 12
  val WpPairTopN = 20

  /** WordPiece symbolization of a word string (driver/executor side). */
  private[operators] def wpSyms(w: String): IndexedSeq[String] =
    w.substring(0, 1) +: (1 until w.length).map(i => "##" + w.charAt(i))

  /** The fused symbol of a merge: r's continuation prefix is stripped. */
  private def wpFuse(l: String, r: String): String = l + r.stripPrefix("##")

  /** Scored pair frame of a (freq, syms) symbol frame, in rank order
    * (score_e6 desc, pair_count desc, l, r): the pair counts joined to
    * both endpoint symbol counts with the exact ×10⁶ likelihood ratio —
    * the two bounded aggregations each training round needs. The symbol
    * frame is piece-bounded → broadcast onto the pair frame. */
  private def scoredPairs(symsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDivWide
    val syms = symsDf
      .select(col("freq"), explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("sym_count"))
    TextAnalysis.pairCounts(symsDf)
      .join(broadcast(syms.select(col("sym").as("l"),
        col("sym_count").as("l_count"))), Seq("l"))
      .join(broadcast(syms.select(col("sym").as("r"),
        col("sym_count").as("r_count"))), Seq("r"))
      .select(col("l"), col("r"), col("pair_count"),
        // intDivWide, not intDiv: at 100 TB two frequent symbols carry
        // ~1e10 mass each, so l_count*r_count overflows Long — the
        // products are formed in DECIMAL(38,0) (ADVICE r11)
        intDivWide(col("pair_count"), lit(1000000L),
          col("l_count"), col("r_count")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("pair_count").desc, col("l"),
        col("r"))
  }

  /** Driver-contract query (oracled, the `bpe_pair_counts` pattern): the
    * top-N pairs of the INITIAL symbolization by likelihood score — round
    * 0 of WordPiece training, before any merge state exists. */
  def wordpiecePairScores(spark: SparkSession, dir: String): DataFrame =
    // single-char words contribute symbol mass but no pairs; Spark's
    // sequence(2, 1) is DESCENDING (not empty) so the concat is sliced
    // back to the word's true length
    scoredPairs(TextAnalysis.alphaWordFreq(spark, dir)
      .select(col("freq"), expr(
        """slice(concat(array(substring(word, 1, 1)),
          |  transform(sequence(2, length(word)),
          |    i -> concat('##', substring(word, i, 1)))), 1, length(word))"""
          .stripMargin).as("syms")))
      .limit(WpPairTopN)
  val wordpiecePairScoresSql: String =
    s"""WITH w AS (
       |  SELECT t.w AS word
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), wf AS (
       |  SELECT word, count(*) AS freq FROM w
       |  WHERE regexp_matches(word, '^[a-z]+$$')
       |  GROUP BY 1
       |), sym AS (
       |  SELECT CASE WHEN g.i = 1 THEN substr(word, 1, 1)
       |    ELSE '##' || substr(word, CAST(g.i AS INTEGER), 1) END AS sym, freq
       |  FROM wf, unnest(range(1, length(word) + 1)) AS g(i)
       |), sc AS (
       |  SELECT sym, CAST(sum(freq) AS BIGINT) AS sym_count FROM sym GROUP BY 1
       |), p AS (
       |  SELECT CASE WHEN g.i = 1 THEN substr(word, 1, 1)
       |    ELSE '##' || substr(word, CAST(g.i AS INTEGER), 1) END AS l,
       |    '##' || substr(word, CAST(g.i AS INTEGER) + 1, 1) AS r, freq
       |  FROM wf, unnest(range(1, length(word))) AS g(i)
       |), pc AS (
       |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS pair_count
       |  FROM p GROUP BY 1, 2
       |)
       |SELECT l, r, pair_count,
       |  (pair_count * 1000000) // (a.sym_count * b.sym_count) AS score_e6
       |FROM pc JOIN sc a ON pc.l = a.sym JOIN sc b ON pc.r = b.sym
       |ORDER BY score_e6 DESC, pair_count DESC, l, r
       |LIMIT $WpPairTopN""".stripMargin

  /** The trained state: (ordered merge rows, initial char inventory),
    * cached per (session, corpus) like the BPE merge table. */
  private[operators] def trainedState(spark: SparkSession, dir: String)
      : (IndexedSeq[(Long, String, String, Long, Long)], Set[String]) =
    Materialized.value(spark, dir, "wordpieceTrainedState") {
      import spark.implicits._
      val wf = TextAnalysis.alphaWordFreq(spark, dir)
      val merges = TextAnalysis.trainMerges(wf, wpSyms, wpFuse, scoredPairs,
          WpMergeRounds)
        .zipWithIndex.map { case (b, i) => (i + 1L, b.getString(0),
          b.getString(1), b.getLong(2), b.getLong(3)) }
      // initial inventory (bounded collect: ≤ 2·|charset| rows)
      val charInv = wf.as[(String, Long)].flatMap { case (w, _) => wpSyms(w) }
        .distinct().collect().toSet
      (merges, charInv)
    }

  /** Driver-contract query (rows-only, brute-forced in spec): the ordered
    * WordPiece merge table — round, endpoints, fused symbol, the pair
    * count and the exact ×10⁶ likelihood score it won with. */
  def wordpieceMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = trainedState(spark, dir)
    merges.toDF("merge_ix", "left", "right", "pair_count", "score_e6")
      .select(col("merge_ix"), col("left"), col("right"),
        concat(col("left"), expr("replace(right, '##', '')")).as("merged"),
        col("pair_count"), col("score_e6"))
  }

  /** Greedy longest-match-first encode of one word against a vocabulary
    * (the BERT runtime): returns None for an unmatchable word (→ UNK). */
  private[operators] def greedyEncode(w: String, vocab: Set[String],
      maxLen: Int): Option[Int] = {
    var i = 0
    var n = 0
    while (i < w.length) {
      var l = math.min(maxLen, w.length - i)
      var matched = 0
      while (l >= 1 && matched == 0) {
        val cand =
          if (i == 0) w.substring(0, l) else "##" + w.substring(i, i + l)
        if (vocab.contains(cand)) matched = l else l -= 1
      }
      if (matched == 0) return None
      i += matched
      n += 1
    }
    Some(n)
  }

  /** Serving half (rows-only, brute-forced in spec): greedy
    * longest-match-first encode of the corpus under the trained inventory
    * (initial chars + every merged symbol) — per document, encodable
    * words, their characters, total WordPiece symbols (UNK words
    * contribute one symbol) and the UNK word count. Encode once per
    * DISTINCT word, then the shared rollup to doc grain
    * ([[TextAnalysis.encodeRollup]]). */
  def wordpieceEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val encodedVocab = Materialized.frame(spark, dir, "wordpieceEncodedVocab") {
      val (merges, charInv) = trainedState(spark, dir)
      val vocab = charInv ++ merges.map { case (_, l, r, _, _) => wpFuse(l, r) }
      val maxLen = (vocab.map(_.stripPrefix("##").length) + 1).max
      val bc = spark.sparkContext.broadcast((vocab, maxLen))
      TextAnalysis.alphaWordFreq(spark, dir).select(col("word")).as[String]
        .map { w =>
          greedyEncode(w, bc.value._1, bc.value._2) match {
            case Some(n) => (w, w.length.toLong, n.toLong, 0L)
            case None => (w, w.length.toLong, 1L, 1L)
          }
        }.toDF("term", "n_chars", "n_wp_syms", "n_unk_words")
    }
    TextAnalysis.encodeRollup(TextAnalysis.lowerToks(spark, dir), col("toks"),
      encodedVocab)
  }

  /** Three-way fertility face-off of the trained tokenizer families per
    * source feed (rows-only — all three encodes ride argmax/EM fixpoints):
    * words, characters, total pieces under BPE, unigram-LM AND WordPiece,
    * each as exact integer pieces-per-100-words — the single table a
    * tokenizer bake-off is decided from. Extends `unigram_fertility`
    * (BPE vs unigram) with the WordPiece column; all three per-doc frames
    * join on the uniform doc_id key and roll up to the ~10²-key source
    * grain. Spec-locked column-for-column against `unigram_fertility`. */
  def tokenizerFaceoff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    val uni = Unigram.unigramEncode(spark, dir)
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_uni_syms"))
    val bpe = TextAnalysis.bpeEncode(spark, dir)
      .select(col("doc_id"), col("n_bpe_syms"))
    val wp = wordpieceEncode(spark, dir)
      .select(col("doc_id"), col("n_wp_syms"))
    // the byte-level family counts over its OWN token universe (ALL raw
    // whitespace tokens, not the [a-z]+ subset the char-level trio share)
    // — its fertility is reported per 100 RAW words so the face-off shows
    // both the subset and the total-coverage economics (r12)
    val bbpe = Bbpe.bbpeEncode(spark, dir)
      .select(col("doc_id"), col("n_words").as("n_raw_words"),
        col("n_bbpe_syms"))
    val src = Corpus.table(spark, dir, "documents").select(col("doc_id"), col("source"))
    uni.join(bpe, Seq("doc_id")).join(wp, Seq("doc_id"))
      .join(bbpe, Seq("doc_id"))
      .join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_bpe_syms")).as("bpe_syms"),
        sum(col("n_uni_syms")).as("uni_syms"),
        sum(col("n_wp_syms")).as("wp_syms"),
        sum(col("n_raw_words")).as("raw_words"),
        sum(col("n_bbpe_syms")).as("bbpe_syms"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_chars"),
        col("bpe_syms"), col("uni_syms"), col("wp_syms"),
        col("raw_words"), col("bbpe_syms"),
        intDiv(col("bpe_syms") * lit(100L), col("n_words"))
          .as("bpe_per_100w"),
        intDiv(col("uni_syms") * lit(100L), col("n_words"))
          .as("uni_per_100w"),
        intDiv(col("wp_syms") * lit(100L), col("n_words"))
          .as("wp_per_100w"),
        intDiv(col("bbpe_syms") * lit(100L), col("raw_words"))
          .as("bbpe_per_100w"))
  }
}
