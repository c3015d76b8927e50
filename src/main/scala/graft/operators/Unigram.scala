package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns._
import graft.sources.Corpus

/** Unigram-LM (SentencePiece-style) tokenizer training + serving — the
  * OTHER production tokenizer family next to BPE (Kudo 2018: seed a large
  * candidate-piece inventory, EM-estimate piece probabilities under the
  * unigram LM, prune to a target vocabulary, encode by Viterbi). Reduced
  * here to a deterministic closed form so the spec can brute-force every
  * number from scratch — fixed EM round count, exact integer usage counts,
  * pinned tie-breaks, no RNG, no subword regularization sampling.
  *
  * Pinned algorithm (spec-locked in PipelineOpsSpec):
  *  1. Train on the [a-z]+ word-frequency table (the shared materialized
  *     term frame — the same vocabulary-not-corpus reduction BPE uses;
  *     SURVEY §2 #25t-c).
  *  2. Seed inventory: every single character occurring in those words,
  *     plus the top [[UnigramSeedK]] multi-char substrings (length ≤
  *     [[MaxPieceLen]]) by occurrence-weighted corpus count, ties on the
  *     piece string.
  *  3. [[UnigramEmRounds]] EM rounds. E-step: Viterbi-segment every
  *     distinct word under score(p) = ln(weight(p)/Σweight) — weight is
  *     the piece's current usage, with single chars floored at 1 so base
  *     coverage can never die; collect freq-weighted piece usages (one
  *     distributed aggregation per round). M-step: usages become the next
  *     round's weights; multi-char pieces with zero usage are pruned
  *     (EM's natural pruning), single chars always survive.
  *  4. Final vocabulary: all single chars plus the top
  *     ([[UnigramVocabK]] − #chars) multi-char pieces by (usage desc,
  *     piece).
  *
  * Viterbi tie-break (pinned): positions scanned left to right, candidate
  * piece lengths ascending, strictly-greater score replaces — so among
  * equal-score segmentations the one found earliest under that scan order
  * wins. An unreachable position (impossible while single chars survive)
  * advances one char at a heavy penalty rather than failing.
  *
  * Scale: training runs per ROUND as one broadcast (≤ seed-size score
  * table) + one map over the vocabulary-sized word frame + one bounded
  * aggregation (piece-inventory-sized result, collected like Lloyd
  * centroids / the BPE merge table). The corpus is touched only by the
  * serving join in [[unigramEncode]]: encode once per distinct word, then
  * equi-join the corpus token stream on the term key and aggregate back
  * to doc grain — the rollup all four tokenizer families share
  * ([[TextAnalysis.encodeRollup]]).
  *
  * Driver checks: `unigram_seed_counts` (the round-0 statistic) is fully
  * SQL-expressible and oracled, like `bpe_pair_counts`. The EM fixpoint
  * itself (`unigram_vocab`, `unigram_encode`, `unigram_fertility`) is
  * rows-only BY DESIGN — round N's aggregation input depends on round
  * N−1's collected argmax state, the same no-single-SQL argument as
  * `bpe_merges` — and is brute-forced from scratch in PipelineOpsSpec.
  */
object Unigram {

  val MaxPieceLen = 4
  val UnigramSeedK = 256
  val UnigramEmRounds = 3
  val UnigramVocabK = 48
  val UnigramSeedTopN = 20

  /** All substring pieces (length 1..[[MaxPieceLen]]) of a `word` column,
    * one row per occurrence position. */
  private def pieceExplode: org.apache.spark.sql.Column =
    explode(expr(
      s"""flatten(transform(sequence(1, length(word)),
         |  i -> transform(sequence(1, least($MaxPieceLen, length(word) - i + 1)),
         |    n -> substring(word, i, n))))""".stripMargin))

  /** Occurrence-weighted substring-piece counts — the seed statistic. */
  private def seedCounts(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.alphaWordFreq(spark, dir)
      .select(col("freq"), pieceExplode.as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("piece_count"))

  /** Driver-contract query (oracled, the `bpe_pair_counts` pattern): the
    * top-N seed pieces by occurrence-weighted count — round 0 of unigram
    * training, before any EM state exists. */
  def unigramSeedCounts(spark: SparkSession, dir: String): DataFrame =
    seedCounts(spark, dir)
      .orderBy(col("piece_count").desc, col("piece"))
      .limit(UnigramSeedTopN)
  val unigramSeedCountsSql: String =
    s"""WITH w AS (
       |  SELECT t.w AS word
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS t(w)
       |), wf AS (
       |  SELECT word, count(*) AS freq FROM w
       |  WHERE regexp_matches(word, '^[a-z]+$$')
       |  GROUP BY 1
       |), p AS (
       |  SELECT substr(word, CAST(g.i AS INTEGER), CAST(h.n AS INTEGER))
       |    AS piece, freq
       |  FROM wf,
       |    unnest(range(1, length(word) + 1)) AS g(i),
       |    unnest(range(1, least($MaxPieceLen, length(word) - g.i + 1) + 1))
       |      AS h(n)
       |)
       |SELECT piece, CAST(sum(freq) AS BIGINT) AS piece_count
       |FROM p GROUP BY 1
       |ORDER BY piece_count DESC, piece LIMIT $UnigramSeedTopN""".stripMargin

  /** Pinned Viterbi segmentation (see object scaladoc for the tie-break).
    * Total for any input: a position no piece reaches advances one char at
    * a −100 penalty (unreachable while single chars are in the score
    * table, but the DP must terminate regardless). */
  private[operators] def viterbi(w: String,
      score: scala.collection.Map[String, Double]): IndexedSeq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      val maxL = math.min(MaxPieceLen, i)
      while (l <= maxL) {
        score.get(w.substring(i - l, i)) match {
          case Some(s) if best(i - l) + s > best(i) =>
            best(i) = best(i - l) + s; back(i) = l
          case _ => ()
        }
        l += 1
      }
      if (back(i) == 0) { best(i) = best(i - 1) - 100.0; back(i) = 1 }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = n
    while (j > 0) { val l = back(j); out += w.substring(j - l, j); j -= l }
    out.reverseIterator.toIndexedSeq
  }

  /** Score table of a usage state: weight = usage floored at 1 for single
    * chars; score = ln(weight / Σweights). */
  private[operators] def scoresOf(
      usage: Map[String, Long]): Map[String, Double] = {
    val w = usage.map { case (p, u) =>
      p -> (if (p.length == 1) math.max(u, 1L) else u) }
    val total = w.values.sum.toDouble
    w.map { case (p, x) => p -> math.log(x / total) }
  }

  /** The trained final state: (vocab usage map, char set), cached per
    * (session, corpus) like the BPE merge table. */
  private[operators] def trainedState(spark: SparkSession,
      dir: String): (Map[String, Long], Set[String]) =
    Materialized.value(spark, dir, "unigramTrainedState") {
      import spark.implicits._
      val wf0 = TextAnalysis.alphaWordFreq(spark, dir)
      val nWords = wf0.count()
      // bounded EM fixpoint over the vocabulary frame — iterative-loop
      // execution profile (Scale.loop, see Dedup.pagerankOn)
      Scale.loop(spark) { lp =>
      lp.sized(nWords)
      val wf = lp.checkpoint(lp.rebind(wf0).as[(String, Long)])
      // seed inventory (bounded collect: ≤ UnigramSeedK + |charset| rows)
      val seed = seedCounts(spark, dir)
      val chars = seed.where(length(col("piece")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val multi = seed.where(length(col("piece")) >= 2)
        .orderBy(col("piece_count").desc, col("piece"))
        .limit(UnigramSeedK)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val charSet = chars.map(_._1).toSet
      var usage: Map[String, Long] = (chars ++ multi).toMap
      for (_ <- 1 to UnigramEmRounds) {
        val bc = spark.sparkContext.broadcast(scoresOf(usage))
        // E-step: one distributed pass over the word-frequency table;
        // the aggregation result is piece-inventory-bounded
        val used = wf.flatMap { case (w, f) =>
          viterbi(w, bc.value).map(p => (p, f)) }
          .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .collect().toMap
        usage = charSet.map(c => c -> used.getOrElse(c, 0L)).toMap ++
          used.filter { case (p, u) => p.length >= 2 && u > 0 }
      }
      // prune to the final vocabulary
      val multiFinal = usage.toSeq.filter(_._1.length >= 2)
        .sortBy { case (p, u) => (-u, p) }
        .take(math.max(UnigramVocabK - charSet.size, 0))
      (charSet.map(c => c -> usage.getOrElse(c, 0L)).toMap ++ multiFinal,
        charSet)
      }
    }

  /** Driver-contract query (rows-only, brute-forced in spec): the trained
    * unigram vocabulary — rank by (usage desc, piece), piece, length,
    * EM usage and the final e4 log-probability. */
  def unigramVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (vocab, _) = trainedState(spark, dir)
    val sc = scoresOf(vocab)
    vocab.toSeq.sortBy { case (p, u) => (-u, p) }.zipWithIndex
      .map { case ((p, u), ix) =>
        (ix + 1L, p, p.length.toLong, u, math.round(sc(p) * 10000.0)) }
      .toDF("rank", "piece", "piece_len", "usage", "logp_e4")
  }

  /** Serving half (rows-only, brute-forced in spec): Viterbi-encode the
    * corpus under the trained vocabulary — per document, encodable words,
    * their characters, and the piece count (the fertility numerator).
    * Encode once per DISTINCT word, then the rollup every tokenizer
    * family shares ([[TextAnalysis.encodeRollup]]). */
  def unigramEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val encodedVocab = Materialized.frame(spark, dir, "unigramEncodedVocab") {
      val (vocab, _) = trainedState(spark, dir)
      val bc = spark.sparkContext.broadcast(scoresOf(vocab))
      TextAnalysis.alphaWordFreq(spark, dir).select(col("word")).as[String]
        .map(w => (w, w.length.toLong, viterbi(w, bc.value).length.toLong))
        .toDF("term", "n_chars", "n_uni_syms")
    }
    TextAnalysis.encodeRollup(TextAnalysis.lowerToks(spark, dir), col("toks"),
      encodedVocab)
  }

  /** Fertility comparison of the two trained tokenizer families per
    * source feed (rows-only — both encodes are EM/argmax fixpoints):
    * words, characters, total BPE and unigram pieces, and exact integer
    * pieces-per-100-words for each. The number a tokenizer choice is
    * actually made on. */
  def unigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val uni = unigramEncode(spark, dir)
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_uni_syms"))
    val bpe = TextAnalysis.bpeEncode(spark, dir)
      .select(col("doc_id"), col("n_bpe_syms"))
    val src = Corpus.table(spark, dir, "documents").select(col("doc_id"), col("source"))
    uni.join(bpe, Seq("doc_id")).join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_bpe_syms")).as("bpe_syms"),
        sum(col("n_uni_syms")).as("uni_syms"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_chars"),
        col("bpe_syms"), col("uni_syms"),
        org.apache.spark.sql.graft.ExactMath.intDiv(
          col("bpe_syms") * lit(100L), col("n_words")).as("bpe_per_100w"),
        org.apache.spark.sql.graft.ExactMath.intDiv(
          col("uni_syms") * lit(100L), col("n_words")).as("uni_per_100w"))
  }
}
