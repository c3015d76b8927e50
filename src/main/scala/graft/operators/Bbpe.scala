package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{sqlWsTokens, wsTokens}
import graft.sources.Corpus

/** Byte-level BPE (SURVEY.md §2 #25t-m..o) — the GPT-family production
  * tokenizer base. The char-level families (`bpe_*`, `unigram_*`,
  * `wordpiece_*`) train over `[a-z]+` words only; byte-level BPE operates
  * on the UTF-8 BYTES of every whitespace token, so unicode, punctuation
  * and code all encode with zero OOV — any byte not covered by a merge
  * simply remains a base symbol (the UTF-8 fallback that makes GPT-style
  * vocabularies total).
  *
  * Representation: a symbol is the HEX string of its byte sequence (byte
  * 0x74 → "74", the merged pair (0x74,0x68) → "7468"). Hex keeps every
  * frame VARCHAR (engine-exact — no BLOB comparisons, which DuckDB v1.0.0
  * cannot substring), makes merges plain string concatenation, and both
  * engines' `hex()` emit identical uppercase digits.
  *
  * Training and serving are the char-level family's own code with a
  * byte symbolizer: the one pair-merge trainer
  * ([[TextAnalysis.trainMerges]]) over the DISTINCT-word frequency table
  * (vocabulary-sized, ~10⁷ rows at 100 TB; the corpus explode behind it
  * runs once, materialized), and encode once per distinct word, then the
  * one token-keyed rollup back to corpus grain
  * ([[TextAnalysis.encodeRollup]]). */
object Bbpe {

  /** Distinct raw-word frequency table with the word's UTF-8 hex string —
    * the vocabulary-sized training frame every byte-level stage reads;
    * materialized once per (session, corpus). Words are [[wsTokens]], NOT
    * lowercased and NOT alphabet-filtered — the byte-level contract (case
    * carries information a byte-level vocab keeps; `termCounts` would fold
    * it). */
  private[operators] def wordFreq(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "bbpeWordFreq")(
      Corpus.table(spark, dir, "documents")
        .select(explode(wsTokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("word"), col("freq"),
          hex(encode(col("word"), "UTF-8")).as("h")))

  // ---- #25t-m round-0 pair statistic (oracled) ---------------------------
  val BbpePairTopN = 20

  /** Driver-contract query (oracled): top adjacent BYTE pairs of the
    * initial symbolization, freq-weighted over the distinct-word frame —
    * round 0 of byte-level BPE training (`bpe_pair_counts` one level
    * down the encoding stack). A pair is 4 hex digits = 2 bytes. */
  def bbpePairCounts(spark: SparkSession, dir: String): DataFrame =
    wordFreq(spark, dir)
      .where(length(col("h")) >= 4) // ≥ 2 bytes
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(h) div 2 - 1), " +
          "i -> substring(h, 2*i - 1, 4))")).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(BbpePairTopN)
  val bbpePairCountsSql: String =
    s"""WITH w AS (
       |  SELECT t.w AS word
       |  FROM documents d, unnest(${sqlWsTokens("d.text")}) AS t(w)
       |), wf AS (
       |  SELECT word, count(*) AS freq FROM w GROUP BY 1
       |), hx AS (
       |  SELECT hex(encode(word)) AS h, freq FROM wf
       |  WHERE length(hex(encode(word))) >= 4
       |), p AS (
       |  SELECT substr(h, CAST(2 * g.i - 1 AS INTEGER), 4) AS pair, freq
       |  FROM hx, unnest(range(1, length(h) // 2)) AS g(i)
       |)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
       |FROM p GROUP BY 1
       |ORDER BY pair_count DESC, pair LIMIT $BbpePairTopN""".stripMargin

  // ---- #25t-n training loop (rows-only; brute-forced in spec) ------------
  val BbpeMergeRounds = 12

  /** Hex string → per-byte symbol sequence ("7468" → ["74","68"]). */
  private[operators] def hexSyms(h: String): IndexedSeq[String] =
    h.grouped(2).toIndexedSeq

  /** Driver-contract query (rows-only BY DESIGN, the `bpe_merges`
    * argument): the ordered byte-level merge table — the one pair-merge
    * trainer ([[TextAnalysis.trainMerges]]) over the ≥ 2-byte words, one
    * symbol per byte; argmax ties break (count desc, left, right), which
    * the hex alphabet makes a deterministic byte-wise order. */
  def bbpeMerges(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "bbpeMerges")(TextAnalysis.bpeMergeTable(
      wordFreq(spark, dir).where(length(col("h")) >= 4) // ≥ 2 bytes
        .select(col("h"), col("freq")),
      hexSyms, BbpeMergeRounds))

  // ---- #25t-o serving encode + fertility (rows-only; spec-brute-forced) --
  /** Driver-contract query (rows-only, same design argument as
    * `bpe_encode`): apply the trained byte-level merge table to the
    * corpus. Per document: token count, UTF-8 byte count, and the
    * post-merge symbol count — byte-level fertility. EVERY token rolls up
    * (zero OOV — the fallback property, unlike `bpe_encode`'s `[a-z]+`
    * subset): the encoded vocabulary covers the full distinct-word frame,
    * and the corpus joins it on the raw token key. */
  def bbpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val encodedVocab = Materialized.frame(spark, dir, "bbpeEncodedVocab") {
      val replay = TextAnalysis.bpeReplay(bbpeMerges(spark, dir))
      wordFreq(spark, dir)
        .select(col("word"), col("h")).as[(String, String)]
        .map { case (w, h) =>
          (w, h.length.toLong / 2, replay(hexSyms(h)).length.toLong) }
        .toDF("term", "n_bytes", "n_bbpe_syms")
    }
    TextAnalysis.encodeRollup(Corpus.table(spark, dir, "documents"),
      wsTokens(col("text")), encodedVocab)
  }
}
