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
  * Scale: the reference discipline of the char-level loop
  * (TextAnalysis.bpeMerges) — train on the DISTINCT-word frequency table
  * (vocabulary-sized, ~10⁷ rows at 100 TB; the corpus explode behind it
  * runs once, materialized), one bounded argmax collect per round,
  * serving encode once per distinct word then a token-keyed equi-join
  * back to corpus grain. */
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

  /** Driver-contract query (rows-only BY DESIGN — the same iterative
    * data-dependent argmax fixpoint as `bpe_merges`, not expressible as
    * one SQL query): the ordered byte-level merge table. Each round is one
    * aggregation over the vocabulary-sized symbol frame + a ONE-row
    * argmax collect; ties break (count desc, left, right) — the hex
    * alphabet makes that a deterministic byte-wise order. lineage
    * truncation every 4 rounds (the components pattern). */
  def bbpeMerges(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "bbpeMerges") {
      import spark.implicits._
      val base = wordFreq(spark, dir)
        .where(length(col("h")) >= 4)
        .select(col("freq"), col("h"))
      val nWords = base.count()
      // bounded argmax fixpoint over the vocabulary frame — iterative-loop
      // execution profile (Scale.loop, see Dedup.pagerankOn)
      val merges = Scale.loop(spark) { lp =>
      lp.sized(nWords)
      var syms = lp.rebind(base).as[(Long, String)]
        .map { case (f, h) => (f, hexSyms(h)) }
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= BbpeMergeRounds && !exhausted) {
        val best = syms.toDF("freq", "syms")
          .where(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(syms) - 1), " +
              "i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, cnt) = (best.head.getString(0), best.head.getString(1),
            best.head.getLong(2))
          merges += ((round.toLong, l, r, cnt))
          syms = syms.map { case (f, s) =>
            (f, TextAnalysis.mergePairIn(s, l, r)) }
          if (round % 4 == 0) syms = lp.checkpoint(syms, eager = true)
          round += 1
        }
      }
      merges
      }
      merges.toSeq.toDF("merge_ix", "left", "right", "pair_count")
        .select(col("merge_ix"), col("left"), col("right"),
          concat(col("left"), col("right")).as("merged"), col("pair_count"))
    }

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
      val merges = bbpeMerges(spark, dir).select("merge_ix", "left", "right")
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
      val bc = spark.sparkContext.broadcast(merges)
      wordFreq(spark, dir)
        .select(col("word"), col("h")).as[(String, String)]
        .map { case (w, h) =>
          val syms = bc.value.foldLeft(hexSyms(h)) {
            case (s, (l, r)) => TextAnalysis.mergePairIn(s, l, r)
          }
          (w, h.length.toLong / 2, syms.length.toLong)
        }.toDF("word", "n_bytes", "n_syms")
    }
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("word"))
      .join(encodedVocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_bytes")).cast("long").as("n_bytes"),
        sum(col("n_syms")).cast("long").as("n_bbpe_syms"))
  }
}
