package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns._
import graft.sources.Corpus

/** Training-data SELECTION operators (SURVEY.md §2 #35): the published
  * data-curation recipes that decide WHICH documents feed a training run —
  * CCNet's per-language perplexity bucketing (Wenzek et al. 2020), DSIR
  * hashed-n-gram importance resampling (Xie et al. 2023), and a
  * Kneser–Ney-smoothed bigram table (Kneser & Ney 1995; the model behind
  * perplexity-based filters).
  *
  * Scale notes: every operator is one or two corpus scans plus a
  * BOUNDED side table (5-row per-language thresholds, 512-row hashed
  * importance model, vocabulary-bounded bigram counts) that broadcasts —
  * no corpus-sized shuffle beyond the token/bigram aggregation each
  * recipe inherently needs, and no unpartitioned window anywhere (top-k
  * outputs use orderBy+limit → TakeOrderedAndProject partial top-k).
  */
object Selection {

  // ---- CCNet head/middle/tail perplexity buckets ------------------------
  /** Tertile boundaries (fractions of the per-language score distribution).
    * CCNet cuts at 1/3 and 2/3; the literals are finite decimals so both
    * engines interpolate from identical constants. */
  val HeadPct = 0.33
  val TailPct = 0.67

  /** CCNet-style bucketing: per-document average bigram negative
    * log-likelihood under the corpus LM (`lm_perplexity`'s model), cut into
    * head/middle/tail at per-LANGUAGE tertiles — the signal CCNet uses to
    * keep "head" web text and drop the noisy tail. Thresholds are a 5-row
    * broadcast (exact `percentile` per language; a 100 TB run would swap in
    * `approx_percentile` or a sampled fit exactly as CCNet does — the
    * operator shape is unchanged, only the threshold pass degrades to a
    * sketch). Scores ride on the materialized bigram model, so the corpus
    * explode behind this is shared with `word_bigrams`/`lm_perplexity`. */
  /** Per-doc (lang, nll_e4) score frame, materialized per corpus: both the
    * threshold pass and the bucketing pass read it, and it is the natural
    * artifact a 100 TB run writes once and thresholds many times. */
  private val scoredCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  private def scoredFrame(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(scoredCache, spark, dir) {
      TextAnalysis.lmPerplexity(spark, dir)
        .join(Corpus.table(spark, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"),
          // nll in exact integer e4 units: sum_lp is an exact 4-decimal
          // value (×10⁴ recovers the integer bit-exactly in both engines),
          // and the per-bigram average is integer division — no double
          // rounding anywhere, so thresholds and comparisons are
          // bit-stable (§6)
          expr("CAST(round(-sum_lp * 10000, 0) AS BIGINT) div n_bigrams")
            .as("nll_e4"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredFrame(spark, dir)
    val thr = scored.groupBy("lang").agg(
      expr(s"percentile(nll_e4, $HeadPct)")
        .cast("decimal(14,4)").cast("double").as("t_head"),
      expr(s"percentile(nll_e4, $TailPct)")
        .cast("decimal(14,4)").cast("double").as("t_tail"))
    scored.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("nll_e4"),
        when(col("nll_e4") <= col("t_head"), "head")
          .when(col("nll_e4") <= col("t_tail"), "middle")
          .otherwise("tail").as("bucket"))
  }
  /** Shared CTE chain of the bigram LM (identical to `lm_perplexity`'s). */
  private val lmCtes =
    """toks AS (
      |  SELECT doc_id, list_filter(list_transform(
      |    string_split_regex(text, '\s+'), t -> lower(t)), t -> t <> '') AS t
      |  FROM documents
      |), bg AS MATERIALIZED (
      |  SELECT doc_id, g.b AS bigram
      |  FROM toks, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
      |  WHERE len(t) >= 2
      |), lm_c2 AS MATERIALIZED (
      |  SELECT bigram, count(*) AS n2 FROM bg GROUP BY 1
      |), lm_c1 AS (
      |  SELECT split_part(bigram, ' ', 1) AS w1, sum(n2) AS n1
      |  FROM lm_c2 GROUP BY 1
      |), p AS (
      |  SELECT bigram,
      |    CAST(round(ln(CAST(n2 AS DOUBLE) / n1), 4) AS DECIMAL(18,4)) AS lp
      |  FROM lm_c2 JOIN lm_c1 ON split_part(lm_c2.bigram, ' ', 1) = lm_c1.w1
      |)""".stripMargin
  /** lmCtes + per-doc score + tertiles + the bucket projection, reusable
    * by [[perplexityBucketsSql]] and the composed [[selectedCorpusSql]]. */
  private val bucketedCtes: String =
    s"""$lmCtes, pp AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |  FROM bg JOIN p USING (bigram) GROUP BY 1
       |), scored AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang,
       |    CAST(round(-sum_lp * 10000, 0) AS BIGINT) // n_bigrams AS nll_e4
       |  FROM pp JOIN documents d ON pp.doc_id = d.doc_id
       |), thr AS (
       |  SELECT lang,
       |    CAST(CAST(quantile_cont(nll_e4, $HeadPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_head,
       |    CAST(CAST(quantile_cont(nll_e4, $TailPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_tail
       |  FROM scored GROUP BY 1
       |), bucketed AS (
       |  SELECT doc_id, s.lang, nll_e4,
       |    CASE WHEN nll_e4 <= t_head THEN 'head'
       |         WHEN nll_e4 <= t_tail THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM scored s JOIN thr ON s.lang = thr.lang
       |)""".stripMargin
  val perplexityBucketsSql: String =
    s"WITH $bucketedCtes SELECT doc_id, lang, nll_e4, bucket FROM bucketed"

  // ---- DSIR hashed-unigram importance weights ---------------------------
  /** Hashed feature space size (DSIR's "hashed n-gram" buckets). Bounded
    * and corpus-independent: the fitted importance model is always exactly
    * this many rows, whatever the corpus size. */
  val DsirBuckets = 512
  /** The target distribution: documents labeled with this language stand in
    * for the "high-quality target domain" (DSIR fits target vs raw). */
  val DsirTargetLang = "en"
  /** Documents kept by `dsir_select` (top-k by importance weight). */
  val DsirTopK = 100

  /** The fitted importance model: per hashed-unigram bucket, the add-one-
    * smoothed log-likelihood ratio log p_target(b) − log p_raw(b). ONE
    * corpus scan (hash tokens → 512-bucket hash aggregation with map-side
    * partials), then the ≤512-row table collects to the driver — the same
    * bounded merge-table pattern as the BPE vocabulary — where totals and
    * ratios are computed exactly. Returned as (b, lr) rows with `lr` an
    * exact DECIMAL(18,4), so per-document sums are fold-order free. */
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[(Long, Double)]]
  Materialized.registerClearable(() => modelCache.clear())

  private[graft] def dsirModel(spark: SparkSession, dir: String): Seq[(Long, Double)] =
    // fitted once per (session, corpus): dsir_weights, dsir_select and the
    // streaming gate's table all read the same bounded artifact
    modelCache.getOrElseUpdate(Materialized.sessionKey(spark, dir), {
      val bcnt = TextAnalysis.lowerToks(spark, dir)
        .select(col("lang"), explode(col("toks")).as("tok"))
        .select(col("lang"), (md5Long(col("tok")) % DsirBuckets.toLong).as("b"))
        .groupBy("b").agg(count(lit(1)).as("n_raw"),
          sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("n_tgt"))
        .collect()
      val nrTot = bcnt.map(_.getLong(1)).sum
      val ntTot = bcnt.map(_.getLong(2)).sum
      bcnt.toSeq.map { r =>
        val lr = math.log((r.getLong(2) + 1).toDouble / (ntTot + DsirBuckets)) -
          math.log((r.getLong(1) + 1).toDouble / (nrTot + DsirBuckets))
        (r.getLong(0),
          BigDecimal(lr).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    })

  /** The fitted model as a dense [[DsirBuckets]]-slot array in exact ×10⁴
    * integer units — the literal [[dsirWeights]] and the streaming gate
    * ship to every worker. */
  private[graft] def dsirModelE4(spark: SparkSession, dir: String): Seq[Long] = {
    val m = dsirModel(spark, dir).toMap
    (0 until DsirBuckets).map(b =>
      (BigDecimal(m.getOrElse(b.toLong, 0.0)) * 10000).toLongExact)
  }

  /** DSIR importance weight per document: Σ over token occurrences of the
    * bucket's log-likelihood ratio (target vs raw unigram models on hashed
    * features). The fitted model densifies to a [[DsirBuckets]]-slot
    * integer-e4 literal and scoring is ONE map-only corpus scan through
    * the codegen'd [[org.apache.spark.sql.graft.DsirLlrE4]] (zero
    * exchanges; the e4 long sum is bit-identical to summing the exact
    * 4-dp decimals the oracle's join+SUM adds, in any order, and
    * sum_e4/10⁴ in double arithmetic is the correctly-rounded value the
    * oracle's DECIMAL(18,4)→DOUBLE cast produces — both operands are
    * exactly representable). At 100 TB the model is a written artifact
    * fitted once (or on a sample, as the paper does); the scoring pass is
    * embarrassingly parallel. */
  /** Per-doc DSIR weight frame, materialized per (session, corpus) — r14:
    * `dsir_weights`, `dsir_select` AND `selected_corpus` all consume it
    * (selected_corpus alone read it twice — the weights join and the top-k
    * membership — re-tokenizing the corpus per pass; VERDICT r13 #7). Same
    * per-doc-artifact discipline as [[scoredFrame]]; the token arrays ride
    * the shared [[TextAnalysis.lowerToks]] frame, so even the first touch
    * re-splits nothing. Still zero exchanges (ScaleSpec lock). */
  private val dsirWeightsCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(dsirWeightsCache, spark, dir) {
      val lrE4 = typedLit(dsirModelE4(spark, dir))
      TextAnalysis.lowerToks(spark, dir)
        .select(col("doc_id"), col("toks").as("__t"))
        .where(size(col("__t")) >= 1)
        .select(col("doc_id"), size(col("__t")).cast("long").as("n_toks"),
          (org.apache.spark.sql.graft.DsirLlrE4(col("__t"), lrE4)
            .cast("double") / lit(10000.0)).as("llr"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private val dsirCtes =
    s"""tok AS MATERIALIZED (
       |  SELECT doc_id, lang, ${sqlMd5Long("g.tok")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, list_filter(list_transform(
       |      string_split_regex(text, '\\s+'), t -> lower(t)), t -> t <> '') AS t
       |    FROM documents) toks, unnest(t) AS g(tok)
       |), bcnt AS MATERIALIZED (
       |  SELECT b, count(*) AS n_raw,
       |    sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS n_tgt
       |  FROM tok GROUP BY 1
       |), tot AS (
       |  SELECT sum(n_raw) AS nr_tot, sum(n_tgt) AS nt_tot FROM bcnt
       |), lr AS (
       |  SELECT b, CAST(round(
       |      ln((n_tgt + 1) / CAST(nt_tot + $DsirBuckets AS DOUBLE))
       |    - ln((n_raw + 1) / CAST(nr_tot + $DsirBuckets AS DOUBLE)), 4)
       |    AS DECIMAL(18,4)) AS lr
       |  FROM bcnt CROSS JOIN tot
       |), w AS (
       |  SELECT doc_id, count(*) AS n_toks,
       |    CAST(CAST(sum(lr) AS DECIMAL(18,4)) AS DOUBLE) AS llr
       |  FROM tok JOIN lr USING (b) GROUP BY 1
       |)""".stripMargin
  val dsirWeightsSql: String =
    s"WITH $dsirCtes SELECT doc_id, n_toks, llr FROM w"

  /** Top-k documents by DSIR weight (the resampling step, deterministic
    * variant: rank by weight, tie-break doc_id). orderBy+limit plans as
    * TakeOrderedAndProject — per-partition partial top-k and a k-row merge,
    * never a global sort or unpartitioned window; ranks are recovered by
    * re-sorting the ≤k survivors inside one array. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(spark, dir)
      .orderBy(col("llr").desc, col("doc_id")).limit(DsirTopK)
      .select(struct(negate(col("llr")).as("nl"), col("doc_id").as("doc_id"),
        col("n_toks").as("n_toks"), col("llr").as("llr")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.doc_id").as("doc_id"), col("s.n_toks").as("n_toks"),
        col("s.llr").as("llr"), (col("pos") + 1).cast("long").as("rk"))
  val dsirSelectSql: String =
    s"""WITH $dsirCtes
       |SELECT doc_id, n_toks, llr,
       |  CAST(row_number() OVER (ORDER BY llr DESC, doc_id) AS BIGINT) AS rk
       |FROM w ORDER BY llr DESC, doc_id LIMIT $DsirTopK""".stripMargin

  // ---- Kneser–Ney smoothed bigram model ---------------------------------
  /** Absolute discount D (the standard 0.75). */
  val KnDiscount = 0.75
  /** Rows emitted (top by smoothed probability). */
  val KnTopN = 50

  /** Kneser–Ney-smoothed bigram probabilities, top-[[KnTopN]]:
    * P_KN(w2|w1) = max(c(w1w2)−D,0)/c(w1·) + D·N₁₊(w1·)/c(w1·) ·
    * N₁₊(·w2)/N₁₊(··). Everything derives from the MATERIALIZED
    * vocabulary-bounded bigram count table (shared with `word_bigrams` and
    * `lm_perplexity` — the corpus explode behind it runs zero extra times);
    * the continuation and follower tables are grouped aggregations of that
    * table, and the type total is a broadcast 1-row frame. Probabilities
    * round to 6 decimals and narrow through DECIMAL(14,6) so ordering and
    * the top-N cutoff are bit-identical across engines (doc discipline:
    * SURVEY §6). */
  /** FULL Kneser–Ney probability table (bigram, n, p_kn), materialized per
    * (session, corpus): [[knBigramTop]] reads its top rows and
    * [[knPerplexity]] scores every document against it — the smoothed
    * model IS the reusable artifact a production CCNet-style filter trains
    * once and scores with everywhere (at 100 TB: a parquet table the size
    * of the vocabulary's bigram support, written once). */
  private val knModelCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  private[operators] def knModel(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(knModelCache, spark, dir) {
      val c2 = TextAnalysis.bigramCounts(spark, dir)
        .select(col("bigram"), col("n"),
          substring_index(col("bigram"), " ", 1).as("w1"),
          substring_index(col("bigram"), " ", -1).as("w2"))
      val c1 = c2.groupBy("w1")
        .agg(sum(col("n")).as("n1"), count(lit(1)).as("nfollow"))
      val cont = c2.groupBy("w2").agg(count(lit(1)).as("ncont"))
      val types = c2.agg(count(lit(1)).as("t_types"))
      c2.join(c1.hint("shuffle_hash"), "w1")
        .join(cont.hint("shuffle_hash"), "w2")
        .crossJoin(broadcast(types))
        .select(col("bigram"), col("n"),
          round(
            greatest(col("n").cast("double") - KnDiscount, lit(0d))
                / col("n1").cast("double")
              + (lit(KnDiscount) * col("nfollow").cast("double")
                / col("n1").cast("double"))
                * (col("ncont").cast("double") / col("t_types").cast("double")),
            6).cast("decimal(14,6)").cast("double").as("p_kn"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def knBigramTop(spark: SparkSession, dir: String): DataFrame = {
    val pkn = knModel(spark, dir)
    pkn.orderBy(col("p_kn").desc, col("bigram")).limit(KnTopN)
      .select(struct(negate(col("p_kn")).as("np"), col("bigram").as("bigram"),
        col("n").as("n"), col("p_kn").as("p_kn")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.bigram").as("bigram"), col("s.n").as("n"),
        col("s.p_kn").as("p_kn"), (col("pos") + 1).cast("long").as("rk"))
  }
  /** Shared CTE chain of the KN model (identical math to [[knModel]]);
    * `bg` carries doc_id so the scoring queries can join back to it. */
  private val knCtes: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(list_transform(
       |    string_split_regex(text, '\\s+'), t -> lower(t)), t -> t <> '') AS t
       |  FROM documents
       |), bg AS MATERIALIZED (
       |  SELECT doc_id, g.b AS bigram
       |  FROM toks, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
       |  WHERE len(t) >= 2
       |), c2 AS MATERIALIZED (
       |  SELECT bigram, count(*) AS n, split_part(bigram, ' ', 1) AS w1,
       |    split_part(bigram, ' ', 2) AS w2
       |  FROM bg GROUP BY 1
       |), c1 AS (
       |  SELECT w1, sum(n) AS n1, count(*) AS nfollow FROM c2 GROUP BY 1
       |), cont AS (
       |  SELECT w2, count(*) AS ncont FROM c2 GROUP BY 1
       |), types AS (
       |  SELECT count(*) AS t_types FROM c2
       |), pkn AS MATERIALIZED (
       |  SELECT bigram, n, CAST(CAST(round(
       |      greatest(CAST(n AS DOUBLE) - $KnDiscount, 0.0)
       |          / CAST(n1 AS DOUBLE)
       |        + ($KnDiscount * CAST(nfollow AS DOUBLE) / CAST(n1 AS DOUBLE))
       |          * (CAST(ncont AS DOUBLE) / CAST(t_types AS DOUBLE)),
       |      6) AS DECIMAL(14,6)) AS DOUBLE) AS p_kn
       |  FROM c2 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN types
       |)""".stripMargin
  val knBigramTopSql: String =
    s"""WITH $knCtes
       |SELECT bigram, n, p_kn,
       |  CAST(row_number() OVER (ORDER BY p_kn DESC, bigram) AS BIGINT) AS rk
       |FROM pkn ORDER BY p_kn DESC, bigram LIMIT $KnTopN""".stripMargin

  // ---- Kneser–Ney document scoring (the production CCNet filter) --------
  /** Score each document under the SMOOTHED Kneser–Ney bigram model — what
    * the production CCNet filter actually scores with ([[lmPerplexity]]
    * scores the raw MLE model; smoothing is what makes the score
    * transferable to text the model hasn't memorized). Same output shape
    * and §6 discipline as `lm_perplexity`: per-bigram lp = ln(p_kn)
    * rounded to exact 4-dp decimals, so the per-doc sum is deterministic
    * under any fold order; `ppl = exp(-sum_lp/n_bigrams)` is derivable by
    * any consumer. Docs with <2 tokens have no bigrams and no row.
    *
    * Scale: scoring is the map-side join of the corpus bigram explode
    * against the materialized [[knModel]] — the model is
    * vocabulary-bounded but too big to broadcast at 100 TB, hence the
    * pinned shuffle_hash; one doc-keyed rollup finishes. The model itself
    * amortizes across every scoring run (and is shared with
    * `kn_bigram_top`). */
  /** Probability floor for scoring: p_kn is rounded to 6 decimals, so its
    * smallest NONZERO value is 1e-6 — but a rare transition out of a very
    * frequent word (n1 beyond ~5·10⁵) rounds to exactly 0.000000, and
    * ln(0) is NULL on Spark (silently dropping the doc's rarest bigram
    * from the sum) while DuckDB raises. Clamping up to the rounding
    * grid's own floor keeps both engines defined and identical, and a
    * floor probability for ultra-rare transitions is standard LM scoring
    * practice. */
  val KnPFloor = 0.000001

  private val knPplCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  def knPerplexity(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(knPplCache, spark, dir) {
      val p = knModel(spark, dir).select(col("bigram"),
        round(log(greatest(col("p_kn"), lit(KnPFloor))), 4)
          .cast("decimal(18,4)").as("lp"))
      TextAnalysis.docBigrams(spark, dir)
        .join(p.hint("shuffle_hash"), "bigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp")).cast("decimal(18,4)").cast("double").as("sum_lp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  /** knCtes + the per-bigram log-prob projection, shared with
    * [[knBucketsSql]]. */
  private val knScoreCtes: String =
    s"""$knCtes, p AS (
       |  SELECT bigram,
       |    CAST(round(ln(greatest(p_kn, $KnPFloor)), 4) AS DECIMAL(18,4)) AS lp
       |  FROM pkn
       |)""".stripMargin
  val knPerplexitySql: String =
    s"""WITH $knScoreCtes
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |FROM bg JOIN p USING (bigram) GROUP BY 1""".stripMargin

  /** CCNet bucketing under the KN model — [[perplexityBuckets]] with the
    * smoothed score: per-language head/middle/tail tertiles over the
    * KN nll. Same exact-integer nll_e4 and broadcast-threshold shape. */
  def knBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = knPerplexity(spark, dir)
      .join(Corpus.table(spark, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"),
        expr("CAST(round(-sum_lp * 10000, 0) AS BIGINT) div n_bigrams")
          .as("nll_e4"))
    val thr = scored.groupBy("lang").agg(
      expr(s"percentile(nll_e4, $HeadPct)")
        .cast("decimal(14,4)").cast("double").as("t_head"),
      expr(s"percentile(nll_e4, $TailPct)")
        .cast("decimal(14,4)").cast("double").as("t_tail"))
    scored.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("nll_e4"),
        when(col("nll_e4") <= col("t_head"), "head")
          .when(col("nll_e4") <= col("t_tail"), "middle")
          .otherwise("tail").as("bucket"))
  }
  val knBucketsSql: String =
    s"""WITH $knScoreCtes, kpp AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |  FROM bg JOIN p USING (bigram) GROUP BY 1
       |), scored AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang,
       |    CAST(round(-sum_lp * 10000, 0) AS BIGINT) // n_bigrams AS nll_e4
       |  FROM kpp JOIN documents d ON kpp.doc_id = d.doc_id
       |), thr AS (
       |  SELECT lang,
       |    CAST(CAST(quantile_cont(nll_e4, $HeadPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_head,
       |    CAST(CAST(quantile_cont(nll_e4, $TailPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_tail
       |  FROM scored GROUP BY 1
       |)
       |SELECT doc_id, s.lang, nll_e4,
       |  CASE WHEN nll_e4 <= t_head THEN 'head'
       |       WHEN nll_e4 <= t_tail THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored s JOIN thr ON s.lang = thr.lang""".stripMargin

  /** Min-K% fraction (percent of a doc's bigrams in its "most surprising"
    * tail — Shi et al. 2023 use K=20). */
  val MinkPct = 20L

  /** Min-K% Prob membership signal (Shi et al. 2023, "Detecting
    * Pretraining Data from Large Language Models"): per document, the mean
    * negative log-probability of its K% MOST SURPRISING bigrams under the
    * trained KN model. A member document scores low even at its worst
    * tokens (the model has seen them); a non-member's tail stays
    * surprising — the statistic eval-contamination audits threshold on.
    * Exact integer math end-to-end: the shared 4-dp KN log-probs become
    * e4 nll ints, the per-doc tail is an array slice of the doc's own
    * (bounded) sorted score list, and the mean is integral division on
    * non-negative operands (§6-safe on both engines).
    *
    * Scale: the scoring join is the same shuffle_hash-pinned
    * vocabulary-bounded model join as `kn_perplexity`; the per-doc
    * collect_list is doc-bounded (a document's own bigram count), never
    * corpus-bounded. */
  def minkProb(spark: SparkSession, dir: String): DataFrame = {
    val p = knModel(spark, dir).select(col("bigram"),
      (round(log(greatest(col("p_kn"), lit(KnPFloor))), 4)
        .cast("decimal(18,4)") * lit(-10000)).cast("long").as("nll_e4"))
    TextAnalysis.docBigrams(spark, dir)
      .join(p.hint("shuffle_hash"), "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        array_sort(collect_list(col("nll_e4"))).as("nlls"))
      .withColumn("k",
        greatest(expr(s"(n_bigrams * $MinkPct) div 100"), lit(1L)))
      .withColumn("mink_sum_nll_e4", expr(
        """aggregate(slice(nlls, CAST(n_bigrams - k + 1 AS INT),
          |  CAST(k AS INT)), CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
      .select(col("doc_id"), col("n_bigrams"), col("k"),
        col("mink_sum_nll_e4"),
        org.apache.spark.sql.graft.ExactMath.intDiv(
          col("mink_sum_nll_e4"), col("k")).as("mink_mean_nll_e4"))
  }
  val minkProbSql: String =
    s"""WITH $knScoreCtes, nb AS (
       |  SELECT doc_id, CAST(-lp * 10000 AS BIGINT) AS nll_e4
       |  FROM bg JOIN p USING (bigram)
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    list_sort(list(nll_e4)) AS nlls
       |  FROM nb GROUP BY 1
       |), cut AS (
       |  SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |    greatest((n_bigrams * $MinkPct) // 100, 1) AS k, nlls
       |  FROM agg
       |)
       |SELECT doc_id, n_bigrams, CAST(k AS BIGINT) AS k,
       |  CAST(list_aggr(nlls[n_bigrams - k + 1 : n_bigrams], 'sum')
       |    AS BIGINT) AS mink_sum_nll_e4,
       |  CAST(list_aggr(nlls[n_bigrams - k + 1 : n_bigrams], 'sum')
       |    AS BIGINT) // CAST(k AS BIGINT) AS mink_mean_nll_e4
       |FROM cut""".stripMargin

  // ---- Kneser–Ney trigram model (#35l–n: the CCNet production order) ----
  /** Interpolated Kneser–Ney with TRIGRAM context — the model order a
    * production CCNet-style filter actually ships (KenLM trains 5-gram;
    * trigram is the first order where the backoff RECURSION appears, and
    * each further order is the same closed-form step). Full chain, all
    * from two materialized type/count tables:
    *
    *   P₃(w₃|w₁w₂) = max(c₃−D,0)/c(w₁w₂·)
    *                 + D·N₁₊(w₁w₂·)/c(w₁w₂·) · P₂(w₃|w₂)
    *   P₂(w₃|w₂)   = max(N₁₊(·w₂w₃)−D,0)/N₁₊(·w₂·)
    *                 + D·N₁₊(w₂·)/N₁₊(·w₂·) · P_c(w₃)
    *   P_c(w₃)     = N₁₊(·w₃)/N₁₊(··)
    *
    * with the lower orders on CONTINUATION counts (trigram types for the
    * middle layer, bigram types for the unigram layer) — the defining KN
    * property. Each probability level is rounded to 6 decimals and pinned
    * through DECIMAL(14,6) before feeding the next (§6: the interpolation
    * is then arithmetic on engine-identical doubles, so the full chain is
    * bit-stable across engines).
    *
    * Scale: every aggregate is a grouped rollup of the materialized
    * trigram-count table (trigram-type-bounded — the vocabulary-frame
    * discipline; the corpus explode behind it runs ONCE) or of the shared
    * bigram table; the five model joins are type-keyed shuffle_hash joins
    * between type-bounded frames, and the 1-row type total broadcasts.
    * Nothing after the count tables sees a corpus-sized key. */
  private val kn3ModelCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  private[operators] def kn3Model(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(kn3ModelCache, spark, dir) {
      def pin(c: org.apache.spark.sql.Column) =
        round(c, 6).cast("decimal(14,6)").cast("double")
      val c3 = TextAnalysis.trigramCounts(spark, dir)
        .select(col("trigram"), col("n"),
          substring_index(col("trigram"), " ", 2).as("ctx"),
          substring_index(substring_index(col("trigram"), " ", 2), " ", -1)
            .as("w2"),
          substring_index(col("trigram"), " ", -1).as("w3"))
      val cctx = c3.groupBy("ctx")
        .agg(sum(col("n")).as("n_ctx"), count(lit(1)).as("nfollow3"))
      val contBg = c3.groupBy("w2", "w3").agg(count(lit(1)).as("n1p_w2w3"))
      val midTot = contBg.groupBy("w2").agg(sum(col("n1p_w2w3")).as("n1p_mid"))
      val c2 = TextAnalysis.bigramCounts(spark, dir)
        .select(substring_index(col("bigram"), " ", 1).as("b1"),
          substring_index(col("bigram"), " ", -1).as("b2"))
      val follow2 = c2.groupBy(col("b1").as("w2"))
        .agg(count(lit(1)).as("nfollow2"))
      val cont1 = c2.groupBy(col("b2").as("w3")).agg(count(lit(1)).as("ncont1"))
      val types = c2.agg(count(lit(1)).as("t_types"))
      val pCont = pin(col("ncont1").cast("double") / col("t_types").cast("double"))
      val pMid = pin(
        greatest(col("n1p_w2w3").cast("double") - KnDiscount, lit(0d))
            / col("n1p_mid").cast("double")
          + (lit(KnDiscount) * col("nfollow2").cast("double")
            / col("n1p_mid").cast("double")) * col("p_cont"))
      val p3 = pin(
        greatest(col("n").cast("double") - KnDiscount, lit(0d))
            / col("n_ctx").cast("double")
          + (lit(KnDiscount) * col("nfollow3").cast("double")
            / col("n_ctx").cast("double")) * col("p_mid"))
      // the lower-order probability is resolved at ITS OWN grain (w2, w3)
      // — |distinct bigram| rows — and the trigram table joins it once,
      // instead of dragging every trigram row through five key-cascaded
      // exchanges; the per-row expression trees are unchanged, so the
      // pinned doubles are bit-identical
      val pMidTab = contBg
        .join(midTot.hint("shuffle_hash"), "w2")
        .join(follow2.hint("shuffle_hash"), "w2")
        .join(cont1.hint("shuffle_hash"), "w3")
        .crossJoin(broadcast(types))
        .withColumn("p_cont", pCont)
        .select(col("w2"), col("w3"), pMid.as("p_mid"))
      c3.join(cctx.hint("shuffle_hash"), "ctx")
        .join(pMidTab.hint("shuffle_hash"), Seq("w2", "w3"))
        .select(col("trigram"), col("n"), p3.as("p_kn3"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Driver-contract query: top-[[KnTopN]] smoothed trigram probabilities
    * — the `kn_bigram_top` shape one order up (TakeOrderedAndProject +
    * in-array rank recovery; no unpartitioned window). */
  def kn3TrigramTop(spark: SparkSession, dir: String): DataFrame =
    kn3Model(spark, dir)
      .orderBy(col("p_kn3").desc, col("trigram")).limit(KnTopN)
      .select(struct(negate(col("p_kn3")).as("np"),
        col("trigram").as("trigram"), col("n").as("n"),
        col("p_kn3").as("p_kn3")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.trigram").as("trigram"), col("s.n").as("n"),
        col("s.p_kn3").as("p_kn3"), (col("pos") + 1).cast("long").as("rk"))

  /** Shared CTE chain of the trigram KN model — identical math to
    * [[kn3Model]]; `tg` carries doc_id for the scoring queries. */
  private val kn3Ctes: String =
    // toks MATERIALIZED: BOTH consumers (tg, bg2) are corpus-sized scans —
    // inlining would run the full-corpus regex tokenization twice
    s"""toks AS MATERIALIZED (
       |  SELECT doc_id, list_filter(list_transform(
       |    string_split_regex(text, '\\s+'), t -> lower(t)), t -> t <> '') AS t
       |  FROM documents
       |), tg AS MATERIALIZED (
       |  SELECT doc_id, g.tri AS trigram
       |  FROM toks, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g(tri)
       |  WHERE len(t) >= 3
       |), c3 AS MATERIALIZED (
       |  SELECT trigram, count(*) AS n,
       |    split_part(trigram, ' ', 1) || ' ' || split_part(trigram, ' ', 2)
       |      AS ctx,
       |    split_part(trigram, ' ', 2) AS w2,
       |    split_part(trigram, ' ', 3) AS w3
       |  FROM tg GROUP BY 1
       |), cctx AS (
       |  SELECT ctx, sum(n) AS n_ctx, count(*) AS nfollow3 FROM c3 GROUP BY 1
       |), contbg AS MATERIALIZED (
       |  SELECT w2, w3, count(*) AS n1p_w2w3 FROM c3 GROUP BY 1, 2
       |), midtot AS (
       |  SELECT w2, sum(n1p_w2w3) AS n1p_mid FROM contbg GROUP BY 1
       |), bg2 AS MATERIALIZED (
       |  SELECT DISTINCT g.b AS bigram
       |  FROM toks, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
       |  WHERE len(t) >= 2
       |), follow2 AS (
       |  SELECT split_part(bigram, ' ', 1) AS w2, count(*) AS nfollow2
       |  FROM bg2 GROUP BY 1
       |), cont1 AS (
       |  SELECT split_part(bigram, ' ', 2) AS w3, count(*) AS ncont1
       |  FROM bg2 GROUP BY 1
       |), types2 AS (SELECT count(*) AS t_types FROM bg2),
       |pkn3 AS MATERIALIZED (
       |  SELECT trigram, n, CAST(CAST(round(
       |      greatest(CAST(n AS DOUBLE) - $KnDiscount, 0.0)
       |          / CAST(n_ctx AS DOUBLE)
       |        + ($KnDiscount * CAST(nfollow3 AS DOUBLE)
       |          / CAST(n_ctx AS DOUBLE))
       |          * CAST(CAST(round(
       |              greatest(CAST(n1p_w2w3 AS DOUBLE) - $KnDiscount, 0.0)
       |                  / CAST(n1p_mid AS DOUBLE)
       |                + ($KnDiscount * CAST(nfollow2 AS DOUBLE)
       |                  / CAST(n1p_mid AS DOUBLE))
       |                  * CAST(CAST(round(
       |                      CAST(ncont1 AS DOUBLE) / CAST(t_types AS DOUBLE),
       |                    6) AS DECIMAL(14,6)) AS DOUBLE),
       |            6) AS DECIMAL(14,6)) AS DOUBLE),
       |    6) AS DECIMAL(14,6)) AS DOUBLE) AS p_kn3
       |  FROM c3 JOIN cctx USING (ctx) JOIN contbg USING (w2, w3)
       |    JOIN midtot USING (w2) JOIN follow2 USING (w2)
       |    JOIN cont1 USING (w3) CROSS JOIN types2
       |)""".stripMargin
  val kn3TrigramTopSql: String =
    s"""WITH $kn3Ctes
       |SELECT trigram, n, p_kn3,
       |  CAST(row_number() OVER (ORDER BY p_kn3 DESC, trigram) AS BIGINT)
       |    AS rk
       |FROM pkn3 ORDER BY p_kn3 DESC, trigram LIMIT $KnTopN""".stripMargin

  /** Trigram-KN document scoring — `kn_perplexity` one order up: per-doc
    * trigram count and the sum of 4-dp-pinned ln(p) (floored at
    * [[KnPFloor]], the shared rounding-grid floor). Docs with <3 tokens
    * have no trigrams and no row. Same shuffle_hash model join + one
    * doc-keyed rollup; the model amortizes across every scoring run. */
  private val kn3PplCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  def kn3Perplexity(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(kn3PplCache, spark, dir) {
      val p = kn3Model(spark, dir).select(col("trigram"),
        round(log(greatest(col("p_kn3"), lit(KnPFloor))), 4)
          .cast("decimal(18,4)").as("lp"))
      TextAnalysis.docTrigrams(spark, dir)
        .join(p.hint("shuffle_hash"), "trigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          sum(col("lp")).cast("decimal(18,4)").cast("double").as("sum_lp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private val kn3ScoreCtes: String =
    s"""$kn3Ctes, p3s AS (
       |  SELECT trigram,
       |    CAST(round(ln(greatest(p_kn3, $KnPFloor)), 4) AS DECIMAL(18,4))
       |      AS lp
       |  FROM pkn3
       |)""".stripMargin
  val kn3PerplexitySql: String =
    s"""WITH $kn3ScoreCtes
       |SELECT doc_id, count(*) AS n_trigrams,
       |  CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |FROM tg JOIN p3s USING (trigram) GROUP BY 1""".stripMargin

  /** CCNet bucketing under the trigram model — per-language
    * head/middle/tail tertiles over the KN-3 nll; the exact-integer
    * nll_e4 + broadcast-threshold shape of [[knBuckets]]. */
  def kn3Buckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = kn3Perplexity(spark, dir)
      .join(Corpus.table(spark, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"),
        expr("CAST(round(-sum_lp * 10000, 0) AS BIGINT) div n_trigrams")
          .as("nll_e4"))
    val thr = scored.groupBy("lang").agg(
      expr(s"percentile(nll_e4, $HeadPct)")
        .cast("decimal(14,4)").cast("double").as("t_head"),
      expr(s"percentile(nll_e4, $TailPct)")
        .cast("decimal(14,4)").cast("double").as("t_tail"))
    scored.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("nll_e4"),
        when(col("nll_e4") <= col("t_head"), "head")
          .when(col("nll_e4") <= col("t_tail"), "middle")
          .otherwise("tail").as("bucket"))
  }
  val kn3BucketsSql: String =
    s"""WITH $kn3ScoreCtes, kpp AS (
       |  SELECT doc_id, count(*) AS n_trigrams,
       |    CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |  FROM tg JOIN p3s USING (trigram) GROUP BY 1
       |), scored AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang,
       |    CAST(round(-sum_lp * 10000, 0) AS BIGINT) // n_trigrams AS nll_e4
       |  FROM kpp JOIN documents d ON kpp.doc_id = d.doc_id
       |), thr AS (
       |  SELECT lang,
       |    CAST(CAST(quantile_cont(nll_e4, $HeadPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_head,
       |    CAST(CAST(quantile_cont(nll_e4, $TailPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_tail
       |  FROM scored GROUP BY 1
       |)
       |SELECT doc_id, s.lang, nll_e4,
       |  CASE WHEN nll_e4 <= t_head THEN 'head'
       |       WHEN nll_e4 <= t_tail THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored s JOIN thr ON s.lang = thr.lang""".stripMargin

  // ---- Kneser–Ney 4-gram model (#35p–r: one order below KenLM's 5) ------
  /** Interpolated Kneser–Ney with 4-GRAM context — the kn3 recursion
    * (VERDICT r12 #3) applied one more time, proving each further order
    * is the same closed-form continuation-count rollup over one more
    * materialized n-gram frame:
    *
    *   P₄(w₄|w₁w₂w₃) = max(c₄−D,0)/c(w₁w₂w₃·)
    *                   + D·N₁₊(w₁w₂w₃·)/c(w₁w₂w₃·) · P₃'(w₄|w₂w₃)
    *   P₃'(w₄|w₂w₃)  = max(N₁₊(·w₂w₃w₄)−D,0)/N₁₊(·w₂w₃·)
    *                   + D·N₁₊(w₂w₃·)/N₁₊(·w₂w₃·) · P₂'(w₄|w₃)
    *   P₂'(w₄|w₃)    = max(N₁₊(·w₃w₄)−D,0)/N₁₊(·w₃·)
    *                   + D·N₁₊(w₃·)/N₁₊(·w₃·) · P_c(w₄)
    *   P_c(w₄)       = N₁₊(·w₄)/N₁₊(··)
    *
    * — top layer on raw 4-gram counts, every lower layer on CONTINUATION
    * counts (4-gram types for P₃', trigram types for P₂''s numerator and
    * its N₁₊(w₃·) weight from bigram types, bigram types for P_c).
    *
    * §6 HARDENING over kn3Model: each level is computed as an EXACT
    * INTEGER on the e6 grid instead of a 6-dp HALF_UP double pin. With
    * D = 3/4 every layer is the rational
    *   p_e6 = ⌊(max(4·num−3, 0)·10⁶ + 3·weight·p_lower_e6) / (4·den)⌋
    * — BIGINT end-to-end, floor division on non-negative operands
    * (identical in both engines), final p = p_e6/10⁶ exactly-representable
    * DOUBLE. kn3's DECIMAL(14,6) pin left a measure-zero boundary where
    * the engines' round() disagree at the 6th decimal; sf0.01 actually
    * HIT that boundary for two 4-gram types (p = 0.1794515), which is why
    * this model pins harder.
    *
    * Scale: identical shape to [[kn3Model]] one order up — every
    * aggregate is a grouped rollup of a materialized type table
    * ([[TextAnalysis.fourgramCounts]] / trigramCounts / bigramCounts; the
    * corpus explodes behind them each run ONCE per session), the eight
    * model joins are type-keyed shuffle_hash joins between type-bounded
    * frames, and the 1-row bigram-type total broadcasts. */
  private val kn4ModelCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  private[operators] def kn4Model(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(kn4ModelCache, spark, dir) {
      import org.apache.spark.sql.graft.ExactMath.intDiv
      // ⌊(max(4·num−3,0)·10⁶ + 3·weight·lower_e6) / (4·den)⌋ — one KN
      // interpolation level on the exact e6 integer grid (D = 3/4)
      def lvl(num: org.apache.spark.sql.Column,
          weight: org.apache.spark.sql.Column,
          lowerE6: org.apache.spark.sql.Column,
          den: org.apache.spark.sql.Column) =
        intDiv(greatest(lit(4L) * num - lit(3L), lit(0L)) * lit(1000000L)
          + lit(3L) * weight * lowerE6, lit(4L) * den)
      val c4 = TextAnalysis.fourgramCounts(spark, dir)
        .select(col("fourgram"), col("n"),
          substring_index(col("fourgram"), " ", 3).as("ctx3"),
          element_at(split(col("fourgram"), " "), 2).as("w2"),
          element_at(split(col("fourgram"), " "), 3).as("w3"),
          element_at(split(col("fourgram"), " "), 4).as("w4"))
      val cctx4 = c4.groupBy("ctx3")
        .agg(sum(col("n")).as("n_ctx4"), count(lit(1)).as("nfollow4"))
      val cont3 = c4.groupBy("w2", "w3", "w4")
        .agg(count(lit(1)).as("n1p_234"))
      val midTot3 = cont3.groupBy("w2", "w3")
        .agg(sum(col("n1p_234")).as("n1p_mid3"))
      // trigram TYPES (one row per type in the counts table)
      val c3t = TextAnalysis.trigramCounts(spark, dir)
        .select(element_at(split(col("trigram"), " "), 1).as("a1"),
          element_at(split(col("trigram"), " "), 2).as("a2"),
          element_at(split(col("trigram"), " "), 3).as("a3"))
      val fol3 = c3t.groupBy(col("a1").as("w2"), col("a2").as("w3"))
        .agg(count(lit(1)).as("nfollow3"))
      val contBg = c3t.groupBy(col("a2").as("w3"), col("a3").as("w4"))
        .agg(count(lit(1)).as("n1p_34"))
      val midTot2 = contBg.groupBy("w3").agg(sum(col("n1p_34")).as("n1p_mid2"))
      val c2 = TextAnalysis.bigramCounts(spark, dir)
        .select(substring_index(col("bigram"), " ", 1).as("b1"),
          substring_index(col("bigram"), " ", -1).as("b2"))
      val follow2 = c2.groupBy(col("b1").as("w3"))
        .agg(count(lit(1)).as("nfollow2"))
      val cont1 = c2.groupBy(col("b2").as("w4")).agg(count(lit(1)).as("ncont1"))
      val types = c2.agg(count(lit(1)).as("t_types"))
      val pContE6 = intDiv(lit(1000000L) * col("ncont1"), col("t_types"))
      val pMid2E6 =
        lvl(col("n1p_34"), col("nfollow2"), col("p_cont_e6"), col("n1p_mid2"))
      val pMid3E6 =
        lvl(col("n1p_234"), col("nfollow3"), col("p_mid2_e6"), col("n1p_mid3"))
      val p4E6 = lvl(col("n"), col("nfollow4"), col("p_mid3_e6"), col("n_ctx4"))
      // each interpolation level is resolved at ITS OWN grain and the next
      // level joins the one below it once (kn3Model discipline): the
      // 4-gram table sees two exchanges instead of eight, and the integer
      // e6 math is position-for-position the same
      val p2Tab = contBg
        .join(midTot2.hint("shuffle_hash"), "w3")
        .join(follow2.hint("shuffle_hash"), "w3")
        .join(cont1.hint("shuffle_hash"), "w4")
        .crossJoin(broadcast(types))
        .withColumn("p_cont_e6", pContE6)
        .select(col("w3"), col("w4"), pMid2E6.as("p_mid2_e6"))
      val p3Tab = cont3
        .join(midTot3.hint("shuffle_hash"), Seq("w2", "w3"))
        .join(fol3.hint("shuffle_hash"), Seq("w2", "w3"))
        .join(p2Tab.hint("shuffle_hash"), Seq("w3", "w4"))
        .select(col("w2"), col("w3"), col("w4"), pMid3E6.as("p_mid3_e6"))
      c4.join(cctx4.hint("shuffle_hash"), "ctx3")
        .join(p3Tab.hint("shuffle_hash"), Seq("w2", "w3", "w4"))
        .select(col("fourgram"), col("n"),
          (p4E6.cast("double") / lit(1000000d)).as("p_kn4"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Driver-contract query: top-[[KnTopN]] smoothed 4-gram probabilities
    * (the kn3_trigram_top shape — TakeOrderedAndProject + in-array rank
    * recovery, no unpartitioned window). */
  def kn4FourgramTop(spark: SparkSession, dir: String): DataFrame =
    kn4Model(spark, dir)
      .orderBy(col("p_kn4").desc, col("fourgram")).limit(KnTopN)
      .select(struct(negate(col("p_kn4")).as("np"),
        col("fourgram").as("fourgram"), col("n").as("n"),
        col("p_kn4").as("p_kn4")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.fourgram").as("fourgram"), col("s.n").as("n"),
        col("s.p_kn4").as("p_kn4"), (col("pos") + 1).cast("long").as("rk"))

  /** Shared CTE chain of the 4-gram KN model — identical math to
    * [[kn4Model]]; `fg` carries doc_id for the scoring queries. */
  private val kn4Ctes: String =
    s"""toks AS MATERIALIZED (
       |  SELECT doc_id, list_filter(list_transform(
       |    string_split_regex(text, '\\s+'), t -> lower(t)), t -> t <> '') AS t
       |  FROM documents
       |), fg AS MATERIALIZED (
       |  SELECT doc_id, g.f AS fourgram
       |  FROM toks, unnest(list_transform(range(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))
       |    AS g(f)
       |  WHERE len(t) >= 4
       |), c4 AS MATERIALIZED (
       |  SELECT fourgram, count(*) AS n,
       |    concat(split_part(fourgram, ' ', 1), ' ',
       |      split_part(fourgram, ' ', 2), ' ',
       |      split_part(fourgram, ' ', 3)) AS ctx3,
       |    split_part(fourgram, ' ', 2) AS w2,
       |    split_part(fourgram, ' ', 3) AS w3,
       |    split_part(fourgram, ' ', 4) AS w4
       |  FROM fg GROUP BY 1
       |), cctx4 AS (
       |  SELECT ctx3, sum(n) AS n_ctx4, count(*) AS nfollow4 FROM c4 GROUP BY 1
       |), cont3 AS MATERIALIZED (
       |  SELECT w2, w3, w4, count(*) AS n1p_234 FROM c4 GROUP BY 1, 2, 3
       |), midtot3 AS (
       |  SELECT w2, w3, sum(n1p_234) AS n1p_mid3 FROM cont3 GROUP BY 1, 2
       |), tg3 AS MATERIALIZED (
       |  SELECT DISTINCT g.tri AS trigram
       |  FROM toks, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g(tri)
       |  WHERE len(t) >= 3
       |), c3t AS MATERIALIZED (
       |  SELECT split_part(trigram, ' ', 1) AS a1,
       |    split_part(trigram, ' ', 2) AS a2,
       |    split_part(trigram, ' ', 3) AS a3
       |  FROM tg3
       |), fol3 AS (
       |  SELECT a1 AS w2, a2 AS w3, count(*) AS nfollow3 FROM c3t GROUP BY 1, 2
       |), contbg AS MATERIALIZED (
       |  SELECT a2 AS w3, a3 AS w4, count(*) AS n1p_34 FROM c3t GROUP BY 1, 2
       |), midtot2 AS (
       |  SELECT w3, sum(n1p_34) AS n1p_mid2 FROM contbg GROUP BY 1
       |), bg2 AS MATERIALIZED (
       |  SELECT DISTINCT g.b AS bigram
       |  FROM toks, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
       |  WHERE len(t) >= 2
       |), follow2 AS (
       |  SELECT split_part(bigram, ' ', 1) AS w3, count(*) AS nfollow2
       |  FROM bg2 GROUP BY 1
       |), cont1 AS (
       |  SELECT split_part(bigram, ' ', 2) AS w4, count(*) AS ncont1
       |  FROM bg2 GROUP BY 1
       |), types2 AS (SELECT count(*) AS t_types FROM bg2),
       |pkn4 AS MATERIALIZED (
       |  SELECT fourgram, n, CAST(
       |      (greatest(4 * CAST(n AS BIGINT) - 3, 0) * 1000000
       |        + 3 * nfollow4 *
       |          ((greatest(4 * CAST(n1p_234 AS BIGINT) - 3, 0) * 1000000
       |            + 3 * nfollow3 *
       |              ((greatest(4 * CAST(n1p_34 AS BIGINT) - 3, 0) * 1000000
       |                + 3 * nfollow2 *
       |                  ((1000000 * CAST(ncont1 AS BIGINT)) // t_types))
       |               // (4 * n1p_mid2)))
       |           // (4 * n1p_mid3)))
       |      // (4 * CAST(n_ctx4 AS BIGINT))
       |    AS DOUBLE) / 1000000.0 AS p_kn4
       |  FROM c4 JOIN cctx4 USING (ctx3) JOIN cont3 USING (w2, w3, w4)
       |    JOIN midtot3 USING (w2, w3) JOIN fol3 USING (w2, w3)
       |    JOIN contbg USING (w3, w4) JOIN midtot2 USING (w3)
       |    JOIN follow2 USING (w3) JOIN cont1 USING (w4) CROSS JOIN types2
       |)""".stripMargin
  val kn4FourgramTopSql: String =
    s"""WITH $kn4Ctes
       |SELECT fourgram, n, p_kn4,
       |  CAST(row_number() OVER (ORDER BY p_kn4 DESC, fourgram) AS BIGINT)
       |    AS rk
       |FROM pkn4 ORDER BY p_kn4 DESC, fourgram LIMIT $KnTopN""".stripMargin

  /** 4-gram-KN document scoring — `kn3_perplexity` one order up (docs with
    * <4 tokens have no row); same shuffle_hash model join + one doc-keyed
    * rollup, model amortized per session. */
  private val kn4PplCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  def kn4Perplexity(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(kn4PplCache, spark, dir) {
      val p = kn4Model(spark, dir).select(col("fourgram"),
        round(log(greatest(col("p_kn4"), lit(KnPFloor))), 4)
          .cast("decimal(18,4)").as("lp"))
      TextAnalysis.docFourgrams(spark, dir)
        .join(p.hint("shuffle_hash"), "fourgram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fourgrams"),
          sum(col("lp")).cast("decimal(18,4)").cast("double").as("sum_lp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private val kn4ScoreCtes: String =
    s"""$kn4Ctes, p4s AS (
       |  SELECT fourgram,
       |    CAST(round(ln(greatest(p_kn4, $KnPFloor)), 4) AS DECIMAL(18,4))
       |      AS lp
       |  FROM pkn4
       |)""".stripMargin
  val kn4PerplexitySql: String =
    s"""WITH $kn4ScoreCtes
       |SELECT doc_id, count(*) AS n_fourgrams,
       |  CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |FROM fg JOIN p4s USING (fourgram) GROUP BY 1""".stripMargin

  /** CCNet bucketing under the 4-gram model — the [[knBuckets]] shape. */
  def kn4Buckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = kn4Perplexity(spark, dir)
      .join(Corpus.table(spark, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"),
        expr("CAST(round(-sum_lp * 10000, 0) AS BIGINT) div n_fourgrams")
          .as("nll_e4"))
    val thr = scored.groupBy("lang").agg(
      expr(s"percentile(nll_e4, $HeadPct)")
        .cast("decimal(14,4)").cast("double").as("t_head"),
      expr(s"percentile(nll_e4, $TailPct)")
        .cast("decimal(14,4)").cast("double").as("t_tail"))
    scored.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("nll_e4"),
        when(col("nll_e4") <= col("t_head"), "head")
          .when(col("nll_e4") <= col("t_tail"), "middle")
          .otherwise("tail").as("bucket"))
  }
  val kn4BucketsSql: String =
    s"""WITH $kn4ScoreCtes, kpp AS (
       |  SELECT doc_id, count(*) AS n_fourgrams,
       |    CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |  FROM fg JOIN p4s USING (fourgram) GROUP BY 1
       |), scored AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang,
       |    CAST(round(-sum_lp * 10000, 0) AS BIGINT) // n_fourgrams AS nll_e4
       |  FROM kpp JOIN documents d ON kpp.doc_id = d.doc_id
       |), thr AS (
       |  SELECT lang,
       |    CAST(CAST(quantile_cont(nll_e4, $HeadPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_head,
       |    CAST(CAST(quantile_cont(nll_e4, $TailPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_tail
       |  FROM scored GROUP BY 1
       |)
       |SELECT doc_id, s.lang, nll_e4,
       |  CASE WHEN nll_e4 <= t_head THEN 'head'
       |       WHEN nll_e4 <= t_tail THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored s JOIN thr ON s.lang = thr.lang""".stripMargin

  // ---- Kneser–Ney 5-gram model (#35s-u: the KenLM production order) -----
  /** Interpolated Kneser–Ney with 5-GRAM context — the order production
    * KenLM-filtered pipelines (CCNet, RedPajama, FineWeb ancestry) train
    * and score with. The [[kn4Model]] recursion applied once more, every
    * level the exact e6-grid BIGINT
    *   p_e6 = ⌊(max(4·num−3, 0)·10⁶ + 3·weight·p_lower_e6) / (4·den)⌋
    * (D = 3/4; floor division on non-negative operands — engine-identical
    * by construction, no DECIMAL pin boundary):
    *
    *   P₅  : raw 5-gram counts over c(w₁w₂w₃w₄·)
    *   P₄' : N₁₊(·w₂w₃w₄w₅)/N₁₊(·w₂w₃w₄·), weight N₁₊(w₂w₃w₄·) from
    *         4-gram types
    *   P₃' : N₁₊(·w₃w₄w₅)/N₁₊(·w₃w₄·) from 4-gram types, weight
    *         N₁₊(w₃w₄·) from trigram types
    *   P₂' : N₁₊(·w₄w₅)/N₁₊(·w₄·) from trigram types, weight N₁₊(w₄·)
    *         from bigram types
    *   P_c : N₁₊(·w₅)/N₁₊(··) from bigram types
    *
    * Scale: identical shape one order up — every aggregate is a grouped
    * rollup of a materialized type table (fivegram/fourgram/trigram/
    * bigram counts, each corpus explode run ONCE per session), eleven
    * type-keyed shuffle_hash joins between type-bounded frames, the 1-row
    * bigram-type total broadcast. At 100 TB the 5-gram type frame is the
    * big one (~corpus tokens), which is exactly what KenLM's disk-based
    * trainer holds too — materialized columnar, never re-exploded. */
  private val kn5ModelCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  private[operators] def kn5Model(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(kn5ModelCache, spark, dir) {
      import org.apache.spark.sql.graft.ExactMath.intDiv
      def lvl(num: org.apache.spark.sql.Column,
          weight: org.apache.spark.sql.Column,
          lowerE6: org.apache.spark.sql.Column,
          den: org.apache.spark.sql.Column) =
        intDiv(greatest(lit(4L) * num - lit(3L), lit(0L)) * lit(1000000L)
          + lit(3L) * weight * lowerE6, lit(4L) * den)
      val c5 = TextAnalysis.fivegramCounts(spark, dir)
        .select(col("fivegram"), col("n"),
          substring_index(col("fivegram"), " ", 4).as("ctx4"),
          element_at(split(col("fivegram"), " "), 2).as("w2"),
          element_at(split(col("fivegram"), " "), 3).as("w3"),
          element_at(split(col("fivegram"), " "), 4).as("w4"),
          element_at(split(col("fivegram"), " "), 5).as("w5"))
      val cctx5 = c5.groupBy("ctx4")
        .agg(sum(col("n")).as("n_ctx5"), count(lit(1)).as("nfollow5"))
      val cont4 = c5.groupBy("w2", "w3", "w4", "w5")
        .agg(count(lit(1)).as("n1p_2345"))
      val midTot4 = cont4.groupBy("w2", "w3", "w4")
        .agg(sum(col("n1p_2345")).as("n1p_mid4"))
      // 4-gram TYPES (one row per type in the counts table)
      val c4t = TextAnalysis.fourgramCounts(spark, dir)
        .select(element_at(split(col("fourgram"), " "), 1).as("a1"),
          element_at(split(col("fourgram"), " "), 2).as("a2"),
          element_at(split(col("fourgram"), " "), 3).as("a3"),
          element_at(split(col("fourgram"), " "), 4).as("a4"))
      val fol4 = c4t.groupBy(col("a1").as("w2"), col("a2").as("w3"),
          col("a3").as("w4"))
        .agg(count(lit(1)).as("nfollow4c"))
      val cont3p = c4t.groupBy(col("a2").as("w3"), col("a3").as("w4"),
          col("a4").as("w5"))
        .agg(count(lit(1)).as("n1p_345"))
      val midTot3p = cont3p.groupBy("w3", "w4")
        .agg(sum(col("n1p_345")).as("n1p_mid3p"))
      // trigram TYPES
      val c3t = TextAnalysis.trigramCounts(spark, dir)
        .select(element_at(split(col("trigram"), " "), 1).as("a1"),
          element_at(split(col("trigram"), " "), 2).as("a2"),
          element_at(split(col("trigram"), " "), 3).as("a3"))
      val fol3 = c3t.groupBy(col("a1").as("w3"), col("a2").as("w4"))
        .agg(count(lit(1)).as("nfollow3c"))
      val contBg = c3t.groupBy(col("a2").as("w4"), col("a3").as("w5"))
        .agg(count(lit(1)).as("n1p_45"))
      val midTot2 = contBg.groupBy("w4").agg(sum(col("n1p_45")).as("n1p_mid2"))
      val c2 = TextAnalysis.bigramCounts(spark, dir)
        .select(substring_index(col("bigram"), " ", 1).as("b1"),
          substring_index(col("bigram"), " ", -1).as("b2"))
      val follow2 = c2.groupBy(col("b1").as("w4"))
        .agg(count(lit(1)).as("nfollow2"))
      val cont1 = c2.groupBy(col("b2").as("w5")).agg(count(lit(1)).as("ncont1"))
      val types = c2.agg(count(lit(1)).as("t_types"))
      val pContE6 = intDiv(lit(1000000L) * col("ncont1"), col("t_types"))
      val p2E6 =
        lvl(col("n1p_45"), col("nfollow2"), col("p_cont_e6"), col("n1p_mid2"))
      val p3E6 =
        lvl(col("n1p_345"), col("nfollow3c"), col("p2_e6"), col("n1p_mid3p"))
      val p4E6 =
        lvl(col("n1p_2345"), col("nfollow4c"), col("p3_e6"), col("n1p_mid4"))
      val p5E6 = lvl(col("n"), col("nfollow5"), col("p4_e6"), col("n_ctx5"))
      // each interpolation level resolved at ITS OWN grain, joined upward
      // once (kn3Model discipline): the 5-gram table sees two exchanges
      // instead of eleven; identical integer e6 math per row
      val p2Tab = contBg
        .join(midTot2.hint("shuffle_hash"), "w4")
        .join(follow2.hint("shuffle_hash"), "w4")
        .join(cont1.hint("shuffle_hash"), "w5")
        .crossJoin(broadcast(types))
        .withColumn("p_cont_e6", pContE6)
        .select(col("w4"), col("w5"), p2E6.as("p2_e6"))
      val p3Tab = cont3p
        .join(midTot3p.hint("shuffle_hash"), Seq("w3", "w4"))
        .join(fol3.hint("shuffle_hash"), Seq("w3", "w4"))
        .join(p2Tab.hint("shuffle_hash"), Seq("w4", "w5"))
        .select(col("w3"), col("w4"), col("w5"), p3E6.as("p3_e6"))
      val p4Tab = cont4
        .join(midTot4.hint("shuffle_hash"), Seq("w2", "w3", "w4"))
        .join(fol4.hint("shuffle_hash"), Seq("w2", "w3", "w4"))
        .join(p3Tab.hint("shuffle_hash"), Seq("w3", "w4", "w5"))
        .select(col("w2"), col("w3"), col("w4"), col("w5"), p4E6.as("p4_e6"))
      c5.join(cctx5.hint("shuffle_hash"), "ctx4")
        .join(p4Tab.hint("shuffle_hash"), Seq("w2", "w3", "w4", "w5"))
        .select(col("fivegram"), col("n"),
          (p5E6.cast("double") / lit(1000000d)).as("p_kn5"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Driver-contract query: top-[[KnTopN]] smoothed 5-gram probabilities
    * (TakeOrderedAndProject + in-array rank recovery). */
  def kn5FivegramTop(spark: SparkSession, dir: String): DataFrame =
    kn5Model(spark, dir)
      .orderBy(col("p_kn5").desc, col("fivegram")).limit(KnTopN)
      .select(struct(negate(col("p_kn5")).as("np"),
        col("fivegram").as("fivegram"), col("n").as("n"),
        col("p_kn5").as("p_kn5")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.fivegram").as("fivegram"), col("s.n").as("n"),
        col("s.p_kn5").as("p_kn5"), (col("pos") + 1).cast("long").as("rk"))

  /** Shared CTE chain of the 5-gram KN model — identical math to
    * [[kn5Model]]; `vg` carries doc_id for the scoring queries. */
  private val kn5Ctes: String =
    s"""toks AS MATERIALIZED (
       |  SELECT doc_id, list_filter(list_transform(
       |    string_split_regex(text, '\\s+'), t -> lower(t)), t -> t <> '') AS t
       |  FROM documents
       |), vg AS MATERIALIZED (
       |  SELECT doc_id, g.f AS fivegram
       |  FROM toks, unnest(list_transform(range(1, len(t) - 3),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' ||
       |      t[i + 3] || ' ' || t[i + 4]))
       |    AS g(f)
       |  WHERE len(t) >= 5
       |), c5 AS MATERIALIZED (
       |  SELECT fivegram, count(*) AS n,
       |    concat(split_part(fivegram, ' ', 1), ' ',
       |      split_part(fivegram, ' ', 2), ' ',
       |      split_part(fivegram, ' ', 3), ' ',
       |      split_part(fivegram, ' ', 4)) AS ctx4,
       |    split_part(fivegram, ' ', 2) AS w2,
       |    split_part(fivegram, ' ', 3) AS w3,
       |    split_part(fivegram, ' ', 4) AS w4,
       |    split_part(fivegram, ' ', 5) AS w5
       |  FROM vg GROUP BY 1
       |), cctx5 AS (
       |  SELECT ctx4, sum(n) AS n_ctx5, count(*) AS nfollow5 FROM c5 GROUP BY 1
       |), cont4 AS MATERIALIZED (
       |  SELECT w2, w3, w4, w5, count(*) AS n1p_2345 FROM c5 GROUP BY 1, 2, 3, 4
       |), midtot4 AS (
       |  SELECT w2, w3, w4, sum(n1p_2345) AS n1p_mid4 FROM cont4 GROUP BY 1, 2, 3
       |), fg4 AS MATERIALIZED (
       |  SELECT DISTINCT g.f AS fourgram
       |  FROM toks, unnest(list_transform(range(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))
       |    AS g(f)
       |  WHERE len(t) >= 4
       |), c4t AS MATERIALIZED (
       |  SELECT split_part(fourgram, ' ', 1) AS a1,
       |    split_part(fourgram, ' ', 2) AS a2,
       |    split_part(fourgram, ' ', 3) AS a3,
       |    split_part(fourgram, ' ', 4) AS a4
       |  FROM fg4
       |), fol4 AS (
       |  SELECT a1 AS w2, a2 AS w3, a3 AS w4, count(*) AS nfollow4c
       |  FROM c4t GROUP BY 1, 2, 3
       |), cont3p AS MATERIALIZED (
       |  SELECT a2 AS w3, a3 AS w4, a4 AS w5, count(*) AS n1p_345
       |  FROM c4t GROUP BY 1, 2, 3
       |), midtot3p AS (
       |  SELECT w3, w4, sum(n1p_345) AS n1p_mid3p FROM cont3p GROUP BY 1, 2
       |), tg3 AS MATERIALIZED (
       |  SELECT DISTINCT g.tri AS trigram
       |  FROM toks, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g(tri)
       |  WHERE len(t) >= 3
       |), c3t AS MATERIALIZED (
       |  SELECT split_part(trigram, ' ', 1) AS a1,
       |    split_part(trigram, ' ', 2) AS a2,
       |    split_part(trigram, ' ', 3) AS a3
       |  FROM tg3
       |), fol3 AS (
       |  SELECT a1 AS w3, a2 AS w4, count(*) AS nfollow3c FROM c3t GROUP BY 1, 2
       |), contbg AS MATERIALIZED (
       |  SELECT a2 AS w4, a3 AS w5, count(*) AS n1p_45 FROM c3t GROUP BY 1, 2
       |), midtot2 AS (
       |  SELECT w4, sum(n1p_45) AS n1p_mid2 FROM contbg GROUP BY 1
       |), bg2 AS MATERIALIZED (
       |  SELECT DISTINCT g.b AS bigram
       |  FROM toks, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS g(b)
       |  WHERE len(t) >= 2
       |), follow2 AS (
       |  SELECT split_part(bigram, ' ', 1) AS w4, count(*) AS nfollow2
       |  FROM bg2 GROUP BY 1
       |), cont1 AS (
       |  SELECT split_part(bigram, ' ', 2) AS w5, count(*) AS ncont1
       |  FROM bg2 GROUP BY 1
       |), types2 AS (SELECT count(*) AS t_types FROM bg2),
       |pkn5 AS MATERIALIZED (
       |  SELECT fivegram, n, CAST(
       |      (greatest(4 * CAST(n AS BIGINT) - 3, 0) * 1000000
       |        + 3 * nfollow5 *
       |          ((greatest(4 * CAST(n1p_2345 AS BIGINT) - 3, 0) * 1000000
       |            + 3 * nfollow4c *
       |              ((greatest(4 * CAST(n1p_345 AS BIGINT) - 3, 0) * 1000000
       |                + 3 * nfollow3c *
       |                  ((greatest(4 * CAST(n1p_45 AS BIGINT) - 3, 0) * 1000000
       |                    + 3 * nfollow2 *
       |                      ((1000000 * CAST(ncont1 AS BIGINT)) // t_types))
       |                   // (4 * n1p_mid2)))
       |               // (4 * n1p_mid3p)))
       |           // (4 * n1p_mid4)))
       |      // (4 * CAST(n_ctx5 AS BIGINT))
       |    AS DOUBLE) / 1000000.0 AS p_kn5
       |  FROM c5 JOIN cctx5 USING (ctx4) JOIN cont4 USING (w2, w3, w4, w5)
       |    JOIN midtot4 USING (w2, w3, w4) JOIN fol4 USING (w2, w3, w4)
       |    JOIN cont3p USING (w3, w4, w5) JOIN midtot3p USING (w3, w4)
       |    JOIN fol3 USING (w3, w4) JOIN contbg USING (w4, w5)
       |    JOIN midtot2 USING (w4) JOIN follow2 USING (w4)
       |    JOIN cont1 USING (w5) CROSS JOIN types2
       |)""".stripMargin
  val kn5FivegramTopSql: String =
    s"""WITH $kn5Ctes
       |SELECT fivegram, n, p_kn5,
       |  CAST(row_number() OVER (ORDER BY p_kn5 DESC, fivegram) AS BIGINT)
       |    AS rk
       |FROM pkn5 ORDER BY p_kn5 DESC, fivegram LIMIT $KnTopN""".stripMargin

  /** 5-gram-KN document scoring — the production CCNet/KenLM score (docs
    * with <5 tokens have no row). */
  private val kn5PplCache = Materialized.register(
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  def kn5Perplexity(spark: SparkSession, dir: String): DataFrame =
    Materialized.cached(kn5PplCache, spark, dir) {
      val p = kn5Model(spark, dir).select(col("fivegram"),
        round(log(greatest(col("p_kn5"), lit(KnPFloor))), 4)
          .cast("decimal(18,4)").as("lp"))
      TextAnalysis.docFivegrams(spark, dir)
        .join(p.hint("shuffle_hash"), "fivegram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fivegrams"),
          sum(col("lp")).cast("decimal(18,4)").cast("double").as("sum_lp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private val kn5ScoreCtes: String =
    s"""$kn5Ctes, p5s AS (
       |  SELECT fivegram,
       |    CAST(round(ln(greatest(p_kn5, $KnPFloor)), 4) AS DECIMAL(18,4))
       |      AS lp
       |  FROM pkn5
       |)""".stripMargin
  val kn5PerplexitySql: String =
    s"""WITH $kn5ScoreCtes
       |SELECT doc_id, count(*) AS n_fivegrams,
       |  CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |FROM vg JOIN p5s USING (fivegram) GROUP BY 1""".stripMargin

  /** CCNet bucketing under the 5-gram model — the [[knBuckets]] shape. */
  def kn5Buckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = kn5Perplexity(spark, dir)
      .join(Corpus.table(spark, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"),
        expr("CAST(round(-sum_lp * 10000, 0) AS BIGINT) div n_fivegrams")
          .as("nll_e4"))
    val thr = scored.groupBy("lang").agg(
      expr(s"percentile(nll_e4, $HeadPct)")
        .cast("decimal(14,4)").cast("double").as("t_head"),
      expr(s"percentile(nll_e4, $TailPct)")
        .cast("decimal(14,4)").cast("double").as("t_tail"))
    scored.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("nll_e4"),
        when(col("nll_e4") <= col("t_head"), "head")
          .when(col("nll_e4") <= col("t_tail"), "middle")
          .otherwise("tail").as("bucket"))
  }
  val kn5BucketsSql: String =
    s"""WITH $kn5ScoreCtes, kpp AS (
       |  SELECT doc_id, count(*) AS n_fivegrams,
       |    CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE) AS sum_lp
       |  FROM vg JOIN p5s USING (fivegram) GROUP BY 1
       |), scored AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang,
       |    CAST(round(-sum_lp * 10000, 0) AS BIGINT) // n_fivegrams AS nll_e4
       |  FROM kpp JOIN documents d ON kpp.doc_id = d.doc_id
       |), thr AS (
       |  SELECT lang,
       |    CAST(CAST(quantile_cont(nll_e4, $HeadPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_head,
       |    CAST(CAST(quantile_cont(nll_e4, $TailPct) AS DECIMAL(14,4))
       |      AS DOUBLE) AS t_tail
       |  FROM scored GROUP BY 1
       |)
       |SELECT doc_id, s.lang, nll_e4,
       |  CASE WHEN nll_e4 <= t_head THEN 'head'
       |       WHEN nll_e4 <= t_tail THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored s JOIN thr ON s.lang = thr.lang""".stripMargin

  // ---- composed end product: the corpus a training run actually reads ----
  /** CCNet buckets the selection keeps (the tail is dropped). */
  val SelKeepBuckets: Seq[String] = Seq("head", "middle")

  /** The selection family composed into its end product — one decision row
    * per document with every signal and the final verdict: keep iff the
    * perplexity bucket is head/middle (CCNet) AND the document is in the
    * DSIR top-k resample AND it survives semantic dedup (keep-by-default
    * when the doc has no embedding). The DSIR criterion is MEMBERSHIP, not
    * a sign test: the raw-frequency-weighted mean of log(p_t/p_r) is
    * −KL(p_raw‖p_target) ≤ 0, so weights skew negative on any real corpus
    * and the paper's actual step — resample a budget of the highest-weight
    * documents — is the composable gate. Docs too short to score
    * (<2 tokens) bucket as 'none' and are not selected.
    *
    * Scale: all three signal frames are reads of already-materialized
    * per-corpus artifacts (scored LM frame, 512-slot DSIR literal fold +
    * TakeOrdered top-k, semdedup assignment); the composition itself is
    * doc_id-keyed uniform joins — the curated_corpus discipline applied
    * to selection. */
  def selectedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val b = perplexityBuckets(spark, dir).select(col("doc_id"), col("bucket"))
    val w = dsirWeights(spark, dir).select(col("doc_id"), col("llr"))
    val top = dsirSelect(spark, dir)
      .select(col("doc_id"), lit(true).as("dsir_top"))
    val k = Similarity.semdedup(spark, dir)
      .select(col("vec_id").as("doc_id"), col("keep").as("sem_keep"))
    Corpus.table(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .join(b, Seq("doc_id"), "left")
      .join(w, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .join(k, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("bucket"), lit("none")).as("bucket"),
        coalesce(col("llr"), lit(0.0)).as("llr"),
        coalesce(col("dsir_top"), lit(false)).as("dsir_top"),
        coalesce(col("sem_keep"), lit(true)).as("sem_keep"))
      .withColumn("selected",
        col("bucket").isin(SelKeepBuckets: _*)
          && col("dsir_top") && col("sem_keep"))
  }
  val selectedCorpusSql: String =
    s"""WITH $bucketedCtes, $dsirCtes, ${Similarity.semdedupCtes},
       |sel AS (
       |  SELECT doc_id FROM w ORDER BY llr DESC, doc_id LIMIT $DsirTopK
       |), semkeep AS (
       |  SELECT s.vec_id, d.vec_id IS NULL AS keep
       |  FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
       |)
       |SELECT doc.doc_id, doc.lang,
       |  coalesce(b.bucket, 'none') AS bucket,
       |  coalesce(w.llr, 0.0) AS llr,
       |  sel.doc_id IS NOT NULL AS dsir_top,
       |  coalesce(k.keep, TRUE) AS sem_keep,
       |  (coalesce(b.bucket, 'none') IN
       |     (${SelKeepBuckets.map(x => s"'$x'").mkString(", ")})
       |   AND sel.doc_id IS NOT NULL
       |   AND coalesce(k.keep, TRUE)) AS selected
       |FROM documents doc
       |LEFT JOIN bucketed b ON doc.doc_id = b.doc_id
       |LEFT JOIN w ON doc.doc_id = w.doc_id
       |LEFT JOIN sel ON doc.doc_id = sel.doc_id
       |LEFT JOIN semkeep k ON doc.doc_id = k.vec_id""".stripMargin

  // ---- #35f temperature-mixed language sampling -------------------------
  /** mT5/PaLM-style temperature mixing (α = 0.5, i.e. q_l ∝ √n_l): flatten
    * the raw language distribution toward the α-tempered target, realized
    * as DOWNSAMPLE-ONLY keep rates r_l ∝ q_l/p_l normalized so the most
    * under-represented language keeps everything — the standard way a
    * fixed corpus realizes α-sampling without duplication (Xue et al.
    * 2021, mT5 §3.1). All shares and rates are exact integer basis points
    * (§6): the only float op is IEEE exactly-rounded sqrt, immediately
    * rounded and pinned to DECIMAL(14,4) so both engines sum identical
    * integers; every division is integral. The per-doc keep decision is
    * the shared deterministic md5 uniform (salted so it decorrelates from
    * `sample_deterministic`) — row-local.
    *
    * Scale: two corpus scans (the per-language count and the keep-filter
    * count), each a map-side-partial agg on a ~10²-key column, plus
    * arithmetic over the ≤|langs| stats frame and one broadcast probe —
    * no corpus shuffle, no per-language window. A 100 TB run would
    * checkpoint the tiny keeps table between the two passes; here it is
    * recomputed (the stats frame costs one scan). */
  /** The per-language keep-rate table (lang, n, raw_bp, target_bp,
    * keep_bp) behind [[mixTemperature]], derivable from ANY bounded
    * reference docs frame — exposed for the streaming ingest gate, which
    * learns rates from a static corpus (a batch job; shares can't be
    * computed on an unbounded stream) and applies them row-locally. */
  private[graft] def temperatureKeeps(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val w = counts.withColumn("wi",
      (round(sqrt(col("n").cast("double")), 4).cast("decimal(14,4)")
        * lit(10000)).cast("long"))
    val tot = w.agg(sum(col("n")).as("nn"), sum(col("wi")).as("ww"))
    val shares = w.crossJoin(broadcast(tot))
      .withColumn("raw_bp", intDiv(col("n") * lit(10000L), col("nn")))
      .withColumn("target_bp", intDiv(col("wi") * lit(10000L), col("ww")))
      .withColumn("rr", intDiv(col("target_bp") * lit(100000000L),
        greatest(col("raw_bp"), lit(1L))))
    shares
      .crossJoin(broadcast(shares.agg(max(col("rr")).as("maxrr"))))
      .withColumn("keep_bp", least(lit(10000L),
        intDiv(col("rr") * lit(10000L), greatest(col("maxrr"), lit(1L)))))
      .select(col("lang"), col("n"), col("raw_bp"), col("target_bp"),
        col("keep_bp"))
  }

  /** The salted row-local keep predicate shared by the batch sampler and
    * the streaming gate (decorrelated from `sample_deterministic`). */
  private[graft] def temperatureKeepCond: org.apache.spark.sql.Column =
    pmod(md5Long(concat_ws("\u0001",
      col("doc_id").cast("string"), lit("mixtemp"))), lit(10000L)) <
      col("keep_bp")

  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    val d = Corpus.table(spark, dir, "documents")
    val keeps = temperatureKeeps(d)
    val kept = d
      .select(col("lang"), pmod(md5Long(concat_ws("\u0001",
        col("doc_id").cast("string"), lit("mixtemp"))), lit(10000L)).as("u"))
      .join(broadcast(keeps.select(col("lang"), col("keep_bp"))), Seq("lang"))
      .where(col("u") < col("keep_bp"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val out = keeps.join(kept, Seq("lang"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
    out.crossJoin(broadcast(out.agg(sum(col("n_kept")).as("kt"))))
      .select(col("lang"), col("n").as("n_docs"), col("raw_bp"),
        col("target_bp"), col("keep_bp"), col("n_kept"),
        intDiv(col("n_kept") * lit(10000L), greatest(col("kt"), lit(1L)))
          .as("achieved_bp"))
  }
  val mixTemperatureSql: String =
    s"""WITH counts AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
       |), w AS (
       |  SELECT lang, n,
       |    CAST(CAST(round(sqrt(CAST(n AS DOUBLE)), 4) AS DECIMAL(14,4))
       |         * 10000 AS BIGINT) AS wi
       |  FROM counts
       |), tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(wi) AS BIGINT) AS ww
       |  FROM w
       |), shares AS (
       |  SELECT lang, n, (n * 10000) // nn AS raw_bp,
       |    (wi * 10000) // ww AS target_bp
       |  FROM w, tot
       |), rates AS (
       |  SELECT *, (target_bp * 100000000) // greatest(raw_bp, 1) AS rr
       |  FROM shares
       |), keeps AS (
       |  SELECT lang, n, raw_bp, target_bp,
       |    least(10000, (rr * 10000) //
       |      greatest((SELECT MAX(rr) FROM rates), 1)) AS keep_bp
       |  FROM rates
       |), kept AS (
       |  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
       |  FROM documents d JOIN keeps k ON d.lang = k.lang
       |  WHERE ${sqlMd5Long(
            "concat_ws(chr(1), CAST(d.doc_id AS VARCHAR), 'mixtemp')")}
       |    % 10000 < k.keep_bp
       |  GROUP BY d.lang
       |)
       |SELECT k.lang, k.n AS n_docs, k.raw_bp, k.target_bp, k.keep_bp,
       |  coalesce(t.n_kept, 0) AS n_kept,
       |  (coalesce(t.n_kept, 0) * 10000) //
       |    greatest((SELECT CAST(SUM(n_kept) AS BIGINT) FROM kept), 1)
       |    AS achieved_bp
       |FROM keeps k LEFT JOIN kept t ON k.lang = t.lang""".stripMargin

  // ---- #35j epoch plan (token-budget mixing schedule) --------------------
  /** The table a training run is actually configured from: given a total
    * token budget and the α=0.5 temperature mix over per-source TOKEN
    * mass (the `mix_temperature` recipe at the grain schedulers consume —
    * sources, weighted by tokens rather than docs), how many tokens each
    * source contributes and how many EPOCHS over that source this implies
    * (>1×10⁴ e4 = the source repeats; ≪1×10⁴ = it is subsampled). The
    * budget is the pinned [[EpochPlanBudgetTokens]] constant — a real run
    * passes its own; every downstream number is exact integer math on it
    * (§6: the only float op is the same round(sqrt,4)→DECIMAL pin
    * `mix_temperature` uses, so both engines weight identical integers).
    *
    * Scale: ONE corpus scan reduced to a ~10²-row per-source frame
    * (map-side-partial agg on the source key), then arithmetic over that
    * bounded frame with two 1-row broadcast totals — no corpus shuffle,
    * no window. */
  val EpochPlanBudgetTokens = 1000000L

  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    val per = Corpus.table(spark, dir, "documents")
      .select(col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("wi",
        (round(sqrt(col("n_tokens").cast("double")), 4).cast("decimal(14,4)")
          * lit(10000)).cast("long"))
    val tot = per.agg(sum(col("n_tokens")).as("tt"), sum(col("wi")).as("ww"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        intDiv(col("n_tokens") * lit(10000L), greatest(col("tt"), lit(1L)))
          .as("raw_bp"),
        intDiv(col("wi") * lit(10000L), greatest(col("ww"), lit(1L)))
          .as("target_bp"))
      .withColumn("target_tokens",
        intDiv(lit(EpochPlanBudgetTokens) * col("target_bp"), lit(10000L)))
      .withColumn("epochs_e4",
        intDiv(col("target_tokens") * lit(10000L),
          greatest(col("n_tokens"), lit(1L))))
  }
  val epochPlanSql: String =
    s"""WITH per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
       |      AS n_tokens
       |  FROM documents GROUP BY source
       |), w AS (
       |  SELECT *, CAST(CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 4)
       |    AS DECIMAL(14,4)) * 10000 AS BIGINT) AS wi
       |  FROM per
       |), tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
       |    CAST(sum(wi) AS BIGINT) AS ww FROM w
       |), shares AS (
       |  SELECT source, n_docs, n_tokens,
       |    (n_tokens * 10000) // greatest(tt, 1) AS raw_bp,
       |    (wi * 10000) // greatest(ww, 1) AS target_bp
       |  FROM w, tot
       |)
       |SELECT source, n_docs, n_tokens, raw_bp, target_bp,
       |  ($EpochPlanBudgetTokens * target_bp) // 10000 AS target_tokens,
       |  ((($EpochPlanBudgetTokens * target_bp) // 10000) * 10000)
       |    // greatest(n_tokens, 1) AS epochs_e4
       |FROM shares""".stripMargin

  // ---- #35k reference-model excess loss -----------------------------------
  /** RHO-style excess-loss signal (Lin et al. 2024 select tokens/documents
    * by loss-under-training-model MINUS loss-under-reference-model): per
    * document, the exact-e4 nll under the raw MLE bigram LM and under the
    * Kneser–Ney-smoothed reference, and their difference. A large positive
    * excess marks text whose probability mass exists only through raw
    * memorization of corpus-specific bigrams (the smoothing discount
    * hits it hardest) — the documents a curation pass inspects first;
    * near-zero excess marks text both models explain. Both scorers are
    * the EXISTING oracled operators' frames verbatim, so the delta cannot
    * drift from its parts.
    *
    * Scale: both per-doc score frames are materialized once per corpus
    * (the `lm_perplexity` / `kn_perplexity` caches) and join on the
    * uniform doc_id key — no new corpus pass at all. */
  def excessLoss(spark: SparkSession, dir: String): DataFrame = {
    val mle = TextAnalysis.lmPerplexity(spark, dir).select(col("doc_id"),
      expr("CAST(round(-sum_lp * 10000, 0) AS BIGINT) div n_bigrams")
        .as("nll_mle_e4"))
    val kn = knPerplexity(spark, dir).select(col("doc_id"),
      expr("CAST(round(-sum_lp * 10000, 0) AS BIGINT) div n_bigrams")
        .as("nll_kn_e4"))
    mle.join(kn, Seq("doc_id"))
      .withColumn("excess_e4", col("nll_kn_e4") - col("nll_mle_e4"))
  }
  val excessLossSql: String =
    s"""WITH mle AS (
       |  ${TextAnalysis.lmPerplexitySql.linesIterator.mkString("\n  ")}
       |), knq AS (
       |  ${knPerplexitySql.linesIterator.mkString("\n  ")}
       |)
       |SELECT m.doc_id,
       |  CAST(round(-m.sum_lp * 10000, 0) AS BIGINT) // m.n_bigrams
       |    AS nll_mle_e4,
       |  CAST(round(-k.sum_lp * 10000, 0) AS BIGINT) // k.n_bigrams
       |    AS nll_kn_e4,
       |  (CAST(round(-k.sum_lp * 10000, 0) AS BIGINT) // k.n_bigrams)
       |    - (CAST(round(-m.sum_lp * 10000, 0) AS BIGINT) // m.n_bigrams)
       |    AS excess_e4
       |FROM mle m JOIN knq k USING (doc_id)""".stripMargin

  // ---- #35o DoReMi-style domain reweighting --------------------------------
  /** Excess-loss-driven domain (source) weights — DoReMi (Xie et al. 2023)
    * reduced to its one-shot closed form over a fixed reference-model
    * pair: each source's baseline token share is multiplicatively boosted
    * by exp(mean excess loss) and renormalized, up-weighting the domains
    * the smoothed reference finds hardest relative to the MLE — the
    * mixing decision the iterative DoReMi proxy-training loop converges
    * toward, computable exactly from the two ALREADY-materialized scoring
    * frames ([[excessLoss]]'s inputs).
    *
    * §6 discipline: token counts and the e4 excess sums are exact
    * integers; the mean-excess→exp boost is ONE deterministic IEEE
    * division feeding the transcendental, pinned DECIMAL(14,6); each raw
    * weight pins to DECIMAL(18,8) BEFORE the cross-source total, so the
    * normalizing SUM is exact decimal (fold-order-free) and the final
    * share is one IEEE division of engine-identical values.
    *
    * Scale: per-source token mass is a map-only projection + one
    * ~10¹-key rollup; the excess rollup joins the materialized per-doc
    * scores to a pruned (doc_id, source) scan on the uniform doc key;
    * everything after runs on the ≤|sources| frame (the windows are
    * bounded, not corpus windows). */
  def domainReweight(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    // token mass rides the shared codegen'd TokenProfileHits pass
    // (VERDICT r12 #4 micro-task): same whitespace tokenization as the
    // old interpreted split/transform/filter chain, one struct-field read
    // instead of three array passes per doc
    val toksPerDoc = Corpus.table(spark, dir, "documents").select(col("source"),
      TextAnalysis.profileCol.getField("n_toks").cast("long").as("n_toks"))
      .groupBy("source").agg(sum(col("n_toks")).as("n_tokens"))
    val excess = excessLoss(spark, dir)
      .join(Corpus.table(spark, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_scored"),
        sum(col("excess_e4")).as("sum_excess_e4"))
    // cross-source totals as BROADCAST 1-row aggregates, not unpartitioned
    // windows (the repo-wide lint bans WindowExec with an empty partition
    // spec — even on this bounded frame, the broadcast shape is the one
    // that generalizes).
    // LEFT join (review r12): a source with zero SCORED docs (all docs
    // <2 tokens) must keep its weight row at a NEUTRAL boost (exp(0)=1 —
    // no excess signal) and its tokens in tok_total, not silently vanish
    // and inflate every other source's share.
    val base = toksPerDoc.join(excess, Seq("source"), "left")
      .withColumn("n_scored", coalesce(col("n_scored"), lit(0L)))
      .withColumn("sum_excess_e4", coalesce(col("sum_excess_e4"), lit(0L)))
    val tokTotal = base.agg(sum(col("n_tokens")).as("tok_total"))
    val joined = base.crossJoin(broadcast(tokTotal))
      .withColumn("boost",
        round(exp((col("sum_excess_e4").cast("double")
          / greatest(col("n_scored"), lit(1L)).cast("double")) / 10000.0), 6)
          .cast("decimal(14,6)").cast("double"))
      .withColumn("w_raw",
        round((col("n_tokens").cast("double") / col("tok_total").cast("double"))
          * col("boost"), 8).cast("decimal(18,8)"))
    val wTotal = joined
      .agg(sum(col("w_raw")).cast("decimal(28,8)").as("w_total"))
    joined.crossJoin(broadcast(wTotal))
      .select(col("source"), col("n_tokens"),
        col("n_scored").cast("long").as("n_scored"),
        col("sum_excess_e4").cast("long").as("sum_excess_e4"),
        intDiv(col("n_tokens") * lit(10000L), col("tok_total"))
          .as("baseline_share_bp"),
        col("boost"),
        round(col("w_raw").cast("double") / col("w_total").cast("double"), 6)
          .cast("decimal(14,6)").cast("double").as("weight"))
  }
  val domainReweightSql: String =
    s"""WITH ex AS (
       |  ${excessLossSql.linesIterator.mkString("\n  ")}
       |), tok AS (
       |  SELECT source, CAST(sum(len(list_filter(list_transform(
       |    string_split_regex(text, '\\s+'), t -> lower(t)),
       |    t -> t <> ''))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1
       |), exs AS (
       |  SELECT d.source, count(*) AS n_scored,
       |    CAST(sum(excess_e4) AS BIGINT) AS sum_excess_e4
       |  FROM ex JOIN documents d USING (doc_id) GROUP BY 1
       |), j AS (
       |  SELECT source, n_tokens,
       |    coalesce(n_scored, 0) AS n_scored,
       |    CAST(coalesce(sum_excess_e4, 0) AS BIGINT) AS sum_excess_e4,
       |    sum(n_tokens) OVER () AS tok_total,
       |    CAST(CAST(round(exp((CAST(coalesce(sum_excess_e4, 0) AS DOUBLE)
       |      / CAST(greatest(coalesce(n_scored, 0), 1) AS DOUBLE))
       |      / 10000.0), 6)
       |      AS DECIMAL(14,6)) AS DOUBLE) AS boost
       |  FROM tok LEFT JOIN exs USING (source)
       |), wr AS (
       |  SELECT *, CAST(round((CAST(n_tokens AS DOUBLE)
       |      / CAST(tok_total AS DOUBLE)) * boost, 8) AS DECIMAL(18,8))
       |      AS w_raw
       |  FROM j
       |)
       |SELECT source, n_tokens, CAST(n_scored AS BIGINT) AS n_scored,
       |  sum_excess_e4,
       |  CAST((n_tokens * 10000) // tok_total AS BIGINT)
       |    AS baseline_share_bp,
       |  boost,
       |  CAST(CAST(round(CAST(w_raw AS DOUBLE)
       |    / CAST(CAST(sum(w_raw) OVER () AS DECIMAL(28,8)) AS DOUBLE), 6)
       |    AS DECIMAL(14,6)) AS DOUBLE) AS weight
       |FROM wr""".stripMargin
}
