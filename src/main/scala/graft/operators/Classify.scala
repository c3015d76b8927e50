package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns.sqlLowerTokens
import graft.sources.Corpus

/** TRAINED document classification (SURVEY.md §2 #38) — the supervised
  * complement of the heuristic `lang_id` profile gate: a multinomial
  * Naive Bayes classifier trained on the corpus's own labels, the exact
  * shape of the fastText-style classifiers production curation pipelines
  * train on seed corpora (CCNet's language filter, FineWeb-Edu's quality
  * classifier) reduced to closed-form counting so every number is exact
  * and oracle-checkable — no SGD, no RNG, no iteration.
  *
  * Math (add-one smoothing; class c, token t, doc d with per-token counts
  * cnt and length len_d = Σ cnt):
  *
  * {{{
  *   score(d,c) = ln P(c) + Σ_t cnt·ln(n_{c,t} + 1) − len_d·ln(n_c + V)
  * }}}
  *
  * expanded so the smoothed likelihood splits into a SPARSE term (only
  * OBSERVED (c,t) pairs contribute — ln(0+1) = 0 drops out) and a
  * class-constant normalizer applied per document in closed form. That
  * split is the whole scale story: the model is the sparse per-class
  * token-count table (the same size class as the corpus vocabulary, a
  * columnar artifact at 100 TB — never the dense vocab×class matrix), the
  * scoring join touches each doc token's ≤|classes| observed rows, and
  * the normalizer rides a |classes|-row broadcast.
  *
  * §6 float policy: ln values round to exact 4-dp decimals, so per-doc
  * sums are fold-order free; integer token counts multiply decimals
  * exactly; final scores surface as exact e4 BIGINTs and the argmax
  * compares integers with a lexicographic class tie-break — bit-identical
  * across engines.
  */
object Classify {

  /** Per-(doc, token) occurrence counts under the shared tokenizer —
    * the corpus-sized frame both training and scoring read; materialized
    * once per (session, corpus). */
  private def docTokenCounts(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "docTokenCounts") {
      // token arrays ride the shared tokenized-corpus frame
      // (TextAnalysis.lowerToks — the ONE lowerTokens pass per corpus)
      TextAnalysis.lowerToks(spark, dir)
        .select(col("doc_id"), col("lang"), explode(col("toks")).as("t"))
        .groupBy("doc_id", "lang", "t")
        .agg(count(lit(1)).as("cnt"))
    }

  /** Multinomial NB classification of every document against the model
    * trained on the corpus's own lang labels (self-training is the
    * demonstrator; a production run trains on a labeled seed corpus and
    * scores the crawl — same plan, two different input dirs). Output:
    * (doc_id, lang, pred_lang, score_e4) — the true label rides along so
    * [[nbConfusion]] and accuracy audits are projections. */
  def nbClassify(spark: SparkSession, dir: String): DataFrame =
    // the per-doc prediction frame is itself a per-corpus artifact (the
    // confusion census and any downstream gate read it), so it
    // materializes like the model: train+score runs once per corpus
    Materialized.frame(spark, dir, "nbClassify")(nbClassifyUncached(spark, dir))

  private def nbClassifyUncached(spark: SparkSession, dir: String): DataFrame = {
    val tc = docTokenCounts(spark, dir)
    // sparse model: observed (class, token) counts
    val ct = tc.groupBy(col("lang").as("c"), col("t"))
      .agg(sum(col("cnt")).as("n"))
    // class table: doc prior + token-mass normalizer (|classes| rows)
    val nDocs = Corpus.table(spark, dir, "documents").count()
    val vocab = tc.select("t").distinct().count()
    val cls = Corpus.table(spark, dir, "documents").groupBy(col("lang").as("c"))
      .agg(count(lit(1)).as("c_docs"))
      .join(ct.groupBy("c").agg(sum(col("n")).as("c_toks")), "c")
      .select(col("c"),
        round(log(col("c_docs").cast("double") / lit(nDocs.toDouble)), 4)
          .cast("decimal(18,4)").as("ln_prior"),
        round(log((col("c_toks") + lit(vocab)).cast("double")), 4)
          .cast("decimal(18,4)").as("ln_z"))
    // sparse per-(doc, class) likelihood term: only observed (c,t) rows
    val lnl = ct.select(col("c"), col("t"),
      round(log((col("n") + 1L).cast("double")), 4)
        .cast("decimal(18,4)").as("lnl"))
    val sparse = tc
      .join(lnl.hint("shuffle_hash"), "t")
      .groupBy(col("doc_id"), col("c"))
      .agg(sum(col("cnt") * col("lnl")).cast("decimal(28,4)").as("s_obs"))
    // every (doc, class) pair gets the closed-form base terms; the sparse
    // term joins in (absent ⇒ no vocabulary overlap with the class ⇒ 0).
    // Rooted at documents, not the token frame (ADVICE r10): a doc whose
    // text tokenizes to NOTHING still gets a row — len=0 makes the
    // normalizer term vanish and it scores on the class prior alone, so
    // "classification of every document" holds literally.
    val base = Corpus.table(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .join(tc.groupBy(col("doc_id")).agg(sum(col("cnt")).as("len")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("len"))
      .crossJoin(broadcast(cls))
    val scored = base
      .join(sparse, Seq("doc_id", "c"), "left")
      .select(col("doc_id"), col("lang"), col("c"),
        ((coalesce(col("s_obs"), lit(0).cast("decimal(28,4)"))
          + col("ln_prior") - col("len") * col("ln_z")) * lit(10000))
          .cast("long").as("score_e4"))
    // argmax: doc-keyed window, integer score desc, class-name tie-break
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score_e4").desc, col("c"))))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("c").as("pred_lang"),
        col("score_e4"))
  }
  /** Shared CTE chain of the NB model + per-doc scores. */
  private val nbCtes: String =
    s"""tc AS MATERIALIZED (
      |  SELECT doc_id, lang, g.t AS t, count(*) AS cnt
      |  FROM (SELECT doc_id, lang, ${sqlLowerTokens("text")} AS toks
      |    FROM documents),
      |    unnest(toks) AS g(t)
      |  GROUP BY 1, 2, 3
      |), ct AS MATERIALIZED (
      |  SELECT lang AS c, t, sum(cnt) AS n FROM tc GROUP BY 1, 2
      |), consts AS (
      |  SELECT (SELECT count(*) FROM documents) AS n_docs,
      |    (SELECT count(DISTINCT t) FROM tc) AS vocab
      |), cls AS MATERIALIZED (
      |  SELECT c,
      |    CAST(round(ln(CAST(c_docs AS DOUBLE) / n_docs), 4)
      |      AS DECIMAL(18,4)) AS ln_prior,
      |    CAST(round(ln(CAST(c_toks + vocab AS DOUBLE)), 4)
      |      AS DECIMAL(18,4)) AS ln_z
      |  FROM (SELECT lang AS c, count(*) AS c_docs FROM documents GROUP BY 1)
      |    JOIN (SELECT c, sum(n) AS c_toks FROM ct GROUP BY 1) USING (c)
      |    CROSS JOIN consts
      |), lnl AS (
      |  SELECT c, t,
      |    CAST(round(ln(CAST(n + 1 AS DOUBLE)), 4) AS DECIMAL(18,4)) AS lnl
      |  FROM ct
      |), sparse AS (
      |  SELECT doc_id, c, CAST(sum(cnt * lnl) AS DECIMAL(28,4)) AS s_obs
      |  FROM tc JOIN lnl USING (t) GROUP BY 1, 2
      |), base AS (
      |  SELECT d.doc_id, d.lang, coalesce(l.len, 0) AS len
      |  FROM documents d LEFT JOIN (
      |    SELECT doc_id, sum(cnt) AS len FROM tc GROUP BY 1) l USING (doc_id)
      |), scored AS MATERIALIZED (
      |  SELECT doc_id, lang, c,
      |    CAST((coalesce(s_obs, CAST(0 AS DECIMAL(28,4)))
      |      + ln_prior - len * ln_z) * 10000 AS BIGINT) AS score_e4
      |  FROM base CROSS JOIN cls
      |  LEFT JOIN sparse USING (doc_id, c)
      |), pred AS (
      |  SELECT doc_id, lang, c AS pred_lang, score_e4,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score_e4 DESC, c) AS rk
      |  FROM scored
      |)""".stripMargin
  val nbClassifySql: String =
    s"""WITH $nbCtes
       |SELECT doc_id, lang, pred_lang, score_e4 FROM pred WHERE rk = 1""".stripMargin

  /** Confusion matrix + per-cell share of the trained classifier against
    * the true labels — the audit that says whether the trained model even
    * beats the `lang_id` heuristic before anyone gates on it. |classes|²
    * rows, exact bp. */
  def nbConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = nbClassify(spark, dir)
    val total = pred.count()
    pred.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        graft.functions.TextFns.bp(col("n_docs"), lit(total)).as("share_bp"))
  }
  val nbConfusionSql: String =
    s"""WITH $nbCtes, p AS (
       |  SELECT doc_id, lang, pred_lang FROM pred WHERE rk = 1
       |), tot AS (SELECT count(*) AS n FROM p)
       |SELECT lang, pred_lang, count(*) AS n_docs,
       |  ${graft.functions.TextFns.sqlBp("count(*)", "(SELECT n FROM tot)")}
       |    AS share_bp
       |FROM p GROUP BY 1, 2""".stripMargin

  // ---- #38c trained logistic regression (discriminative complement) ------
  /** Hashed-feature LOGISTIC-REGRESSION classifier — the discriminative
    * complement of the generative NB above, and the actual shape of the
    * fastText-style quality/language gates big curation runs train
    * (CCNet, DCLM): binary label y = (lang == [[LrTargetLang]]), features
    * are RAW token counts hashed into [[LrBuckets]] buckets, trained by
    * [[LrRounds]] full-batch gradient-descent rounds. Reduced to a
    * DETERMINISTIC fixpoint so the spec can brute-force every number:
    *  - the per-doc margin is an EXACT decimal dot product — weights are
    *    6-dp decimals, counts are integers, and the decimal SUM is
    *    fold-order free (no IEEE accumulation anywhere distributed);
    *  - σ(margin) is computed per row (one Math.exp — row-local, not
    *    accumulated) and the residual σ−y is ROUNDED to a 6-dp decimal
    *    BEFORE the gradient sums, so each round's gradient is again an
    *    exact, order-free decimal aggregation;
    *  - the weight update runs driver-side in plain BigDecimal
    *    (w −= rate·g/N, HALF_UP at 6 dp) over the ≤[[LrBuckets]]+1-row
    *    collected gradient — the Lloyd/BPE bounded-collect pattern.
    *
    * Driver checks: `logreg_grad0` — the round-0 gradient direction per
    * bucket (σ(0)=1/2 exactly, so it is the class-split token mass, no
    * float anywhere) — is fully oracled; `logreg_train` (the weight
    * table) and `logreg_score` (per-doc probability + verdict) are
    * rows-only BY DESIGN (iterative fixpoint, the bpe_merges argument)
    * and brute-forced from scratch in ClassifySpec.
    *
    * Scale: per round ONE pass over the bucketed doc-feature frame
    * (corpus-bounded, materialized once) + a ≤65-row collect; scoring is
    * one broadcast join. */
  val LrBuckets = 64
  val LrRounds = 8
  val LrTargetLang = "en"
  val LrSalt = "lr"
  private val LrRate = BigDecimal("0.5")

  /** Per-(doc, y, bucket) integer feature counts — the frame training and
    * scoring read; materialized once per (session, corpus). */
  private def lrFeatures(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "lrFeatures") {
      docTokenCounts(spark, dir)
        .select(col("doc_id"),
          (col("lang") === LrTargetLang).cast("long").as("y"),
          pmod(graft.functions.TextFns.md5Long(
            concat(lit(LrSalt), lit("\u0001"), col("t"))),
            lit(LrBuckets.toLong)).as("b"),
          col("cnt"))
        .groupBy("doc_id", "y", "b").agg(sum(col("cnt")).as("cnt"))
    }

  /** Driver-contract query (oracled): the round-0 gradient direction per
    * hashed bucket — at w=0, σ=1/2 exactly, so the gradient is
    * (neg−pos)/2N per bucket: pure integer class-split token mass. */
  def logregGrad0(spark: SparkSession, dir: String): DataFrame =
    lrFeatures(spark, dir)
      .groupBy(col("b").as("bucket"))
      .agg(sum(when(col("y") === 1L, col("cnt")).otherwise(0L)).as("pos_toks"),
        sum(when(col("y") === 0L, col("cnt")).otherwise(0L)).as("neg_toks"))
      .select(col("bucket"), col("pos_toks").cast("long").as("pos_toks"),
        col("neg_toks").cast("long").as("neg_toks"),
        (col("neg_toks") - col("pos_toks")).cast("long").as("diff"))
  val logregGrad0Sql: String = {
    val b = graft.functions.TextFns.sqlMd5Long(
      s"concat('$LrSalt', chr(1), t)") + s" % $LrBuckets"
    s"""WITH tok AS (
       |  SELECT doc_id, CASE WHEN lang = '$LrTargetLang' THEN 1 ELSE 0 END
       |    AS y, $b AS bucket
       |  FROM documents d, unnest(${sqlLowerTokens("d.text")}) AS g(t)
       |)
       |SELECT bucket,
       |  CAST(sum(y) AS BIGINT) AS pos_toks,
       |  CAST(sum(1 - y) AS BIGINT) AS neg_toks,
       |  CAST(sum(1 - y) - sum(y) AS BIGINT) AS diff
       |FROM tok GROUP BY 1""".stripMargin
  }

  /** The trained weight vector (bias at index −1), cached per (session,
    * corpus). */
  private[graft] def lrTrainedWeights(spark: SparkSession,
      dir: String): Map[Long, BigDecimal] =
    Materialized.value(spark, dir, "lrTrainedWeights") {
      val feats0 = lrFeatures(spark, dir)
      val n = feats0.select("doc_id").distinct().count()
      val nFeats = feats0.count()
      // the GD rounds are a bounded fixpoint over the bucketed feature
      // frame — run them under the iterative-loop execution profile
      // (Scale.loop; see Dedup.pagerankOn) and checkpoint each
      // round's residuals so the two gradient reads share one compute
      Scale.loop(spark, roundLiterals = true) { lp =>
      lp.sized(nFeats)
      val feats = lp.checkpoint(lp.rebind(feats0))
      var w: Map[Long, BigDecimal] =
        ((-1L) +: (0L until LrBuckets.toLong)).map(_ -> BigDecimal(0)).toMap
      // empty corpus: zero weights, zero rounds (a `return` here would be
      // a NonLocalReturnControl throw through the store — uncached)
      for (_ <- 1 to (if (n == 0) 0 else LrRounds)) {
        val resid = lp.checkpoint(lrResiduals(feats, w))
        // gradient: exact decimal sums over the rounded residuals. ONE
        // collect per round (r14; VERDICT r13 candidate #5): the bias
        // gradient rides the same aggregation as the per-bucket gradients
        // through a sentinel b = −1 union leg — both legs re-read the
        // checkpointed residuals, and the decimal sums are identical to
        // the former two-job formulation (exact decimals, lossless widen).
        val gAll = resid.join(feats, Seq("doc_id"))
          .select(col("b"),
            (col("resid") * col("cnt")).cast("decimal(38,6)").as("t"))
          .unionAll(resid.select(lit(-1L).as("b"),
            col("resid").cast("decimal(38,6)").as("t")))
          .groupBy(col("b"))
          .agg(sum(col("t")).as("g"))
          .collect().map(r => r.getLong(0) ->
            BigDecimal(r.getDecimal(1))).toMap
        w = w.map { case (b, wb) =>
          val g = gAll.getOrElse(b, BigDecimal(0))
          b -> (wb - (LrRate * g / n)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }
      }
      w
      }
    }

  /** Per-doc 6-dp residual σ(margin)−y under weight map `w`: the margin is
    * an exact decimal dot product; only σ touches a double, row-locally. */
  private def lrResiduals(feats: DataFrame,
      w: Map[Long, BigDecimal]): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val wDf = broadcast(w.toSeq.filter(_._1 >= 0)
      .map { case (b, v) => (b, v.underlying()) }
      .toDF("b", "wb")
      .select(col("b"), col("wb").cast("decimal(12,6)").as("wb")))
    val bias = w(-1L)
    feats.join(wDf, Seq("b"))
      .groupBy(col("doc_id"), col("y"))
      .agg((sum(col("wb") * col("cnt")).cast("decimal(28,6)")
        + lit(bias.underlying()).cast("decimal(28,6)")).as("m"))
      .select(col("doc_id"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("m").cast("double")))
          - col("y").cast("double"), 6).cast("decimal(12,6)").as("resid"))
  }

  /** Driver-contract query (rows-only): the trained weight table —
    * bucket (−1 = bias) and the exact-e6 weight. */
  def logregTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lrTrainedWeights(spark, dir).toSeq.sortBy(_._1)
      .map { case (b, v) => (b, (v * 1000000).toLongExact) }
      .toDF("bucket", "weight_e6")
  }

  /** Driver-contract query (rows-only): per-doc probability under the
    * trained model + the keep verdict — the gate a production run ships.
    * score is the 6-dp-pinned σ(margin); pred = score ≥ 1/2. */
  def logregScore(spark: SparkSession, dir: String): DataFrame = {
    val w = lrTrainedWeights(spark, dir)
    val spark2 = spark
    import spark2.implicits._
    val wDf = broadcast(w.toSeq.filter(_._1 >= 0)
      .map { case (b, v) => (b, v.underlying()) }
      .toDF("b", "wb")
      .select(col("b"), col("wb").cast("decimal(12,6)").as("wb")))
    lrFeatures(spark, dir).join(wDf, Seq("b"))
      .groupBy(col("doc_id"), col("y"))
      .agg((sum(col("wb") * col("cnt")).cast("decimal(28,6)")
        + lit(w(-1L).underlying()).cast("decimal(28,6)")).as("m"))
      .select(col("doc_id"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("m").cast("double"))), 6)
          .cast("decimal(12,6)").cast("double").as("score"))
      .withColumn("pred", (col("score") >= 0.5).cast("long"))
  }

  /** Driver-contract query (rows-only — reads the GD fixpoint): the
    * binary-classifier evaluation card — confusion counts on the training
    * corpus plus exact-bp precision, recall and F1 (β=1, computed as one
    * integral division of exact integers: 2·tp·10⁴ / (2·tp + fp + fn)).
    * ONE row; the audit that says whether the trained gate beats the
    * base rate before anyone ships it. */
  def logregEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    logregScore(spark, dir)
      // coalesce: sum() over the EMPTY score frame (empty / token-less
      // corpus) is NULL — the card must degrade to an all-zero row like
      // the zero-round training path, not NPE a Long-reading consumer
      // (ADVICE r11).
      .agg(coalesce(sum(when(col("y") === 1L && col("pred") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("y") === 0L && col("pred") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(col("y") === 1L && col("pred") === 0L, 1L)
          .otherwise(0L)), lit(0L)).as("fn"),
        coalesce(sum(when(col("y") === 0L && col("pred") === 0L, 1L)
          .otherwise(0L)), lit(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        intDiv(col("tp") * lit(10000L),
          greatest(col("tp") + col("fp"), lit(1L))).as("precision_bp"),
        intDiv(col("tp") * lit(10000L),
          greatest(col("tp") + col("fn"), lit(1L))).as("recall_bp"),
        intDiv(col("tp") * lit(20000L),
          greatest(col("tp") * 2 + col("fp") + col("fn"), lit(1L)))
          .as("f1_bp"))
  }

  /** Driver-contract query (rows-only — reads the GD fixpoint): the
    * reliability (calibration) curve — per score decile, how many docs
    * land there and what fraction is actually positive (exact bp). A
    * well-calibrated gate has pos_bp tracking the decile; a cliff means
    * the 1/2 threshold is in the wrong place. Scores are 6-dp-pinned so
    * the decile assignment is engine-stable; score 1.0 folds into the
    * top decile. One ≤10-key aggregation over the score frame. */
  def logregCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    logregScore(spark, dir)
      .select(least(floor(col("score") * 10).cast("long"), lit(9L))
        .as("decile"), col("y"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
      .select(col("decile"), col("n_docs"), col("n_pos").cast("long")
        .as("n_pos"),
        intDiv(col("n_pos") * lit(10000L), col("n_docs")).as("pos_bp"))
  }
}
