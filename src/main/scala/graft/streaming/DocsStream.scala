package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns._

/** Structured Streaming twins of the batch text-pipeline operators: the
  * curation stages an ingest-time pipeline applies to an unbounded document
  * feed. Input is any streaming DataFrame with (doc_id, text, ingest_ts as
  * TIMESTAMP event time).
  *
  * The column expressions are the SAME codegen'd projections the batch
  * operators use (quality ratios from TextAnalysis, sha-256 exact-dup key
  * from Dedup) — batch/stream unification is the point: one definition of
  * "quality" and "duplicate", two execution modes. State: dedup state is
  * bounded by the watermark horizon; the filter is stateless.
  */
object DocsStream {

  val MinTokens = 5
  /** 0.7 in exact basis points (§6 float policy — gates never read a
    * round(DOUBLE) value). */
  val MaxStopwordBp = 7000L

  /** Stateless quality gate: the streaming twin of
    * TextAnalysis.qualityScore's ratios, applied as an ingest filter. */
  def qualityFilter(docs: DataFrame): DataFrame = {
    val nTokens = wsTokenCount(col("text")).cast("long")
    val nStop = size(filter(lowerTokens(col("text")),
      t => t.isin(Stopwords: _*))).cast("long")
    docs
      .withColumn("n_tokens", nTokens)
      .withColumn("stopword_bp", bp(nStop, greatest(nTokens, lit(1L))))
      .where(col("n_tokens") >= MinTokens
        && col("stopword_bp") <= MaxStopwordBp)
  }

  /** Streaming exact dedup on the content hash (Dedup.dedupExact's key):
    * a re-ingested identical document within the watermark horizon is
    * dropped. State is keyed by the 32-byte hash, expired by watermark. */
  def dedupByContent(docs: DataFrame): DataFrame =
    docs
      .withColumn("text_hash", sha2(col("text"), 256))
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("text_hash")

  /** Ingest-time decontamination: drop any streamed document sharing a
    * word k-gram with the probe set (the eval benchmark). The probe set is
    * bounded by benchmark size, so it ships to executors as a literal
    * array and the gate is a stateless row-local filter — each doc builds
    * its own grams in-row and tests overlap; nothing joins, nothing
    * shuffles. The k and gram construction are Curation.decontaminate's,
    * so batch audits and the ingest gate cannot disagree on what
    * "contaminated" means. */
  def decontaminationGate(docs: DataFrame, probeGrams: Seq[String]): DataFrame = {
    val k = graft.operators.Curation.ContamK
    // WordGrams emits an empty array below k tokens, matching the batch
    // gram construction exactly (identical strings, so batch ≡ stream).
    // A null text has null toks, so null grams: as no grams the doc passes,
    // just as batch `decontaminate`, which never flags it, keeps it
    val grams = coalesce(org.apache.spark.sql.graft.WordGrams(col("toks"), k),
      array().cast("array<string>"))
    docs
      .withColumn("toks", lowerTokens(col("text")))
      .where(!arrays_overlap(grams, lit(probeGrams.toArray)))
      .drop("toks")
  }

  /** Stateless Gopher-rule gate: the streaming twin of
    * `Curation.gopherFilters`'s keep flag, applied as an ingest filter.
    * The predicate is the SAME Column expression the batch query derives
    * its signals from (`Curation.gopherKeepIn`) — one definition of the
    * heuristic gate, two execution modes; no state, no shuffle. */
  def gopherGate(docs: DataFrame): DataFrame = {
    val t = lowerTokens(col("text"))
    docs.withColumn("__t", t)
      .where(size(col("__t")) > 0 && graft.operators.Curation.gopherKeepIn(col("__t")))
      .drop("__t")
  }

  /** Ingest-time stratified mix gate: the streaming twin of
    * `Curation.sampleStratified`. Per-stratum keep-rates are learned from a
    * reference corpus (a batch job — rates can't be computed on an unbounded
    * stream) and applied as the SAME deterministic md5 threshold, so the
    * batch sampler and the ingest gate keep exactly the same documents.
    * The rate table is |strata| rows: a stream-static broadcast join, then
    * a stateless row-local filter — no state, no shuffle. */
  def mixGate(docs: DataFrame, rates: DataFrame): DataFrame = {
    val m = graft.operators.Curation.StratModulus
    docs.join(broadcast(rates), "lang")
      .where(pmod(md5Long(col("doc_id").cast("string")), lit(m))
        < col("keep_below"))
  }

  /** The per-lang keep-rate table `mixGate` consumes, derived from a static
    * reference corpus with the batch sampler's arithmetic. */
  def mixRates(reference: DataFrame): DataFrame = {
    val m = graft.operators.Curation.StratModulus
    val counts = reference.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val minc = counts.agg(min(col("n_lang")).as("min_lang"))
    // `div`, not `/`: integral, matching the batch sampler and its oracle
    counts.crossJoin(broadcast(minc)).select(col("lang"),
      expr(s"(min_lang * $m) div n_lang").as("keep_below"))
  }

  /** mT5 α-sampling as an ingest gate: per-language keep rates learned
    * from a static reference corpus with `mix_temperature`'s exact integer
    * arithmetic (a batch job — tempered shares can't be computed on an
    * unbounded stream), applied to the stream as the SAME salted md5
    * uniform, so the gate keeps exactly the documents the batch sampler
    * keeps. Stream-static broadcast join on the ≤|langs|-row rate table +
    * a stateless row-local filter — no state, no shuffle (the mixGate
    * pattern; this one flattens toward the α=0.5 target instead of
    * equalizing to the minimum stratum). */
  def temperatureGate(docs: DataFrame, keeps: DataFrame): DataFrame =
    docs.join(broadcast(keeps.select(col("lang"), col("keep_bp"))), "lang")
      .where(graft.operators.Selection.temperatureKeepCond)

  /** The rate table `temperatureGate` consumes, derived from a static
    * reference corpus with the batch sampler's arithmetic. */
  def temperatureRates(reference: DataFrame): DataFrame =
    graft.operators.Selection.temperatureKeeps(reference)

  /** Drop documents more than half of whose segments are already in the
    * standing corpus (exact basis points — §6). */
  val SeenGateMaxBp = 5000L

  /** The trained Bloom blob `segmentSeenGate` applies: the standing
    * corpus's segment hashes aggregated into one binary filter — the same
    * BloomFilterAggregate the batch `dedup_bloom` probe builds, collected
    * because it is a bounded trained artifact, exactly like the
    * vocabulary and mix-rate tables.
    *
    * SIZE THE FILTER TO THE CORPUS: unlike the batch operator there is no
    * exact confirm join downstream, so an undersized filter doesn't just
    * cost extra work — its false positives inflate every seen-count and
    * can silently drop novel documents. Defaults fit ≤ ~1M segment hashes
    * at ~2% fpp (2^23 bits ≈ 8.4 bits/key); pass the corpus's measured
    * segment cardinality (and ~10 bits/key) beyond that. */
  def segmentBloom(reference: DataFrame,
      expectedItems: Long = graft.operators.Dedup.BloomItems,
      numBits: Long = graft.operators.Dedup.BloomBits): Array[Byte] = {
    import org.apache.spark.sql.graft.Bloom
    val segs = reference
      .withColumn("toks", lowerTokens(col("text")))
      .where(size(col("toks")) >= 1)
      .select(explode(graft.operators.Curation.segHashArr).as("sh"))
    segs.agg(Bloom.bloomAgg(col("sh"), expectedItems, numBits)
      .as("bf")).collect()(0).getAs[Array[Byte]](0)
  }

  /** Ingest-time near-duplicate gate: drop a streamed document when too
    * many of its segments are already in the standing corpus's Bloom
    * filter. Segment boundaries and hashing are `Curation.segHashArr` —
    * the batch `dedup_bloom` audit and this gate cannot disagree on what a
    * "seen segment" is. The blob ships as a literal (might_contain
    * requires a constant filter side); membership is a row-local array
    * scan, so the stage has no state and no shuffle.
    *
    * Honest semantics note: unlike the batch operator, the feed gate has
    * no exact confirm join, so the filter's ~1% false-positive rate leaks
    * into the seen-count — acceptable for a keep/drop threshold at 50%,
    * and the price of a stateless one-pass gate; the batch audit stays
    * exact. */
  def segmentSeenGate(docs: DataFrame, bloomBlob: Array[Byte],
      maxSeenBp: Long = SeenGateMaxBp): DataFrame = {
    import org.apache.spark.sql.graft.Bloom
    val blob = lit(bloomBlob)
    docs
      .withColumn("toks", lowerTokens(col("text")))
      .where(size(col("toks")) >= 1)
      .withColumn("__sh", graft.operators.Curation.segHashArr)
      .withColumn("n_segments", size(col("__sh")).cast("long"))
      .withColumn("n_seen", size(filter(col("__sh"),
        h => Bloom.mightContain(blob, h))).cast("long"))
      .withColumn("seen_bp", bp(col("n_seen"), col("n_segments")))
      .where(col("seen_bp") <= maxSeenBp)
      .drop("toks", "__sh")
  }

  /** Keep documents whose out-of-vocabulary rate is at most 20% (exact
    * basis points — §6). */
  val OovGateMaxBp = 2000L

  /** The trained vocabulary the OOV gate applies: top-k terms of a static
    * reference corpus by (freq DESC, term) — the same selection arithmetic
    * as `TextAnalysis.oovStats`, collected to a driver-side list because it
    * is a bounded trained artifact (k rows), exactly like the mix-rate
    * table above. */
  def oovVocab(reference: DataFrame, k: Int): Seq[String] =
    reference
      .select(explode(lowerTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)
      .select("term").collect().map(_.getString(0)).toSeq

  /** Stateless OOV gate: the streaming twin of `TextAnalysis.oovStats` as
    * an ingest filter — documents the trained vocabulary under-serves
    * (high out-of-vocabulary rate) are dropped at the feed. The vocabulary
    * ships as a literal array (bounded, trained offline); membership is a
    * row-local array scan, so the stage has no state and no shuffle. Same
    * integer basis-point arithmetic as the batch operator. */
  def oovGate(docs: DataFrame, vocab: Seq[String],
      maxOovBp: Long = OovGateMaxBp): DataFrame = {
    val vocabArr = typedLit(vocab)
    docs
      .withColumn("__t", lowerTokens(col("text")))
      .where(size(col("__t")) >= 1)
      .withColumn("n_tokens", size(col("__t")).cast("long"))
      .withColumn("n_oov", size(filter(col("__t"),
        t => !array_contains(vocabArr, t))).cast("long"))
      .withColumn("oov_bp", bp(col("n_oov"), col("n_tokens")))
      .where(col("oov_bp") <= maxOovBp)
      .drop("__t")
  }

  /** The fitted DSIR importance model the gate below applies: one smoothed
    * target-vs-raw log-likelihood ratio per hashed-unigram bucket, trained
    * on a static reference corpus with `Selection.dsirModel`'s exact math
    * and densified to a [[graft.operators.Selection.DsirBuckets]]-slot
    * vector — a bounded trained artifact shipped as a literal, the
    * mixRates/oovVocab discipline. */
  def dsirLrTable(spark: org.apache.spark.sql.SparkSession,
      referenceDir: String): Seq[Double] = {
    val m = graft.operators.Selection.dsirModel(spark, referenceDir).toMap
    (0 until graft.operators.Selection.DsirBuckets)
      .map(b => m.getOrElse(b.toLong, 0.0))
  }

  /** A TRAINED keep threshold for [[dsirGate]]: the reference corpus's
    * exact (1 − keepFrac)-quantile of per-document DSIR weights, so the
    * gate admits ~the top keepFrac of reference-like traffic. Train this,
    * don't default to 0.0 on real corpora: the raw-frequency-weighted mean
    * of log(p_target/p_raw) is −KL(p_raw‖p_target) ≤ 0, so absolute
    * weights skew negative everywhere and only a RELATIVE cut selects
    * (the same insight behind selected_corpus's top-k membership). At
    * 100 TB: `approx_percentile` or a sampled fit, the
    * quality_percentile_gate discipline. */
  def dsirThreshold(spark: org.apache.spark.sql.SparkSession,
      referenceDir: String, keepFrac: Double = 0.25): Double =
    graft.operators.Selection.dsirWeights(spark, referenceDir)
      .agg(expr(s"percentile(llr, ${1.0 - keepFrac})")).collect()(0)
      .getDouble(0)

  /** Stateless DSIR importance gate: keep documents whose hashed-unigram
    * LLR weight (how much more target-like than raw-like the doc reads) is
    * at least `minLlr` — the streaming twin of `Selection.dsirWeights`
    * plus a threshold, as an ingest filter. Pass a [[dsirThreshold]]-
    * trained cut for real corpora (0.0 is the neutral "more target than
    * raw" default, which −KL skew makes strict in practice). The weight is
    * a row-local fold of exact 4-dp decimals over the token array, so it
    * equals the batch join+sum bit-for-bit (same rounded values, and exact
    * decimals make the fold order irrelevant); no state, no shuffle, no
    * explode. */
  def dsirGate(docs: DataFrame, lr: Seq[Double],
      minLlr: Double = 0.0): DataFrame = {
    // same codegen'd scorer as the batch operator (exact e4 integer units)
    val lrE4 = typedLit(lr.map(v =>
      (scala.math.BigDecimal(v) * 10000).toLongExact))
    docs
      .withColumn("__t", lowerTokens(col("text")))
      .where(size(col("__t")) >= 1)
      .withColumn("llr",
        org.apache.spark.sql.graft.DsirLlrE4(col("__t"), lrE4)
          .cast("double") / lit(10000.0))
      .where(col("llr") >= minLlr)
      .drop("__t")
  }

  /** Stateless chunk stage: the streaming twin of
    * `Curation.chunkDocuments` — surviving documents fan out into the
    * overlapping training windows downstream consumers read. Constants and
    * arithmetic are the batch operator's, so a document chunks identically
    * whether it arrived in a batch or on the feed. Row-local flatMap shape
    * (explode), no state, no shuffle. */
  def chunkStage(docs: DataFrame): DataFrame = {
    val (len, stride) =
      (graft.operators.Curation.ChunkLen, graft.operators.Curation.ChunkStride)
    docs
      .withColumn("__t", lowerTokens(col("text")))
      .where(size(col("__t")) >= 1)
      .withColumn("__n", size(col("__t")))
      .withColumn("chunk_idx",
        explode(expr(s"sequence(0, CASE WHEN __n > $len THEN " +
          s"((__n - $len + $stride - 1) div $stride) ELSE 0 END)")))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .withColumn("__ct", expr(s"slice(__t, chunk_idx * $stride + 1, $len)"))
      .withColumn("n_tokens", size(col("__ct")).cast("long"))
      .withColumn("chunk_md5", md5(concat_ws(" ", col("__ct"))))
      .drop("__t", "__n", "__ct")
  }

  case class PackOut(doc_id: Long, bucket: Long, n_tokens: Long,
                     seq_first: Long, seq_last: Long, tok_offset: Long)

  /** Ingest-time sequence packing: the streaming twin of
    * `Curation.packSequences` — each arriving document is appended to its
    * md5 bucket's token stream and assigned its packed-sequence placement
    * with the SAME integer arithmetic as the batch operator. State is ONE
    * running token count per bucket (PackBuckets longs total — bounded by
    * configuration, not traffic). Docs are ordered by doc_id within each
    * micro-batch, so a single-batch replay is bit-identical to the batch
    * query (replay-spec-asserted); across micro-batches the stream packs
    * in arrival order, which is what continuous training-data prep does. */
  def packStage(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[PackOut] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val L = graft.operators.Curation.PackLen
    val withTok = docs
      .withColumn("n_tokens", wsTokenCount(col("text")).cast("long"))
      .where(col("n_tokens") > 0)
      .withColumn("bucket", pmod(md5Long(col("doc_id").cast("string")),
        lit(graft.operators.Curation.PackBuckets)))
      .select(col("doc_id").cast("long"), col("bucket"), col("n_tokens"))
      .as[(Long, Long, Long)]
    def fn(bucket: Long, it: Iterator[(Long, Long, Long)],
           state: org.apache.spark.sql.streaming.GroupState[Long]): Iterator[PackOut] = {
      var cum = state.getOption.getOrElse(0L)
      val out = it.toSeq.sortBy(_._1).map { case (id, _, n) =>
        val o = PackOut(id, bucket, n, cum / L, (cum + n - 1) / L, cum % L)
        cum += n
        o
      }
      state.update(cum)
      out.iterator
    }
    withTok.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Per-host admission cap — the streaming twin of
    * [[graft.operators.Curation.sourceCap]]'s domain cap, applied at ingest:
    * admit at most `capN` documents per host across the stream's LIFETIME
    * (checkpointed `GroupState[Long]` = admitted-so-far; a restart resumes
    * the count, so a crawler that keeps dropping WARCs from an SEO farm is
    * cut off durably, not per-batch). Within a micro-batch admission is
    * doc_id-ordered for determinism. State is one Long per host —
    * millions of hosts ≈ megabytes of state, nothing like the corpus.
    * Input needs (doc_id, host, text); pair with
    * [[graft.sources.WarcSource.hostCol]] for WARC feeds. */
  def hostCapGate(docs: DataFrame, capN: Long): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val keyed = docs
      .select(col("doc_id").cast("long"), col("host").cast("string"),
        col("text").cast("string"))
      .as[(Long, String, String)]
    def fn(host: String, it: Iterator[(Long, String, String)],
           state: org.apache.spark.sql.streaming.GroupState[Long])
        : Iterator[(Long, String, String)] = {
      val admitted = state.getOption.getOrElse(0L)
      val room = math.max(capN - admitted, 0L)
      val out = it.toSeq.sortBy(_._1).take(
        math.min(room, Int.MaxValue.toLong).toInt)
      state.update(admitted + out.length)
      out.iterator
    }
    keyed.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF("doc_id", "host", "text")
  }

  /** URL/domain blocklist admission gate — the streaming twin of
    * [[graft.sources.WarcSource.urlFilter]] (the C4/RefinedWeb badlist
    * filter every production crawl runs FIRST). Stateless and map-only:
    * the blocklist rides as a literal array inside codegen, so blocked
    * hosts are dropped at the scan before any stateful operator (quality,
    * dedup, host cap) holds a byte for them. Input needs a `url` column;
    * batch≡stream by construction since both call the same expression
    * (locked by spec). */
  def urlBlockGate(docs: DataFrame,
      blocklist: Seq[String] = graft.sources.WarcSource.UrlBlocklist): DataFrame =
    graft.sources.WarcSource.urlFilter(docs, blocklist)

  /** Stateless C4 content gate — the streaming twin of the batch
    * `c4_line_filters` (Raffel et al. 2020 §2.2): the SAME row-local
    * expression chain (terminal-punctuation / min-words / banned-phrase
    * line rules, lorem-ipsum / brace / few-sentences doc gates), so
    * batch≡stream by construction (spec-locked). Kept documents flow on
    * with their FILTERED text; map-only, composes anywhere before the
    * stateful stages. */
  def c4Gate(docs: DataFrame): DataFrame =
    graft.operators.Curation.c4GateOf(docs)

  /** Stateless word-blocklist gate — the streaming twin of the batch
    * `word_blocklist_gate` (the C4 bad-words doc rule): the SAME row-local
    * token-membership expression
    * ([[graft.operators.Curation.blocklistGateOf]]), so batch≡stream by
    * construction (spec-locked keep sets). Map-only; composes anywhere
    * before the stateful stages. */
  def blocklistGate(docs: DataFrame): DataFrame =
    graft.operators.Curation.blocklistGateOf(docs)

  /** Per-host RESOLVED robots rule sets for one agent — the batch
    * artifact [[robotsGateStage]] consumes (robots fetches are a separate
    * slow loop; a stream can't aggregate the rule table itself): RFC 9309
    * group selection via the SHARED
    * [[graft.sources.WarcSource.effectiveRules]] (one definition —
    * batch≡stream by construction, incl. the empty-specific-group and
    * wildcard-pattern semantics), rules packed into ONE array per host
    * sorted by (rule length desc, Allow first) — precedence becomes
    * first-match, so the stream side needs no aggregation. Host-bounded. */
  def robotsRuleSets(rules: DataFrame, agent: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.sources.WarcSource.effectiveRules(rules, agent)
      .groupBy(col("host"))
      .agg(array_sort(collect_list(struct(
        negate(length(col("prefix"))).as("nl"),
        when(col("rule") === "allow", 0).otherwise(1).as("ro"),
        col("rule").as("rule"), col("prefix").as("prefix"),
        col("pattern").as("pattern"))))
        .as("rules"))
  }

  /** Ingest-time robots.txt compliance gate — the streaming twin of the
    * batch `robots_gate`, with IDENTICAL verdicts by construction
    * (spec-locked keep sets): the resolved per-host rule array joins
    * stream-static on the host key (host-bounded — a plain equi-join,
    * deliberately NOT a broadcast: 10⁸ domains are not a mixGate rate
    * table), and precedence is a row-local FIRST-MATCH over the
    * pre-sorted array under the same precompiled §2.2.3 wildcard
    * patterns (longest rule, Allow on ties — the ordering is baked into
    * the artifact). No rules row / no matching rule ⇒ allowed.
    * Stateless: join + filter, no aggregation. */
  def robotsGateStage(docs: DataFrame, ruleSets: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // fragment stripped like the batch twin (ADVICE r12, hardened r13
    // review): from the URL BEFORE path extraction — a path-less
    // hash-routing URL would otherwise leak its fragment into the path
    val path = coalesce(nullif(regexp_extract(
      regexp_replace(col("url"), "#.*$", ""),
      "^[A-Za-z]+://[^/]+(/.*)?$", 1), lit("")), lit("/"))
    // get(), not [0]: ANSI mode throws on indexing an EMPTY filtered array
    val firstMatch = expr(
      "get(filter(rules, r -> regexp_like(__path, r.pattern)), 0)")
    docs
      .withColumn("__host",
        graft.sources.WarcSource.hostCol(col("url")))
      .withColumn("__path", path)
      .join(ruleSets.withColumnRenamed("host", "__host"),
        Seq("__host"), "left")
      .where(col("rules").isNull || firstMatch.isNull
        || firstMatch.getField("rule") === "allow")
      .drop("__host", "__path", "rules")
  }

  /** Stateless quality-ensemble gate — the streaming twin of the batch
    * `quality_ensemble` majority vote (Gopher + C4 + hashed classifier,
    * the SAME three row-local expressions), so batch≡stream by
    * construction (spec-locked keep sets). Map-only. */
  def ensembleGate(docs: DataFrame): DataFrame =
    graft.operators.Curation.ensembleGateOf(docs)

  /** Stateless repetition gate — the deflate compression-ratio tripwire
    * (`compression_*` family) at ingest: drop docs whose zlib ratio falls
    * below `Curation.CompressionMinBp`. The SAME row-local
    * [[org.apache.spark.sql.graft.DeflateLen]] predicate as the batch
    * gate, so batch≡stream by construction (spec-locked keep sets).
    * Map-only. */
  def compressionGateStage(docs: DataFrame): DataFrame =
    graft.operators.Curation.compressionGateOf(docs)

  /** Stateless encoding-damage quarantine — the streaming twin of
    * `mojibake_stats`' artifact classes as a drop rule (any U+FFFD /
    * double-encode face / C0 control drops the doc). Map-only,
    * batch≡stream by construction (spec-locked). */
  def mojibakeGate(docs: DataFrame): DataFrame =
    graft.operators.Curation.mojibakeGateOf(docs)

  /** Stateless encoding REPAIR — the streaming twin of `fix_mojibake`:
    * heal CP1252 double-encoding in-flight instead of quarantining
    * (run BEFORE [[mojibakeGate]] so only unrepairable damage drops).
    * Map-only codegen'd builtins, batch≡stream by construction. */
  def mojibakeRepairStage(docs: DataFrame): DataFrame =
    graft.operators.Curation.fixMojibakeStage(docs)

  /** Stateless TRAINED-classifier gate — the streaming twin of the batch
    * `logreg_score` verdict: score each arriving document under the
    * batch-trained weight table (passed in, like [[mixGate]]'s rates —
    * training is a batch job; a stream can't see the corpus) and keep
    * docs the batch would keep: pred = round(σ(margin), 6dp) ≥ 1/2 —
    * the SAME rounded-sigmoid threshold `logreg_score.pred` applies, not
    * the raw margin ≥ 0 (HALF_UP at 6 dp maps margins of −1e-6/−2e-6 to
    * σ = 0.500000, which the batch KEEPS — thresholding on the raw
    * margin would drop them and drift the keep set). The margin folds
    * EXACTLY as the batch does — per-token 6-dp decimal weight lookups
    * summed in a decimal accumulator (order-free by exactness) — so the
    * keep set cannot drift from `logreg_score.pred` (spec-locked
    * including the σ-rounds-to-exactly-0.5 boundary). Tokenless docs
    * score on the bias alone here; the batch frame omits them (it is
    * keyed by the feature frame) — documented asymmetry. Map-only. */
  def classifierGate(docs: DataFrame,
      weights: Map[Long, BigDecimal]): DataFrame = {
    import org.apache.spark.sql.functions._
    val bs = weights.filter(_._1 >= 0).toSeq.sortBy(_._1)
    val wMap = map_from_arrays(
      array(bs.map(b => lit(b._1)): _*),
      array(bs.map(b =>
        lit(b._2.underlying()).cast("decimal(12,6)")): _*))
    val toks = lowerTokens(col("text"))
    val margin = aggregate(toks,
      lit(weights(-1L).underlying()).cast("decimal(28,6)"),
      // decimal + widens to (29,6); the accumulator lambda must return
      // the accumulator type, so narrow back (magnitudes are ~1e3 —
      // nowhere near 28-digit overflow)
      // coalesce: a bucket ABSENT from the weights map must contribute 0
      // — the batch logreg_score inner-joins features to the weight
      // table, so an unknown bucket adds nothing there; without the guard
      // element_at yields NULL, NULL-poisons the whole margin and
      // silently DROPS the doc (keep-set drift for any caller passing a
      // pruned weight map).
      (acc, t) => (acc + coalesce(element_at(wMap,
        pmod(graft.functions.TextFns.md5Long(concat(
          lit(graft.operators.Classify.LrSalt), lit("\u0001"), t)),
          lit(graft.operators.Classify.LrBuckets.toLong))),
        lit(java.math.BigDecimal.ZERO).cast("decimal(12,6)"))
        .cast("decimal(28,6)")).cast("decimal(28,6)"))
    docs.where(
      round(lit(1.0) / (lit(1.0) + exp(-margin.cast("double"))), 6)
        >= lit(0.5))
  }

  /** Stateless PII-redaction stage — the streaming twin of `redact_pii`'s
    * rewrite (emails → &lt;EMAIL&gt;, long digit runs → &lt;NUM&gt;, the
    * SAME two regexes): documents flow on with redacted text. Map-only
    * projection, batch≡stream by construction (spec-locked against the
    * batch operator's redacted_md5). */
  def redactStage(docs: DataFrame): DataFrame =
    docs.withColumn("text", org.apache.spark.sql.functions.regexp_replace(
      org.apache.spark.sql.functions.regexp_replace(
        org.apache.spark.sql.functions.col("text"),
        graft.operators.TextAnalysis.EmailRe, "<EMAIL>"),
      graft.operators.TextAnalysis.LongDigitsRe, "<NUM>"))

  /** Stateless Gopher REPETITION gate — the streaming twin of the batch
    * `gopher_repetition_gate` (drop a document when any n-gram grain
    * exceeds its A1 threshold). The per-grain masses fold row-locally
    * (the same shared expression as the batch operator), so the gate is
    * a pure filter: no state, no shuffle, batch≡stream by construction
    * (spec-locked keep sets). */
  def gopherRepGate(docs: DataFrame): DataFrame =
    graft.operators.Curation.gopherRepGateOf(docs)

  /** Stateless within-doc repeated-line trim — the streaming twin of
    * [[graft.operators.Curation.trimRepeatedLines]]. A document's lines
    * all live in its own row, so the first-occurrence filter is ROW-LOCAL
    * array math (no state, no shuffle — composes anywhere in the ingest
    * chain): keep line i iff it doesn't appear among lines 0..i-1.
    * Quadratic in the doc's own line count, which a stream's per-document
    * admission sizes bound; the batch operator uses the hash-window shape
    * instead so a pathological million-line document can't pin one task.
    * Equality with the batch rebuild is spec-locked. */
  def lineTrimStage(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n", -1)
    val kept = filter(lines, (x, i) =>
      when(i === 0, lit(true))
        .otherwise(array_position(slice(lines, lit(1), i), x) === lit(0)))
    docs.withColumn("text", array_join(kept, "\n"))
  }

  /** The composed ingest pipeline: quality gate → content dedup — what a
    * training-data feed runs before documents reach the corpus store.
    * With a probe set, decontamination runs between the two. */
  def ingestPipeline(docs: DataFrame): DataFrame =
    dedupByContent(qualityFilter(docs))

  def ingestPipeline(docs: DataFrame, probeGrams: Seq[String]): DataFrame =
    dedupByContent(decontaminationGate(qualityFilter(docs), probeGrams))

  // ---- streaming near-dup: stateful LSH band buckets ---------------------
  case class BandIn(band_key: String, doc_id: Long, sig: Seq[Long])
  case class BucketEntry(doc_id: Long, sig: Seq[Long])
  case class BucketState(entries: Seq[BucketEntry])
  case class NearDupHit(doc_a: Long, doc_b: Long, sim_hat_bp: Long)

  /** Streaming MINHASH near-dup detection — the stateful-LSH twin of the
    * batch `dedup_minhash`: each arriving document's signature (the SAME
    * fused `MinhashSig`∘`ShinglePolyHash` projection, so batch and stream
    * cannot disagree on what "similar" means) explodes into its band-bucket
    * keys; per-bucket keyed state holds the first-arrived ≤[[graft.operators.Dedup.BucketCap]]
    * (doc_id, signature) entries, and every arrival probes its buckets'
    * held entries, emitting (earlier ∧ smaller-id first) pairs whose
    * signature agreement clears `MinhashSimBp`.
    *
    * Semantics vs batch: on any corpus where no bucket exceeds the cap the
    * emitted pair set (deduped across bands downstream — a pair sharing
    * k bands emits k times) EQUALS `dedup_minhash`'s — the spec locks
    * this. Divergence under saturation is the streaming-honest one: batch
    * retroactively drops an over-full bucket's pairs; a stream cannot
    * retract, so a saturated bucket keeps its first `cap` entries as
    * probes and stores no more — per-arrival work stays O(bands·cap).
    *
    * Scale: state IS the standing LSH index — |buckets|·cap signatures,
    * the same artifact the batch incremental probe reads from disk; run
    * it on the RocksDB state store provider and the feed sustains
    * arbitrary corpus size with per-doc work bounded as above. */
  def nearDupPairs(docs: DataFrame): org.apache.spark.sql.Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val D = graft.operators.Dedup
    val bandKeys = array((0 until D.Bands).map { j =>
      concat_ws(",", lit(j.toString) +:
        (0 until D.Rows).map(r => col("sig").getItem(j * D.Rows + r).cast("string")): _*)
    }: _*)
    val banded = docs
      .where(length(col("text")) >= D.ShingleK)
      .select(col("doc_id"), org.apache.spark.sql.graft.MinhashSig(
        org.apache.spark.sql.graft.ShinglePolyHash(
          col("text"), D.ShingleK, D.ShingleB, D.P),
        D.CoefA, D.CoefB, D.P).as("sig"))
      .select(explode(bandKeys).as("band_key"), col("doc_id"), col("sig"))
      .as[BandIn]

    // primitives only in the task closure (capturing the Dedup module
    // itself is a Task-not-serializable)
    val kSig = D.K
    val minSimBp = D.MinhashSimBp
    val cap = D.BucketCap

    def fn(key: String, rows: Iterator[BandIn],
           state: GroupState[BucketState]): Iterator[NearDupHit] = {
      val held = state.getOption.map(_.entries).getOrElse(Seq.empty).toBuffer
      val out = scala.collection.mutable.ListBuffer.empty[NearDupHit]
      // deterministic within a micro-batch: smaller doc_id counts as earlier
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        if (!held.exists(_.doc_id == r.doc_id)) {
          held.foreach { e =>
            val m = (0 until kSig).count(i => e.sig(i) == r.sig(i))
            val simBp = m.toLong * 10000L / kSig
            if (simBp >= minSimBp)
              out += NearDupHit(math.min(e.doc_id, r.doc_id),
                math.max(e.doc_id, r.doc_id), simBp)
          }
          if (held.size < cap) held += BucketEntry(r.doc_id, r.sig)
        }
      }
      state.update(BucketState(held.toSeq))
      out.iterator
    }

    banded
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }
}
