package graft

import org.apache.spark.sql.SparkSession

/** Multi-executor smoke validation (VERDICT r4 #4, broadened r8 per
  * VERDICT r7 #6): everything else in the build runs `local[n]` — a single
  * JVM where closure serialization, executor-side classloading and
  * partition locality can silently not matter. `local-cluster[2,4,2048]`
  * starts two REAL worker processes with separate executor JVMs.
  *
  * The smoke list is the heaviest queries by bench first-run time plus the
  * paths with genuine cross-JVM state: the flagship reference pipeline,
  * the LSH/minhash family (materialized signature frame + band-bucket
  * self-join + shuffle_hash verification), the iterative loops (PageRank
  * per-round localCheckpoint blocks live in executor block managers; BPE
  * merge rounds collect 1-row argmaxes from executors), the custom
  * TypedImperativeAggregates (partial states serialize()/deserialize()
  * across JVM boundaries for the merge), the PQ/IVF quantizer frames +
  * broadcast ADC tables, the Bloom blob round trip (built on executors,
  * merged driver-side, re-shipped for the might_contain scan), and the
  * WARC DSv2 read/write paths.
  *
  * Every query's cluster row count must EQUAL the count from a plain
  * `local[4]` session run first in the same process — not just be
  * non-zero — so a cross-JVM serialization bug that drops or duplicates
  * partitions fails the smoke even when rows survive.
  *
  * Usage: SPARK_HOME=/opt/spark … runMain graft.ClusterSmoke <appJar> <sfDir>
  * The app jar ships the graft classes to the executor JVMs (spark.jars).
  * Prints one JSON line with the row counts; exits non-zero on failure.
  */
object ClusterSmoke {
  /** Heaviest-by-bench + cross-JVM-state queries (VERDICT r7 #6). */
  private val SmokeQueries = Seq(
    "anagram_groups",     // flagship reference pipeline end-to-end
    "dup_pagerank",       // iterative loop, per-round localCheckpoint
    "curated_corpus",     // composed gates: quality + dedup + decontaminate
    "ann_pq",             // PQ codebook Lloyd rounds + broadcast ADC join
    "bpe_merges",         // iterative 1-row argmax collects per round
    "bpe_encode",         // merge-table broadcast + re-tokenize
    "parts_copurchase",   // capped within-order pair census
    "minhash_containment",// LSH candidates + materialized overlap frame
    "dup_span_exact",     // position shuffle + substring recount
    "hybrid_search_rrf",  // lexical + vector legs fused by exact RRF
    "cluster_purity",     // k-means rounds + label join
    "dedup_minhash",      // signature frame + shuffle_hash pair verify
    "training_order",     // shard-partitioned windows + salted md5 shards
    "dedup_bloom",        // executor-built blob, driver merge, re-ship
    "ann_ivfpq",          // two materialized quantizers across JVMs
    "ivfpq_recall",       // recall audit + brute-force broadcast baseline
    "warc_host_stats",    // WARC raw-file path (classpath fixture on executors)
    "source_cap",         // source-partitioned rank window
    "heavy_hitters",      // Misra–Gries TypedImperativeAggregate merge codecs
    "kmv_sample",         // bottom-k TypedImperativeAggregate merge codecs
    "ngram_novelty",      // shared gram frame consumed from two branches
    "dup_cluster_sizes",  // component labels cached across the loop
    "suffix_repeats",     // prefix-doubling rounds: the Tungsten rank pass
                          // (cached UnsafeRow levels + broadcast offsets +
                          // driver-chained dup flags) across executor JVMs
    "longest_repeat",     // binary-search probes over the cached levels
    "repeat_coverage",    // per-doc interval union over the level-64 frame
    "warc_url_dedup",     // URL-variant fixture: classpath materialization
                          // + canonicalize + dedup on executor JVMs
    "perplexity_buckets", // shared bigram model + per-lang tertile broadcast
    "dsir_select",        // bounded-model collect + broadcast rescoring
    "semdedup",           // per-cell pair semi-join over the cached quantizer
    "selected_corpus",    // three materialized signal families composed
    "bitext_mine",        // bucket-blocked margin-kNN across label groups
    "warc_html_extract",  // HTML fixture: classpath materialization +
                          // regex extraction chain on executor JVMs
    "mix_temperature",    // two-pass tempered sampling: stats frame +
                          // broadcast keep-rate probe across JVMs
    "cluster_topics",     // driver-collected nc literal + broadcast
                          // centroid assignment joined per-doc across JVMs
    "phrase_search",      // materialized bigram frame → 1-row phrase
                          // broadcast → positional adjacency shuffle
    "scorer_agreement",   // TokenProfileHits reference-object lookup map
                          // rebuilt on executor classloaders + hashed fold
    "split_leakage",      // pair-graph broadcast × row-local split frame
                          // joined twice across JVMs
    "url_filter",         // blocklist fixture: classpath materialization +
                          // literal-array suffix match on executor JVMs
    "jsonl_ingest",       // JSONL fixture: gz+plain parts + PERMISSIVE
                          // corrupt-row handling on executor classloaders
    "kn_perplexity",      // materialized KN model joined corpus-wide
    "trim_repeated_lines",// doc-local line-hash window + sorted rebuild
    "trim_common_lines",  // corpus-wide line census + skew-splittable join
    "nb_classify",        // trained NB: sparse model join + class broadcast
                          // + argmax window across executor JVMs
    "substr_dedup",       // ExactSubstr doc gate over the cached coverage
                          // frame — proves the r10 level cache + row-local
                          // gate survive executor serialization
    "jsonl_write",        // distributed sharded gz write, partition-
                          // discovered re-read and manifest agg across JVMs
    "unigram_encode",     // EM-trained score-table broadcasts per round +
                          // vocabulary-frame Viterbi map on executors
    "domain_stats",       // WARC fixture + suffix-chain domain key +
                          // codegen'd quality profile on executor JVMs
    "wordpiece_merges",   // per-round likelihood argmax: two bounded aggs
                          // + broadcast symbol counts across JVMs
    "wordpiece_encode",   // trained-inventory broadcast + greedy
                          // longest-match vocabulary map on executors
    "semantic_decontaminate", // probe-side broadcast + two-table bucket
                          // equi-join + per-vec window across JVMs
    "stage_diff",         // row-local C4 status + source-partitioned share
    "promo_revenue",      // broadcast dim join + month agg + pinned IEEE
                          // share across executor JVMs
    "logreg_score",       // driver-trained decimal weights broadcast into
                          // the bucketed-feature join across JVMs
    "domain_pagerank",    // directed rank loop w/ explicit node universe +
                          // per-round checkpoints across executor JVMs
    "kn3_perplexity",     // materialized TRIGRAM KN model: e6-grid levels,
                          // each joined once at its own type grain, +
                          // corpus-wide scoring join across JVMs
    "bbpe_encode",        // byte-level merge-table broadcast + hex-symbol
                          // vocabulary map on executor classloaders
    "corpus_diff",        // two pruned scans full-outer joined on doc_id
    "image_phash",        // PNG fixture: classpath materialization + JDK
                          // decode + DCT hashing on executor JVMs
    "dedup_image",        // banded pHash self-join across JVMs
    "audio_fingerprint",  // WAV fixture: classpath materialization + PCM
                          // parse + integer energy fold on executors
    "dedup_audio",        // banded fingerprint self-join across JVMs
    "image_dup_clusters", // components loop over the banded pair graph
    "robots_gate",        // robots fixture: classpath materialization +
                          // host-keyed rule join on executor JVMs
    "video_phash",        // AVI fixture: RIFF walk + raw-DIB re-head + JDK
                          // BMP decode + per-frame DCT on executor JVMs
    "dedup_video",        // frame-grain banded join + per-side coverage
                          // rollup across JVMs
    "wet_host_stats",     // WET conversion-record walk on executors
    "wat_outlinks",       // WAT typed from_json + link explode on executors
    "sitemap_urls",       // sitemap fixture: root gate + block explode
    "compression_ratio",  // DeflateLen codegen'd expression on executors
    "compression_stats",  // deflate rollup: one scan + source exchange
    "script_stats",       // 8 script-class regexp_counts + source rollup
    "kn4_perplexity",     // 4-gram KN: the same recursion one level up —
                          // type-keyed joins + scoring join across JVMs
    "kn5_perplexity",     // 5-gram KN (the KenLM order): four levels of
                          // type-keyed joins + scoring join across JVMs
    "doc_scripts",        // per-doc script router argmax on executors
    "image_resize",       // exact 2x2 box downsample on executor JVMs
    "local_supplier_volume", // Q5 cycle: fact shuffles + 3 dim broadcasts
    "returned_item_ranking", // exact-decimal TakeOrdered + rank recovery
    "top_supplier",       // 1-row scalar-max broadcast re-attached
    "dormant_customers",  // LEFT-ANTI under the 1-row (Σ,n) broadcast
    "chat_turns",         // chat JSONL fixture: classpath materialization
                          // + from_json array explode on executor JVMs
    "chat_dedup",         // map-only prompt keys + uniform-key rollup
    "fix_mojibake",       // translate/encode/decode repair chain +
                          // RFC 3629 byte-view regex on executor JVMs
    "skew_report",        // localCheckpointed counts frame re-read by the
                          // totals pass across executor block managers
    "state_intervals",    // per-user lag + running-sum windows across JVMs
    "mmr_select",         // bounded pool TakeOrdered + driver greedy
    "embedding_pca",      // 12 matvec rounds: 65-key exchanges + driver GS
    "disjunctive_revenue",// post-join OR arms over the brand broadcast
    "forecast_revenue",   // Q6: all-predicate pushdown, 1-row agg merge
    "min_cost_supplier",  // Q2: integral-division unit prices + per-part
                          // min broadcast re-attach across JVMs
    "market_share",       // Q8: conditional-sum share via DECIMAL(38,0)
                          // integral division on executors
    "important_stock",    // Q11: localCheckpointed positions re-read by
                          // the totals pass across executor block managers
    "sole_blame_suppliers", // Q21: per-order census + distinct-R frame
                          // joining on orderkey across JVMs
    "copurchase_triangles", // wedge-closure joins over the checkpointed
                          // edge frame across executor block managers
    "domain_hits")        // 16 L1-normalized half-rounds: node-grain
                          // joins + 1-row sums across executor JVMs

  private def warcDocCount(spark: SparkSession): Long =
    graft.sources.WarcSource
      .documentsFromWarc(spark, graft.sources.WarcSource.FixtureDir).count()

  /** Value-level frame fingerprint (VERDICT r9 #6): row-count equality
    * alone would pass a cross-JVM VALUE divergence (a non-deterministic
    * fold order, a locale-dependent format). Each row canonicalizes to a
    * name-sorted, null-marked string, hashes to sha256, and the first 15
    * hex digits fold through an order-free multiplicity-sensitive SUM
    * (decimal(38,0): no overflow, and this is an intra-Spark compare so
    * the driver's no-DECIMAL output rule doesn't apply). One distributed
    * aggregate per query — no driver-side collect of the frame. */
  private[graft] def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("NULL")))
    val r = df
      .select(sha2(concat_ws("\u001f", cols.toSeq: _*), 256).as("h"))
      .select(expr("CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT)").as("hl"))
      .agg(count(lit(1)).as("n"),
        sum(col("hl").cast("decimal(38,0)")).as("s"))
      .collect()(0)
    (r.getLong(0),
      Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  private def sessionBase(): SparkSession.Builder =
    Session.builder().config("spark.sql.shuffle.partitions", "8")

  def main(args: Array[String]): Unit = {
    val Array(appJar, sfDir) = args.take(2)

    // Pass 1 — reference counts from a plain single-JVM session. The
    // Materialized caches key on (session, corpus), so the cluster pass
    // below recomputes everything rather than reading this session's
    // persisted frames.
    val local = sessionBase().master("local[4]")
      .appName("graft-cluster-smoke-local").getOrCreate()
    val expected =
      try SmokeQueries.map(q =>
        q -> fingerprint(SparkEntry.queries(q)(local, sfDir))).toMap
      finally local.stop()

    // Pass 2 — the same queries on two real worker processes.
    val spark = sessionBase().master("local-cluster[2,4,2048]")
      .appName("graft-cluster-smoke").config("spark.jars", appJar)
      .getOrCreate()
    try {
      val got = SmokeQueries.map(q =>
        q -> fingerprint(SparkEntry.queries(q)(spark, sfDir))).toMap
      // WARC sink round-trip: the DSv2 WriteBuilder/WriterFactory must
      // serialize to real executor JVMs, temps must publish via driver-side
      // job commit, and the V2 reader must see exactly the written records
      val sinkDir = java.nio.file.Files
        .createTempDirectory("graft-cluster-warc").toString
      graft.sources.WarcSource.writeWarc(
        graft.sources.WarcSource.documentsFromWarc(
            spark, graft.sources.WarcSource.FixtureDir)
          .selectExpr("url", "warc_date", "'response' AS warc_type",
            "CAST(concat('HTTP/1.1 200 OK\r\n\r\n', text) AS BINARY) AS block"),
        sinkDir)
      val sinkRt = graft.sources.WarcSource
        .documentsFromWarc(spark, sinkDir).count()
      // sanity: the work genuinely ran on >1 executor JVM
      val executors = spark.sparkContext.statusTracker.getExecutorInfos
        .map(_.host()).length
      val counts = SmokeQueries
        .map(q => s""""$q":[${got(q)._1},"${got(q)._2}"]""").mkString(",")
      println(s"""{"smoke":"local-cluster[2,4,2048]",$counts,"warc_sink_roundtrip":$sinkRt,"executors":$executors}""")
      SmokeQueries.foreach { q =>
        require(got(q)._1 > 0, s"$q returned no rows on local-cluster")
        require(got(q) == expected(q),
          s"$q: local-cluster (rows,fp) ${got(q)} != local[4] ${expected(q)}")
      }
      require(sinkRt == warcDocCount(spark),
        "warc sink round-trip lost records on local-cluster")
    } finally spark.stop()
  }
}
