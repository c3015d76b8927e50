package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{RangeRank, StringCodepoints}
import graft.sources.Corpus

/** EXACTSUBSTR repeat structure at UNBOUNDED threshold — the suffix-array
  * machinery `dup_span_exact` deliberately fixes to one window size,
  * generalized: distributed prefix-doubling suffix RANKING over the whole
  * corpus laid end-to-end in one address space, yielding
  *
  *  - `suffix_repeats`: the repeat SPECTRUM — for every power-of-two block
  *    length (1, 2, 4, … up to [[MaxBlock]]), how many distinct substrings
  *    of that length repeat, how many positions they cover, the largest
  *    clone family, and how many repeat ACROSS documents. One row per
  *    level: the dashboard that says "this corpus has 40 MB of 4 KB-scale
  *    boilerplate" — information no fixed-K window statistic can give.
  *  - `longest_repeat`: the exact length of the longest repeated substring
  *    (binary-search refinement between doubling levels), its occurrence
  *    count and a witness excerpt.
  *
  * Algorithm (Manber–Myers prefix doubling, the standard distributed
  * suffix-array construction), with two scale reworks over the naive form:
  *
  * '''Adaptive packed start.''' The corpus explodes to primitive INT
  * CODEPOINTS via the codegen'd
  * [[org.apache.spark.sql.graft.StringCodepoints]] (never 1-char String
  * objects). Every block whose window packs into ONE long at the corpus's
  * codepoint width (b·bits <= 63) needs no ranks at all — its spectrum
  * row is a plain hash-aggregation census over packed keys (map-side
  * combinable, no range sort) — and the first RANKED level is the largest
  * block that packs EXACTLY into the doubling pass's two-long key
  * (B·bits <= 126). ASCII corpora (bits=7, the common case) census
  * blocks 1–8 and start ranking at 16; full-Unicode corpora (bits=21)
  * census 1–2 and start at 4. This deletes the largest sorts and the
  * corpus-sized joins of a naive block-1 chain — exactly the levels that
  * still see the whole corpus ([[CensusChain]]).
  *
  * '''Doubling.''' rank_{2k}(i) = dense rank of (rank_k(i), rank_k(i+k)).
  * Every step is an equi-join (the k-shift) plus
  * [[org.apache.spark.sql.graft.RangeRank.rankLevel]] — the
  * range-partitioned, O(partitions)-driver-state dense rank that stays on
  * InternalRows end to end (one sort per level, cached as serialized
  * UnsafeRows; the loop-termination dup test folds into the same pass),
  * NOT an unpartitioned window. Each level keeps only its ACTIVE SET —
  * valid positions whose rank class has >= 2 valid members. A position
  * with a globally unique block can never join a repeat family at any
  * finer level, so it is frozen forever and later levels represent it as
  * a synthetic per-position key (`-(gpos)-2`, disjoint from real ranks)
  * when it appears as some active position's k-shift successor; a VALID
  * active position's successor is itself valid-and-in-a->=2-class, so the
  * real rank is always present when it is needed. Level sizes therefore
  * collapse to the corpus's repeat mass as blocks grow — at 100 TB the
  * late (expensive, long-block) levels process the boilerplate fraction,
  * not the corpus. Documents are laid out by
  * [[Scale.exclusivePrefixSums]] of their lengths; no separator characters
  * are needed because rank equality is exact substring equality, and every
  * REPORTED group filters to positions whose whole block lies inside its
  * document (`pos + block ≤ doc_len`), so windows spanning document
  * boundaries can never join a reported family.
  *
  * Scale: construction is O(n log L_max) shuffle bytes (the published
  * cost of distributed suffix sorting) run ONCE per corpus snapshot and
  * materialized, exactly like the LSH signature table — at 100 TB this is
  * the scheduled EXACTSUBSTR indexing job, and the spectrum/longest reads
  * are bounded aggregations over the cached level tables. Each level's
  * range-sorted rows persist once as serialized UnsafeRows (block-manager
  * backed, truncating lineage like the components discipline).
  * [[MaxBlock]] caps the doubling at 4096-char blocks — not a semantic
  * threshold like SpanK (reported repeats are exact at EVERY length up to
  * the cap, and `longest_repeat` is exact whenever the true maximum is
  * under 2·MaxBlock−1, i.e. 8 KB — far beyond any fixed-window span
  * statistic); corpora with longer clones report the capped bound.
  *
  * The spectrum and coverage OUTPUTS are brute-force oracled in DuckDB
  * (window-explode twins below); `longest_repeat` stays rows-only BY
  * DESIGN (like `bpe_merges` — a data-dependent binary-search fixpoint
  * with driver-side round control); the spec brute-forces all three on
  * fixtures. */
object SuffixRepeats {

  val MaxBlock = 4096L // doubling cap: levels 1,2,…,4096

  /** One doubling level: its block length, the ACTIVE-SET frame
    * (gpos, doc_id, pos, doc_len, rank) — exactly the valid positions
    * whose length-`block` window repeats somewhere in the corpus — whether
    * that set is nonempty (the loop-termination test, computed during
    * construction at no extra job), and the persisted sorted-UnsafeRow RDD
    * the frame replays from (owned here; released with the `levels` value). */
  private[operators] final case class Level(block: Long, frame: DataFrame,
      hasDup: Boolean, storage: org.apache.spark.rdd.RDD[_])


  /** One spectrum row, censused without a rank table. */
  private[operators] final case class Spec(block: Long, nGroups: Long,
      nPositions: Long, maxGroup: Long, xdoc: Long)

  /** The rankless prefix of the spectrum: `bits` = bit width of the
    * corpus's widest codepoint, `ladder` = every power-of-two block whose
    * window packs into ONE long (b·bits <= 63 — censusable by hash agg),
    * `specs` = the censused rows, computed down the ladder while the
    * previous block still had a repeated family (the oracle's cutoff
    * rule). Ranked doubling starts at 2·ladder.last — the largest block
    * whose window packs EXACTLY into the doubling pass's two-long key.
    * For ASCII corpora (bits=7) that means censuses at 1,2,4,8 and
    * ranking from 16: the four largest sorts and three corpus-sized
    * joins of a block-1 start never happen; for full Unicode (bits=21)
    * it degrades gracefully to censuses at 1,2 and ranking from 4. */
  private[operators] final case class CensusChain(bits: Int, ladder: Seq[Long],
      specs: Seq[Spec]) {
    def rankStart: Long = ladder.last * 2
    /** All ladder blocks had families — ranked construction proceeds. */
    def fullChain: Boolean =
      specs.size == ladder.size && specs.last.nGroups > 0
  }

  /** (gpos, doc_id, pos, doc_len, ch, ch2, ch3, ch4) — the corpus at char
    * resolution in one global address space (same inherent cost as
    * `dup_span_stats`). `ch` is the INT CODEPOINT widened to long
    * (all-long rows are what lets every doubling pass stay on fixed-width
    * UnsafeRows), never a 1-char String; `cps` (the whole document's
    * codepoint array) rides along so callers can build PACKED window keys
    * with [[packKey]] — the pack projections collapse into the explode
    * stage, so the array never leaves whole-stage codegen. */
  private def charFrame(spark: SparkSession, dir: String): DataFrame = {
    val lens = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("doc_len"))
      .where(col("doc_len") > 0)
    val offsets = Scale.exclusivePrefixSums(lens, "doc_id", "doc_len", "doc_off")
    Corpus.table(spark, dir, "documents")
      .join(offsets, "doc_id")
      .withColumn("cps", StringCodepoints(col("text")))
      .select(col("doc_id"), col("doc_len"), col("doc_off"), col("cps"),
        posexplode(col("cps")).as(Seq("pos", "ch")))
      .select((col("doc_off") + col("pos")).as("gpos"), col("doc_id"),
        col("pos").cast("long").as("pos"), col("doc_len"),
        col("ch").cast("long").as("ch"), col("cps"))
  }

  /** The `n` codepoints at pos+from .. pos+from+n-1 packed big-endian into
    * one long at `bits` bits per char — injective while every codepoint
    * fits `bits` bits and n·bits <= 63. Null past the document tail (only
    * rows whose whole window fits are ever kept). */
  private def packKey(bits: Int, from: Int, n: Int): org.apache.spark.sql.Column =
    (0 until n).map { i =>
      val shift = bits.toLong * (n - 1 - i)
      get(col("cps"), col("pos") + lit(from + i)).cast("long") * lit(1L << shift)
    }.reduce(_ + _)

  /** The corpus's char count — the row count of the char frame, which
    * sizes the construction loops ([[Scale.loop]]). Construction queries
    * are fixed-shape (np-partition range shuffle + gpos equi-join on
    * uniform keys): below [[Scale.LoopAqeOffMaxRows]] chars there is no
    * skew or size surprise for AQE to adapt to, but its stage-by-stage
    * materialization would cost a driver planning round-trip per exchange
    * — ~L·stages round-trips across the doubling loop — and the loop's
    * char-derived partition count keeps a bench-scale corpus from fanning
    * every level's sort into hundreds of near-empty tasks (measured 1.5k
    * tasks over a 1.5M char corpus). */
  private def corpusChars(spark: SparkSession, dir: String): Long =
    Corpus.table(spark, dir, "documents")
      .agg(coalesce(sum(length(col("text")).cast("long")), lit(0L)))
      .collect()(0).getLong(0)

  /** Census one packed-key frame (doc_id, k): the spectrum numbers for a
    * block length whose windows fit a single long — a two-level hash
    * aggregation with map-side partial combine, NO range sort and NO rank
    * assignment. This is how every ladder block (the full-corpus levels)
    * avoids the suffix machinery entirely. Also returns max(k) over ALL
    * groups (block 1 uses it to size the pack width). */
  private def packedCensus(block: Long, df: DataFrame): (Spec, Long) = {
    val dup = col("sz") >= 2
    val r = df.groupBy(col("k"))
      .agg(count(lit(1)).as("sz"), countDistinct(col("doc_id")).as("nd"))
      .agg(coalesce(sum(when(dup, 1L).otherwise(0L)), lit(0L)).as("n_groups"),
        coalesce(sum(when(dup, col("sz"))), lit(0L)).as("n_positions"),
        coalesce(max(when(dup, col("sz"))), lit(0L)).as("max_group"),
        coalesce(sum(when(dup && col("nd") >= 2, 1L).otherwise(0L)), lit(0L))
          .as("n_groups_xdoc"),
        coalesce(max(col("k")), lit(0L)).as("max_k"))
      .collect()(0)
    (Spec(block, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)),
      r.getLong(4))
  }

  /** The rankless census chain down the single-long ladder (each block
    * computed only while the previous had a repeated family — the oracle's
    * level-cutoff rule; the pack width adapts to the corpus's widest
    * codepoint, see [[CensusChain]]). */
  private[operators] def censuses(spark: SparkSession, dir: String): CensusChain =
    Materialized.value(spark, dir, "censuses")(Scale.loop(spark) { lp =>
      val base = charFrame(lp.sized(corpusChars(spark, dir)), dir)
      val (c1, maxCp) =
        packedCensus(1L, base.select(col("doc_id"), col("ch").as("k")))
      val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(maxCp, 1L))
      val ladder = Iterator.iterate(1L)(_ * 2)
        .takeWhile(b => b * bits <= 63).toSeq
      val specs = scala.collection.mutable.ListBuffer(c1)
      var go = c1.nGroups > 0
      ladder.drop(1).foreach { b =>
        if (go) {
          val (c, _) = packedCensus(b,
            base.where(col("pos") + b <= col("doc_len"))
              .select(col("doc_id"), packKey(bits, 0, b.toInt).as("k")))
          specs += c
          go = c.nGroups > 0
        }
      }
      CensusChain(bits, ladder, specs.toSeq)
    })

  // ---- per-level checkpointing (build resumability, VERDICT r9 #7) ------
  /** Scratch base for the per-level checkpoints, or None when
    * checkpointing is off. Engaged when `graft.scratchDir` is configured
    * (the cluster deployment signal — executor/cache loss is routine
    * there and a mid-build loss must not recompute from the corpus) or
    * `graft.suffixCheckpoint=true` forces it (specs, local durability).
    * Off by default in plain local runs: there a cache loss IS a process
    * loss, and the per-level parquet writes would tax the build for a
    * resume that can never happen. Resume across a DRIVER restart only
    * works in the `graft.scratchDir`-configured mode — the tmpdir
    * fallback embeds the applicationId, so there a checkpoint survives
    * cache drops within one application and nothing more. Concurrent
    * builds of the SAME corpus against one scratchDir race the
    * overwrite+marker protocol — serialize them externally (one indexing
    * job per corpus, the normal deployment). */
  private def levelCkptBase(spark: SparkSession, dir: String): Option[String] = {
    val enabled =
      spark.conf.getOption("graft.suffixCheckpoint").exists(_.toBoolean) ||
        spark.conf.getOption("graft.scratchDir").isDefined
    if (!enabled) None
    else {
      val base = Scale.scratchBase(spark)
      // tag = md5 of the FULL corpus path PLUS a content fingerprint of
      // the corpus files (ADVICE r10): the path alone let an in-place
      // rewrite of documents.parquet silently resume from stale levels
      // and return wrong spectra. Any file added/removed/resized/rewritten
      // changes the tag, so a mutated corpus gets a fresh build instead.
      // Not String.hashCode: 31 bits collide trivially, and two colliding
      // corpora under one shared scratchDir would silently resume from
      // each other's levels.
      val md = java.security.MessageDigest.getInstance("MD5")
      val tag = md.digest(
        (dir + "\n" + corpusFingerprint(spark, dir)).getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(16)
      Some(s"$base/suffix-$tag")
    }
  }

  /** Cheap corpus identity: name|size|mtime of every file under the
    * corpus's documents.parquet (file or directory — Hadoop listFiles
    * handles both), sorted for determinism. One FS listing per build —
    * no data is read. mtime granularity is the FS's (1 s on many local
    * filesystems): a same-second same-size in-place rewrite can in theory
    * slip through, the standard make-style staleness caveat. */
  private def corpusFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        buf += s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}"
      }
      buf.sorted.mkString("\n")
    }
  }

  /** A level is COMPLETED only once its marker exists — the marker is
    * written after the parquet job commits, so a crash mid-write leaves
    * an uncommitted directory that resume ignores and overwrites. The
    * marker byte carries the level's hasValidDup flag (loop-continuation
    * state). Hadoop FS API: works on local fs and HDFS/S3 alike. */
  private def markerPath(levelDir: String) =
    new org.apache.hadoop.fs.Path(s"$levelDir/_graft_level_done")
  private def writeMarker(spark: SparkSession, levelDir: String,
      dup: Boolean): Unit = {
    val p = markerPath(levelDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(p, true)
    try o.writeBytes(if (dup) "1" else "0") finally o.close()
  }
  private def readMarker(spark: SparkSession, levelDir: String): Option[Boolean] = {
    val p = markerPath(levelDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(in.readByte() == '1') finally in.close()
    }
  }

  /** Finish one constructed level: with checkpointing on, the active set
    * is written to scratch and the level REROOTS at the file scan (the
    * durable-finish discipline) — the sort cache is released immediately,
    * so an executor loss recomputes from a bounded parquet read, never
    * from the corpus; without, the level stays the cache-backed frame. */
  private def finishLevel(spark: SparkSession, ckpt: Option[String],
      block: Long, r: RangeRank.Ranked): Level = ckpt match {
    case None => Level(block, r.frame, r.hasValidDup, r.storage)
    case Some(base) =>
      val p = s"$base/level-$block"
      r.frame.write.mode("overwrite").parquet(p)
      writeMarker(spark, p, r.hasValidDup)
      r.storage.unpersist(blocking = false)
      Level(block, spark.read.parquet(p), r.hasValidDup,
        spark.sparkContext.emptyRDD)
  }

  /** The consecutive chain of COMPLETED levels on scratch, from rankStart
    * up — what a resumed build starts from instead of the corpus. */
  private def loadCompletedLevels(spark: SparkSession, base: String,
      rankStart: Long): Seq[Level] = {
    val out = scala.collection.mutable.ListBuffer.empty[Level]
    var b = rankStart
    var go = true
    while (go && b > 0 && b <= MaxBlock) {
      val p = s"$base/level-$b"
      readMarker(spark, p) match {
        case Some(dup) =>
          out += Level(b, spark.read.parquet(p), dup,
            spark.sparkContext.emptyRDD)
          go = dup // after a no-dup level no further level was ever built
          b *= 2
        case None => go = false
      }
    }
    out.toSeq
  }

  /** Ranked doubling levels from the chain's rankStart up, materialized
    * per (session, corpus); empty when the census chain already died (then
    * the censuses fully describe the spectrum). Construction stops when a
    * level has no within-document duplicate block (longer repeats are then
    * impossible — the flag falls out of the rank pass itself), or at
    * [[MaxBlock]]. With checkpointing engaged ([[levelCkptBase]]) each
    * completed level's active set lands on scratch and a rebuild — same
    * session after a cache drop, or a restarted driver — RESUMES from the
    * last completed level instead of recomputing the whole ladder from
    * the corpus (byte-identical continuation: the next level derives only
    * from the previous level's rows, which the parquet read-back
    * preserves exactly). */
  private[operators] def levels(spark: SparkSession, dir: String): Seq[Level] =
    // level tables are RDD-persisted (block-manager-backed) rather than
    // persisted frames, so the value carries its release: clearAll
    // unpersists each level's storage (ADVICE r8)
    Materialized.value(spark, dir, "levels")(fit = {
      val chain = censuses(spark, dir)
      if (!chain.fullChain) Seq.empty
      else Scale.loop(spark) { lp =>
        val cs = lp.sized(corpusChars(spark, dir))
        val ckpt = levelCkptBase(spark, dir)
        val out = scala.collection.mutable.ListBuffer.empty[Level]
        ckpt.foreach(base =>
          out ++= loadCompletedLevels(cs, base, chain.rankStart))
        // r14: each level's input is lazily checkpointed before
        // RangeRank — repartitionByRange EVALUATES its child twice (the
        // range-boundary sampling pass, then the shuffle write), so
        // without the checkpoint every level re-ran its k-shift join
        // (and level 1 the packKey projection) once more than needed.
        // The checkpoint is released as soon as the level finishes: the
        // ranked frame replays from RangeRank's own sorted cache.
        if (out.isEmpty) {
          val base = charFrame(cs, dir)
          val block = chain.rankStart
          val half = (block / 2).toInt
          val startIn = lp.checkpoint(base.where(col("pos") + block <= col("doc_len"))
            .select(col("gpos"), col("doc_id"), col("pos"), col("doc_len"),
              packKey(chain.bits, 0, half).as("k1"),
              packKey(chain.bits, half, half).as("k2")))
          out += finishLevel(cs, ckpt, block,
            RangeRank.rankLevel(startIn, numKeys = 2, block = block))
          lp.release(startIn)
        }
        while (out.last.hasDup && out.last.block < MaxBlock) {
          val Level(block, t, _, _) = out.last
          val shifted = t.select((col("gpos") - block).as("gpos"),
            col("rank").as("rank2"))
          // a missing successor is frozen (unique block — the synthetic key
          // -(successor gpos)-2 preserves that uniqueness, disjoint from real
          // ranks >= 1) or past its document's end (then THIS row is invalid
          // at 2*block and the filter below drops it anyway); rows invalid at
          // the doubled length can never be reported or serve a valid
          // successor, so they exit before the sort
          val paired = lp.checkpoint(t.join(shifted, Seq("gpos"), "left")
            .where(col("pos") + lit(2 * block) <= col("doc_len"))
            .select(col("gpos"), col("doc_id"), col("pos"), col("doc_len"),
              col("rank"),
              coalesce(col("rank2"), -(col("gpos") + lit(block)) - lit(2))
                .as("rank2")))
          out += finishLevel(cs, ckpt, block * 2,
            RangeRank.rankLevel(paired, numKeys = 2, block = block * 2))
          lp.release(paired)
        }
        out.toSeq
      }
    }, release = (lv: Seq[Level]) => lv.foreach(_.storage.unpersist(blocking = false)))

  /** The repeat spectrum: one row per doubling level. All-BIGINT. */
  def suffixRepeats(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "suffixRepeats") {
      import spark.implicits._
      val rows = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long, Long)]
      censuses(spark, dir).specs.foreach(c =>
        rows += ((c.block, c.nGroups, c.nPositions, c.maxGroup, c.xdoc)))
      // the level frames ARE the valid >= 2-member families: census each
      // directly, UNIONed so all levels run as one planned job instead of
      // one driver round per level
      val levelCensuses = levels(spark, dir).map { case Level(block, t, _, _) =>
        t.groupBy(col("rank"))
          .agg(count(lit(1)).as("sz"), countDistinct(col("doc_id")).as("nd"))
          .agg(count(lit(1)).as("n_groups"),
            coalesce(sum(col("sz")), lit(0L)).as("n_positions"),
            coalesce(max(col("sz")), lit(0L)).as("max_group"),
            coalesce(sum(when(col("nd") >= 2, 1L).otherwise(0L)), lit(0L))
              .as("n_groups_xdoc"))
          .select(lit(block).as("block_len"), col("n_groups"),
            col("n_positions"), col("max_group"), col("n_groups_xdoc"))
      }
      levelCensuses.reduceOption(_.unionAll(_)).foreach {
        _.collect().sortBy(_.getLong(0)).foreach { r =>
          rows += ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
        }
      }
      rows.toSeq.toDF("block_len", "n_groups", "n_positions", "max_group",
          "n_groups_xdoc")
    }

  /** Exact longest repeated substring: binary-search refinement with the
    * two-overlapping-blocks equality test — s[i,i+L) = s[j,j+L) iff the
    * level-k blocks at i,j AND at i+L−2ᵏ,j+L−2ᵏ agree (2ᵏ ≤ L < 2ᵏ⁺¹). */
  def longestRepeat(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "longestRepeat") {
      import spark.implicits._
      val chain = censuses(spark, dir)
      val lvls = levels(spark, dir)
      // largest level with a valid duplicate (construction ran one level
      // past it unless capped, so the bound below is exact up to the cap);
      // the flags were computed during construction — no re-aggregation
      val dupLevels = lvls.filter(_.hasDup)
      val lastDupCensus = chain.specs.filter(_.nGroups > 0).lastOption
      if (dupLevels.nonEmpty) {
        val Level(bk, tk, _, _) = dupLevels.last
        refineFrom(spark, dir, bk, tk)
      } else if (lastDupCensus.isDefined) {
        // the longest repeat died inside the censused ladder (tiny corpora
        // only — any real corpus repeats past the single-long blocks):
        // rank that block on demand and release the one-off level
        // immediately (the result frame is a literal)
        val b = lastDupCensus.get.block
        val base = charFrame(spark, dir)
        val in =
          if (b == 1L)
            base.select(col("gpos"), col("doc_id"), col("pos"),
              col("doc_len"), col("ch").as("k1"))
          else {
            val h1 = (b / 2).toInt
            base.where(col("pos") + b <= col("doc_len"))
              .select(col("gpos"), col("doc_id"), col("pos"), col("doc_len"),
                packKey(chain.bits, 0, h1).as("k1"),
                packKey(chain.bits, h1, (b - h1).toInt).as("k2"))
          }
        val r = RangeRank.rankLevel(in, numKeys = if (b == 1L) 1 else 2,
          block = b)
        val res = refineFrom(spark, dir, b, r.frame)
        r.storage.unpersist(blocking = false)
        res
      } else {
        Seq((0L, 0L, 0L, "")).toDF("max_len", "n_occurrences", "n_groups", "sample")
      }
    }

  /** Binary-search refinement + family stats from the ranked level
    * (bk, tk); collects everything, so the returned frame is a literal. */
  private def refineFrom(spark: SparkSession, dir: String, bk: Long,
      tk: DataFrame): DataFrame = {
    import spark.implicits._
    def dupAt(len: Long): Boolean = !keysAt(tk, bk, len)
      .groupBy("r1", "r2").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).limit(1).isEmpty
    val maxDocLen = tk.agg(max(col("doc_len"))).collect()(0).getLong(0)
    var lo = bk // known dup
    var hi = math.min(2 * bk - 1, maxDocLen) // exact bound (see scaladoc)
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (dupAt(mid)) lo = mid else hi = mid - 1
    }
    val keys = keysAt(tk, bk, lo)
    val dupKeys = keys.groupBy("r1", "r2").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
    val members = keys.join(dupKeys.hint("shuffle_hash"), Seq("r1", "r2"))
    val stats = members
      .agg(count(lit(1)).as("n_occ"), min(col("gpos")).as("wit"))
      .collect()(0)
    val nGroups = dupKeys.count()
    val wit = members.where(col("gpos") === stats.getLong(1))
      .select("doc_id", "pos").collect()(0)
    // substring() positions are Int; a witness past 2^31 chars into its
    // document would silently wrap (ADVICE r8) — the stats stay exact,
    // only the excerpt is dropped for such a document
    val witPos = wit.getLong(1)
    val sample =
      if (witPos + lo >= Int.MaxValue.toLong) ""
      else Corpus.table(spark, dir, "documents")
        .where(col("doc_id") === wit.getLong(0))
        .select(substring(col("text"), witPos.toInt + 1, lo.toInt)
          .as("s")).collect()(0).getString(0)
    Seq((lo, stats.getLong(0), nGroups, sample))
      .toDF("max_len", "n_occurrences", "n_groups", "sample")
  }

  /** Block length for [[repeatCoverage]] — the ExactSubstr-style scale at
    * which repeated content is considered "duplicated text" for the
    * per-document drop criterion. */
  val CoverageBlock = 64L

  /** Per-document EXACTSUBSTR coverage — the production drop criterion
    * from the dedup literature at doc granularity: how many of a doc's
    * characters sit inside a ≥[[CoverageBlock]]-char block that occurs
    * elsewhere in the corpus (covered chars are the union of that doc's
    * repeated 64-char windows). Reads the CACHED level-64 rank table;
    * interval union is per-doc window arithmetic (fixed-length sorted
    * intervals ⇒ contribution = min(B, pos − prev pos)), so the only new
    * work is one bounded count on the dup ranks and one doc-keyed rollup.
    * Exact basis points (§6); docs shorter than the block report 0. */
  def repeatCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = CoverageBlock
    val allDocs = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val covered = levels(spark, dir).find(_.block == B).map(_.frame) match {
      // the dup chain died before level B ⇒ no B-char repeat exists
      case None => spark.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("covered", lit(0L))
        .select("doc_id", "covered").limit(0)
      case Some(f) =>
        // the level frame IS "valid positions whose B-window repeats":
        // the old dup-rank count + semi-join collapsed into construction
        val w = Window.partitionBy("doc_id").orderBy("pos")
        f.select(col("doc_id"), col("pos"))
          .withColumn("contrib", least(lit(B),
            col("pos") - coalesce(lag(col("pos"), 1).over(w), lit(-B))))
          .groupBy(col("doc_id"))
          .agg(sum(col("contrib")).cast("long").as("covered"))
    }
    allDocs.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("covered"), lit(0L)).as("covered_chars"),
        graft.functions.TextFns.bp(coalesce(col("covered"), lit(0L)),
          greatest(col("n_chars"), lit(1L))).as("covered_bp"))
  }
  val repeatCoverageSql: String = {
    val B = CoverageBlock
    s"""WITH win AS MATERIALIZED (
       |  SELECT d.doc_id, CAST(g.p AS BIGINT) AS pos,
       |    md5(substr(d.text, CAST(g.p AS INTEGER), $B)) AS w
       |  FROM documents d, unnest(range(1, length(d.text) - $B + 2)) AS g(p)
       |  WHERE length(d.text) >= $B
       |), fam AS (
       |  SELECT w FROM win GROUP BY w HAVING count(*) >= 2
       |), cov AS (
       |  SELECT doc_id,
       |    least($B, pos - coalesce(lag(pos)
       |      OVER (PARTITION BY doc_id ORDER BY pos), pos - $B)) AS c
       |  FROM win JOIN fam USING (w)
       |), agg AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS covered
       |  FROM cov GROUP BY 1
       |)
       |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
       |  coalesce(a.covered, 0) AS covered_chars,
       |  ${graft.functions.TextFns.sqlBp("coalesce(a.covered, 0)",
             "greatest(length(d.text), 1)")} AS covered_bp
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** ExactSubstr coverage (bp of the doc's chars inside ≥64-char corpus
    * repeats) at which a document drops — the Lee et al. 2022 doc-level
    * criterion: past ~20% duplicated text the doc is template/mirror mass,
    * not prose. */
  val SubstrDropBp = 2000L

  /** The EXACTSUBSTR drop gate as an end product — `repeat_coverage`
    * composed into the keep/drop verdict the dedup literature actually
    * applies (repeat_coverage is the measurement; this is the decision
    * row a curation run anti-joins on). Free beyond the measurement: one
    * row-local comparison on the cached coverage frame. */
  def substrDedup(spark: SparkSession, dir: String): DataFrame =
    repeatCoverage(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("covered_bp"),
        (col("covered_bp") < SubstrDropBp).as("keep"))
  val substrDedupSql: String =
    s"""SELECT doc_id, n_chars, covered_bp,
       |  covered_bp < $SubstrDropBp AS keep
       |FROM (
       |${repeatCoverageSql.linesIterator.map("  " + _).mkString("\n")}
       |)""".stripMargin

  /** DuckDB oracle for the SPECTRUM: though the Spark side derives it from
    * the iterative doubling ranks, the OUTPUT is independently computable
    * by brute force — explode every in-document window at each power-of-two
    * length and census the repeated families. The level-cutoff rule mirrors
    * construction: level 1 always; level 2L present iff level L had any
    * repeated family (valid-dup monotonicity makes the lag test
    * transitive); capped at [[MaxBlock]]. The ORACLE cost is O(n·log L)
    * window strings — fine at gate SF; the distributed side exists because
    * this brute force is the thing that does NOT scale. */
  val suffixRepeatsSql: String = {
    val powers = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= MaxBlock)
      .map(l => s"($l)").mkString(", ")
    s"""WITH lv AS (SELECT CAST(p AS BIGINT) AS L FROM (VALUES $powers) t(p)),
       |win AS MATERIALIZED (
       |  -- family key = md5 of the window, not the raw up-to-4 KB string:
       |  -- 10x smaller grouping state (the whole gate stays no-spill),
       |  -- exact to 128-bit-collision certainty (the repo-wide md5 key
       |  -- precedent)
       |  SELECT l.L,
       |    md5(substr(d.text, CAST(g.p AS INTEGER), CAST(l.L AS INTEGER))) AS w,
       |    d.doc_id
       |  FROM documents d
       |  JOIN lv l ON length(d.text) >= l.L
       |  , unnest(range(1, length(d.text) - l.L + 2)) AS g(p)
       |), fam AS MATERIALIZED (
       |  SELECT L, w, count(*) AS sz, count(DISTINCT doc_id) AS nd
       |  FROM win GROUP BY 1, 2
       |), per_level AS (
       |  SELECT lv.L AS block_len,
       |    coalesce(count(*) FILTER (WHERE f.sz >= 2), 0) AS n_groups,
       |    coalesce(CAST(sum(f.sz) FILTER (WHERE f.sz >= 2) AS BIGINT), 0)
       |      AS n_positions,
       |    coalesce(CAST(max(f.sz) FILTER (WHERE f.sz >= 2) AS BIGINT), 0)
       |      AS max_group,
       |    coalesce(count(*) FILTER (WHERE f.sz >= 2 AND f.nd >= 2), 0)
       |      AS n_groups_xdoc
       |  FROM lv LEFT JOIN fam f ON f.L = lv.L
       |  GROUP BY 1
       |), cut AS (
       |  SELECT *, lag(n_groups) OVER (ORDER BY block_len) AS prev_groups
       |  FROM per_level
       |)
       |SELECT block_len, n_groups, n_positions, max_group, n_groups_xdoc
       |FROM cut WHERE block_len = 1 OR prev_groups > 0""".stripMargin
  }

  /** (gpos, doc_id, pos, r1, r2) for the two-block length-`len` equality
    * key at each position whose window fits its document. */
  private def keysAt(tk: DataFrame, block: Long, len: Long): DataFrame = {
    val d = len - block
    val base = tk.select(col("gpos"), col("doc_id"), col("pos"),
      col("doc_len"), col("rank").as("r1"))
    val withR2 =
      if (d == 0) base.withColumn("r2", lit(0L))
      else base.join(
        tk.select((col("gpos") - d).as("gpos"), col("rank").as("r2")),
        Seq("gpos"))
    withR2.where(col("pos") + len <= col("doc_len"))
      .select("gpos", "doc_id", "pos", "r1", "r2")
  }
}
