package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns._
import graft.sources.Corpus

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingest and training (SURVEY.md §2 #25i-25k): segment-level
  * dedup (the CCNet/MassiveText paragraph-dedup shape), benchmark
  * decontamination (probe-set n-gram overlap), and char-level entropy
  * quality signals.
  *
  * Scale notes: segment dedup shuffles on a uniform md5 segment key and
  * joins back on the same key (one shuffle each side); decontamination
  * broadcasts the probe-gram set (bounded by benchmark size, never corpus
  * size) against the shared materialized gram frame; char stats is a
  * map-only projection (custom codegen'd CharEntropy — the per-doc value
  * never leaves its row).
  */
object Curation {

  // ---- #25i segment-level dedup (CCNet/MassiveText paragraph shape) -----
  /** The corpus has no newline structure, so "paragraphs" are deterministic
    * fixed-width token windows: SegLen-token chunks (trailing partial chunk
    * included). Real pipelines segment on '\n\n'; the dedup shape —
    * segment → hash → corpus-wide count → per-doc dup stats — is identical
    * and is what this operator demonstrates. */
  val SegLen = 20

  /** Segment-string array of a `toks`-named token-array column — THE
    * definition of "segment boundaries", shared by every consumer
    * (dedup_segments, trim_segments, dedup_bloom, the streaming gate) so
    * they cannot disagree on where a segment starts. */
  private[graft] def segStrArr: org.apache.spark.sql.Column =
    expr(
      s"transform(sequence(1, ((size(toks) - 1) div $SegLen) + 1), " +
        s"i -> concat_ws(' ', slice(toks, (i - 1) * $SegLen + 1, $SegLen)))")

  /** Segment-hash array: [[segStrArr]] under the shared 60-bit md5. */
  private[graft] def segHashArr: org.apache.spark.sql.Column =
    transform(segStrArr, s => md5Long(s))

  private[operators] def segments(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      // join/count key is the shared 60-bit md5, not the segment text:
      // shuffle bytes per row are 8, not ~SegLen words. A doc without
      // tokens explodes a null and yields no row: a filter on the token
      // count would be pushed under the projection and tokenize twice
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 1, segHashArr)).as("sh"))

  /** Materialized (doc_id, sh) segment-hash frame: compact (two longs per
    * segment), tokenized once per (session, corpus) and shared by every
    * consumer that needs hashes without text — dedup_bloom alone reads it
    * from four plan branches. At 100 TB this is a parquet intermediate. */
  private[operators] def segmentsCached(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "segmentsCached")(segments(spark, dir))

  // ---- #25z segment trimming (boilerplate removal end product) ----------
  /** The trimming `dedup_segments` measures: rebuild every document WITHOUT
    * its corpus-duplicated segments (the CCNet/RefinedWeb paragraph-dedup
    * output — headers, licence blocks and quoted passages vanish while the
    * unique prose survives). Same count-over-window shape as
    * `dedup_segments` — one exchange keyed by the 8-byte segment hash both
    * counts and marks; the doc-keyed aggregation then reassembles kept
    * segments in position order. Exact integers + a string output (§6-safe).
    *
    * Scale: the sh-partitioned window carries the segment text as payload
    * (unavoidable — the text is what survives), so the exchange moves ~the
    * corpus once; the reassembly groupBy moves kept text once more. Both
    * are uniform-hash keyed; the duplicated minority never skews (a hot
    * segment's rows all land in one partition but are bounded by its
    * corpus count, which trimming itself caps the damage of). */
  def trimSegments(spark: SparkSession, dir: String): DataFrame = {
    val segsP = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      // tested where the tokens are computed, as in `segments`
      .select(col("doc_id"),
        posexplode(when(size(col("toks")) >= 1, segStrArr)).as(Seq("pos", "seg")))
      .withColumn("sh", md5Long(col("seg")))
    segsP
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("n") <= 1,
            struct(col("pos"), col("seg"))))),
          s => s.getField("seg"))).as("trimmed_text"))
  }
  val trimSegmentsSql: String =
    s"""WITH toksx AS (
       |  SELECT doc_id, ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), segs AS (
       |  SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
       |    list_aggr(t[(g.i - 1) * $SegLen + 1 : (g.i - 1) * $SegLen + $SegLen],
       |      'string_agg', ' ') AS seg
       |  FROM toksx, unnest(range(1, ((len(t) - 1) // $SegLen) + 2)) AS g(i)
       |  WHERE len(t) >= 1
       |), marked AS (
       |  SELECT doc_id, pos, seg,
       |    count(*) OVER (PARTITION BY ${sqlMd5Long("seg")}) AS n
       |  FROM segs
       |)
       |SELECT doc_id, count(*) AS n_segments,
       |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE n <= 1), '')
       |    AS trimmed_text
       |FROM marked GROUP BY 1""".stripMargin

  // ---- within-doc repeated-line trimming (Gopher/RefinedWeb) -------------
  /** INTRA-document line dedup — the Gopher/RefinedWeb repetition-removal
    * end product `trim_segments` is NOT: where trim_segments drops
    * segments duplicated across the CORPUS, this drops each document's
    * OWN duplicated lines (nav bars, repeated boilerplate rows, copy-paste
    * stutter), keeping the FIRST occurrence of every distinct line.
    * `repetition_stats` measures this signal; this operator produces the
    * trimmed text. Lines split on '\n' exactly (empty lines are lines:
    * the second and later blank separators collapse, which is the
    * documented Gopher behavior for duplicate-line removal).
    *
    * Scale: the first-occurrence mark is a (doc_id, line-hash)-keyed
    * min-position window — keys are doc-local so the exchange is uniform
    * and NEVER hotter than the doc's own line count; reassembly is the
    * same doc-keyed sorted-struct rebuild as trim_segments. Two
    * corpus-sized exchanges total, the operator's inherent cost (an
    * adversarial all-duplicate-lines doc costs its own line count, capped
    * by doc length — no cross-doc amplification by construction). */
  def trimRepeatedLines(spark: SparkSession, dir: String): DataFrame =
    trimRepeatedLinesOf(Corpus.table(spark, dir, "documents"))

  /** [[trimRepeatedLines]] over any (doc_id, text) frame — what
    * CurationPipeline calls on the SURVIVOR-joined corpus so the explode/
    * window/rebuild never runs for documents curation already dropped. */
  private[graft] def trimRepeatedLinesOf(d: DataFrame): DataFrame = {
    val lines = d
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
    lines
      // first occurrence per (doc, line): min(pos) over the 8-byte line
      // hash — the window key is the hash on BOTH engines so a collision
      // (astronomically unlikely) cannot make them disagree
      .withColumn("first_pos", min(col("pos")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"), md5Long(col("line")))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("pos") > col("first_pos"), 1L).otherwise(0L))
          .as("n_dropped"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("pos") === col("first_pos"),
            struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("trimmed_text"))
  }
  val trimRepeatedLinesSql: String =
    s"""WITH lx AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS l FROM documents
       |), lines AS (
       |  SELECT doc_id, CAST(g.i AS BIGINT) AS pos, l[g.i] AS line
       |  FROM lx, unnest(range(1, len(l) + 1)) AS g(i)
       |), marked AS (
       |  SELECT doc_id, pos, line,
       |    min(pos) OVER (PARTITION BY doc_id, ${sqlMd5Long("line")})
       |      AS first_pos
       |  FROM lines
       |)
       |SELECT doc_id, count(*) AS n_lines,
       |  CAST(sum(CASE WHEN pos > first_pos THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  coalesce(string_agg(line, chr(10) ORDER BY pos)
       |    FILTER (WHERE pos = first_pos), '') AS trimmed_text
       |FROM marked GROUP BY 1""".stripMargin

  /** A line is "common" when it occurs this many times corpus-wide — the
    * C4 rule's threshold (Raffel et al. 2020 discard spans occurring
    * repeatedly across the dataset; 3 is the usual line-level cut: twice
    * can be quotation, three times is boilerplate). */
  val CommonLineMin = 3L

  /** CORPUS-level common-line trimming — the C4/CCNet complement of
    * [[trimRepeatedLines]] (within-doc) and [[trimSegments]] (fixed
    * 20-token segments): drop every line whose CORPUS-wide occurrence
    * count reaches [[CommonLineMin]] (cookie banners, nav bars, licence
    * lines shared across pages), keep the rest in order.
    *
    * Scale: deliberately NOT the count-over-window shape trim_segments
    * uses — at line granularity the hot keys are real (a blank line or
    * "Home" occurs billions of times at 100 TB) and a window partition
    * cannot split, while a JOIN can: the count table is a map-side-partial
    * groupBy on the 8-byte line hash (hot keys collapse to one row per
    * partition before the exchange), and the count join back is an
    * AQE-skew-splittable shuffle_hash equi-join. Two corpus exchanges +
    * the doc-keyed rebuild — the honest price of corpus-wide line
    * identity. */
  def trimCommonLines(spark: SparkSession, dir: String): DataFrame = {
    val lines = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("lh", md5Long(col("line")))
    val common = lines.groupBy("lh").agg(count(lit(1)).as("n"))
      .where(col("n") >= CommonLineMin)
    lines
      .join(common.hint("shuffle_hash"), Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("n").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("n").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("trimmed_text"))
  }
  val trimCommonLinesSql: String =
    s"""WITH lx AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS l FROM documents
       |), lines AS MATERIALIZED (
       |  SELECT doc_id, CAST(g.i AS BIGINT) AS pos, l[g.i] AS line,
       |    ${sqlMd5Long("l[g.i]")} AS lh
       |  FROM lx, unnest(range(1, len(l) + 1)) AS g(i)
       |), common AS (
       |  SELECT lh, count(*) AS n FROM lines GROUP BY 1
       |  HAVING count(*) >= $CommonLineMin
       |)
       |SELECT doc_id, count(*) AS n_lines,
       |  CAST(sum(CASE WHEN n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  coalesce(string_agg(line, chr(10) ORDER BY pos)
       |    FILTER (WHERE n IS NULL), '') AS trimmed_text
       |FROM lines LEFT JOIN common USING (lh) GROUP BY 1""".stripMargin

  /** CORPUS-WIDE paragraph dedup-trim — CCNet's ACTUAL dedup grain (Wenzek
    * et al. 2020 dedup paragraphs across shards, keeping one occurrence):
    * every paragraph occurrence that is not the corpus-FIRST occurrence of
    * its hash drops; first = lexicographic min (doc_id, pos), pinned and
    * engine-neutral (both engines order structs lexicographically). This
    * completes the grain matrix: within-doc lines (`trim_repeated_lines`),
    * corpus lines (`trim_common_lines`), fixed segments (`trim_segments`),
    * and now corpus paragraphs. Unlike `paragraph_repetition` (a measure),
    * empty paragraphs are occurrences here — the first blank survives,
    * later blanks drop, exactly like any other duplicated paragraph.
    *
    * Scale: the first-occurrence table is a map-side-partialed min(struct)
    * groupBy on the 8-byte hash (hot keys collapse to one row per
    * partition before the exchange); the join back is AQE-skew-splittable
    * shuffle_hash — the same deliberate JOIN-not-window choice as
    * `trim_common_lines`, because blank/boilerplate paragraphs are real
    * hot keys at 100 TB. */
  def trimCommonParagraphs(spark: SparkSession, dir: String): DataFrame = {
    val paras = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n\n", -1)).as(Seq("pos", "para")))
      .withColumn("ph", md5Long(col("para")))
    val firsts = paras.groupBy("ph")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    paras
      .join(firsts.hint("shuffle_hash"), Seq("ph"))
      .withColumn("keep",
        col("f.doc_id") === col("doc_id") && col("f.pos") === col("pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paragraphs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws("\n\n", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("para"))))),
          s => s.getField("para"))).as("trimmed_text"))
  }
  val trimCommonParagraphsSql: String =
    s"""WITH px AS (
       |  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
       |  FROM documents
       |), paras AS MATERIALIZED (
       |  SELECT doc_id, CAST(g.i AS BIGINT) AS pos, ps[g.i] AS para,
       |    ${sqlMd5Long("ps[g.i]")} AS ph
       |  FROM px, unnest(range(1, len(ps) + 1)) AS g(i)
       |), firsts AS (
       |  SELECT ph, min(struct_pack(d := doc_id, p := pos)) AS f
       |  FROM paras GROUP BY 1
       |)
       |SELECT doc_id, count(*) AS n_paragraphs,
       |  CAST(sum(CASE WHEN NOT (f.d = doc_id AND f.p = pos) THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_dropped,
       |  coalesce(string_agg(para, chr(10) || chr(10) ORDER BY pos)
       |    FILTER (WHERE f.d = doc_id AND f.p = pos), '') AS trimmed_text
       |FROM paras JOIN firsts USING (ph) GROUP BY 1""".stripMargin

  // ---- C4 line-level content heuristics (Raffel et al. 2020 §2.2) --------
  /** The C4 cleaning rules every C4-descendant corpus runs — CONTENT rules,
    * the complement of the three duplication trims above (which drop lines
    * by repetition, not by what they say). Pinned variant:
    *
    * Line kept iff ALL of: (a) it ends — after right-trim — in terminal
    * punctuation `. ! ? "`; (b) it has ≥ [[C4MinLineWords]] whitespace
    * words; (c) it contains none of [[C4BannedPhrases]] case-insensitively
    * (the paper's "javascript" rule plus the cookie/policy boilerplate
    * phrases its descendants — RefinedWeb, FineWeb — added).
    *
    * Document dropped iff: raw text contains "lorem ipsum"
    * (case-insensitive) or a curly brace `{` (the paper's code-page rule),
    * or the kept lines carry fewer than [[C4MinSentences]] sentences
    * (sentence count pinned as occurrences of `. ! ?` in the kept text —
    * deterministic and engine-agnostic, unlike a sentence splitter).
    * Reason precedence: lorem_ipsum > brace > few_sentences.
    *
    * Scale: MAP-ONLY — the line split, keep-filter and rebuild are
    * higher-order array functions inside one projection; no explode, no
    * shuffle, nothing leaves the row. At 100 TB this runs at scan speed. */
  val C4MinLineWords = 3
  val C4MinSentences = 5
  val C4BannedPhrases: Seq[String] =
    Seq("javascript", "cookie", "privacy policy", "terms of use")

  private def c4Keep(l: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val words = size(wsTokens(l))
    rtrim(l).rlike("[.!?\"]$") &&
      words >= C4MinLineWords &&
      !C4BannedPhrases.map(p => instr(lower(l), p) > 0).reduce(_ || _)
  }

  /** Sentence count of a text column: occurrences of `. ! ?`. */
  private def sentCount(t: org.apache.spark.sql.Column) =
    ((length(t) - length(replace(t, lit(".")))) +
      (length(t) - length(replace(t, lit("!")))) +
      (length(t) - length(replace(t, lit("?"))))).cast("long")

  def c4LineFilters(spark: SparkSession, dir: String): DataFrame =
    c4LineFiltersOf(Corpus.table(spark, dir, "documents"))

  /** [[c4LineFilters]] over any (doc_id, text) frame — what
    * CurationPipeline calls on the survivor-joined corpus. */
  private[graft] def c4LineFiltersOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("text"),
        split(col("text"), "\n", -1).as("ls"))
      .select(col("doc_id"), col("text"),
        size(col("ls")).cast("long").as("n_lines"),
        filter(col("ls"), c4Keep _).as("kept"))
      .select(col("doc_id"), col("text"), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept_lines"),
        array_join(col("kept"), "\n").as("ktext"))
      .withColumn("n_sentences", sentCount(col("ktext")))
      .withColumn("drop_reason",
        when(instr(lower(col("text")), "lorem ipsum") > 0, "lorem_ipsum")
          .when(instr(col("text"), "{") > 0, "brace")
          .when(col("n_sentences") < C4MinSentences, "few_sentences")
          .otherwise(""))
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"), col("drop_reason"),
        when(col("drop_reason") === "", col("ktext"))
          .otherwise("").as("filtered_text"))

  /** [[c4LineFilters]] as a row-local GATE: drop condemned docs, replace
    * `text` with the filtered lines, keep every other column — the shape
    * the composed pipelines and the streaming twin consume. Pure
    * projection + filter (stateless, no shuffle), so batch≡stream by
    * construction. */
  private[graft] def c4GateOf(d: DataFrame): DataFrame = {
    val kept = filter(split(col("text"), "\n", -1), c4Keep _)
    val ktext = array_join(kept, "\n")
    val dropped = instr(lower(col("text")), "lorem ipsum") > 0 ||
      instr(col("text"), "{") > 0 || sentCount(ktext) < C4MinSentences
    d.where(!dropped).withColumn("text", ktext)
  }

  private def sqlC4Keep(l: String): String = {
    val banned = C4BannedPhrases
      .map(p => s"contains(lower($l), '$p')").mkString(" OR ")
    s"""regexp_matches(rtrim($l), '[.!?"]$$') AND len(${sqlWsTokens(l)}) >= $C4MinLineWords
       |      AND NOT ($banned)""".stripMargin
  }
  private def sqlSentCount(t: String): String =
    s"CAST((length($t) - length(replace($t, '.', ''))) + " +
      s"(length($t) - length(replace($t, '!', ''))) + " +
      s"(length($t) - length(replace($t, '?', ''))) AS BIGINT)"
  val c4LineFiltersSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |    coalesce(array_to_string(list_filter(string_split(text, chr(10)),
       |      l -> ${sqlC4Keep("l")}), chr(10)), '') AS ktext,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> ${sqlC4Keep("l")})) AS BIGINT) AS n_kept_lines
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, text, n_lines, n_kept_lines, ktext,
       |    ${sqlSentCount("ktext")} AS n_sentences
       |  FROM f
       |)
       |SELECT doc_id, n_lines, n_kept_lines, n_sentences,
       |  CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
       |       WHEN contains(text, '{') THEN 'brace'
       |       WHEN n_sentences < $C4MinSentences THEN 'few_sentences'
       |       ELSE '' END AS drop_reason,
       |  CASE WHEN contains(lower(text), 'lorem ipsum') OR contains(text, '{')
       |         OR n_sentences < $C4MinSentences THEN ''
       |       ELSE ktext END AS filtered_text
       |FROM g""".stripMargin

  // ---- paragraph-grain Gopher repetition (Rae et al. 2021 §A1.1) ---------
  /** Within-document duplicate-PARAGRAPH profile — the grain the Gopher
    * repetition thresholds are actually stated on (`repetition_stats` is
    * token-level, the trim family is line/segment-level). Paragraphs split
    * on the literal `\n\n` delimiter; whitespace-only paragraphs are not
    * paragraphs (blank runs between real paragraphs would otherwise count
    * as duplicates of each other). Docs with zero non-empty paragraphs
    * emit no row. Per doc: paragraph count, repeat occurrences beyond each
    * distinct paragraph's first, and the exact-bp fractions Gopher gates
    * on — dup-paragraph share, dup-paragraph CHARACTER share, and the
    * character mass of the single most frequent paragraph.
    *
    * Scale: the group key is (doc_id, paragraph-hash) — doc-local, so the
    * exchange is uniform and bounded by each doc's own paragraph count;
    * the per-doc rollup reuses the same partitioning. The 8-byte hash
    * ships instead of paragraph text. No cross-doc amplification. */
  def paragraphRepetition(spark: SparkSession, dir: String): DataFrame = {
    val paras = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(filter(split(col("text"), "\n\n", -1), p => trim(p) =!= ""))
          .as("p"))
      .select(col("doc_id"), md5Long(col("p")).as("ph"),
        length(col("p")).cast("long").as("plen"))
    paras.groupBy("doc_id", "ph")
      .agg(count(lit(1)).as("n"), max(col("plen")).as("plen"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_paragraphs"),
        sum(col("n") - 1L).as("n_dup_paragraphs"),
        sum(col("n") * col("plen")).as("total_chars"),
        sum((col("n") - 1L) * col("plen")).as("dup_chars"),
        max(col("n") * col("plen")).as("top_chars"))
      .select(col("doc_id"), col("n_paragraphs"), col("n_dup_paragraphs"),
        bp(col("n_dup_paragraphs"), col("n_paragraphs")).as("dup_para_bp"),
        bp(col("dup_chars"), col("total_chars")).as("dup_char_bp"),
        bp(col("top_chars"), col("total_chars")).as("top_para_char_bp"))
  }
  val paragraphRepetitionSql: String =
    s"""WITH px AS (
       |  SELECT doc_id, list_filter(string_split(text, chr(10) || chr(10)),
       |    p -> trim(p) <> '') AS ps
       |  FROM documents
       |), paras AS (
       |  SELECT doc_id, ${sqlMd5Long("g.p")} AS ph,
       |    CAST(length(g.p) AS BIGINT) AS plen
       |  FROM px, unnest(ps) AS g(p)
       |), grouped AS (
       |  SELECT doc_id, ph, count(*) AS n, max(plen) AS plen
       |  FROM paras GROUP BY 1, 2
       |)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_paragraphs,
       |  CAST(sum(n - 1) AS BIGINT) AS n_dup_paragraphs,
       |  ${sqlBp("sum(n - 1)", "sum(n)")} AS dup_para_bp,
       |  ${sqlBp("sum((n - 1) * plen)", "sum(n * plen)")} AS dup_char_bp,
       |  ${sqlBp("max(n * plen)", "sum(n * plen)")} AS top_para_char_bp
       |FROM grouped GROUP BY 1""".stripMargin

  /** The n-gram sizes Gopher's repetition table thresholds (top-n-gram
    * char fraction for 2–4, dup-n-gram char fraction for 5+; Rae et al.
    * 2021 table A1). One shared explode covers all six. */
  val GopherNs: Seq[Int] = Seq(2, 3, 4, 5, 6, 7)

  /** WITHIN-document n-gram repetition signals at the Gopher grains —
    * the n-gram complement of `repetition_stats` (unigram) and
    * [[paragraphRepetition]] (paragraph): per (doc, n), the character MASS
    * of the single heaviest n-gram and of all duplicated n-grams, in exact
    * bp of the doc's token characters. Masses count every occurrence, so
    * overlapping repeats can push past 10⁴ on degenerate docs ("a a a a"
    * at n=2) — pinned and documented; Gopher's positional-coverage variant
    * is what the threshold consumers approximate anyway, and mass is
    * exactly reproducible on both engines with integer math.
    *
    * Scale: ONE token-array projection explodes all six gram sizes in a
    * single pass (6·tokens rows of 8-byte hashes + two ints — no gram
    * TEXT ships); both aggregations are doc-local-keyed, so exchanges are
    * uniform and bounded by per-doc gram counts. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame =
    // per-corpus artifact (the gate row and any threshold consumer re-read
    // it): materialize once per (session, corpus) like the gram frames
    Materialized.frame(spark, dir, "gopherRepetition")(
      gopherRepetitionUncached(spark, dir))

  /** Row-local token-character total of a `toks` array column. */
  private[graft] def tokCharsCol: org.apache.spark.sql.Column =
    expr("aggregate(toks, CAST(0 AS BIGINT), (a, x) -> a + length(x))")

  /** Row-local per-grain repetition stats of a `toks` array column — one
    * struct per n ∈ [[GopherNs]] the doc is long enough for (see
    * [[gopherRepetition]] for the run-length-fold derivation). Shared by
    * the batch operator and the streaming gate so they cannot diverge.
    * Since r13 this is the codegen'd
    * [[org.apache.spark.sql.graft.GopherRepStats]] primitive — the
    * interpreted higher-order-function fold it replaces (kept below as
    * [[gopherFoldExprSql]] documentation of the pinned semantics) cost
    * ~7 s of single-task CPU at sf0.1; outputs are identical (same
    * 60-bit md5 gram key, same struct sort order, same run fold). */
  private[graft] def gopherRepStatsArr: org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.GopherRepStats(col("toks"), GopherNs)

  private def gopherRepetitionUncached(spark: SparkSession, dir: String): DataFrame =
    // ROW-LOCAL formulation: a doc's grams all live in its own row, so the
    // per-(doc, n) masses never need a shuffle — sort the gram (hash, len)
    // pairs inside the row and fold run-lengths in one pass (max run mass
    // = top, Σ mass of runs ≥2 = dup). The first cut was the obvious
    // explode + two groupBys; at sf0.1 that shuffled ~6·tokens hash rows
    // twice and cost 16 s steady — this shape is ZERO-exchange (the only
    // post-scan operator is the 6-rows-per-doc explode) and the 100 TB
    // story collapses to "runs at scan speed".
    // a doc shorter than the smallest grain has no stats and explodes to
    // no row, so no token-count filter (which would tokenize twice)
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        tokCharsCol.as("tok_chars"),
        explode(gopherRepStatsArr).as("g"))
      .select(col("doc_id"), col("g.n").as("n"),
        col("g.n_grams").as("n_grams"),
        bp(col("g.agg.top"), col("tok_chars")).as("top_char_bp"),
        bp(col("g.agg.dup"), col("tok_chars")).as("dup_char_bp"))

  private val gopherFoldExprSql: String = (
          s"""filter(transform(array(${GopherNs.mkString(", ")}), n ->
             |  IF(size(toks) < n, NULL,
             |    named_struct(
             |      'n', CAST(n AS BIGINT),
             |      'n_grams', CAST(size(toks) - n + 1 AS BIGINT),
             |      'agg', aggregate(
             |        array_sort(transform(sequence(1, size(toks) - n + 1),
             |          i -> named_struct(
             |            'gh', CAST(conv(substring(md5(concat_ws(' ',
             |              slice(toks, i, n))), 1, 15), 16, 10) AS BIGINT),
             |            'glen', CAST(aggregate(slice(toks, i, n),
             |              CAST(0 AS BIGINT), (a, x) -> a + length(x))
             |              AS BIGINT)))),
             |        named_struct('prev', CAST(-1 AS BIGINT),
             |          'run', CAST(0 AS BIGINT), 'rglen', CAST(0 AS BIGINT),
             |          'top', CAST(0 AS BIGINT), 'dup', CAST(0 AS BIGINT)),
             |        (a, x) -> IF(x.gh = a.prev,
             |          named_struct('prev', a.prev, 'run',
             |            a.run + CAST(1 AS BIGINT), 'rglen', a.rglen,
             |            'top', a.top, 'dup', a.dup),
             |          named_struct('prev', x.gh, 'run', CAST(1 AS BIGINT),
             |            'rglen', x.glen,
             |            'top', greatest(a.top, a.run * a.rglen),
             |            'dup', a.dup + IF(a.run >= 2, a.run * a.rglen,
             |              CAST(0 AS BIGINT)))),
             |        a -> named_struct(
             |          'top', greatest(a.top, a.run * a.rglen),
             |          'dup', a.dup + IF(a.run >= 2, a.run * a.rglen,
             |            CAST(0 AS BIGINT))))))),
             |  s -> s IS NOT NULL)""".stripMargin)
  val gopherRepetitionSql: String =
    s"""WITH toksx AS (
       |  SELECT doc_id, ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), basex AS (
       |  SELECT doc_id, t, CAST(list_aggr(list_transform(t, x -> length(x)),
       |    'sum') AS BIGINT) AS tok_chars
       |  FROM toksx WHERE len(t) >= 1
       |), grams AS MATERIALIZED (
       |  SELECT doc_id, tok_chars, g.n AS n,
       |    ${sqlMd5Long("list_aggr(t[h.i : h.i + g.n - 1], 'string_agg', ' ')")}
       |      AS gh,
       |    CAST(list_aggr(list_transform(t[h.i : h.i + g.n - 1],
       |      x -> length(x)), 'sum') AS BIGINT) AS glen
       |  FROM basex,
       |    unnest([${GopherNs.mkString(", ")}]) AS g(n),
       |    unnest(range(1, greatest(len(t) - g.n + 1, 0) + 1)) AS h(i)
       |), cnt AS (
       |  SELECT doc_id, tok_chars, n, gh, count(*) AS c, max(glen) AS glen
       |  FROM grams GROUP BY 1, 2, 3, 4
       |)
       |SELECT doc_id, CAST(n AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS n_grams,
       |  ${sqlBp("max(c * glen)", "tok_chars")} AS top_char_bp,
       |  ${sqlBp("coalesce(sum(CASE WHEN c >= 2 THEN c * glen END), 0)",
            "tok_chars")} AS dup_char_bp
       |FROM cnt GROUP BY doc_id, tok_chars, n""".stripMargin

  /** Gopher A1 repetition thresholds in bp: top-n-gram char share for
    * n=2–4 (20/18/16%), dup-n-gram char share for n=5–7 (15/14/13%). */
  val GopherRepMaxBp: Map[Int, Long] =
    Map(2 -> 2000L, 3 -> 1800L, 4 -> 1600L,
      5 -> 1500L, 6 -> 1400L, 7 -> 1300L)

  /** The composed Gopher repetition GATE — the keep/drop verdict the
    * [[gopherRepetition]] statistics exist for (Rae et al. 2021 table A1:
    * a doc drops when ANY grain exceeds its threshold; n=2–4 gate on the
    * top-gram share, n=5–7 on the duplicated-gram share). Every document
    * gets a row: docs too short to have any n-gram trivially keep, and
    * `worst_rule` names the smallest violated grain ('' when clean) so a
    * drop is attributable. Row-local thresholding + one doc-keyed rollup
    * on top of the shared statistics frame. */
  def gopherRepetitionGate(spark: SparkSession, dir: String): DataFrame = {
    val rep = gopherRepetition(spark, dir)
    val thr = GopherRepMaxBp.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("long")) { case (acc, (n, t)) =>
        when(col("n") === n, t).otherwise(acc) }
    val metric = when(col("n") <= 4, col("top_char_bp"))
      .otherwise(col("dup_char_bp"))
    val v = rep
      .select(col("doc_id"), col("n"), (metric > thr).as("viol"))
      .groupBy("doc_id")
      .agg(sum(when(col("viol"), 1L).otherwise(0L)).as("nv"),
        min(when(col("viol"), col("n"))).as("mn"))
    Corpus.table(spark, dir, "documents").select("doc_id")
      .join(v, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nv"), lit(0L)).as("n_violations"),
        (coalesce(col("nv"), lit(0L)) === 0L).as("keep"),
        coalesce(
          when(col("mn").isNotNull, concat(
            when(col("mn") <= 4, lit("top_")).otherwise(lit("dup_")),
            col("mn").cast("string"), lit("gram"))),
          lit("")).as("worst_rule"))
  }
  /** [[gopherRepetitionGate]] as a row-local FILTER over any (…, text)
    * frame — the shape the streaming twin consumes. The violation test is
    * the same shared fold ([[gopherRepStatsArr]]) compared in integer
    * cross-multiplied form (mass·10⁴ > thr·tok_chars — no division), so
    * batch and stream cannot disagree. Stateless, no shuffle. */
  private[graft] def gopherRepGateOf(d: DataFrame): DataFrame = {
    val thrOf = (g: org.apache.spark.sql.Column) =>
      GopherRepMaxBp.toSeq.sortBy(_._1)
        .foldLeft(lit(null).cast("long")) { case (acc, (n, t)) =>
          when(g.getField("n") === n, t).otherwise(acc) }
    val violated = exists(gopherRepStatsArr, g => {
      val mass = when(g.getField("n") <= 4, g.getField("agg").getField("top"))
        .otherwise(g.getField("agg").getField("dup"))
      mass * lit(10000L) > thrOf(g) * tokCharsCol
    })
    d.withColumn("toks", lowerTokens(col("text")))
      .where(!violated)
      .drop("toks")
  }

  lazy val gopherRepetitionGateSql: String = {
    val thrCase = GopherRepMaxBp.toSeq.sortBy(_._1)
      .map { case (n, t) => s"WHEN n = $n THEN $t" }.mkString(" ")
    s"""WITH rep AS (
       |  SELECT * FROM (
       |    ${gopherRepetitionSql.linesIterator.mkString("\n    ")}
       |  )
       |), v AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN (CASE WHEN n <= 4 THEN top_char_bp
       |        ELSE dup_char_bp END) > (CASE $thrCase END)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS nv,
       |    min(CASE WHEN (CASE WHEN n <= 4 THEN top_char_bp
       |        ELSE dup_char_bp END) > (CASE $thrCase END)
       |      THEN n END) AS mn
       |  FROM rep GROUP BY 1
       |)
       |SELECT d.doc_id, coalesce(nv, 0) AS n_violations,
       |  coalesce(nv, 0) = 0 AS keep,
       |  coalesce(CASE WHEN mn IS NOT NULL THEN
       |    concat(CASE WHEN mn <= 4 THEN 'top_' ELSE 'dup_' END,
       |      CAST(mn AS VARCHAR), 'gram') END, '') AS worst_rule
       |FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id""".stripMargin
  }

  /** Per-doc duplication profile: how many of the doc's segments also occur
    * elsewhere in the corpus (counting every occurrence of a segment whose
    * corpus-wide count exceeds 1). The aggregate a curation pipeline
    * thresholds on before dropping or trimming documents. */
  def dedupSegments(spark: SparkSession, dir: String): DataFrame = {
    // count-over-window on the 8-byte segment hash: one exchange both
    // counts and filters, and the tokenize+segment explode runs once —
    // the groupBy-then-join-back shape ran it once per branch (see
    // dupSpanStats for the same restructure)
    segmentsCached(spark, dir)
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_segments"))
      .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
        // §6: exact basis points, not round(DOUBLE) — the r4 driver oracle
        // rounded boundary quotients differently than Spark
        bp(col("n_dup_segments"), col("n_segments")).as("dup_seg_bp"))
  }
  val dedupSegmentsSql: String =
    s"""WITH toksx AS (
       |  SELECT doc_id, ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), segs AS (
       |  SELECT doc_id,
       |    ${sqlMd5Long("g.s")} AS sh
       |  FROM toksx, unnest(list_transform(range(1, ((len(t) - 1) // $SegLen) + 2),
       |    i -> list_aggr(t[(i - 1) * $SegLen + 1 : (i - 1) * $SegLen + $SegLen],
       |      'string_agg', ' '))) AS g(s)
       |  WHERE len(t) >= 1
       |), cnt AS (
       |  SELECT sh, count(*) AS n FROM segs GROUP BY 1
       |)
       |SELECT doc_id, count(*) AS n_segments,
       |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
       |  ${sqlBp("sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)", "count(*)")}
       |    AS dup_seg_bp
       |FROM segs JOIN cnt USING (sh) GROUP BY 1""".stripMargin

  // ---- #25j benchmark decontamination (probe-set n-gram overlap) --------
  /** Decontamination proper: flag corpus documents sharing any word
    * ContamK-gram with a probe set (in production, the eval benchmark; here
    * the first ContamProbeDocs documents stand in as the "benchmark" so the
    * check is deterministic at every SF). The probe-gram side is bounded by
    * benchmark size and broadcasts; the corpus side reads the shared
    * materialized gram frame (TextAnalysis.gramFrame) at k=ContamK. */
  val ContamK = 3
  val ContamProbeDocs = 3

  /** Materialized per (session, corpus): curatedCorpus reads it twice per
    * evaluation (the broadcast-cap probe count + the anti-join), and the
    * standalone query shares the same frame. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "decontaminate") {
      val grams = TextAnalysis.gramFrame(spark, dir, ContamK)
      val probes = grams.where(col("doc_id") < ContamProbeDocs)
        .select("gram").distinct()
      grams.where(col("doc_id") >= ContamProbeDocs)
        .join(broadcast(probes), "gram")
        .groupBy("doc_id")
        .agg(countDistinct(col("gram")).as("n_contam_grams"),
          count(lit(1)).as("n_gram_hits"))
    }
  val decontaminateSql: String =
    s"""${TextAnalysis.sqlGramsCte(ContamK)}, probes AS (
       |  SELECT DISTINCT gram FROM grams WHERE doc_id < $ContamProbeDocs
       |)
       |SELECT doc_id, count(DISTINCT gram) AS n_contam_grams,
       |  count(*) AS n_gram_hits
       |FROM grams JOIN probes USING (gram)
       |WHERE doc_id >= $ContamProbeDocs GROUP BY 1""".stripMargin

  // ---- #25j-b contamination attribution report ---------------------------
  /** The graded version of [[decontaminate]] — per (corpus doc, probe doc)
    * pair, how MUCH leaked: shared distinct [[ContamK]]-grams, the doc's
    * own distinct gram count, and the overlap fraction in exact basis
    * points. `decontaminate` answers "is it contaminated"; this is the
    * blame report a curation run reads before deleting — WHICH benchmark
    * document leaked into which training document, and whether the overlap
    * is a quoted snippet (low bp) or a near-copy (high bp). Plan shape:
    * the probe side stays benchmark-bounded and broadcasts with probe ids
    * retained; the corpus side reads the SAME materialized gram frame as
    * decontaminate/boilerplate (no new corpus pass); the per-doc distinct
    * and total roll up on doc_id, and the only new shuffle keys on
    * (doc_id, probe_id) — bounded by actual hits, never corpus × probes. */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val grams = TextAnalysis.gramFrame(spark, dir, ContamK)
    val probeGrams = grams.where(col("doc_id") < ContamProbeDocs)
      .select(col("doc_id").as("probe_id"), col("gram")).distinct()
    val corpus = grams.where(col("doc_id") >= ContamProbeDocs)
      .dropDuplicates("doc_id", "gram")
    val totals = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    corpus.join(broadcast(probeGrams), "gram")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(totals, "doc_id")
      .select(col("doc_id"), col("probe_id"), col("n_shared"), col("n_grams"),
        bp(col("n_shared"), col("n_grams")).as("overlap_bp"))
  }
  val contaminationReportSql: String =
    s"""${TextAnalysis.sqlGramsCte(ContamK)}, dg AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, gram FROM grams
       |), probes AS (
       |  SELECT doc_id AS probe_id, gram FROM dg WHERE doc_id < $ContamProbeDocs
       |), corpus AS (
       |  SELECT doc_id, gram FROM dg WHERE doc_id >= $ContamProbeDocs
       |), totals AS (
       |  SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1
       |), hits AS (
       |  SELECT c.doc_id, p.probe_id, count(*) AS n_shared
       |  FROM corpus c JOIN probes p USING (gram) GROUP BY 1, 2
       |)
       |SELECT doc_id, probe_id, n_shared, n_grams,
       |  ${sqlBp("n_shared", "n_grams")} AS overlap_bp
       |FROM hits JOIN totals USING (doc_id)""".stripMargin

  // ---- #25n-b reproducible train/val/test split ---------------------------
  /** The split every training run needs and every engineer re-implements:
    * deterministic train/val/test assignment by salted md5 on doc_id —
    * content- and order-independent, reproducible across runs/engines, no
    * RNG state (the sample_deterministic discipline, its own salt so the
    * splits decorrelate from every other hash decision). Thresholds are
    * integer e4 rates on the shared uniform; the per-doc row also carries
    * the uniform so downstream re-splitting is auditable. Map-only — one
    * projection, no shuffle at any scale. */
  val SplitTrainBp = 9000L
  val SplitValBp = 9500L
  /** The salted split uniform and label, row-local on doc_id — shared by
    * trainSplit and the balance audit so "the split" has one definition. */
  private[operators] def splitU: org.apache.spark.sql.Column =
    pmod(md5Long(concat_ws("\u0001",
      col("doc_id").cast("string"), lit("split"))), lit(10000L))
  private[operators] def splitLabel(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(u < SplitTrainBp, "train").when(u < SplitValBp, "val").otherwise("test")
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), splitU.as("u"))
      .withColumn("split", splitLabel(col("u")))

  // ---- #25n-c split balance audit ------------------------------------------
  /** Is the split stratification-fair? Per (split, language): doc count,
    * the language's share WITHIN the split, and its share of the corpus —
    * an iid split shows split_share ≈ corpus_share per language;
    * `delta_bp` is the signed gap. Everything after the one corpus scan
    * (row-local split label + a (split, lang) rollup with map-side
    * partials) operates on ≤ |splits|·|langs| rows: the two share windows
    * are bounded frames and the corpus total is a 1-row UNCONDITIONED
    * broadcast. */
  def splitBalance(spark: SparkSession, dir: String): DataFrame = {
    val cells = Corpus.table(spark, dir, "documents")
      .select(col("lang"), splitLabel(splitU).as("split"))
      .groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n_docs"))
    val ws = org.apache.spark.sql.expressions.Window.partitionBy("split")
    val wl = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    cells
      .withColumn("split_total", sum(col("n_docs")).over(ws))
      .withColumn("lang_total", sum(col("n_docs")).over(wl))
      .crossJoin(broadcast(cells.agg(sum(col("n_docs")).as("corpus_total"))))
      .select(col("split"), col("lang"), col("n_docs"),
        bp(col("n_docs"), col("split_total")).as("split_share_bp"),
        bp(col("lang_total"), col("corpus_total")).as("corpus_share_bp"))
      .withColumn("delta_bp", col("split_share_bp") - col("corpus_share_bp"))
  }
  val splitBalanceSql: String = {
    val u = sqlMd5Long("concat_ws(chr(1), CAST(doc_id AS VARCHAR), 'split')") + " % 10000"
    s"""WITH cells AS (
       |  SELECT CASE WHEN $u < $SplitTrainBp THEN 'train'
       |              WHEN $u < $SplitValBp THEN 'val' ELSE 'test' END AS split,
       |    lang, count(*) AS n_docs
       |  FROM documents GROUP BY 1, 2
       |), w AS (
       |  SELECT *,
       |    CAST(sum(n_docs) OVER (PARTITION BY split) AS BIGINT) AS split_total,
       |    CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS lang_total
       |  FROM cells
       |), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS corpus_total FROM cells)
       |SELECT split, lang, n_docs,
       |  ${sqlBp("n_docs", "split_total")} AS split_share_bp,
       |  ${sqlBp("lang_total", "corpus_total")} AS corpus_share_bp,
       |  ${sqlBp("n_docs", "split_total")} - ${sqlBp("lang_total", "corpus_total")}
       |    AS delta_bp
       |FROM w, t""".stripMargin
  }
  val trainSplitSql: String =
    s"""SELECT doc_id, source,
       |  ${sqlMd5Long("concat_ws(chr(1), CAST(doc_id AS VARCHAR), 'split')")}
       |    % 10000 AS u,
       |  CASE WHEN ${sqlMd5Long(
            "concat_ws(chr(1), CAST(doc_id AS VARCHAR), 'split')")} % 10000
       |         < $SplitTrainBp THEN 'train'
       |       WHEN ${sqlMd5Long(
            "concat_ws(chr(1), CAST(doc_id AS VARCHAR), 'split')")} % 10000
       |         < $SplitValBp THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin

  // ---- #25l the end product: a curated training corpus ------------------
  /** The composed curation pipeline every stage above feeds: keep documents
    * that (1) clear the quality threshold, (2) language-ID as English,
    * (3) survive near-dup dedup, and (4) are not benchmark-contaminated
    * (probe docs themselves excluded — they ARE the benchmark).
    *
    * Plan shape at 100 TB: quality and language are row-local expressions
    * on ONE corpus scan (no joins between per-doc signal frames); the
    * dedup drop-list and the contamination list are bounded by the pair
    * graph / benchmark size respectively and anti-join as broadcasts —
    * but each broadcast is GUARDED (ADVICE r4): "benchmark-bounded" is an
    * assumption about the input, so the list is cheaply probed (LIMIT
    * cap+1 count, early-exit scan of an already-materialized frame) and a
    * list that outgrows the cap anti-joins through a shuffle instead of
    * shipping an unbounded frame to every executor. */
  /** Quality gate in exact basis points (= 0.5; §6 float policy — the
    * threshold must never read a round(DOUBLE) value). */
  val CuratedQualityMinBp = 5000L

  /** Max rows a drop/contamination list may have and still broadcast.
    * Overridable per session via spark.graft.broadcastDocCap (the fallback
    * spec exercises the shuffle path with a cap of 0). */
  val BroadcastDocCap = 5000000L

  private def broadcastDocCap(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.broadcastDocCap")
      .map(_.toLong).getOrElse(BroadcastDocCap)

  /** Left-anti join that broadcasts only a provably small right side.
    * `probeTag` (when non-empty) memoizes the fits-the-cap decision per
    * (session, tagged corpus, cap), so the count job runs once, not once
    * per execution. The LIMIT cap+1 count is an extra Spark job that
    * materializes the right side's whole upstream chain on every
    * EXECUTION of a query embedding it — VERDICT r5 measured
    * curated_corpus paying the dedup drop-list chain twice per run
    * because of it. The probed frames are deterministic per (session,
    * corpus), so the decision is too; clearAll resets it alongside the
    * frames it was measured against. */
  private[operators] def antiJoinBounded(left: DataFrame, right: DataFrame,
      cap: Long, probeTag: String = ""): DataFrame = {
    def fits: Boolean =
      right.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).count() <= cap
    val small =
      if (probeTag.isEmpty) fits
      else Materialized.value(right.sparkSession, s"$probeTag@$cap", "boundedProbe")(fits)
    if (small) left.join(broadcast(right), Seq("doc_id"), "left_anti")
    else left.join(right.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
  }

  def curatedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val cap = broadcastDocCap(spark)
    val kept = Corpus.table(spark, dir, "documents")
      .where(col("doc_id") >= ContamProbeDocs)
      // ONE codegen'd pass per row scores quality and all five language
      // profiles (TokenProfileHits) — no token array materializes
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        TextAnalysis.profileCol.as("__p"))
      .select(col("doc_id") +: col("lang") +: col("source") +: col("n_chars") +:
        TextAnalysis.qualityBpFrom(col("__p")).as("quality_bp") +:
        TextAnalysis.langHitColsFrom(col("__p")): _*)
      .withColumn("pred_lang", TextAnalysis.predLangFromHits)
      .where(col("quality_bp") >= CuratedQualityMinBp && col("pred_lang") === "en")
    antiJoinBounded(
      antiJoinBounded(kept, Dedup.droppedDocs(spark, dir), cap,
        probeTag = s"$dir#droplist"),
      decontaminate(spark, dir).select("doc_id"), cap,
      probeTag = s"$dir#contam")
      .select("doc_id", "lang", "source", "n_chars", "quality_bp")
  }
  lazy val curatedCorpusSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    ${TextAnalysis.sqlQualityBpExpr} AS quality_bp,
       |    ${TextAnalysis.sqlLangHitCols.linesIterator.mkString("\n    ")}
       |  FROM documents
       |  WHERE doc_id >= $ContamProbeDocs
       |), kept AS (
       |  SELECT doc_id, lang, source, n_chars, quality_bp,
       |    ${TextAnalysis.sqlPredLangFromHits} AS pred_lang
       |  FROM scored
       |  WHERE quality_bp >= $CuratedQualityMinBp
       |), dropped AS (
       |  SELECT doc_id FROM (
       |    ${Dedup.dedupComponentsSql.linesIterator.mkString("\n    ")}
       |  ) WHERE doc_id <> component
       |), contaminated AS (
       |  SELECT doc_id FROM (
       |    ${decontaminateSql.linesIterator.mkString("\n    ")}
       |  )
       |)
       |SELECT doc_id, lang, source, n_chars, quality_bp FROM kept
       |WHERE pred_lang = 'en'
       |  AND doc_id NOT IN (SELECT doc_id FROM dropped)
       |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin

  /** One-row corpus DATA CARD — the headline table every corpus release
    * ships (docs, bytes-of-text, exact-dup count, language/source
    * diversity, mean quality, token mass, vocabulary size, tokens/doc):
    * the first thing a consumer reads and the cheapest regression check
    * between corpus versions. Two single-pass aggregations (the doc scan
    * with the codegen'd quality profile; the shared materialized term
    * frame) cross-joined as 1-row frames — no corpus-sized shuffle beyond
    * the term frame it reuses. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Corpus.table(spark, dir, "documents")
    val base = d.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), md5Long(col("text")).as("th"),
        TextAnalysis.qualityBpFrom(TextAnalysis.profileCol).as("q"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("th")).as("n_distinct_texts"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("q")).as("sq"))
    val toksAgg = TextAnalysis.termCounts(spark, dir)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("vocab_size"))
    base.crossJoin(toksAgg)
      .select(col("n_docs"), col("n_chars"),
        (col("n_docs") - col("n_distinct_texts")).as("n_exact_dups"),
        col("n_langs"), col("n_sources"),
        bp(col("sq"), greatest(col("n_docs") * lit(10000L), lit(1L)))
          .as("mean_quality_bp"),
        col("n_tokens"), col("vocab_size"),
        org.apache.spark.sql.graft.ExactMath.intDiv(col("n_tokens"),
          greatest(col("n_docs"), lit(1L))).as("tokens_per_doc"))
  }
  val corpusCardSql: String =
    s"""WITH base AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_chars,
       |    count(DISTINCT ${sqlMd5Long("text")}) AS n_distinct_texts,
       |    count(DISTINCT lang) AS n_langs,
       |    count(DISTINCT source) AS n_sources,
       |    coalesce(sum(${TextAnalysis.sqlQualityBpExpr}), 0) AS sq
       |  FROM documents
       |), t AS (
       |  SELECT doc_id, g.w AS tok
       |  FROM documents, unnest(${sqlLowerTokens("text")}) AS g(w)
       |), ta AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
       |    count(DISTINCT tok) AS vocab_size
       |  FROM t
       |)
       |SELECT n_docs, n_chars,
       |  CAST(n_docs - n_distinct_texts AS BIGINT) AS n_exact_dups,
       |  n_langs, n_sources,
       |  ${sqlBp("sq", "greatest(n_docs * 10000, 1)")} AS mean_quality_bp,
       |  n_tokens, vocab_size,
       |  CAST(n_tokens AS BIGINT) // greatest(CAST(n_docs AS BIGINT), 1)
       |    AS tokens_per_doc
       |FROM base, ta""".stripMargin

  // ---- #25m stratified deterministic sampling (corpus mixing) -----------
  /** Equalize the language mix: sample each language down to the size of the
    * smallest one, deterministically. Per-lang keep-rate = min_count/n_lang,
    * applied as an integer md5 threshold so both engines make bit-identical
    * keep decisions and re-runs are reproducible (no RNG state — the same
    * property `sample_deterministic` has, extended to per-stratum rates).
    *
    * Scale: the rate table is |langs| rows (a broadcast); the corpus side is
    * one scan with a row-local hash filter. The only shuffle is the tiny
    * lang-count agg (map-side partial on a ~5-key column). */
  val StratModulus = 1000000L

  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val d = Corpus.table(spark, dir, "documents")
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val minc = counts.agg(min(col("n_lang")).as("min_lang"))
    // integral division on BOTH engines: `div` here, `//` in the oracle.
    // Column./ is always DOUBLE division — with it, a hash equal to
    // floor(rate) would be kept here and dropped there (caught by the
    // plan-lint sweep, not the oracle: no sf0.01 hash sat on a boundary)
    val rates = counts.crossJoin(broadcast(minc)).select(col("lang"),
      expr(s"(min_lang * $StratModulus) div n_lang").as("keep_below"))
    d.join(broadcast(rates), "lang")
      .where(pmod(md5Long(col("doc_id").cast("string")), lit(StratModulus))
        < col("keep_below"))
      .select("doc_id", "lang", "source")
  }
  val sampleStratifiedSql: String =
    s"""WITH cnt AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
       |mn AS (SELECT min(n_lang) AS min_lang FROM cnt),
       |rates AS (SELECT lang, (min_lang * $StratModulus) // n_lang AS keep_below
       |  FROM cnt CROSS JOIN mn)
       |SELECT doc_id, d.lang, source
       |FROM documents d JOIN rates USING (lang)
       |WHERE ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} % $StratModulus
       |  < keep_below""".stripMargin

  // ---- #25ab per-source document cap (domain cap) ------------------------
  /** Cap every source at SourceCapN documents — the domain-cap step crawl
    * pipelines run so SEO farms and mirror hosts can't dominate the mix
    * (CCNet/Gopher both cap per-domain contributions). The kept set is the
    * SourceCapN smallest doc-id hashes per source: deterministic,
    * re-run-stable, and statistically a uniform random N-of-source sample
    * (the hash is uniform), unlike "first N by crawl order" which biases
    * toward a host's landing pages.
    *
    * Scale: one hash partition per source through a rank window. Hosts are
    * bounded (even a megahost is millions of docs, not billions), so a
    * single source always fits a partition's window state at 100 TB; the
    * windowed frame is doc_id+source+hash only — text never rides through
    * the shuffle, it joins back by doc_id afterwards if needed. */
  val SourceCapN = 20L

  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5Long(col("doc_id").cast("string")), col("doc_id"))
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= SourceCapN)
  }
  val sourceCapSql: String =
    s"""SELECT doc_id, source, rk FROM (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${sqlMd5Long("CAST(doc_id AS VARCHAR)")}, doc_id)
       |      AS BIGINT) AS rk
       |  FROM documents)
       |WHERE rk <= $SourceCapN""".stripMargin

  // ---- #25ac KMV bottom-k sample + distinct sketch -----------------------
  /** Deterministic per-source bottom-k sample via the custom `bottom_k`
    * TypedImperativeAggregate (`BottomKHashes` — the AGGREGATE tier of the
    * custom-operator ladder): one map-side-partial aggregation whose state
    * is a bounded k-pair heap, so each map task ships AT MOST k rows per
    * source — versus the `source_cap` window formulation, which shuffles
    * every row to its group's reducer before ranking. Same deterministic
    * md5 order, same output contract; the DuckDB oracle IS the window
    * formulation, so the two shapes are proven equivalent on every run. */
  val KmvK = 8
  def kmvSample(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(org.apache.spark.sql.graft.BottomKHashes.column(
        md5Long(col("doc_id").cast("string")), col("doc_id"), KmvK).as("bk"))
      .select(col("source"), posexplode(col("bk")).as(Seq("pos", "p")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("p.id").as("doc_id"), col("p.h").as("h"))
  val kmvSampleSql: String =
    s"""SELECT source, rk, doc_id, h FROM (
       |  SELECT source, doc_id, ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} AS h,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${sqlMd5Long("CAST(doc_id AS VARCHAR)")}, doc_id)
       |      AS BIGINT) AS rk
       |  FROM documents)
       |WHERE rk <= $KmvK""".stripMargin

  /** KMV distinct estimate per source from the same bottom-k state: with
    * fewer than k members the sample IS the population (exact count);
    * otherwise n̂ = (k−1)·2⁶⁰ / h_k (the classic KMV estimator over the
    * 60-bit md5 hash space), in exact integer math both engines share.
    * This is the constant-memory DISTINCT the `approx_stats` HLL also
    * answers — but KMV's state doubles as the sample above, and its
    * estimate is reproducible integer arithmetic, so it gets a full
    * oracle row instead of a rows-only sketch check. */
  private val KmvSpace = 1L << 60
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(org.apache.spark.sql.graft.BottomKHashes.column(
        md5Long(col("doc_id").cast("string")), col("doc_id"), KmvK).as("bk"))
      .select(col("source"), size(col("bk")).cast("long").as("k_used"),
        element_at(col("bk"), size(col("bk"))).getField("h").as("hk"))
      .select(col("source"), col("k_used"),
        when(col("k_used") < KmvK, col("k_used"))
          .otherwise(org.apache.spark.sql.graft.ExactMath.intDiv(
            lit((KmvK - 1) * KmvSpace), greatest(col("hk"), lit(1L))))
          .as("est_distinct"))
  val kmvDistinctSql: String =
    s"""WITH r AS (
       |  SELECT source, ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} AS h,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${sqlMd5Long("CAST(doc_id AS VARCHAR)")}, doc_id)
       |      AS BIGINT) AS rk
       |  FROM documents
       |), g AS (
       |  SELECT source, count(*) AS k_used,
       |    max(CASE WHEN rk = $KmvK THEN h END) AS hk
       |  FROM r WHERE rk <= $KmvK GROUP BY 1
       |)
       |SELECT source, CAST(k_used AS BIGINT) AS k_used,
       |  CAST(CASE WHEN k_used < $KmvK THEN k_used
       |    ELSE ${(KmvK - 1) * (1L << 60)} // greatest(hk, 1) END
       |    AS BIGINT) AS est_distinct
       |FROM g""".stripMargin

  // ---- decontamination against an EXTERNAL benchmark --------------------
  /** K-grams of any (doc_id, text) frame — the generic form of
    * `TextAnalysis.gramFrame`, for corpora that are not the canonical
    * `documents` table (e.g. a benchmark file read via `JsonlSource`). */
  def gramsOf(df: DataFrame, k: Int): DataFrame =
    // a doc of fewer than k tokens has no grams and explodes to no row
    df.select(col("doc_id"), explode(
      org.apache.spark.sql.graft.WordGrams(lowerTokens(col("text")), k)).as("gram"))

  /** `decontaminate` with the probe set supplied by the caller — the
    * production shape, where the benchmark arrives as a file (see
    * `CurationSpec`: a committed JSONL fixture drives this). `probes` needs
    * a `text` column; it is benchmark-sized, so its gram set broadcasts. */
  def decontaminateAgainst(corpus: DataFrame, probes: DataFrame,
      k: Int = ContamK): DataFrame = {
    val probeGrams = gramsOf(
      probes.select(monotonically_increasing_id().as("doc_id"), col("text")), k)
      .select("gram").distinct()
    gramsOf(corpus, k)
      .join(broadcast(probeGrams), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_contam_grams"),
        count(lit(1)).as("n_gram_hits"))
  }

  // ---- #25s sliding-window document chunking -----------------------------
  /** The chunking stage that turns curated documents into training-window
    * rows: overlapping ChunkLen-token windows every ChunkStride tokens
    * (overlap = ChunkLen − ChunkStride tokens preserves context across
    * boundaries). Chunk count = 1 + ⌈(n − len)/stride⌉, all integer
    * arithmetic on both engines. Map-only — one tokenize + bounded explode
    * per row, amplification ≤ len/stride ≈ 1.33×; at 100 TB this is one
    * scan writing the chunk table, zero shuffles. Chunk text is emitted as
    * md5 (rows stay narrow; the real pipeline writes the text column). */
  val ChunkLen = 32
  val ChunkStride = 24

  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), lowerTokens(col("text")).as("t"))
      .where(size(col("t")) >= 1)
      .select(col("doc_id"), col("t"), size(col("t")).as("n"))
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(0, CASE WHEN n > $ChunkLen THEN " +
          s"((n - $ChunkLen + $ChunkStride - 1) div $ChunkStride) ELSE 0 END)"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"slice(t, chunk_idx * $ChunkStride + 1, $ChunkLen)").as("ct"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ct")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("ct"))).as("chunk_md5"))
  val chunkDocumentsSql: String =
    s"""WITH toksx AS (
       |  SELECT doc_id, ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), sized AS (
       |  SELECT doc_id, t, len(t) AS n FROM toksx WHERE len(t) >= 1
       |), chunks AS (
       |  SELECT doc_id,
       |    g.k AS chunk_idx,
       |    t[g.k * $ChunkStride + 1 : g.k * $ChunkStride + $ChunkLen] AS ct
       |  FROM sized, unnest(range(0, CASE WHEN n > $ChunkLen
       |    THEN ((n - $ChunkLen + $ChunkStride - 1) // $ChunkStride) + 1
       |    ELSE 1 END)) AS g(k)
       |)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(len(ct) AS BIGINT) AS n_tokens,
       |  md5(list_aggr(ct, 'string_agg', ' ')) AS chunk_md5
       |FROM chunks""".stripMargin

  // ---- #25p Gopher-style rule gate ---------------------------------------
  /** The Gopher/MassiveText heuristic document filter as one map-only
    * projection: token count bounds, mean word length bounds, fraction of
    * tokens containing a letter, and required-stopword presence. Every
    * signal is a pure function of the row's token array (projected once),
    * so at 100 TB this is a single scan with zero shuffles; `keep` is
    * computed from the raw (unrounded) signals with identical integer/
    * double math on both engines. */
  val GopherMinTokens = 50L
  val GopherMaxTokens = 100000L
  val GopherMinAvgLen = 3.0
  val GopherMaxAvgLen = 10.0
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopHits = 2L
  /** Gopher's required-stopword list (Rae et al. 2021 §A1.1). */
  val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The keep predicate over a token-array column — shared verbatim by the
    * batch query and `DocsStream.gopherGate` so the two cannot drift. */
  private[graft] def gopherKeepIn(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = size(t).cast("long")
    // n=0 already fails the token-count bound, but under ANSI mode the
    // ratio terms must never divide by it (a zero-token doc reaching the
    // stream gate or the ensemble would otherwise THROW, not drop) — the
    // greatest() guard is a semantic no-op for every n ≥ 1
    val n1 = greatest(n, lit(1L)).cast("double")
    val sumLen = aggregate(transform(t, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    val nAlpha = size(filter(t, w => w.rlike("\\p{L}"))).cast("long")
    val stops = size(filter(t, w => w.isin(GopherStops: _*))).cast("long")
    n.between(GopherMinTokens, GopherMaxTokens) &&
      (sumLen.cast("double") / n1).between(GopherMinAvgLen, GopherMaxAvgLen) &&
      nAlpha.cast("double") / n1 > GopherMinAlphaFrac &&
      stops >= GopherMinStopHits
  }

  def gopherFilters(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), lowerTokens(col("text")).as("t"))
      .where(size(col("t")) > 0)
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        aggregate(transform(col("t"), w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("sum_len"),
        size(filter(col("t"), w => w.rlike("\\p{L}"))).cast("long").as("n_alpha"),
        size(filter(col("t"), w => w.isin(GopherStops: _*))).cast("long")
          .as("stop_hits"),
        // keep comes from the SAME predicate the stream gate applies —
        // the batch query cannot drift from DocsStream.gopherGate
        gopherKeepIn(col("t")).cast("long").as("keep"))
      .select(col("doc_id"), col("n_tokens"),
        // §6: exact ×10⁴ fixed point (mean word length / alpha fraction)
        bp(col("sum_len"), col("n_tokens")).as("mean_word_len_e4"),
        bp(col("n_alpha"), col("n_tokens")).as("alpha_bp"),
        col("stop_hits"), col("keep"))
  val gopherFiltersSql: String = {
    val stops = GopherStops.map(sqlLit).mkString("(", ", ", ")")
    s"""WITH toksx AS (
       |  SELECT doc_id, ${sqlLowerTokens("text")} AS t
       |  FROM documents
       |), base AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    list_sum(list_transform(t, w -> length(w))) AS sum_len,
       |    len(list_filter(t, w -> regexp_matches(w, '\\p{L}'))) AS n_alpha,
       |    len(list_filter(t, w -> w IN $stops)) AS stop_hits
       |  FROM toksx WHERE len(t) > 0
       |)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  ${sqlBp("sum_len", "n_tokens")} AS mean_word_len_e4,
       |  ${sqlBp("n_alpha", "n_tokens")} AS alpha_bp,
       |  CAST(stop_hits AS BIGINT) AS stop_hits,
       |  CAST(CASE WHEN n_tokens BETWEEN $GopherMinTokens AND $GopherMaxTokens
       |    AND CAST(sum_len AS DOUBLE) / n_tokens
       |      BETWEEN $GopherMinAvgLen AND $GopherMaxAvgLen
       |    AND CAST(n_alpha AS DOUBLE) / n_tokens > $GopherMinAlphaFrac
       |    AND stop_hits >= $GopherMinStopHits
       |  THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM base""".stripMargin
  }

  // ---- #25w the per-document feature store -------------------------------
  /** Every row-local curation signal as one wide row — the feature table a
    * pipeline writes next to the corpus so downstream jobs (filtering,
    * mixing, analysis) never re-tokenize. The point is the plan: ALL of
    * token counts, quality, language ID, char entropy, simhash and the
    * canonical dedup key are functions of the row, computed on ONE scan
    * with ZERO exchanges (plan-asserted in ScaleSpec) — the fused
    * expressions exist precisely so this projection stays map-only. */
  def docFeatures(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"), lowerTokens(col("text")).as("__toks"),
        TextAnalysis.profileCol.as("__p"))
      // token-less (empty/whitespace-only) docs carry no signals, and the
      // oracle's entropy/simhash subqueries produce no row for them — the
      // explicit filter keeps both engines' row sets identical (ADVICE r4)
      .where(col("__p").getField("n_toks") > 0)
      .select(Seq(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        // n_toks IS the \S+ run count ws_tokens recounted via regexp
        col("__p").getField("n_toks").as("ws_tokens"),
        regexp_count(col("text"), lit(BpeTokenRe)).cast("long").as("bpe_tokens"),
        TextAnalysis.qualityBpFrom(col("__p")).as("quality_bp"),
        round(org.apache.spark.sql.graft.CharEntropy(col("text")), 4)
          .cast("decimal(14,4)").cast("double").as("char_entropy"),
        // simhash needs the distinct token SET — the one remaining consumer
        // of the materialized array on this scan
        org.apache.spark.sql.graft.Simhash60(array_distinct(col("__toks")))
          .as("simhash"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
          .as("canon_hash")) ++ TextAnalysis.langHitColsFrom(col("__p")): _*)
      .withColumn("pred_lang", TextAnalysis.predLangFromHits)
      .drop(TextAnalysis.LangProfiles.map { case (l, _) => s"hits_$l" }: _*)
  val docFeaturesSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    CAST(${sqlWsTokenCount("text")} AS BIGINT) AS ws_tokens,
       |    CAST(${sqlBpeTokenCount("text")} AS BIGINT) AS bpe_tokens,
       |    ${TextAnalysis.sqlQualityBpExpr} AS quality_bp,
       |    CAST(CAST(round((length(text) * log2(length(text)) - ce.sumclog)
       |      / length(text), 4) AS DECIMAL(14,4)) AS DOUBLE) AS char_entropy,
       |    sim.simhash,
       |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
       |      AS canon_hash,
       |    ${TextAnalysis.sqlLangHitCols.linesIterator.mkString("\n    ")}
       |  FROM documents d
       |  JOIN (
       |    SELECT doc_id, sum(c * log2(c)) AS sumclog FROM (
       |      SELECT doc_id, ch, count(*) AS c FROM (
       |        SELECT doc_id, substr(text, CAST(g.i AS INTEGER), 1) AS ch
       |        FROM documents, unnest(range(1, length(text) + 1)) AS g(i)
       |      ) GROUP BY 1, 2
       |    ) GROUP BY 1
       |  ) ce USING (doc_id)
       |  JOIN (
       |    ${Dedup.simhashCte.linesIterator.mkString("\n    ")}
       |    SELECT doc_id, simhash FROM sim
       |  ) sim USING (doc_id)
       |  WHERE len(${sqlLowerTokens("text")}) > 0
       |)
       |SELECT doc_id, lang, source, n_chars, ws_tokens, bpe_tokens, quality_bp,
       |  char_entropy, simhash, canon_hash,
       |  ${TextAnalysis.sqlPredLangFromHits} AS pred_lang
       |FROM scored""".stripMargin

  // ---- #25x per-source corpus health report ------------------------------
  /** The health dashboard a curation run reads per feed: document count,
    * mean quality, mean char entropy, and how many of the source's docs sit
    * in the near-dup graph. Signals are row-local on ONE scan; quality and
    * entropy average through DECIMAL sums (order-insensitive, §6); the
    * dup-membership list is bounded by the pair graph and broadcasts. */
  def sourceQualityReport(spark: SparkSession, dir: String): DataFrame = {
    val scored = Corpus.table(spark, dir, "documents")
      .select(col("source"), col("doc_id"), TextAnalysis.profileCol.as("__p"),
        col("text"))
      .where(col("__p").getField("n_toks") > 0)
      .select(col("source"), col("doc_id"),
        TextAnalysis.qualityBpFrom(col("__p")).as("q"),
        round(org.apache.spark.sql.graft.CharEntropy(col("text")), 4)
          .cast("decimal(8,4)").as("e"))
    val pairs = Dedup.minhashPairs(spark, dir)
    val dupDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_dup", lit(1L))
    scored.join(broadcast(dupDocs), Seq("doc_id"), "left")
      .groupBy("source")
      // §6: the means are exact fixed-point integers over exact sums (q is
      // already integer basis points; e is a scale-4 decimal shifted to an
      // integer before the integral division) — round(DOUBLE) averages were
      // the r4 driver hash-FAIL
      .agg(count(lit(1)).as("n_docs"),
        org.apache.spark.sql.graft.ExactMath.intDiv(sum(col("q")), count(lit(1)))
          .as("avg_quality_bp"),
        org.apache.spark.sql.graft.ExactMath.intDiv(
          (sum(col("e")) * lit(10000)).cast("decimal(38,0)"), count(lit(1)))
          .as("avg_entropy_bp"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_in_dup_pairs"))
  }
  val sourceQualityReportSql: String =
    s"""WITH ent AS (
       |  SELECT doc_id, round((length(t2.text) * log2(length(t2.text))
       |    - sumclog) / length(t2.text), 4) AS e
       |  FROM (
       |    SELECT doc_id, sum(c * log2(c)) AS sumclog FROM (
       |      SELECT doc_id, ch, count(*) AS c FROM (
       |        SELECT doc_id, substr(text, CAST(g.i AS INTEGER), 1) AS ch
       |        FROM documents, unnest(range(1, length(text) + 1)) AS g(i)
       |      ) GROUP BY 1, 2
       |    ) GROUP BY 1
       |  ) s JOIN documents t2 USING (doc_id)
       |), scored AS (
       |  SELECT source, doc_id,
       |    ${TextAnalysis.sqlQualityBpExpr} AS q,
       |    CAST(e AS DECIMAL(8,4)) AS e
       |  FROM documents JOIN ent USING (doc_id)
       |  WHERE len(${sqlLowerTokens("text")}) > 0
       |), pairs AS MATERIALIZED (
       |  ${Dedup.dedupMinhashSql.linesIterator.mkString("\n  ")}
       |), dup AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM pairs
       |    UNION ALL SELECT doc_b FROM pairs
       |  )
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(q) AS BIGINT) // count(*) AS avg_quality_bp,
       |  CAST(sum(e) * 10000 AS BIGINT) // count(*) AS avg_entropy_bp,
       |  CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_in_dup_pairs
       |FROM scored LEFT JOIN dup USING (doc_id)
       |GROUP BY 1""".stripMargin

  // ---- #25v exact-substring duplication spans ----------------------------
  /** The EXACTSUBSTR signal (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): per document, how much of it lies in
    * character spans duplicated ANYWHERE in the corpus, and the longest
    * such span. The suffix-array formulation is approximated at window
    * resolution with SpanK-char rolling hashes: a position is "duplicated"
    * when its window hash occurs more than once corpus-wide, and maximal
    * runs of consecutive duplicated positions are spans (length = run +
    * SpanK − 1; hash collisions are deterministic and identical on both
    * engines).
    *
    * Scale: the position explode is the corpus at char resolution — the
    * operator's inherent cost, exactly ONE scan's worth: the per-hash count
    * is `count() OVER (PARTITION BY h)` on the (doc, pos, h) triples, so a
    * single exchange on the hash both counts and filters (the earlier
    * groupBy-then-join-back shape ran the corpus explode twice — once per
    * branch — and shuffled it twice; measured 1.6 → 1.0 s at sf0.1). A
    * boilerplate hash with 10⁷ occurrences is one big window partition —
    * the same skew exposure the join's probe side had; rows stream through
    * an unordered count, no per-key state. The run/span windows partition
    * by doc_id. */
  val SpanK = 20

  def dupSpanStats(spark: SparkSession, dir: String): DataFrame = {
    val pos = Corpus.table(spark, dir, "documents")
      .where(length(col("text")) >= SpanK)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.ShinglePolyHash(
          col("text"), SpanK, Dedup.ShingleB, Dedup.P)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
    val dup = pos
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .where(col("n") > 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = dup
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg(max(col("run")).as("max_run"), sum(col("run")).as("n_dup_positions"))
    // totals side reads the 2-integer-column projection (n_chars ≡
    // length(text) in this schema), not the text column — the third
    // corpus-text scan the first plan audit showed is gone
    Corpus.table(spark, dir, "documents")
      .where(col("n_chars") >= SpanK)
      .select(col("doc_id"),
        (col("n_chars") - SpanK + 1).cast("long").as("n_positions"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_positions"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        when(col("max_run").isNull, 0L)
          .otherwise(col("max_run") + (SpanK - 1)).cast("long")
          .as("longest_dup_span"))
  }
  val dupSpanStatsSql: String =
    s"""WITH posx AS (
       |  SELECT d.doc_id, g.pos,
       |    ${Dedup.sqlShingleHashK("d.text", "g.pos", SpanK)} AS h
       |  FROM documents d,
       |    unnest(range(1, length(d.text) - ${SpanK - 1} + 1)) AS g(pos)
       |  WHERE length(d.text) >= $SpanK
       |), cnt AS (
       |  SELECT h, count(*) AS n FROM posx GROUP BY 1
       |), dup AS (
       |  SELECT doc_id, pos FROM posx JOIN cnt USING (h) WHERE n > 1
       |), runs AS (
       |  SELECT doc_id,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup
       |), rstat AS (
       |  SELECT doc_id, count(*) AS run FROM runs GROUP BY doc_id, grp
       |), agg AS (
       |  SELECT doc_id, max(run) AS max_run, sum(run) AS n_dup FROM rstat
       |  GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  CAST(d.n_chars - $SpanK + 1 AS BIGINT) AS n_positions,
       |  CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_positions,
       |  CAST(CASE WHEN a.max_run IS NULL THEN 0
       |    ELSE a.max_run + ${SpanK - 1} END AS BIGINT) AS longest_dup_span
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |WHERE d.n_chars >= $SpanK""".stripMargin

  // ---- #25v-b EXACT exact-substring duplication spans --------------------
  /** The Lee et al. EXACTSUBSTR signal with the approximation removed
    * (VERDICT r4 stretch #8): `dup_span_stats` calls a position duplicated
    * when its SpanK-char rolling HASH repeats corpus-wide, accepting hash
    * collisions as false positives. This operator verifies every candidate
    * against the actual characters, so a position is duplicated iff its
    * SpanK-char SUBSTRING occurs ≥ 2 times in the corpus — exactly the
    * suffix-array definition restricted to the ≥ SpanK threshold (a char
    * lies in a duplicated span of length ≥ SpanK iff some duplicated
    * SpanK-window covers it; runs of window starts recover span extents,
    * identical to the suffix-array dup-char count).
    *
    * Scale shape — why this beats shipping substrings for every position:
    *  1. hash pass (8-byte keys) counts ALL positions — same cost as the
    *     approximate operator;
    *  2. only positions whose hash repeats (true duplicates + rare
    *     collisions, i.e. the duplicated fraction of the corpus — single-
    *     digit percent in web corpora) rejoin the text and shuffle their
    *     20-char window for exact recount. A true duplicate always shares
    *     its hash, so the prefilter can never drop one: the result is
    *     exact, and the expensive byte shuffle is proportional to the
    *     duplicated text, not the corpus. A distributed suffix array would
    *     sort the full corpus bytes — strictly more traffic for this
    *     fixed-threshold query. */
  def dupSpanExact(spark: SparkSession, dir: String): DataFrame = {
    val pos = Corpus.table(spark, dir, "documents")
      .where(length(col("text")) >= SpanK)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.ShinglePolyHash(
          col("text"), SpanK, Dedup.ShingleB, Dedup.P)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
    // per-hash occurrence counts via count-over-window: ONE exchange of the
    // bare (doc, pos, h) triples both counts and filters — the text column
    // never rides the hash shuffle (per-position text would be corpus ×
    // window bytes), and the corpus explode runs once, not once per branch
    // (measured 2.7 → 1.9 s at sf0.1)
    val candPos = pos
      .withColumn("nh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .where(col("nh") > 1).select("doc_id", "pos")
    // candidates (hash-duplicated positions) pull their real window chars
    // from a doc_id join — text ships once per doc, not once per position.
    // shuffle_hash pin: at a small SF the planner would broadcast the
    // candidate-position frame (its stats look tiny), but candidates are
    // the duplicated fraction of the corpus — corpus-scale at 100 TB and
    // never broadcastable.
    val cand = candPos.hint("shuffle_hash")
      .join(Corpus.table(spark, dir, "documents").select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, pos, $SpanK)").as("s"))
    // exact recount over the real substring, same count-over-window shape
    val dup = cand
      .withColumn("ns", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("s")))
      .where(col("ns") > 1)
      .select("doc_id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = dup
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg(max(col("run")).as("max_run"), sum(col("run")).as("n_dup_positions"))
    Corpus.table(spark, dir, "documents")
      .where(col("n_chars") >= SpanK)
      .select(col("doc_id"),
        (col("n_chars") - SpanK + 1).cast("long").as("n_positions"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_positions"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        when(col("max_run").isNull, 0L)
          .otherwise(col("max_run") + (SpanK - 1)).cast("long")
          .as("longest_dup_span"))
  }
  /** Oracle counts the actual substrings directly (no hash prefilter —
    * DuckDB's corpus fits; the RESULT is definitionally identical). */
  val dupSpanExactSql: String =
    s"""WITH posx AS (
       |  SELECT d.doc_id, g.pos,
       |    substr(d.text, CAST(g.pos AS INTEGER), $SpanK) AS s
       |  FROM documents d,
       |    unnest(range(1, length(d.text) - ${SpanK - 1} + 1)) AS g(pos)
       |  WHERE length(d.text) >= $SpanK
       |), cnt AS (
       |  SELECT s, count(*) AS n FROM posx GROUP BY 1
       |), dup AS (
       |  SELECT doc_id, pos FROM posx JOIN cnt USING (s) WHERE n > 1
       |), runs AS (
       |  SELECT doc_id,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup
       |), rstat AS (
       |  SELECT doc_id, count(*) AS run FROM runs GROUP BY doc_id, grp
       |), agg AS (
       |  SELECT doc_id, max(run) AS max_run, sum(run) AS n_dup FROM rstat
       |  GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  CAST(d.n_chars - $SpanK + 1 AS BIGINT) AS n_positions,
       |  CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_positions,
       |  CAST(CASE WHEN a.max_run IS NULL THEN 0
       |    ELSE a.max_run + ${SpanK - 1} END AS BIGINT) AS longest_dup_span
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |WHERE d.n_chars >= $SpanK""".stripMargin

  // ---- #25z character-class profile (RefinedWeb-style symbol ratios) ----
  /** Per-doc character-class composition: the fraction of letters, digits,
    * whitespace, punctuation/symbols and uppercase letters — the signal
    * family behind RefinedWeb/C4-style "symbol-to-word ratio" and
    * ALL-CAPS/shouting filters, and the cheapest mojibake tripwire (a
    * sudden drop in the letter fraction flags encoding damage). Map-only
    * single scan; counts come from shared Java-regex/RE2 character
    * classes and every emitted ratio is exact basis points (§6). */
  def charClassStats(spark: SparkSession, dir: String): DataFrame = {
    def cnt(re: String) = regexp_count(col("text"), lit(re)).cast("long")
    Corpus.table(spark, dir, "documents")
      .where(length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        cnt("\\p{L}").as("n_letters"),
        cnt("\\p{N}").as("n_digits"),
        cnt("\\s").as("n_ws"),
        cnt(PunctRe).as("n_symbols"),
        cnt("\\p{Lu}").as("n_upper"))
      .select(col("doc_id"), col("n_chars"),
        bp(col("n_letters"), col("n_chars")).as("letters_bp"),
        bp(col("n_digits"), col("n_chars")).as("digits_bp"),
        bp(col("n_ws"), col("n_chars")).as("ws_bp"),
        bp(col("n_symbols"), col("n_chars")).as("symbols_bp"),
        bp(col("n_upper"), col("n_chars")).as("upper_bp"))
  }
  val charClassStatsSql: String = {
    def cnt(re: String) = s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT)"
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |  ${sqlBp(cnt("\\p{L}"), "length(text)")} AS letters_bp,
       |  ${sqlBp(cnt("\\p{N}"), "length(text)")} AS digits_bp,
       |  ${sqlBp(cnt(WsClass), "length(text)")} AS ws_bp,
       |  ${sqlBp(cnt(SqlPunctRe), "length(text)")} AS symbols_bp,
       |  ${sqlBp(cnt("\\p{Lu}"), "length(text)")} AS upper_bp
       |FROM documents WHERE length(text) > 0""".stripMargin
  }

  // ---- #25y sequence packing (pretraining batch preparation) -------------
  /** The final physical step before pretraining: concatenate documents (in
    * a deterministic order) and chunk the token stream into fixed-length
    * training sequences — GPT-style "packing", which wastes zero tokens on
    * padding. This operator computes each document's placement: which
    * packed sequence its first token lands in (`seq_first`), where it ends
    * (`seq_last` — long docs span sequences), and its offset inside the
    * first one. Pure integer math over a running token count (§6-exact).
    *
    * Scale: a single global concatenation order would be one giant window
    * partition. Packing instead runs independently inside PackBuckets
    * deterministic md5 buckets — each bucket is one window partition and
    * one output shard, and the bucket count scales with the cluster (a
    * 1000-executor run uses thousands of buckets; sequences never cross
    * shard boundaries in production packing either). Per-bucket stream
    * order is doc_id — deterministic and reproducible across runs. */
  val PackLen = 256L
  val PackBuckets = 32L

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("bucket",
        pmod(md5Long(col("doc_id").cast("string")), lit(PackBuckets)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val iDiv = org.apache.spark.sql.graft.ExactMath.intDiv _
    d.withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        iDiv(col("cum") - col("n_tokens"), lit(PackLen)).as("seq_first"),
        iDiv(col("cum") - 1, lit(PackLen)).as("seq_last"),
        ((col("cum") - col("n_tokens")) % PackLen).as("tok_offset"))
  }
  val packSequencesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(${sqlWsTokenCount("text")} AS BIGINT) AS n_tokens,
       |    ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} % $PackBuckets AS bucket
       |  FROM documents
       |  WHERE ${sqlWsTokenCount("text")} > 0
       |), c AS (
       |  SELECT doc_id, bucket, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM d
       |)
       |SELECT doc_id, bucket, n_tokens,
       |  (CAST(cum AS BIGINT) - n_tokens) // $PackLen AS seq_first,
       |  (CAST(cum AS BIGINT) - 1) // $PackLen AS seq_last,
       |  (CAST(cum AS BIGINT) - n_tokens) % $PackLen AS tok_offset
       |FROM c""".stripMargin

  // ---- #25y-c packing efficiency report ----------------------------------
  /** The metric a packing run logs: per shard, how many PackLen sequences
    * the token stream fills and how much of the final sequence is padding —
    * the padding-efficiency number batch-prep pipelines track (packing
    * exists to drive pad_bp toward 0). Same doc→bucket assignment as
    * [[packSequences]]; pure integer math (§6-exact). One bounded agg:
    * PackBuckets output rows regardless of corpus size. */
  def packStats(spark: SparkSession, dir: String): DataFrame = {
    val iDiv = org.apache.spark.sql.graft.ExactMath.intDiv _
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .groupBy(pmod(md5Long(col("doc_id").cast("string")), lit(PackBuckets))
        .as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .withColumn("n_sequences",
        iDiv(col("total_tokens") + lit(PackLen - 1), lit(PackLen)))
      .withColumn("pad_tokens",
        col("n_sequences") * PackLen - col("total_tokens"))
      .withColumn("pad_bp",
        bp(col("pad_tokens"), col("n_sequences") * PackLen))
  }
  val packStatsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(${sqlWsTokenCount("text")} AS BIGINT) AS n_tokens,
       |    ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} % $PackBuckets AS bucket
       |  FROM documents
       |  WHERE ${sqlWsTokenCount("text")} > 0
       |), g AS (
       |  SELECT bucket, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |  FROM d GROUP BY 1
       |)
       |SELECT bucket, n_docs, total_tokens,
       |  (total_tokens + ${PackLen - 1}) // $PackLen AS n_sequences,
       |  ((total_tokens + ${PackLen - 1}) // $PackLen) * $PackLen
       |    - total_tokens AS pad_tokens,
       |  ${sqlBp(
      s"((total_tokens + ${PackLen - 1}) // $PackLen) * $PackLen - total_tokens",
      s"((total_tokens + ${PackLen - 1}) // $PackLen) * $PackLen")} AS pad_bp
       |FROM g""".stripMargin

  // ---- #25y-b reproducible training order (epoch shuffle) ----------------
  /** The data-ordering step between curation and packing: give every
    * document a reproducible pseudo-random position for the training run.
    * Position = (shard, pos_in_shard) where both derive from a salted md5 of
    * the doc id — no RNG state, so any worker (or a re-run after preemption)
    * recomputes the same order, and changing the salt ("epoch-1", …) is a
    * full reshuffle between epochs.
    *
    * Scale: a single global ORDER BY md5 would be one total sort. Shards cut
    * it into ShuffleShards independent window partitions (shard count scales
    * with the cluster; readers consume shards in shard order, rows in
    * pos_in_shard order — the standard sharded-shuffle contract). */
  val ShuffleShards = 32L
  val ShuffleSalt = "epoch-0"

  def trainingOrder(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Corpus.table(spark, dir, "documents").select(
      col("doc_id"),
      md5Long(concat(col("doc_id").cast("string"), lit(":" + ShuffleSalt)))
        .as("shuffle_key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("shuffle_key"), col("doc_id"))
    keyed
      .withColumn("shard", pmod(col("shuffle_key"), lit(ShuffleShards)))
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos_in_shard"))
  }
  val trainingOrderSql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    ${sqlMd5Long(s"concat(CAST(doc_id AS VARCHAR), ':$ShuffleSalt')")}
       |      AS shuffle_key
       |  FROM documents
       |)
       |SELECT doc_id, shuffle_key % $ShuffleShards AS shard,
       |  CAST(row_number() OVER (PARTITION BY shuffle_key % $ShuffleShards
       |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos_in_shard
       |FROM keyed""".stripMargin

  // ---- #25u learned-threshold quality gate -------------------------------
  /** The adaptive sibling of the fixed-rule gates: learn the corpus's own
    * quality distribution and keep documents at or above its QualityPct-th
    * percentile. Two passes — an exact-percentile aggregation whose 1-row
    * result broadcasts, then a row-local filter on the same scan shape.
    * §6 float policy: scores are exact integer basis points, and the
    * p=0.25 interpolated percentile of integers is exactly representable
    * (the interpolation fraction is a multiple of 1/4), so threshold,
    * comparison and output are bit-identical across engines.
    * At 100 TB the exact percentile would be replaced by approx_percentile
    * (see `approx_stats`) — the plan shape (tiny broadcast + map-only
    * filter) is unchanged. */
  val QualityPct = 0.25

  def qualityPercentileGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.profileCol.as("__p"))
      .where(col("__p").getField("n_toks") > 0)
      .select(col("doc_id"),
        TextAnalysis.qualityBpFrom(col("__p")).as("quality_bp"))
    val thr = scored.agg(
      expr(s"percentile(quality_bp, $QualityPct)")
        .cast("decimal(14,4)").cast("double").as("q_threshold"))
    scored.crossJoin(broadcast(thr))
      .where(col("quality_bp") >= col("q_threshold"))
  }
  val qualityPercentileGateSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, ${TextAnalysis.sqlQualityBpExpr} AS quality_bp
       |  FROM documents
       |  WHERE len(${sqlLowerTokens("text")}) > 0
       |), thr AS (
       |  SELECT CAST(CAST(quantile_cont(quality_bp, $QualityPct)
       |    AS DECIMAL(14,4)) AS DOUBLE) AS q_threshold
       |  FROM scored
       |)
       |SELECT doc_id, quality_bp, q_threshold
       |FROM scored CROSS JOIN thr
       |WHERE quality_bp >= q_threshold""".stripMargin

  // ---- #25q dup-n-gram fraction (MassiveText repetition-across-corpus) ---
  /** Per-doc fraction of its word 5-grams that occur anywhere else in the
    * corpus — the overlapping-window sibling of `dedup_segments` and the
    * signal MassiveText thresholds ("fraction of characters in duplicated
    * n-grams"). Reads the SAME materialized gram frame as
    * `boilerplate_ngrams`/`decontaminate` (the tokenize+explode runs once
    * per corpus); join/count key is the 60-bit md5 of the gram, so shuffle
    * bytes per row are 8, not ~5 words. The count side has ONE row per key,
    * so Zipf-skewed grams cost partition imbalance only (AQE splits) —
    * pinned shuffle_hash so the planner can never broadcast the
    * corpus-sized count table. */
  def dupNgramStats(spark: SparkSession, dir: String): DataFrame = {
    // count-over-window (see dupSpanStats): one exchange of the 8-byte
    // gram hashes instead of a count shuffle plus a join-back shuffle
    TextAnalysis.gramFrame(spark, dir)
      .select(col("doc_id"), md5Long(col("gram")).as("gh"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("gh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        // §6: exact basis points (see dedupSegments)
        bp(col("n_dup_grams"), col("n_grams")).as("dup_gram_bp"))
  }
  val dupNgramStatsSql: String =
    s"""${TextAnalysis.sqlGramsCte(TextAnalysis.BoilerK)}, gh AS (
       |  SELECT doc_id, ${sqlMd5Long("gram")} AS gh FROM grams
       |), cnt AS (
       |  SELECT gh, count(*) AS n FROM gh GROUP BY 1
       |)
       |SELECT doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       |  ${sqlBp("sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)", "count(*)")}
       |    AS dup_gram_bp
       |FROM gh JOIN cnt USING (gh) GROUP BY 1""".stripMargin

  // ---- #25k char-level entropy quality signal ---------------------------
  /** Per-doc character-distribution stats: length, distinct chars, Shannon
    * entropy (bits/char, codegen'd single-pass CharEntropy). Low entropy ⇒
    * repetitive/padded text; a standard Gopher-style filter input. Map-only
    * at any scale — the relational formulation would explode the corpus
    * into characters through two shuffles to compute a row-local value. */
  def charStats(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents").select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(array_distinct(filter(split(col("text"), ""), c => c =!= "")))
        .cast("long").as("n_distinct_chars"),
      // §6: entropy is transcendental (log2) so it can't be exact integer
      // math; rounding then pinning to a decimal at least guarantees the
      // compare never hashes engine-formatted doubles
      round(org.apache.spark.sql.graft.CharEntropy(col("text")), 4)
        .cast("decimal(14,4)").cast("double").as("char_entropy"))
  val charStatsSql: String =
    """WITH chars AS (
      |  SELECT doc_id, substr(text, CAST(g.i AS INTEGER), 1) AS ch
      |  FROM documents, unnest(range(1, length(text) + 1)) AS g(i)
      |), cnt AS (
      |  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2
      |)
      |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
      |  count(*) AS n_distinct_chars,
      |  CAST(CAST(round((length(d.text) * log2(length(d.text))
      |    - sum(c * log2(c))) / length(d.text), 4) AS DECIMAL(14,4))
      |    AS DOUBLE) AS char_entropy
      |FROM documents d JOIN cnt ON d.doc_id = cnt.doc_id
      |GROUP BY d.doc_id, d.text""".stripMargin

  // ---- #25k-c compression-ratio quality signal ----------------------------
  /** Pinned deflate level — part of the signal's definition (a different
    * level is a different signal). Level 6 is zlib's default and what
    * production repetition tripwires (Gopher/RefinedWeb-class "too
    * compressible" filters) effectively run. */
  val DeflateLevel = 6

  /** Documents whose deflate ratio falls below this (exact bp of
    * compressed/raw bytes) are flagged repetitive: natural prose deflates
    * to ~30–60%, while templated/looped text collapses far lower — the
    * cheap catch-all for repetition the n-gram gates can miss (long-period
    * repeats, structural boilerplate). */
  val CompressionMinBp = 2000L

  /** (n_bytes, deflate_bytes, ratio_bp) projection columns over a text
    * column — the deflate pass as NATIVE codegen'd expressions
    * ([[org.apache.spark.sql.graft.DeflateLen]]; java.util.zip wraps
    * canonical zlib, and CurationSpec pins its output lengths against
    * CPython-zlib-derived literals — the tripwire that would catch a
    * bundled-zlib divergence before the driver gate does). Pure
    * projections compose into any scan/filter — including the stateless
    * streaming gate — with no typed-mapPartitions detour; at 100 TB a
    * map-only pass at scan speed. */
  /** The ONE ratio definition every compression consumer derives from
    * (r13 review: two definitions of the signal could drift apart). */
  private def deflateRatioBp(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    intDiv(lit(10000L) * org.apache.spark.sql.graft.DeflateLen(text, DeflateLevel),
      greatest(octet_length(text).cast("long"), lit(1L)))
  }

  private def deflateCols(text: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] =
    Seq(octet_length(text).cast("long").as("n_bytes"),
      org.apache.spark.sql.graft.DeflateLen(text, DeflateLevel)
        .as("deflate_bytes"),
      deflateRatioBp(text).as("ratio_bp"))

  /** The repetition verdict column: keep iff deflate ratio ≥
    * [[CompressionMinBp]] (sub-overhead-size docs ratio >10000 and always
    * keep — the gate only fires LOW). Shared by the batch gate and the
    * streaming stage so batch≡stream by construction. */
  private[graft] def compressionKeepCol: org.apache.spark.sql.Column =
    deflateRatioBp(col("text")) >= CompressionMinBp

  /** Stateless repetition gate: drop too-compressible (repetitive) docs.
    * Row-local filter — the streaming twin rides the same predicate. */
  def compressionGateOf(docsFrame: DataFrame): DataFrame =
    docsFrame.where(compressionKeepCol)

  /** Driver-contract query: per-document deflate ratio over the committed
    * WET fixture (exact byte-pinned texts) — url-keyed so the oracle can
    * be a VALUES literal (doc_id embeds the JVM temp path). Ignores `dir`
    * (raw-file source; the warc_host_stats pattern). */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame =
    graft.sources.WarcSource.documentsFromWet(spark,
        graft.sources.WarcSource.FixtureWetDir)
      .select(col("url") +: deflateCols(col("text")): _*)

  /** Oracle: exact VALUES literal — CPython zlib.compress(text, 6)
    * lengths over the same hand-derived WET bodies
    * (scripts/make_warc_fixture.py prints these; both runtimes wrap
    * canonical zlib, and the spec tripwire pins the JVM side). The empty
    * doc pins the 8-byte empty-stream header and the n_bytes=0 divide
    * guard; sub-50-byte prose pins ratios >10000 (header overhead) —
    * which is why the repetition gate only fires LOW. */
  val compressionRatioSql: String =
    """SELECT url, CAST(nb AS BIGINT) AS n_bytes,
      |  CAST(db AS BIGINT) AS deflate_bytes, CAST(rb AS BIGINT) AS ratio_bp
      |FROM (VALUES
      |  ('http://plain.example/readme', 36, 44, 12222),
      |  ('http://site-a.example/index', 96, 99, 10312),
      |  ('http://site-b.example/empty', 0, 8, 80000),
      |  ('http://site-b.example/post', 30, 35, 11666),
      |  ('http://site-c.example/nested', 14, 22, 15714))
      |  AS t(url, nb, db, rb)""".stripMargin

  /** Corpus-level compression audit (rows-only by design — DuckDB cannot
    * deflate, so no SQL oracle exists; brute-forced against direct
    * java.util.zip calls in CurationSpec): per source, doc count, raw and
    * deflated byte mass, the aggregate ratio in exact bp, and how many
    * docs the [[CompressionMinBp]] repetition gate would flag.
    *
    * Scale: the deflate pass is map-only; the rollup is one map-side-
    * partial agg on the ~10²-key source column. */
  def compressionStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    // deflate columns fused into the scan projection — ONE corpus scan,
    // one uniform source-keyed exchange (plan-audited r13)
    Corpus.table(spark, dir, "documents").select(col("source") +: deflateCols(col("text")): _*)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("raw_bytes"),
        sum(col("deflate_bytes")).as("deflate_bytes"),
        sum(when(col("ratio_bp") < CompressionMinBp, 1L)
          .otherwise(0L)).as("n_repetitive"))
      .select(col("source"), col("n_docs"), col("raw_bytes"),
        col("deflate_bytes"),
        intDiv(lit(10000L) * col("deflate_bytes"),
          greatest(col("raw_bytes"), lit(1L))).as("ratio_bp"),
        col("n_repetitive"))
  }

  /** Scorer-agreement audit, compression edition (rows-only like
    * [[compressionStats]]; brute-forced in CurationSpec): Cohen's kappa
    * between the deflate repetition gate (keep iff ratio_bp ≥
    * [[CompressionMinBp]]) and the heuristic quality gate (keep iff
    * quality ≥ CuratedQualityMinBp) — the `scorer_agreement` math with
    * the deflate signal as the second scorer, completing VERDICT r12 #4's
    * "4th scorer" wiring. Same exact-bp observed/chance agreement and the
    * 4-dp-pinned kappa. */
  def compressionAgreement(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    import graft.functions.TextFns.bp
    // both verdicts are row-local projections fused into ONE corpus scan
    val sig = Corpus.table(spark, dir, "documents").select(
      (TextAnalysis.qualityBpFrom(TextAnalysis.profileCol)
        >= lit(CuratedQualityMinBp)).as("qk"),
      compressionKeepCol.as("zk"))
    sig.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("qk") && col("zk"), 1L).otherwise(0L)).as("both_keep"),
        sum(when(col("qk") && !col("zk"), 1L).otherwise(0L)).as("quality_only"),
        sum(when(!col("qk") && col("zk"), 1L).otherwise(0L)).as("deflate_only"),
        sum(when(!col("qk") && !col("zk"), 1L).otherwise(0L)).as("both_drop"))
      .withColumn("po_bp",
        bp(col("both_keep") + col("both_drop"), greatest(col("n_docs"), lit(1L))))
      .withColumn("pq_bp",
        bp(col("both_keep") + col("quality_only"), greatest(col("n_docs"), lit(1L))))
      .withColumn("pz_bp",
        bp(col("both_keep") + col("deflate_only"), greatest(col("n_docs"), lit(1L))))
      .withColumn("pe_bp", intDiv(
        col("pq_bp") * col("pz_bp")
          + (lit(10000L) - col("pq_bp")) * (lit(10000L) - col("pz_bp")),
        lit(10000L)))
      .select(col("n_docs"), col("both_keep"), col("quality_only"),
        col("deflate_only"), col("both_drop"), col("po_bp").as("agreement_bp"),
        round((col("po_bp") - col("pe_bp")).cast("double")
            / greatest(lit(10000L) - col("pe_bp"), lit(1L)).cast("double"), 4)
          .cast("decimal(14,4)").cast("double").as("kappa"))
  }

  // ---- #25ab-b encoding-damage (mojibake) audit ---------------------------
  /** Per-source encoding-health report — the audit a crawl pipeline runs
    * before trusting its decode stage (the reason ftfy exists). Three
    * row-local artifact classes, each pinned:
    *  - `fffd_hits`: U+FFFD replacement characters (a decoder already gave
    *    up — the unambiguous smoking gun);
    *  - `double_enc_hits`: the visible faces of UTF-8 bytes re-decoded as
    *    Latin-1/cp1252 — occurrences of 'Ã' (0xC3 lead byte), 'Â' (0xC2),
    *    and the two-char 'â€' (the 0xE2 0x80 prefix every curly
    *    quote/dash mangles into); counted by length-delta under literal
    *    replace, so multi-char markers count once per occurrence;
    *  - `ctrl_hits`: C0 control characters other than \t \n \r (binary
    *    spill / transfer corruption).
    * Rolled up per source: docs scanned, docs with ANY artifact, exact-bp
    * affected share, and the three hit totals — the table that tells you
    * WHICH feed's decoder is broken.
    *
    * Scale: all three counters are row-local character arithmetic fused
    * into the scan projection; the rollup is one map-side-partial agg on
    * the ~10²-key source column. Map-only + one uniform exchange. */
  val MojibakeDoubleEncMarkers: Seq[String] =
    Seq("Ã", "Â", "â€")
  private val Fffd = "�"
  private val CtrlRe = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"

  /** Occurrences of literal `s` in `t` (length delta / marker length). */
  private def occ(t: org.apache.spark.sql.Column, s: String) =
    org.apache.spark.sql.graft.ExactMath.intDiv(
      length(t) - length(replace(t, lit(s))), lit(s.length.toLong))

  def mojibakeStats(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("source"),
        occ(col("text"), Fffd).as("fffd"),
        MojibakeDoubleEncMarkers.map(occ(col("text"), _)).reduce(_ + _)
          .as("dbl"),
        regexp_count(col("text"), lit(CtrlRe)).cast("long").as("ctrl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("fffd") + col("dbl") + col("ctrl") > 0, 1L)
          .otherwise(0L)).as("n_affected"),
        sum(col("fffd")).as("fffd_hits"),
        sum(col("dbl")).as("double_enc_hits"),
        sum(col("ctrl")).as("ctrl_hits"))
      .select(col("source"), col("n_docs"), col("n_affected"),
        bp(col("n_affected"), col("n_docs")).as("affected_bp"),
        col("fffd_hits"), col("double_enc_hits"), col("ctrl_hits"))
  val mojibakeStatsSql: String = {
    def sqlOcc(s: String) =
      s"(length(text) - length(replace(text, ${sqlLit(s)}, ''))) // ${s.length}"
    val dbl = MojibakeDoubleEncMarkers.map(sqlOcc).mkString(" + ")
    s"""WITH perdoc AS (
       |  SELECT source,
       |    ${sqlOcc(Fffd)} AS fffd,
       |    $dbl AS dbl,
       |    CAST(len(regexp_extract_all(text, '$CtrlRe')) AS BIGINT) AS ctrl
       |  FROM documents
       |), agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN fffd + dbl + ctrl > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_affected,
       |    CAST(sum(fffd) AS BIGINT) AS fffd_hits,
       |    CAST(sum(dbl) AS BIGINT) AS double_enc_hits,
       |    CAST(sum(ctrl) AS BIGINT) AS ctrl_hits
       |  FROM perdoc GROUP BY source
       |)
       |SELECT source, n_docs, n_affected,
       |  ${sqlBp("n_affected", "n_docs")} AS affected_bp,
       |  fffd_hits, double_enc_hits, ctrl_hits
       |FROM agg""".stripMargin
  }

  // ---- #25k-d mojibake REPAIR ---------------------------------------------
  /** Undo CP1252 double-encoding (UTF-8 bytes misread as CP1252 and
    * re-encoded — the artifact class [[mojibakeStats]] audits): map the 27
    * CP1252 specials back to their 0x80-0x9F bytes (`translate`), encode
    * ISO-8859-1, decode UTF-8, and accept only when
    *  - the byte view carries a lead+continuation byte pair (the
    *    script-agnostic double-encode trigger — a superset of the
    *    [[MojibakeDoubleEncMarkers]] audit heuristic, which is
    *    Latin-marker-only and would miss Greek/Cyrillic mojibake),
    *  - the byte view is VALID UTF-8 per the full RFC 3629 grammar
    *    ([[Utf8ByteViewRe]] — overlongs/surrogates rejected like a strict
    *    decoder), which also enforces byte-representability: whole-string
    *    repair only, so mixed CJK+mojibake stays untouched.
    * Repair runs ONCE — a triple-encoded doc comes back double-encoded and
    * the next pass of the same operator finishes it (pinned; the fixture's
    * doc 8 locks this).
    *
    * Scale: the whole chain — contains, translate, encode, decode, rlike —
    * is codegen'd builtin expressions fused into one projection. MAP-ONLY;
    * no UDF, no custom expression needed. Oracle independence: the
    * committed fixture (scripts/make_mojibake_fixture.py) derives the
    * expected rows with CPython's own codec machinery; the VALUES literal
    * below embeds that independent derivation. */
  private val Cp1252Specials: Seq[(Int, Char)] = Seq(
    0x80 -> '€', 0x82 -> '‚', 0x83 -> 'ƒ', 0x84 -> '„', 0x85 -> '…',
    0x86 -> '†', 0x87 -> '‡', 0x88 -> 'ˆ', 0x89 -> '‰', 0x8a -> 'Š',
    0x8b -> '‹', 0x8c -> 'Œ', 0x8e -> 'Ž', 0x91 -> '‘', 0x92 -> '’',
    0x93 -> '“', 0x94 -> '”', 0x95 -> '•', 0x96 -> '–', 0x97 -> '—',
    0x98 -> '˜', 0x99 -> '™', 0x9a -> 'š', 0x9b -> '›', 0x9c -> 'œ',
    0x9e -> 'ž', 0x9f -> 'Ÿ')

  /** RFC 3629 UTF-8 over a byte-view string (every char one byte): the
    * exact valid-sequence grammar, rejecting overlongs, surrogates and
    * out-of-range exactly like a strict decoder. Chars > 0xFF match no
    * alternative, so this also subsumes the byte-representability guard.
    * Anchored \\A..\\z (not ^$ — Java's $ tolerates a trailing newline). */
  private val Utf8ByteViewRe: String =
    "\\A(?:[\\x00-\\x7F]" +
      "|[\\xC2-\\xDF][\\x80-\\xBF]" +
      "|\\xE0[\\xA0-\\xBF][\\x80-\\xBF]" +
      "|[\\xE1-\\xEC\\xEE\\xEF][\\x80-\\xBF]{2}" +
      "|\\xED[\\x80-\\x9F][\\x80-\\xBF]" +
      "|\\xF0[\\x90-\\xBF][\\x80-\\xBF]{2}" +
      "|[\\xF1-\\xF3][\\x80-\\xBF]{3}" +
      "|\\xF4[\\x80-\\x8F][\\x80-\\xBF]{2})*\\z"

  /** (repaired-flag, repaired-text) columns for a text column — exposed so
    * pipelines and the streaming gate can compose the repair row-locally.
    * Spark 4's `decode` is ANSI-strict (MALFORMED_CHARACTER_CODING), so
    * validity is decided FIRST by [[Utf8ByteViewRe]] and the decode only
    * runs under the guard (CaseWhen branches evaluate lazily). */
  def mojibakeRepairCols(text: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val from = Cp1252Specials.map(_._2).mkString
    val to = Cp1252Specials.map(_._1.toChar).mkString
    val pre = translate(text, from, to)
    // Trigger: any UTF-8 lead byte followed by a continuation byte in the
    // byte view — script-agnostic (Greek 'ε' corrupts to "Îµ", Cyrillic to
    // "Ñ…": no Latin marker, but always lead+continuation), and a superset
    // of the [[MojibakeDoubleEncMarkers]] audit heuristic. Genuine text
    // almost never parks an 0x80-0xBF char behind an 0xC2-0xF4 one, and
    // the full-grammar validity gate below re-checks whatever slips by.
    val trigger = pre.rlike("[\\xC2-\\xF4][\\x80-\\xBF]")
    val ok = trigger && pre.rlike(Utf8ByteViewRe)
    (when(ok, 1L).otherwise(0L),
      when(ok, decode(encode(pre, "ISO-8859-1"), "UTF-8")).otherwise(text))
  }

  /** Repair a documents frame in place (text swapped for the repaired
    * form, `mojibake_repaired` flag appended). */
  def fixMojibakeStage(df: DataFrame): DataFrame = {
    val (flag, out) = mojibakeRepairCols(col("text"))
    df.withColumn("mojibake_repaired", flag)
      .withColumn("text", out)
  }

  lazy val MojibakeFixtureDir: String =
    graft.sources.WarcSource.materializeMojibakeFixture()

  /** Driver row over the committed fixture (ignores `dir` — raw-file
    * source, the jsonl_ingest pattern). */
  def fixMojibake(spark: SparkSession, dir: String): DataFrame = {
    val (flag, out) = mojibakeRepairCols(col("text"))
    graft.sources.JsonlSource.readJsonl(spark, MojibakeFixtureDir)
      .select(col("doc_id"), flag.as("repaired"), out.as("text_out"))
      .withColumn("n_chars_out", length(col("text_out")).cast("long"))
  }
  /** Expected rows printed by scripts/make_mojibake_fixture.py's CPython
    * repair — doc 10's strings carry a literal U+00A0. */
  val fixMojibakeSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(repaired AS BIGINT) AS repaired, text_out,
      |  CAST(n_chars_out AS BIGINT) AS n_chars_out
      |FROM (VALUES
      |  (1, 1, 'Café résumé', 11),
      |  (2, 1, '“quoted” and — dash', 19),
      |  (3, 1, 'price €100 • item', 17),
      |  (4, 0, 'Ã is a letter of some alphabets', 31),
      |  (5, 0, 'plain ascii text', 16),
      |  (6, 0, '中文文档', 4),
      |  (7, 0, 'naÃ¯ve 中文', 9),
      |  (8, 1, 'Ã©tÃ©', 5),
      |  (9, 0, '', 0),
      |  (10, 1, 'before after', 12))
      |  AS t(doc_id, repaired, text_out, n_chars_out)""".stripMargin

  // ---- #25w-b code-likeness detection -------------------------------------
  /** Per-document code-likeness profile + verdict — the filter web-corpus
    * curation runs to keep source code out of a prose corpus (or to route
    * it to a code corpus). Pinned row-local signals:
    *  - `code_line_bp`: share of lines that end (right-trimmed) in one of
    *    `{ } ; = )` or start (left-trimmed) with `//`, `#`, `import `,
    *    `def `, `return ` or `}` — the line shapes prose essentially never
    *    produces;
    *  - `indent_line_bp`: share of lines opening with a tab or ≥4 spaces
    *    (block indentation);
    *  - `sym_char_bp`: `{ } ; = ( ) < > [ ]` characters per character;
    *  - `kw_hits`: whitespace tokens in [[CodeKeywords]] (lowered).
    * `is_code` = code_line_bp ≥ 3000 ∨ indent_line_bp ≥ 3000 ∨
    * (kw_hits ≥ 3 ∧ sym_char_bp ≥ 200) — thresholds pinned, each signal
    * reported so a consumer can re-threshold without rescanning.
    *
    * Scale: MAP-ONLY — line split, predicates and counters are
    * higher-order array functions inside one projection; nothing leaves
    * the row (the c4_line_filters shape). Runs at scan speed at 100 TB. */
  val CodeKeywords: Seq[String] = Seq("def", "function", "return", "import",
    "class", "const", "var", "void", "int", "public", "static")
  val CodeLineBpMin = 3000L
  val CodeKwMin = 3L
  val CodeSymBpMin = 200L
  private val CodeTailRe = "[{};=)]$"
  private val CodeHeadRe = "^(//|#|import |def |return |\\})"
  private val IndentRe = "^(\t|    )"
  private val SymCharRe = "[{};=()<>\\[\\]]"

  def codeDetect(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        split(col("text"), "\n", -1).as("ls"),
        lowerTokens(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        size(filter(col("ls"), l => rtrim(l).rlike(CodeTailRe) ||
          ltrim(l).rlike(CodeHeadRe))).cast("long").as("code_lines"),
        size(filter(col("ls"), l => l.rlike(IndentRe))).cast("long")
          .as("indent_lines"),
        regexp_count(col("text"), lit(SymCharRe)).cast("long").as("sym_chars"),
        length(col("text")).cast("long").as("n_chars"),
        size(filter(col("t"), w => w.isin(CodeKeywords: _*))).cast("long")
          .as("kw_hits"))
      .select(col("doc_id"), col("n_lines"),
        bp(col("code_lines"), col("n_lines")).as("code_line_bp"),
        bp(col("indent_lines"), col("n_lines")).as("indent_line_bp"),
        bp(col("sym_chars"), col("n_chars")).as("sym_char_bp"),
        col("kw_hits"))
      .withColumn("is_code",
        (col("code_line_bp") >= CodeLineBpMin ||
          col("indent_line_bp") >= CodeLineBpMin ||
          (col("kw_hits") >= CodeKwMin && col("sym_char_bp") >= CodeSymBpMin))
          .cast("long"))
  val codeDetectSql: String = {
    val kws = CodeKeywords.map(sqlLit).mkString("(", ", ", ")")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(rtrim(l), '$CodeTailRe')
       |        OR regexp_matches(ltrim(l), '$CodeHeadRe'))) AS BIGINT)
       |      AS code_lines,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(l, '$IndentRe'))) AS BIGINT) AS indent_lines,
       |    CAST(len(regexp_extract_all(text, '$SymCharRe')) AS BIGINT)
       |      AS sym_chars,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(list_filter(${sqlLowerTokens("text")},
       |      t -> t IN $kws)) AS BIGINT) AS kw_hits
       |  FROM documents WHERE length(text) > 0
       |), bps AS (
       |  SELECT doc_id, n_lines,
       |    ${sqlBp("code_lines", "n_lines")} AS code_line_bp,
       |    ${sqlBp("indent_lines", "n_lines")} AS indent_line_bp,
       |    ${sqlBp("sym_chars", "n_chars")} AS sym_char_bp,
       |    kw_hits
       |  FROM base
       |)
       |SELECT *, CAST(CASE WHEN code_line_bp >= $CodeLineBpMin
       |    OR indent_line_bp >= $CodeLineBpMin
       |    OR (kw_hits >= $CodeKwMin AND sym_char_bp >= $CodeSymBpMin)
       |  THEN 1 ELSE 0 END AS BIGINT) AS is_code
       |FROM bps""".stripMargin
  }

  // ---- #25d-b word-blocklist document gate --------------------------------
  /** The C4 "bad words" document gate (Raffel et al. 2020 drop any page
    * containing a word from the List-of-Dirty-Naughty-Obscene list): a doc
    * with ANY blocklisted whitespace token (lowered) drops. Every document
    * gets a verdict row — total blocklisted-token occurrences, the FIRST
    * blocklisted token in document order (so drops are attributable, the
    * url_filter convention), and keep ∈ {0,1}. The committed [[WordBlocklist]]
    * stands in for the production list exactly as `url_filter`'s domain
    * list does; the mechanics — membership of the shared token frame
    * against a broadcast-scale literal set — are list-size-independent
    * (a real list is ~400 entries; a huge one would swap `isin` for a
    * broadcast join without changing the row contract).
    *
    * Scale: MAP-ONLY — tokenization and membership are one fused
    * projection, nothing leaves the row. */
  val WordBlocklist: Seq[String] = Seq("vector", "casino", "spam")

  def wordBlocklistGate(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        filter(lowerTokens(col("text")), w => w.isin(WordBlocklist: _*))
          .as("hits"))
      .select(col("doc_id"),
        size(col("hits")).cast("long").as("n_hits"),
        coalesce(try_element_at(col("hits"), lit(1)), lit("")).as("first_hit"))
      .withColumn("keep", (col("n_hits") === 0L).cast("long"))
  val wordBlocklistGateSql: String = {
    val bl = WordBlocklist.map(sqlLit).mkString("(", ", ", ")")
    s"""WITH hits AS (
       |  SELECT doc_id, list_filter(${sqlLowerTokens("text")},
       |    w -> w IN $bl) AS hits
       |  FROM documents
       |)
       |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
       |  coalesce(hits[1], '') AS first_hit,
       |  CAST(CASE WHEN len(hits) = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM hits""".stripMargin
  }

  /** [[wordBlocklistGate]] as a row-local gate over any (…, text) frame —
    * drop blocklisted docs, keep every column. Stateless projection +
    * filter, so batch≡stream by construction (DocsStream twin). */
  private[graft] def blocklistGateOf(d: DataFrame): DataFrame =
    d.where(size(filter(lowerTokens(col("text")),
      w => w.isin(WordBlocklist: _*))) === 0)

  // ---- #23f quality-gate ensemble -----------------------------------------
  /** Majority vote of the three independent row-local keep families — the
    * ensemble production pipelines actually ship (no single heuristic is
    * trusted alone; DCLM/FineWeb-style recipes stack them): the Gopher
    * document filter ([[gopherKeepIn]] — the stream-gate predicate
    * verbatim), the C4 content gate (lorem-ipsum/brace/few-sentences over
    * the line-filtered text, the `c4_line_filters` doc rule verbatim), and
    * the hashed-classifier keep (clf_mean_e3 ≥ 0, `classifier_score`'s
    * rule verbatim). Every document gets all three votes plus the
    * majority verdict, so disagreement is auditable per family
    * (scorer_agreement quantifies pairwise κ; this is the decision row).
    *
    * Scale: ALL THREE families are pure functions of the row — one fused
    * projection, zero exchange, scan speed at 100 TB (ScaleSpec-locked). */
  private def ensembleVotes: (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val tk = lowerTokens(col("text"))
    val kept = filter(split(col("text"), "\n", -1), c4Keep _)
    val ktext = array_join(kept, "\n")
    val c4k = !(instr(lower(col("text")), "lorem ipsum") > 0 ||
      instr(col("text"), "{") > 0 || sentCount(ktext) < C4MinSentences)
    val clfMean = org.apache.spark.sql.graft.ExactMath.intDiv(
      aggregate(transform(tk, t => pmod(md5Long(concat(
        lit(TextAnalysis.ClfSeed), lit("\u0001"), t)), lit(2001L))),
        lit(0L), (a, x) => a + x),
      greatest(size(tk).cast("long"), lit(1L))) - lit(1000L)
    (gopherKeepIn(tk).cast("long"), c4k.cast("long"),
      (clfMean >= 0L).cast("long"))
  }

  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val (g, c, f) = ensembleVotes
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), g.as("gopher_keep"), c.as("c4_keep"),
        f.as("clf_keep"))
      .withColumn("n_votes",
        col("gopher_keep") + col("c4_keep") + col("clf_keep"))
      .withColumn("keep", (col("n_votes") >= 2L).cast("long"))
  }
  val qualityEnsembleSql: String = {
    val stops = GopherStops.map(sqlLit).mkString("(", ", ", ")")
    val wgt = sqlMd5Long(s"concat('${TextAnalysis.ClfSeed}', chr(1), x)") +
      " % 2001"
    val ktext = s"coalesce(array_to_string(list_filter(string_split(text, " +
      s"chr(10)), l -> ${sqlC4Keep("l")}), chr(10)), '')"
    s"""WITH t AS (
       |  SELECT doc_id, text, ${sqlLowerTokens("text")}
       |    AS tk
       |  FROM documents
       |), v AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) BETWEEN $GopherMinTokens AND $GopherMaxTokens
       |      AND CAST(coalesce(list_sum(list_transform(tk, w -> length(w))),
       |        0) AS DOUBLE) / greatest(len(tk), 1)
       |        BETWEEN $GopherMinAvgLen AND $GopherMaxAvgLen
       |      AND CAST(len(list_filter(tk, w -> regexp_matches(w, '\\p{L}')))
       |        AS DOUBLE) / greatest(len(tk), 1) > $GopherMinAlphaFrac
       |      AND len(list_filter(tk, w -> w IN $stops)) >= $GopherMinStopHits
       |    THEN 1 ELSE 0 END AS gopher_keep,
       |    CASE WHEN contains(lower(text), 'lorem ipsum')
       |        OR contains(text, '{')
       |        OR ${sqlSentCount(ktext)} < $C4MinSentences
       |    THEN 0 ELSE 1 END AS c4_keep,
       |    CASE WHEN (coalesce(list_sum(list_transform(tk, x -> $wgt)), 0)
       |        // greatest(len(tk), 1)) - 1000 >= 0
       |    THEN 1 ELSE 0 END AS clf_keep
       |  FROM t
       |)
       |SELECT doc_id, CAST(gopher_keep AS BIGINT) AS gopher_keep,
       |  CAST(c4_keep AS BIGINT) AS c4_keep,
       |  CAST(clf_keep AS BIGINT) AS clf_keep,
       |  CAST(gopher_keep + c4_keep + clf_keep AS BIGINT) AS n_votes,
       |  CAST(CASE WHEN gopher_keep + c4_keep + clf_keep >= 2
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM v""".stripMargin
  }

  /** [[qualityEnsemble]] as a row-local majority gate over any (…, text)
    * frame — stateless filter, batch≡stream by construction (DocsStream
    * twin). */
  private[graft] def ensembleGateOf(d: DataFrame): DataFrame = {
    val (g, c, f) = ensembleVotes
    d.where(g + c + f >= 2L)
  }

  /** [[mojibakeStats]]' artifact classes as a row-local drop gate over any
    * (…, text) frame: any U+FFFD / double-encode face / C0 control drops
    * the doc (the quarantine stage of a decode-health pipeline).
    * Stateless, batch≡stream by construction (DocsStream twin). */
  private[graft] def mojibakeGateOf(d: DataFrame): DataFrame =
    d.where(occ(col("text"), Fffd) +
      MojibakeDoubleEncMarkers.map(occ(col("text"), _)).reduce(_ + _) +
      regexp_count(col("text"), lit(CtrlRe)) === 0)

  // ---- #25l-b curation-stage corpus diff ----------------------------------
  /** The release-engineering diff between a corpus version and the output
    * of a curation stage — the first table a data-release review reads
    * ("this stage dropped 12 % of src7 and rewrote 40 % of it — why?").
    * Diffed stage pinned to the C4 line filter (the repo's most
    * text-rewriting gate): per (source, status) with
    * status ∈ dropped (stage condemned the doc) / changed (doc survived
    * with rewritten text) / unchanged, doc counts and exact-bp share of
    * the source. Because the stage is row-local, the WHOLE diff is one
    * scan: status is computed next to the text it describes — no
    * before/after join, no second corpus read (the general two-snapshot
    * diff is this same rollup after a doc_id-keyed outer join).
    *
    * Scale: one map-only status projection + one uniform agg on the
    * ~10²-key (source, status) pair; the per-source share is a window over
    * the ≤3-row status groups of each source. */
  def stageDiff(spark: SparkSession, dir: String): DataFrame = {
    val kept = filter(split(col("text"), "\n", -1), c4Keep _)
    val ktext = array_join(kept, "\n")
    val dropped = instr(lower(col("text")), "lorem ipsum") > 0 ||
      instr(col("text"), "{") > 0 || sentCount(ktext) < C4MinSentences
    val byStatus = Corpus.table(spark, dir, "documents")
      .select(col("source"),
        when(dropped, "dropped")
          .when(ktext =!= col("text"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"), col("status")).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    byStatus.select(col("source"), col("status"), col("n_docs"),
      bp(col("n_docs"), sum(col("n_docs")).over(w)).as("share_bp"))
  }
  val stageDiffSql: String =
    s"""WITH st AS (
       |  SELECT source,
       |    CASE WHEN contains(lower(text), 'lorem ipsum') OR contains(text, '{')
       |        OR ${sqlSentCount(
            s"coalesce(array_to_string(list_filter(string_split(text, chr(10)), " +
              s"l -> ${sqlC4Keep("l")}), chr(10)), '')")} < $C4MinSentences
       |      THEN 'dropped'
       |      WHEN coalesce(array_to_string(list_filter(
       |          string_split(text, chr(10)), l -> ${sqlC4Keep("l")}),
       |          chr(10)), '') <> text THEN 'changed'
       |      ELSE 'unchanged' END AS status
       |  FROM documents
       |), agg AS (
       |  SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM st GROUP BY 1, 2
       |)
       |SELECT source, status, n_docs,
       |  ${sqlBp("n_docs",
          "CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT)")} AS share_bp
       |FROM agg""".stripMargin

  // ---- #25l-d corpus-release diff (two-snapshot census) -------------------
  /** What changed between two corpus VERSIONS — the release review
    * [[stageDiff]] cannot do (it diff's ONE row-local stage in-scan; this
    * compares two arbitrary snapshots): per source, how many docs were
    * added / removed / changed (same doc_id, different content hash) /
    * unchanged, plus both versions' totals. Removed/changed/unchanged
    * attribute to the OLD source, added to the new.
    *
    * Scale: two PRUNED scans — each side ships only (doc_id, source,
    * md5(text)), the 16-byte content hash computed inside the scan
    * projection, never the text — into ONE doc_id-keyed full-outer
    * shuffle join (uniform key: doc_id), then a ≤|sources|-key rollup
    * with map-side partials. At 100 TB this is the minimal shape a
    * two-version diff admits: both versions must be read once, and
    * nothing after the scans carries more than 3 narrow columns. */
  private[graft] def corpusDiffOf(oldDocs: DataFrame,
      newDocs: DataFrame): DataFrame = {
    val a = oldDocs.select(col("doc_id"), col("source").as("source_a"),
      md5(col("text")).as("h_a"))
    val b = newDocs.select(col("doc_id"), col("source").as("source_b"),
      md5(col("text")).as("h_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source_a"), col("source_b")).as("source"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"))
      .select(col("source"), col("n_added"), col("n_removed"),
        col("n_changed"), col("n_unchanged"),
        (col("n_removed") + col("n_changed") + col("n_unchanged"))
          .as("n_old"),
        (col("n_added") + col("n_changed") + col("n_unchanged"))
          .as("n_new"))
  }

  /** Truncation policy of the simulated next release ([[corpusDiff]]). */
  val DiffMaxChars = 300

  /** Driver-contract query: [[corpusDiffOf]] between the raw corpus and a
    * deterministic "next release" built from the three edits a real
    * release ships — a takedown list (doc_id % 13 == 3 → removed), a
    * max-length policy (text truncated to [[DiffMaxChars]] chars — longer
    * docs → changed, shorter → unchanged) and an `errata` slice of
    * re-keyed docs (doc_id % 101 == 7, shifted by 10⁹ — disjoint ids →
    * added), so all four statuses are live in one oracled row. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Corpus.table(spark, dir, "documents")
    val next = d.where(col("doc_id") % 13 =!= 3)
      .select(col("doc_id"), col("source"),
        substring(col("text"), 1, DiffMaxChars).as("text"))
    val added = d.where(col("doc_id") % 101 === 7)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
        lit("errata").as("source"), col("text"))
    corpusDiffOf(d, next.unionByName(added))
  }
  val corpusDiffSql: String = {
    s"""WITH newc AS (
       |  SELECT doc_id, source, substr(text, 1, $DiffMaxChars) AS text
       |  FROM documents
       |  WHERE doc_id % 13 <> 3
       |  UNION ALL
       |  SELECT doc_id + 1000000000, 'errata', text FROM documents
       |  WHERE doc_id % 101 = 7
       |), a AS (
       |  SELECT doc_id, source, md5(text) AS h FROM documents
       |), b AS (
       |  SELECT doc_id, source, md5(text) AS h FROM newc
       |), j AS (
       |  SELECT coalesce(a.source, b.source) AS source,
       |    CASE WHEN a.h IS NULL THEN 'added'
       |         WHEN b.h IS NULL THEN 'removed'
       |         WHEN a.h <> b.h THEN 'changed'
       |         ELSE 'unchanged' END AS status
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
       |), agg AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_added,
       |    CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_removed,
       |    CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_changed,
       |    CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_unchanged
       |  FROM j GROUP BY 1
       |)
       |SELECT source, n_added, n_removed, n_changed, n_unchanged,
       |  n_removed + n_changed + n_unchanged AS n_old,
       |  n_added + n_changed + n_unchanged AS n_new
       |FROM agg""".stripMargin
  }
}
