package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** The composed end product as a runnable job: curate the raw corpus, then
  * run the batch-preparation stages OVER THE SURVIVORS — not the raw
  * table — writing the artifact tree a training run consumes:
  *
  * ```
  * outDir/corpus/documents.parquet   curated survivors (with text)
  * outDir/chunks/                    overlapping training windows
  * outDir/packed/                    sequence-packing placements
  * outDir/pack_report/               per-shard padding efficiency
  * outDir/order/                     reproducible epoch shuffle
  * outDir/manifest.json              row counts per artifact
  * ```
  *
  * The downstream stages are the SAME operators the driver's oracle gate
  * verifies (`chunk_documents`, `pack_sequences`, `pack_stats`,
  * `training_order`) — pointed at the curated corpus directory instead of
  * the raw one. Re-corpusing through a directory keeps every stage's input
  * contract identical (a `documents.parquet` of any provenance), which is
  * also the 100 TB shape: each stage reads/writes columnar tables, so any
  * stage can restart independently.
  *
  * Usage: runMain graft.CurationPipeline <sfDir> <outDir>
  */
object CurationPipeline {

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counts = run(spark, sfDir, outDir)
    println(counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    spark.stop()
  }

  /** Runs the pipeline; returns the manifest row counts. C4 content rules
    * run when `graft.c4Rules=true` (see the 4-arg overload). */
  def run(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] =
    run(spark, sfDir, outDir,
      c4Rules = spark.conf.getOption("graft.c4Rules").exists(_.toBoolean))

  /** Runs the pipeline; returns the manifest row counts.
    *
    * `c4Rules` switches the C4 content stage (Raffel et al. 2020 §2.2 —
    * line-level terminal-punctuation/min-words/boilerplate-phrase rules
    * plus the lorem-ipsum/brace/few-sentences document gate). It defaults
    * ON for the crawl path ([[runFromWarc]] — C4 is a WEB-page cleaning
    * recipe and every C4-descendant crawl corpus runs it) and OFF for
    * pre-structured parquet corpora, where prose-shape rules are the
    * corpus owner's call (`graft.c4Rules=true` opts in): on a corpus with
    * no sentence punctuation the few-sentences gate would legitimately
    * condemn everything. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      c4Rules: Boolean): Map[String, Long] = {
    import graft.operators.Curation
    import org.apache.spark.sql.functions._
    // stage 1: curation (quality + language + dedup + decontamination
    // gates, all oracle-verified individually) — survivors keep their text
    // via a doc_id equi-join back to the raw table (co-hash join at scale)
    val survivors = Curation.curatedCorpus(spark, sfDir).select("doc_id")
    val corpusDir = s"$outDir/corpus"
    // stage 1.5: Gopher/RefinedWeb intra-doc repetition removal — each
    // survivor's OWN duplicated lines drop (the oracled trim_repeated_lines
    // rebuild, applied to the SURVIVOR-joined frame so the explode/window
    // never runs for dropped documents); n_chars re-derives from the
    // trimmed text so every downstream length signal sees what ships
    // stage 1.1: encoding repair — heal CP1252 double-encoding (the
    // oracled fix_mojibake projection) BEFORE any content stage, so the
    // C4 rules, trims and every downstream signal see the text a reader
    // would. Map-only; unrepairable damage passes through untouched (the
    // mojibake_stats audit still reports it).
    val rawSurvivors = graft.operators.Curation.fixMojibakeStage(
      graft.sources.Corpus.table(spark, sfDir, "documents")
        .join(survivors, "doc_id"))
      .drop("mojibake_repaired")
    // stage 1.25 (when on): C4 content rules FIRST (the map-only line
    // filter plus the lorem-ipsum/brace/few-sentences doc gate), so the
    // trim stage below never windows over lines the content rules already
    // condemned. Survivor docs whose drop_reason is non-empty leave the
    // corpus here.
    val c4Survivors =
      if (!c4Rules) rawSurvivors.select("doc_id", "text", "lang", "source")
      else {
        val c4 = Curation.c4LineFiltersOf(rawSurvivors)
          .where(col("drop_reason") === "")
          .select(col("doc_id"), col("filtered_text"))
        rawSurvivors.join(c4, "doc_id")
          .select(col("doc_id"), col("filtered_text").as("text"),
            col("lang"), col("source"))
      }
    c4Survivors
      .join(Curation.trimRepeatedLinesOf(c4Survivors)
        .select(col("doc_id"), col("trimmed_text")), "doc_id")
      .select(col("doc_id"), col("trimmed_text").as("text"), col("lang"),
        col("source"),
        length(col("trimmed_text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    // stage 2: batch preparation over the curated corpus directory
    val stages: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(
        "chunks" -> (Curation.chunkDocuments _),
        "packed" -> (Curation.packSequences _),
        "pack_report" -> (Curation.packStats _),
        "order" -> (Curation.trainingOrder _))
    val stageCounts = stages.map { case (name, fn) =>
      val df = fn(spark, corpusDir)
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      name -> spark.read.parquet(s"$outDir/$name").count()
    }

    // stage 3: interchange export — the curated corpus as deterministic
    // sharded .jsonl.gz with a per-shard manifest (what a training run
    // actually consumes; oracle-verified as jsonl_write)
    val exported = graft.sources.JsonlSource.exportJsonl(
      spark.read.parquet(s"$corpusDir/documents.parquet"),
      s"$outDir/export_jsonl")
    val exportDocs = exported.agg(
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("docs"),
        org.apache.spark.sql.functions.lit(0L)))
      .collect()(0).getLong(0)

    val manifest = (Map(
      "raw_docs" -> graft.sources.Corpus.table(spark, sfDir, "documents").count(),
      "curated_docs" -> spark.read.parquet(s"$corpusDir/documents.parquet").count(),
      "exported_docs" -> exportDocs)
      ++ stageCounts)
    writeManifest(outDir, manifest)
    manifest
  }

  private def writeManifest(outDir: String, manifest: Map[String, Long]): Unit =
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      manifest.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))

  /** WARC → documents → curate: ingest a raw crawl directory into the
    * `documents` contract (source = crawl host, lang unknown — language is
    * PREDICTED downstream by the curation gate), write it as a corpus
    * directory, then run the standard pipeline unchanged over it. This is
    * the full 100 TB shape end-to-end: raw WARC files in, packed training
    * artifacts out, every intermediate a restartable columnar table.
    *
    * Note the contamination probe-set convention (doc_id < ContamProbeDocs
    * marks probe docs) cannot trigger on WARC corpora: ids are 60-bit
    * md5 hashes, so the probe set is empty and decontamination is a no-op
    * — a real deployment would pass its benchmark table separately. */
  def runFromWarc(spark: SparkSession, warcDir: String, outDir: String): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val rawDir = s"$outDir/raw"
    // first stage of every production crawl pipeline: the URL/domain
    // blocklist gate — blocked hosts never cost a quality score, a dedup
    // probe or a byte of corpus storage (url_filter, oracle-verified)
    val warcDocs = graft.sources.WarcSource.urlFilter(
      graft.sources.WarcSource.documentsFromWarc(spark, warcDir))
    warcDocs
      .select(col("doc_id"),
        lit("und").as("lang"),
        graft.sources.WarcSource.hostCol(col("url")).as("source"),
        length(col("text")).cast("long").as("n_chars"),
        col("text"))
      .write.mode("overwrite").parquet(s"$rawDir/documents.parquet")
    // crawl corpora run the full C4 recipe by default (opt out with
    // graft.c4Rules=false) — see the run() overload's rationale
    val counts = run(spark, rawDir, outDir,
      c4Rules = spark.conf.getOption("graft.c4Rules")
        .map(_.toBoolean).getOrElse(true))
    // archive-out: the curated survivors re-archived through the WARC
    // SINK as `outDir/archive/part-*.warc` — crawl in, curated crawl out,
    // both ends of the pipeline in the same immutable container format.
    // warc_type `conversion` is the spec's type for re-processed content;
    // the original capture url/date ride along from the source records.
    val curatedIds = spark.read
      .parquet(s"$outDir/corpus/documents.parquet").select("doc_id")
    graft.sources.WarcSource.writeWarc(
      warcDocs.join(curatedIds, "doc_id")
        .select(col("url"), col("warc_date"),
          lit("conversion").as("warc_type"),
          encode(col("text"), "UTF-8").as("block")),
      s"$outDir/archive")
    // an all-dropped corpus writes no members at all — count 0, not a
    // listing error on the empty/missing directory
    val archived =
      if (counts("curated_docs") == 0) 0L
      else graft.sources.WarcSource.readWarc(spark, s"$outDir/archive").count()
    val all = counts + ("archived_docs" -> archived)
    writeManifest(outDir, all) // re-emit with the archive stage included
    all
  }

  /** [[runFromWarc]]'s WET twin: Common Crawl consumers who start from the
    * pre-extracted-text format feed the SAME curation battery — the only
    * difference is the ingestion projection (conversion records, block IS
    * the text) and that the C4 HTML-era line rules stay opt-in (WET text
    * already passed an extractor; the run() overload's pre-structured
    * default applies). Same blocklist-first discipline. */
  def runFromWet(spark: SparkSession, wetDir: String, outDir: String): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val rawDir = s"$outDir/raw"
    graft.sources.WarcSource.urlFilter(
        graft.sources.WarcSource.documentsFromWet(spark, wetDir))
      .select(col("doc_id"),
        lit("und").as("lang"),
        graft.sources.WarcSource.hostCol(col("url")).as("source"),
        length(col("text")).cast("long").as("n_chars"),
        col("text"))
      .write.mode("overwrite").parquet(s"$rawDir/documents.parquet")
    run(spark, rawDir, outDir,
      c4Rules = spark.conf.getOption("graft.c4Rules")
        .map(_.toBoolean).getOrElse(false))
  }
}
