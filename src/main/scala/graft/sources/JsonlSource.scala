package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** JSONL corpus I/O — the interchange format of LLM training corpora
  * (one JSON document per line, gzip part files).
  *
  * Scale notes: the schema is always EXPLICIT — `inferSchema` would be a
  * full extra pass over 100 TB before the real one; gzip parts are
  * line-splittable only per file, so write-side `parts` controls read
  * parallelism; a corrupt line yields a null row rather than a job abort
  * (PERMISSIVE, surfaced via `_corrupt_record` when kept).
  */
object JsonlSource {

  /** The documents-table schema, fixed (matches TESTDATA.md). */
  val DocumentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Write a documents frame as gzip JSONL part files. `parts > 0`
    * repartitions first — at scale, sized so each gz part is one read
    * task's worth (~128 MB uncompressed). */
  def writeJsonl(df: DataFrame, path: String, parts: Int = 0): Unit = {
    val out = if (parts > 0) df.repartition(parts) else df
    out.write.mode("overwrite").option("compression", "gzip").json(path)
  }

  /** Read a JSONL corpus with the explicit documents schema. */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DocumentSchema).json(path)

  // ---- deterministic sharded export + manifest ---------------------------
  /** Shard count of [[exportJsonl]]. At 100 TB this is thousands (sized to
    * ~128 MB-uncompressed parts); 8 keeps the fixture-scale manifest
    * readable while exercising the multi-shard path. */
  val ExportShards = 8

  /** Shard assignment: doc_id's shared 60-bit md5 mod [[ExportShards]] —
    * content-determined (stable across runs, sessions and engines), never
    * Spark's partition numbering. */
  private[graft] def shardCol(shards: Int) =
    graft.functions.TextFns.md5Long(col("doc_id").cast("string")) % shards

  /** Pinned JSON-string escape both engines can reproduce: strip control
    * chars outside \t\n\r, then escape backslash FIRST, quote, and the
    * three whitespace controls. Text within this repertoire round-trips
    * through any JSON parser; rarer control chars are dropped rather than
    * emitted raw (which would corrupt the line format). */
  private def jsonEsc(c: org.apache.spark.sql.Column) = {
    val stripped = org.apache.spark.sql.functions.regexp_replace(
      c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", "")
    Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n", "\r" -> "\\r",
      "\t" -> "\\t").foldLeft(stripped) { case (acc, (s, r)) =>
      org.apache.spark.sql.functions.replace(acc,
        org.apache.spark.sql.functions.lit(s),
        org.apache.spark.sql.functions.lit(r))
    }
  }
  private def sqlJsonEsc(e: String): String = {
    val stripped =
      s"regexp_replace($e, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')"
    s"""replace(replace(replace(replace(replace($stripped,
       |      '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'), chr(13), '\\r'),
       |      chr(9), '\\t')""".stripMargin
  }

  /** One document as one pinned JSON line — fixed key order, the escape
    * above, numerics unquoted. Byte-identical on both engines, so the
    * manifest can be recounted independently. */
  private[graft] def jsonLineCol = {
    import org.apache.spark.sql.functions._
    concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
      lit(",\"text\":\""), jsonEsc(col("text")),
      lit("\",\"lang\":\""), jsonEsc(col("lang")),
      lit("\",\"source\":\""), jsonEsc(col("source")),
      lit("\",\"n_chars\":"), col("n_chars").cast("string"), lit("}"))
  }
  private[graft] val sqlJsonLine: String =
    s"""concat('{"doc_id":', CAST(doc_id AS VARCHAR),
       |    ',"text":"', ${sqlJsonEsc("text")},
       |    '","lang":"', ${sqlJsonEsc("lang")},
       |    '","source":"', ${sqlJsonEsc("source")},
       |    '","n_chars":', CAST(n_chars AS VARCHAR), '}')""".stripMargin

  /** Export a documents frame as deterministic sharded `.jsonl.gz` with a
    * per-shard manifest — the interchange artifact a training run actually
    * consumes (the write half of [[readJsonl]]; WARC has the same pair via
    * its V2 connector). Layout:
    *
    * ```
    * path/shard=K/part-*.txt.gz   doc_id-ordered JSON lines of shard K
    * path/_manifest/              one JSON row per shard:
    *                              (shard, docs, bytes, content_hash)
    * ```
    *
    * Shards are content-addressed ([[shardCol]]) and line order within a
    * shard is doc_id-ascending, so the uncompressed shard bytes are a pure
    * function of the corpus — re-exports are byte-identical and the
    * manifest is independently recountable from the table. The manifest is
    * computed by RE-READING the written files (not from the pre-write
    * frame): docs, uncompressed bytes (each line + its newline), and an
    * order-insensitive content hash (bit_xor of per-line 60-bit md5 —
    * purely aggregative, nothing collects).
    *
    * Scale: one exchange (repartition on the shard key) then a
    * shard-ordered local sort feeds the writer — each shard is exactly one
    * gzip part written by one task; the manifest pass is a map-only rescan
    * + one tiny aggregation. Returns the manifest frame. */
  def exportJsonl(docs: DataFrame, path: String,
      shards: Int = ExportShards): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = docs.sparkSession
    docs
      .select(shardCol(shards).as("shard"), jsonLineCol.as("value"),
        col("doc_id"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .drop("doc_id")
      .write.mode("overwrite").option("compression", "gzip")
      .partitionBy("shard").text(path)
    // an all-dropped corpus writes no shard dirs at all, so partition
    // discovery yields no `shard` column — normalize to an empty frame
    val back0 = spark.read.text(path)
    val back =
      if (back0.columns.contains("shard")) back0
      else back0.select(lit(0).as("shard"), col("value")).where(lit(false))
    val manifest = back
      .select(col("shard").cast("long").as("shard"), col("value"))
      .select(col("shard"), col("value"),
        graft.functions.TextFns.md5Long(col("value")).as("lh"))
      .groupBy("shard")
      .agg(count(lit(1)).as("docs"),
        sum(octet_length(col("value")) + 1).cast("long").as("bytes"),
        expr("bit_xor(lh)").as("content_hash"))
    manifest.coalesce(1).write.mode("overwrite").json(s"$path/_manifest")
    // explicit schema: an all-dropped corpus writes an EMPTY manifest and
    // inference would fail on it — empty corpus, empty manifest, no error
    spark.read
      .schema("shard LONG, docs LONG, bytes LONG, content_hash LONG")
      .json(s"$path/_manifest")
      .select("shard", "docs", "bytes", "content_hash")
  }

  /** Driver-contract query: export the corpus under `dir` and return the
    * per-shard manifest. The oracle recounts the SAME manifest straight
    * from the documents table (shard expr + pinned line serialization),
    * so a hash match proves the bytes on disk are exactly the pinned
    * serialization of the corpus — write path, sharding and escaping all
    * checked. Output path is per-(corpus, application) under the JVM temp
    * dir: re-runs overwrite deterministically, concurrent apps don't
    * collide. */
  def jsonlWrite(spark: SparkSession, dir: String): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val tag = md.digest(dir.getBytes("UTF-8")).map(b => f"$b%02x")
      .mkString.take(12)
    val path = s"${sys.props("java.io.tmpdir")}/graft-jsonl-export-$tag-" +
      spark.sparkContext.applicationId
    exportJsonl(Corpus.table(spark, dir, "documents"), path)
  }

  val jsonlWriteSql: String =
    s"""WITH lines AS (
       |  SELECT ${graft.functions.TextFns.sqlMd5Long(
            "CAST(doc_id AS VARCHAR)")} % $ExportShards AS shard,
       |    $sqlJsonLine AS line
       |  FROM documents
       |)
       |SELECT shard, count(*) AS docs,
       |  CAST(sum(strlen(line) + 1) AS BIGINT) AS bytes,
       |  bit_xor(${graft.functions.TextFns.sqlMd5Long("line")})
       |    AS content_hash
       |FROM lines GROUP BY 1""".stripMargin

  /** Committed fixture corpus backing the `jsonl_ingest` driver row
    * (generated once by scripts/make_jsonl_fixture.py; one gzip part, one
    * plain part, a corrupt line). Same classpath-materialization pattern
    * as the WARC fixtures. */
  lazy val FixtureDir: String =
    WarcSource.materializeFixture("jsonl",
      Seq("part-000.jsonl.gz", "part-001.jsonl"))

  /** Driver-contract query: [[readJsonl]] over the committed fixture.
    * Ignores `dir` — JSONL is a raw-file source, not an sfDir parquet
    * table (the warc_host_stats pattern). */
  def jsonlIngest(spark: SparkSession, dir: String): DataFrame =
    readJsonl(spark, FixtureDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))

  /** Oracle: exact VALUES literal, hand-written in
    * scripts/make_jsonl_fixture.py independently of the reader — checks
    * gzip + plain part mixing, unicode, embedded tab/newline escapes, the
    * empty text, and the PERMISSIVE corrupt line (exactly one all-null
    * row, not a job abort). */
  val jsonlIngestSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
      |  CAST(n_chars AS BIGINT) AS n_chars, text
      |FROM (VALUES
      |  (NULL, NULL, NULL, NULL, NULL),
      |  (1, 'en', 'web', 11, 'hello world'),
      |  (2, 'fr', 'books', 16, 'bonjour le monde'),
      |  (3, 'en', 'web', 0, ''),
      |  (4, 'de', 'web', 11, 'unicode ü ß'),
      |  (5, 'en', 'cc', 15, E'tab\tand\nnewline'))
      |  AS t(doc_id, lang, source, n_chars, text)""".stripMargin
}
