package graft.sources

import graft.operators.Materialized
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one reader of a corpus dir's parquet input tables: `documents`,
  * `embeddings`, the TPC-H-like tables and `events`. A plain
  * `spark.read.parquet(path)` starts a footer-reading schema-inference job
  * on every call; here the first call per (session instance, path) infers
  * and pins the schema, and every later call reads with it — the files are
  * still listed each time, so no file index goes stale, but no job runs.
  *
  * Pinned per session INSTANCE (`Materialized.sessionKey`): session conf
  * such as `spark.sql.legacy.parquet.nanosAsLong` changes the inferred
  * types, so a `newSession()` twin resolves on its own. Like the
  * Materialized caches, this treats a corpus dir as immutable within a
  * session; `Materialized.clearAll()` forgets the pinned schemas. */
object Corpus {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `$dir/$name.parquet` as a DataFrame. A missing table fails here, at
    * build, and pins nothing. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Materialized.value(spark, dir, s"schema/$name")(
      spark.read.parquet(path).schema)).parquet(path)
  }

  /** Register a temp view per table present under `dir`, so the library's
    * registered functions (sort_chars, simhash60, char_entropy, … via
    * GraftExtensions) compose with plain `spark.sql` over the corpus. */
  def register(spark: SparkSession, dir: String): Seq[String] =
    Tables.filter { name =>
      val path = s"$dir/$name.parquet"
      val exists = new java.io.File(path).exists() ||
        path.startsWith("s3") || path.startsWith("gs") || path.startsWith("hdfs")
      if (exists) table(spark, dir, name).createOrReplaceTempView(name)
      exists
    }
}
