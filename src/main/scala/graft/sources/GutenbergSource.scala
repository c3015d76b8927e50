package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns._
import graft.operators.Anagrams

/** Raw-book ingestion — the true end-to-end equivalent of the reference's
  * input path (SURVEY.md §2 #1, #2, #3, #14):
  *
  *  - file fan-out (`mapphase/start.go:24-90`): the binaryFile source's
  *    distributed file index replaces the per-file Pub/Sub messages; a glob
  *    or directory is the "input bucket"
  *  - byte→string decode (`mapphase/split.go:78-87`): the Go code maps each
  *    byte to the rune with that code point, which IS ISO-8859-1 decoding —
  *    expressed here as the codegen'd `decode(content, 'ISO-8859-1')`
  *  - header/footer strip (`mapphase/split.go:90-116`): shared regexes from
  *    TextFns.
  *
  * At 100 TB the same plan holds: the file index lists splits in parallel,
  * `spark.sql.files.maxPartitionBytes` sizes partitions (small books are
  * coalesced per task), and nothing touches the driver.
  */
object GutenbergSource {

  /** One row per book file: (doc_id = file path, text = stripped body). */
  def readBooks(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").load(path)
      .select(col("path").as("doc_id"),
        stripGutenberg(decode(col("content"), "ISO-8859-1")).as("text"))

  /** Raw files → "sig: w1 w2" anagram lines: the reference's whole product
    * as one declarative plan. */
  def anagramsFromBooks(spark: SparkSession, path: String): DataFrame =
    Anagrams.anagramLinesOf(readBooks(spark, path))

  /** The anagram lines in `numParts` partitions — the shape of the
    * reference's per-reducer output (`anagrams-part-N.txt`,
    * reducephase/reduce.go:36-52). Hash-repartition by line ≡ the fnv
    * partitioner; everything stays executor-side. */
  def anagramParts(spark: SparkSession, booksPath: String, numParts: Int): DataFrame =
    anagramsFromBooks(spark, booksPath).repartition(numParts, col("line"))

  /** Write [[anagramParts]] as `numParts` text part files. */
  def writeAnagramParts(spark: SparkSession, booksPath: String,
                        outPath: String, numParts: Int): Unit =
    anagramParts(spark, booksPath, numParts).write.mode("overwrite").text(outPath)
}
