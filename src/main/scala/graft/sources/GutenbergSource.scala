package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns._
import org.apache.spark.sql.graft.BookWords
import org.apache.spark.sql.internal.SQLConf
import graft.operators.Anagrams

/** Raw-book ingestion — the true end-to-end equivalent of the reference's
  * input path (SURVEY.md §2 #1, #2, #3, #14):
  *
  *  - file fan-out (`mapphase/start.go:24-90`): the binaryFile source's
  *    distributed file index replaces the per-file Pub/Sub messages; a glob
  *    or directory is the "input bucket"
  *  - byte→string decode (`mapphase/split.go:78-87`): the Go code maps each
  *    byte to the rune with that code point, which IS ISO-8859-1 decoding
  *  - header/footer strip (`mapphase/split.go:90-116`): TextFns' regexes
  *  - the reduce (`reducephase/shuffle.go:84-93`, `reduce.go`): the
  *    reference sends each signature to reducer `fnv(sig) % N`; the part
  *    files here hold partition `pmod(hash(sig), N)` ([[Anagrams.anagramParts]]).
  *
  * [[readBooks]] decodes and strips with the codegen'd built-ins and is
  * the text the anagram path is checked against. The anagram path itself
  * never builds the decoded text: the BookWords kernel works on each
  * file's Latin-1 bytes, finds the body by byte search and tokenizes only
  * the body.
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
    * as one declarative plan, in the session's shuffle partitions. */
  def anagramsFromBooks(spark: SparkSession, path: String): DataFrame =
    anagramParts(spark, path, spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt)

  /** The anagram lines in `numParts` partitions, one per reducer output
    * file (`anagrams-part-N.txt`, reducephase/reduce.go:36-52), from each
    * book's distinct clean words (the words of [[readBooks]]' text);
    * everything stays executor-side. */
  def anagramParts(spark: SparkSession, booksPath: String, numParts: Int): DataFrame =
    Anagrams.anagramParts(spark.read.format("binaryFile").load(booksPath)
      .select(explode(BookWords(col("content"), Stopwords)).as("word")), numParts)

  /** Write [[anagramParts]] as `numParts` text part files. */
  def writeAnagramParts(spark: SparkSession, booksPath: String,
                        outPath: String, numParts: Int): Unit =
    anagramParts(spark, booksPath, numParts).write.mode("overwrite").text(outPath)
}
