package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession =
    graft.Session.local("4").appName("graft-test").getOrCreate()
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Write a documents-shaped fixture into a temp dir layout the operators
    * expect (`$dir/documents.parquet`) and return the dir. */
  def writeDocsFixture(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fix").toString
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  def collectSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}
