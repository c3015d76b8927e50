package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.operators.{Dedup, Materialized, Multimodal, Selection}
import graft.sources.Corpus
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType}

/** Lifecycle of the per-(session, corpus) materialized intermediates
  * (ADVICE r3): session-instance cache scoping, and full storage release —
  * including the per-round localCheckpoint blocks behind dedupComponents —
  * on clearAll(); the same scoping and release for the schemas
  * `Corpus.table` pins and the driver-side values; results that do not
  * depend on which query built a shared artifact first; and a source gate
  * that keeps every artifact in the one keyed store. */
class MaterializedSpec extends SparkTestBase {
  import spark.implicits._

  // two identical long docs + one distinct: a non-empty near-dup pair graph
  private lazy val dupDir = writeDocsFixture(Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again " * 5),
    (2L, "the quick brown fox jumps over the lazy dog again and again " * 5),
    (3L, "completely unrelated content about distributed query engines " * 5)))

  test("caches are scoped to the session instance, not the application") {
    val twin = spark.newSession()
    val a = Dedup.sigSets(spark, dupDir)
    val b = Dedup.sigSets(twin, dupDir)
    // newSession() shares the applicationId; a frame resolved under one
    // session must not be served to the other
    assert(a ne b)
    assert(a.sparkSession eq spark)
    assert(b.sparkSession eq twin)
  }

  test("dedupComponents frees per-round checkpoint blocks eagerly and clearAll the rest") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val comps = Dedup.dedupComponents(spark, dupDir)
    assert(comps.count() == 2) // docs 1+2 form one component of 2 members
    // the iteration's localCheckpoint blocks are released as soon as the
    // final labels frame is persisted: the only persistent RDDs added by
    // the chain are the four Materialized frames (sigSets, candidatePairs,
    // minhashPairs, component labels) — a leak would add one per round
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size <= 4, s"checkpoint blocks leaked: ${added.size} RDDs pinned")
    Materialized.clearAll()
    // every frame materialized by this chain is gone; suites run
    // sequentially in the forked JVM so no concurrent registrations race
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))
    assert(Materialized.size == 0)
  }

  test("multimodal frames fail loudly on non-ASCII text") {
    val dir = writeDocsFixture(Seq(
      (1L, "plain ascii body " * 10), (2L, "héllo wörld " * 10)))
    val err = intercept[Exception] {
      Multimodal.multimodalFrames(spark, dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("non-ASCII")), err.toString)
  }

  /** An events table whose `ts` is INT64 TIMESTAMP(NANOS), the type whose
    * reading `spark.sql.legacy.parquet.nanosAsLong` decides. Spark cannot
    * write it, so the parquet writer is driven directly. */
  private lazy val nanosDir = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet/part-00000.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    dir
  }

  test("Corpus.table pins per session instance: a twin resolves under its own conf") {
    // the ts type, or the error condition when the session cannot read it
    def outcome(ts: => DataType): String = Try(ts).fold({
      case a: AnalysisException => a.getCondition
      case e => e.toString
    }, _.toString)
    def viaCorpus(s: SparkSession) =
      outcome(Corpus.table(s, nanosDir, "events").schema("ts").dataType)
    def direct(s: SparkSession) =
      outcome(s.read.parquet(s"$nanosDir/events.parquet").schema("ts").dataType)
    assert(viaCorpus(spark) == LongType.toString)
    val twin = spark.newSession()
    twin.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    // the twin is not served the first session's pinned LongType: it gets
    // exactly what its own read resolves to (Spark rejects the nanos column
    // without the legacy flag)
    assert(viaCorpus(twin) == direct(twin))
    assert(viaCorpus(twin) != LongType.toString)
    assert(viaCorpus(spark) == LongType.toString)
  }

  test("clearAll() forgets pinned schemas: a rewritten table shows its new column") {
    val dir = writeDocsFixture(Seq(1L -> "alpha beta", 2L -> "gamma"))
    assert(!Corpus.table(spark, dir, "documents").columns.contains("extra"))
    Seq((1L, "alpha beta", "en", "src0", 10L, 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "extra")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // a corpus dir is immutable within a session: still the pinned schema
    assert(!Corpus.table(spark, dir, "documents").columns.contains("extra"))
    Materialized.clearAll()
    val df = Corpus.table(spark, dir, "documents")
    assert(df.columns.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars", "extra"))
    assert(df.select("extra").as[Long].collect().toSeq == Seq(7L))
  }

  test("a missing corpus table fails at build as a plain read does, and pins nothing") {
    val dir = Files.createTempDirectory("graft-missing").toString
    val path = s"$dir/documents.parquet"
    val plain = intercept[AnalysisException](spark.read.parquet(path))
    val err = intercept[AnalysisException](Corpus.table(spark, dir, "documents"))
    assert(err.getCondition == plain.getCondition, err.getMessage)
    assert(err.getMessage == plain.getMessage)
    // once the table exists it resolves to its own schema, not a pinned one
    Seq((1L, "text")).toDF("doc_id", "text").write.parquet(path)
    assert(Corpus.table(spark, dir, "documents").schema ==
      spark.read.parquet(path).schema)
  }

  test("query results do not depend on the order that builds the shared artifacts") {
    val sf = "/root/testdata/sf0.001"
    // keys that share artifacts: the vocabulary, the LSH chain, the
    // centroids with the IVF cell index, the tokenized corpus with the
    // DSIR model, the gram counts
    val sample = Seq("anagram_groups", "dedup_minhash", "dedup_components", "ann_ivf",
      "cluster_purity", "semdedup", "dsir_weights", "kn3_perplexity", "tfidf_top_terms",
      "longest_repeat")
    def run(order: Seq[String]): Map[String, (Long, String)] =
      order.map(q => q -> ClusterSmoke.fingerprint(SparkEntry.queries(q)(spark, sf))).toMap
    Materialized.clearAll()
    val forward = run(sample)
    Materialized.clearAll()
    val backward = run(sample.reverse)
    Materialized.clearAll()
    assert(forward.values.forall(_._1 > 0), forward)
    assert(forward == backward)
  }

  test("clearAll() drops driver-side values: the DSIR model is refitted") {
    val sf = "/root/testdata/sf0.001"
    val fitted = Selection.dsirModel(spark, sf)
    assert(Selection.dsirModel(spark, sf) eq fitted)
    Materialized.clearAll()
    val refitted = Selection.dsirModel(spark, sf)
    assert(!(refitted eq fitted))
    assert(refitted == fitted)
  }

  /** Every `Materialized.frame(`/`value(` call under `src/main/scala`:
    * (file:line, the name argument as written). */
  private def storeCalls(root: Path): Seq[(String, String)] = {
    val Call = """Materialized\.(?:frame|value)\((.*)""".r.unanchored
    val NameArg = """^[^()]*?,[^()]*?,\s*(s?"[^"]*")\)""".r.unanchored
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      Call(args) <- Seq(line)
    } yield s"$f:${i + 1}" -> (args match {
      case NameArg(name) => name
      case _ => s"<no name literal: ${line.trim}>"
    })
  }

  test("source gate: one keyed store, one literal name per artifact, no other TrieMap") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a directory")
    val calls = storeCalls(root)
    assert(calls.size >= 50, calls.mkString("\n"))
    val unnamed = calls.filter(_._2.startsWith("<"))
    assert(unnamed.isEmpty, unnamed.mkString("\n", "\n", ""))
    val reused = calls.groupBy(_._2).filter(_._2.size > 1)
    assert(reused.isEmpty, reused.values.flatten.mkString("\n", "\n", ""))
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val stray = for {
      f <- files if f.getFileName.toString != "Materialized.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("TrieMap") ||
        """Materialized\.(register|registerClearable|cached)\b""".r.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(stray.isEmpty, stray.mkString("\n", "\n", ""))
  }
}
