package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.operators.{Dedup, Materialized, Scale}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** `Scale.loop` is the one owner of an iterative loop's session and of
  * every checkpoint the loop takes: each loop builder leaves nothing
  * pinned once the store is cleared, an empty graph pins nothing, a loop
  * cannot hand out a frame over its own checkpoints, and no main source
  * outside `Scale.scala` checkpoints by itself except the listed
  * one-shot query builds. */
class LoopScopeSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def sc = spark.sparkContext

  // one key per loop: each builds its loop's artifact through the store
  private val loopKeys = Seq(
    "dedup_components" -> "componentsOfPairs (text)",
    "image_dup_clusters" -> "componentsOfPairs (image)",
    "video_dup_clusters" -> "componentsOfPairs (video)",
    "dup_pagerank" -> "pagerankOn (dup graph)",
    "domain_pagerank" -> "pagerankOn (directed link graph)",
    "domain_hits" -> "hitsOn",
    "logreg_train" -> "lrTrainedWeights",
    "ann_ivf" -> "ivfCentroids",
    "pq_quantize" -> "pqCodebooks",
    "embedding_pca" -> "pcaModelFit",
    "bpe_merges" -> "trainMerges (BPE)",
    "bbpe_merges" -> "trainMerges (byte-level BPE)",
    "wordpiece_merges" -> "trainMerges (WordPiece)",
    "unigram_vocab" -> "Unigram.trainedState",
    "suffix_repeats" -> "SuffixRepeats censuses + levels")

  for ((key, loop) <- loopKeys)
    test(s"$key: $loop leaves no RDD pinned after clearAll") {
      Materialized.clearAll()
      val before = sc.getPersistentRDDs.keySet
      assert(SparkEntry.queries(key)(spark, sf).count() > 0)
      Materialized.clearAll()
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty, left.values.map(_.toDebugString).mkString("\n", "\n\n", ""))
    }

  test("pagerankOn and hitsOn over an empty graph: 0 rows, the usual schema, nothing pinned") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    val pr = Dedup.pagerankOn(edges)
    val hits = Dedup.hitsOn(edges, s"hits-empty-${java.util.UUID.randomUUID()}")
    assert(pr.count() == 0 && hits.count() == 0)
    def fields(f: (String, org.apache.spark.sql.types.DataType)*) =
      StructType(f.map { case (n, t) => StructField(n, t, nullable = false) })
    assert(pr.schema == fields("doc_id" -> LongType, "degree" -> LongType,
      "pr" -> DoubleType))
    assert(hits.schema == fields("domain" -> LongType, "out_degree" -> LongType,
      "in_degree" -> LongType, "hub" -> DoubleType, "auth" -> DoubleType))
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("a loop that returns a frame over its own checkpoint throws, and frees it") {
    val before = sc.getPersistentRDDs.keySet
    val err = intercept[IllegalStateException] {
      Scale.loop(spark) { lp =>
        lp.sized(10)
        lp.checkpoint(lp.rebind(spark.range(10).toDF()), eager = true)
          .where($"id" > 3)
      }
    }
    assert(err.getMessage.contains("checkpoint"))
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))
  }

  /** Returns from inside the loop body, past the scope's normal exit. */
  private def firstPositive(): Long = {
    Scale.loop(spark) { lp =>
      val c = lp.checkpoint(spark.range(5).toDF(), eager = true)
      for (r <- c.as[Long].collect().sorted) if (r > 0) return r
      0L
    }
  }

  test("an early return and an exception release the loop's checkpoints") {
    val before = sc.getPersistentRDDs.keySet
    assert(firstPositive() == 1L)
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))
    intercept[ArithmeticException] {
      Scale.loop(spark) { lp =>
        lp.checkpoint(spark.range(5).toDF(), eager = true)
        1 / 0
      }
    }
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("the loop session: AQE off and rows-sized inside, the parent's conf after") {
    val aqe = "spark.sql.adaptive.enabled"
    val parts = "spark.sql.shuffle.partitions"
    val (cs, inside) = Scale.loop(spark) { lp =>
      val cs = lp.sized(10)
      (cs, (cs.conf.get(aqe), cs.conf.get(parts)))
    }
    assert(!(cs eq spark))
    assert(inside == ("false", "1"))
    assert(cs.conf.get(aqe) == spark.conf.get(aqe))
    assert(cs.conf.get(parts) == spark.conf.get(parts))
    // above the bound the loop runs on the parent session itself
    Scale.loop(spark) { lp =>
      assert(lp.sized(Scale.LoopAqeOffMaxRows + 1) eq spark)
    }
  }

  test("scratch base: a multi-node master needs graft.scratchDir, one host does not") {
    intercept[IllegalArgumentException](Scale.scratchBase("spark://h:7077", None))
    intercept[IllegalArgumentException](Scale.scratchBase("yarn", None))
    assert(Scale.scratchBase("spark://h:7077", Some("hdfs://nn/scratch"))
      .contains("hdfs://nn/scratch"))
    for (m <- Seq("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"))
      assert(Scale.scratchBase(m, None).isEmpty, m)
    assert(Scale.scratchBase(spark).startsWith(sys.props("java.io.tmpdir")))
  }

  /** The checkpoints main sources may take outside `Scale.scala`, by
    * file/enclosing member: one-shot per-query builds that read their
    * frame twice in one plan, not loops (no round, nothing to own). */
  private val allowed = Map(
    "Relational.scala/skewCounts" ->
      "the per-key counts feed the totals pass and the hot-key census",
    "Relational.scala/minCostSupplier" ->
      "the offer frame is the probe side and the per-part minima",
    "Relational.scala/importantStock" ->
      "the (nation, part) positions feed the global total and the per-position compare",
    "Relational.scala/promotionSuppliers" ->
      "the per-(part, supplier) sums feed the per-part totals and the dominance probe")

  /** Every `.localCheckpoint(` outside Scale.scala, keyed by file and the
    * object member it sits in. */
  private def checkpointSites(root: Path): Seq[String] = {
    val Member = """^  (?:private\S* )?(?:def|val|lazy val) (\w+)""".r.unanchored
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.filter(_.getFileName.toString != "Scale.scala").flatMap { f =>
      var member = "<top>"
      Files.readAllLines(f).asScala.flatMap { line =>
        line match {
          case Member(m) => member = m
          case _ =>
        }
        if (line.contains(".localCheckpoint(")) Some(s"${f.getFileName}/$member")
        else None
      }
    }
  }

  test("source gate: .localCheckpoint( only in Scale.scala and the listed query builds") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a directory")
    val sites = checkpointSites(root)
    val stray = sites.filterNot(allowed.contains)
    assert(stray.isEmpty, stray.mkString("\n", "\n", ""))
    // one site per entry, and no stale entry
    assert(sites.sorted == allowed.keys.toSeq.sorted, sites)
  }
}
