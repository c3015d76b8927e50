package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{lowerTokens, sqlLowerTokens}
import graft.operators.Dedup.{dotExpr, sqlDotExpr}
import graft.sources.Corpus

/** Similarity search over the embedding column (SURVEY.md §2 #20-21).
  *
  * `ann_topk` is the exact brute-force baseline: one scan, no shuffle of
  * vectors (the query vector broadcasts). `ann_lsh` is the scale path:
  * signed-random-hyperplane buckets prune the scan to ~hamming≤1 buckets;
  * at 100 TB the bucket id becomes a partition/bucketing key so a probe
  * touches only matching partitions.
  */
object Similarity {

  val TopK = 10
  val NumPlanes = 8
  /** Independent 8-plane tables for multi-table LSH blocking (union of
    * candidates): per-table keep probability p becomes 1-(1-p)^L. Table 0
    * is the ANN probe table; table 1 exists for dedup recall. */
  val NumTables = 2

  /** Deterministic pseudo-random hyperplanes (fixed seed, embedded as
    * literals in both engines — SURVEY.md §6). Quantized to float so the
    * coefficients are exactly representable inside the codegen'd float
    * dot product AND round-trip exactly as SQL double literals. The first
    * NumPlanes rows are table 0 (drawing more planes from the same stream
    * leaves them unchanged). */
  val Planes: IndexedSeq[IndexedSeq[Double]] = {
    val rng = new scala.util.Random(42)
    IndexedSeq.fill(NumPlanes * NumTables)(
      IndexedSeq.fill(Dedup.Dim)(rng.nextGaussian().toFloat.toDouble))
  }
  private val planeLits: IndexedSeq[org.apache.spark.sql.Column] =
    Planes.map(p => lit(p.map(_.toFloat).toArray))

  /** Dot with plane j via the codegen'd FloatDotProduct (same left-fold IEEE
    * order as the SQL chain). An inline 64-term element_at chain — times 8
    * planes in one projection — blows the JIT method budget and runs
    * interpreted, the exact failure mode FloatDotProduct exists for. */
  private def planeDot(vecCol: String, j: Int) =
    org.apache.spark.sql.graft.FloatDotProduct(col(vecCol), planeLits(j))
  private def sqlPlaneDot(vecExpr: String, j: Int) =
    (0 until Dedup.Dim).map(i =>
      s"CAST($vecExpr[${i + 1}] AS DOUBLE) * ${Planes(j)(i)}")
      .mkString(" + ")

  /** 8-bit signed-hyperplane bucket for table `t` — t=0 is the ANN probe
    * table, shared with Dedup.dedupEmbedding's blocking join. */
  def bucketColT(vecCol: String, t: Int): org.apache.spark.sql.Column =
    (0 until NumPlanes).map(j =>
      when(planeDot(vecCol, t * NumPlanes + j) > 0.0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
  def sqlBucketT(vecExpr: String, t: Int): String =
    (0 until NumPlanes).map(j =>
      s"CASE WHEN ${sqlPlaneDot(vecExpr, t * NumPlanes + j)} > 0.0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
  def bucketCol(vecCol: String): org.apache.spark.sql.Column = bucketColT(vecCol, 0)
  def sqlBucket(vecExpr: String): String = sqlBucketT(vecExpr, 0)

  private def cosExpr(a: String, b: String) =
    dotExpr(a, b) / (sqrt(dotExpr(a, a)) * sqrt(dotExpr(b, b)))
  private def sqlCos(a: String, b: String) =
    s"(${sqlDotExpr(a, b)}) / (sqrt(${sqlDotExpr(a, a)}) * sqrt(${sqlDotExpr(b, b)}))"

  /** Global top-k WITHOUT a single-partition window: orderBy+limit compiles
    * to TakeOrderedAndProject (per-partition partial top-k, k-row merge —
    * the plan that survives 100 TB); ranks are then recovered by sorting
    * the ≤k survivors inside one array (constant-size work, one row).
    * The previous row_number() over an unpartitioned Window moved every
    * scored row into a single partition. */
  private def topkRanked(scored: DataFrame): DataFrame =
    scored.orderBy(col("cos").desc, col("vec_id")).limit(TopK)
      .select(struct(negate(col("cos")).as("nc"), col("vec_id").as("vec_id"),
        col("cos").as("cos")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.vec_id").as("vec_id"),
        // §6: rank/filter on the raw cosine (bit-identical IEEE math both
        // engines); the emitted value is a pinned decimal, never a DOUBLE
        round(col("s.cos"), 4).cast("decimal(14,4)").cast("double").as("cos"),
        (col("pos") + 1).cast("long").as("rk"))

  // ---- #20 brute-force cosine top-k ------------------------------------
  def annTopk(spark: SparkSession, dir: String): DataFrame = {
    val q = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    topkRanked(Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("vec_id"), cosExpr("embedding", "qv").as("cos")))
  }
  val annTopkSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  ORDER BY vec_id LIMIT 1
       |), scored AS (
       |  SELECT e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> q.qid
       |), ranked AS (
       |  SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT vec_id, CAST(CAST(round(cos, 4) AS DECIMAL(14,4)) AS DOUBLE) AS cos, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  // ---- #21 LSH-bucketed ANN (scale path) -------------------------------
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .withColumn("bucket", bucketCol("embedding"))
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
    topkRanked(e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid")
        && bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= 1)
      .select(col("vec_id"), cosExpr("embedding", "qv").as("cos")))
  }
  val annLshSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket FROM e
       |  ORDER BY vec_id LIMIT 1
       |), scored AS (
       |  SELECT e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS cos
       |  FROM e, q
       |  WHERE e.vec_id <> q.qid AND bit_count(xor(e.bucket, q.qbucket)) <= 1
       |), ranked AS (
       |  SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT vec_id, CAST(CAST(round(cos, 4) AS DECIMAL(14,4)) AS DOUBLE) AS cos, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  // ---- #21e batch ANN join: top-k neighbors for MANY queries at once ----
  /** The retrieval shape production uses: a probe set (QueryN vectors)
    * joined against the corpus through the hyperplane buckets (hamming ≤ 1
    * probes), then a per-query top-k. The probe side is exploded to its 9
    * probe buckets and BROADCAST (bounded by the query batch, never the
    * corpus); ranking is a window PARTITIONED by query id — per-query
    * state, never a global sort. At 100 TB the bucket is the corpus
    * partitioning key, so each query batch touches matching partitions. */
  val QueryN = 10
  val JoinK = 3
  def annJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .withColumn("bucket", bucketCol("embedding"))
    val probeMasks = 0L +: (0 until NumPlanes).map(j => 1L << j)
    val q = e.orderBy("vec_id").limit(QueryN)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
      .select(col("qid"), col("qv"),
        explode(array(probeMasks.map(m => col("qbucket").bitwiseXOR(lit(m))): _*))
          .as("pb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("bucket") === col("pb") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosExpr("embedding", "qv").as("cos"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= JoinK)
      .select(col("qid"), col("vec_id"),
        round(col("cos"), 4).cast("decimal(14,4)").cast("double").as("cos"),
        col("rk").cast("long").as("rk"))
  }
  val annJoinSql: String = {
    val masks = (0L +: (0 until NumPlanes).map(j => 1L << j))
      .mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings
       |), q AS (
       |  SELECT qid, qv, xor(qbucket, m.m) AS pb FROM (
       |    SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket FROM e
       |    ORDER BY vec_id LIMIT $QueryN
       |  ), unnest($masks) AS m(m)
       |), scored AS (
       |  SELECT q.qid, e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS cos
       |  FROM e JOIN q ON e.bucket = q.pb AND e.vec_id <> q.qid
       |), ranked AS (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT qid, vec_id, CAST(CAST(round(cos, 4) AS DECIMAL(14,4)) AS DOUBLE) AS cos, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $JoinK""".stripMargin
  }

  // ---- #21k ANN recall audit (approx vs exact, sampled) -----------------
  /** Recall@k of the LSH-bucketed batch join against the exact brute-force
    * top-k, per query — the offline audit every approximate index ships
    * with (BASELINE.md's manually-measured recall numbers, promoted to an
    * oracle-checked operator). Output is exact basis points (§6).
    *
    * Scale: the exact side is one corpus scan against the broadcast query
    * batch — the inherent cost of ground truth, bounded by QueryN and run
    * as a sampled audit, not per serving query. The approximate side is
    * [[annJoin]] unchanged. One bounded join (QueryN×k rows each side)
    * compares them. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val q = e.orderBy("vec_id").limit(QueryN)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosExpr("embedding", "qv").as("cos"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= JoinK)
      .select(col("qid"), col("vec_id"))
    val approx = annJoin(spark, dir)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        graft.functions.TextFns.bp(col("n_hit"), col("n_exact")).as("recall_bp"))
  }
  lazy val annRecallSql: String = {
    val masks = (0L +: (0 until NumPlanes).map(j => 1L << j))
      .mkString("[", ", ", "]")
    s"""WITH eb AS (
       |  SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings
       |), qb AS (
       |  SELECT qid, qv, xor(qbucket, m.m) AS pb FROM (
       |    SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket FROM eb
       |    ORDER BY vec_id LIMIT $QueryN
       |  ), unnest($masks) AS m(m)
       |), approx AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${sqlCos("e.embedding", "q.qv")} DESC, e.vec_id) AS rk
       |    FROM eb e JOIN qb q ON e.bucket = q.pb AND e.vec_id <> q.qid
       |  ) WHERE rk <= $JoinK
       |), q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  ORDER BY vec_id LIMIT $QueryN
       |), exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${sqlCos("e.embedding", "q.qv")} DESC, e.vec_id) AS rk
       |    FROM embeddings e, q WHERE e.vec_id <> q.qid
       |  ) WHERE rk <= $JoinK
       |)
       |SELECT x.qid, count(*) AS n_exact,
       |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hit,
       |  ${graft.functions.TextFns.sqlBp(
            "sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)", "count(*)")}
       |    AS recall_bp
       |FROM exact x
       |LEFT JOIN approx a ON x.qid = a.qid AND x.vec_id = a.vec_id
       |GROUP BY 1""".stripMargin
  }

  // ---- #21r hard-negative mining (retrieval training prep) ---------------
  /** Contrastive-retrieval training data (DPR/Contriever prep): per probe,
    * the top-[[JoinK]] most-similar candidates whose cosine stays BELOW
    * the near-dup ceiling ([[Dedup.CosineThreshold]] — at or above it the
    * candidate is a likely positive, dedup_embedding's own pair rule), so
    * the mined rows are hard negatives: as similar as possible without
    * being the same content. Same bucket-blocked batch join as [[annJoin]]
    * (QueryN probes broadcast, never corpus × corpus); the ceiling reads
    * the RAW IEEE cosine (§6 — identical op sequence both engines) and
    * only the emitted value is decimal-pinned. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .withColumn("bucket", bucketCol("embedding"))
    val probeMasks = 0L +: (0 until NumPlanes).map(j => 1L << j)
    val q = e.orderBy("vec_id").limit(QueryN)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
      .select(col("qid"), col("qv"),
        explode(array(probeMasks.map(m => col("qbucket").bitwiseXOR(lit(m))): _*))
          .as("pb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("bucket") === col("pb") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosExpr("embedding", "qv").as("cos"))
      .where(col("cos") < Dedup.CosineThreshold)
      .withColumn("rk", row_number().over(w)).where(col("rk") <= JoinK)
      .select(col("qid"), col("vec_id"),
        round(col("cos"), 4).cast("decimal(14,4)").cast("double").as("cos"),
        col("rk").cast("long").as("rk"))
  }
  val hardNegativesSql: String = {
    val masks = (0L +: (0 until NumPlanes).map(j => 1L << j))
      .mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings
       |), q AS (
       |  SELECT qid, qv, xor(qbucket, m.m) AS pb FROM (
       |    SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket FROM e
       |    ORDER BY vec_id LIMIT $QueryN
       |  ), unnest($masks) AS m(m)
       |), scored AS (
       |  SELECT q.qid, e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS cos
       |  FROM e JOIN q ON e.bucket = q.pb AND e.vec_id <> q.qid
       |), ranked AS (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM scored WHERE cos < ${Dedup.CosineThreshold}
       |)
       |SELECT qid, vec_id,
       |  CAST(CAST(round(cos, 4) AS DECIMAL(14,4)) AS DOUBLE) AS cos,
       |  CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $JoinK""".stripMargin
  }

  // ---- #21m kNN label-vote classification audit --------------------------
  /** Does the embedding space carry the semantic signal the cluster-level
    * decisions assume? Classify each probe by the MAJORITY label of its
    * [[JoinK]] bucket-blocked neighbors (vote ties → smaller label) and
    * compare to the probe's own ground-truth label — the kNN-probe
    * accuracy audit run before trusting embedding-driven curation. Plan:
    * neighbors are [[annJoin]]'s bucket-blocked batch join unchanged
    * (QueryN probes broadcast, never corpus × corpus); the label join and
    * the vote/argmax aggregations all operate on ≤ QueryN·k rows. The
    * argmax is a single min_by over (−votes, label) — deterministic, no
    * window. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Corpus.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val pred = annJoin(spark, dir)
      .join(labels, "vec_id")
      .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("v"))
      .groupBy(col("qid"))
      .agg(min_by(col("label"), struct(negate(col("v")), col("label")))
          .as("pred_label"),
        sum(col("v")).as("n_votes"), max(col("v")).as("n_top"))
    pred
      .join(labels.select(col("vec_id").as("qid"),
        col("label").as("true_label")), "qid")
      .select(col("qid"), col("true_label"), col("pred_label"),
        col("n_votes"), col("n_top"),
        (col("pred_label") === col("true_label")).as("correct"))
  }
  val knnClassifySql: String = {
    val masks = (0L +: (0 until NumPlanes).map(j => 1L << j))
      .mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings
       |), q AS (
       |  SELECT qid, qv, xor(qbucket, m.m) AS pb FROM (
       |    SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket FROM e
       |    ORDER BY vec_id LIMIT $QueryN
       |  ), unnest($masks) AS m(m)
       |), nb AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${sqlCos("e.embedding", "q.qv")} DESC, e.vec_id) AS rk
       |    FROM e JOIN q ON e.bucket = q.pb AND e.vec_id <> q.qid
       |  ) WHERE rk <= $JoinK
       |), votes AS (
       |  SELECT n.qid, CAST(l.label AS BIGINT) AS label, count(*) AS v
       |  FROM nb n JOIN embeddings l ON n.vec_id = l.vec_id GROUP BY 1, 2
       |), pred AS (
       |  SELECT qid, label AS pred_label, n_votes, n_top FROM (
       |    SELECT qid, label, v,
       |      CAST(sum(v) OVER (PARTITION BY qid) AS BIGINT) AS n_votes,
       |      CAST(max(v) OVER (PARTITION BY qid) AS BIGINT) AS n_top,
       |      row_number() OVER (PARTITION BY qid ORDER BY v DESC, label) AS rn
       |    FROM votes) WHERE rn = 1
       |)
       |SELECT p.qid, CAST(t.label AS BIGINT) AS true_label, p.pred_label,
       |  p.n_votes, p.n_top, p.pred_label = CAST(t.label AS BIGINT) AS correct
       |FROM pred p JOIN embeddings t ON p.qid = t.vec_id""".stripMargin
  }

  // ---- #21b IVF ANN: learned centroids (one Lloyd pass) -----------------
  /** Coarse quantizer: seed centroids = first IvfK vectors (deterministic
    * training sample), one relational Lloyd refinement (assign → per-dim
    * mean), refined centroids cast to float on both engines so the
    * assignment math is identical. Query probes IvfProbes nearest cells —
    * at 100 TB the cell id is the partitioning key and a probe touches
    * only matching partitions. */
  val IvfK = 16
  val IvfProbes = 2

  /** Squared L2 via three dots, same assoc order as the SQL mirror. */
  private def l2sq(a: String, c: String) =
    dotExpr(a, a) + dotExpr(c, c) - lit(2.0) * dotExpr(a, c)
  private def sqlL2sq(a: String, c: String) =
    s"(${sqlDotExpr(a, a)}) + (${sqlDotExpr(c, c)}) - 2 * (${sqlDotExpr(a, c)})"

  /** Nearest-centroid assignment WITHOUT a per-vec window: min_by over
    * (dist, cid) is a partial-aggregating argmin, so the 16×-replicated
    * crossJoin output collapses map-side and only one row per vector
    * reaches the exchange. The window variant shuffled AND sorted all 16
    * candidate rows per vector — 16× the corpus through the exchange at
    * 100 TB. Tie-break (dist, then cid) matches the oracle's
    * `ORDER BY dist, cid` exactly; `payload` rides along untouched. */
  private def argminCid(e: DataFrame, cents: DataFrame, payload: Seq[String]): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("dist", l2sq("embedding", "c"))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cid") +: payload.map(col): _*),
        struct(col("dist"), col("cid"))).as("a"))
      .select(col("vec_id") +: col("a.cid").as("cid") +:
        payload.map(p => col(s"a.$p").as(p)): _*)

  /** One Lloyd refinement: assign every vector to its nearest centroid,
    * recompute per-dimension means. Means are rounded to 6 decimals BEFORE
    * the float cast on both engines, so the quantizer is insensitive to
    * partition-order summation drift in avg() (ADVICE r2). */
  private def lloydRound(e: DataFrame, cents: DataFrame): DataFrame =
    argminCid(e, cents, Seq("embedding"))
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cid", "pos").agg(round(avg(col("v").cast("double")), 6).as("m"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("float")).as("c"))

  /** Refined float centroids: (cid, c array<float>).
    * Seeding is k-means++-style spread via a deterministic hash shuffle:
    * ordering by md5(vec_id) picks IvfK pseudo-random well-spread vectors.
    * (The previous `first IvfK by vec_id` seeds would, at 100 TB, all come
    * from one shard and could be near-identical.) Two Lloyd rounds refine
    * them — measured recall@10 vs the exact ann_topk is in BASELINE.md. */
  def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    // trained once per (session, corpus); the ivfCells index assigns
    // against the same 16-row frame (at scale: train once, broadcast
    // everywhere).
    // r14: the 2-round Lloyd is a bounded fixpoint — it runs under the
    // iterative-loop execution profile (Scale.loop, the pagerankOn
    // discipline: AQE planning jobs and 32-way tiny exchanges dominated
    // the training at bench scale), and the ≤IvfK-row result bounded-
    // collects back to the PARENT session as a LocalRelation, so every
    // consumer broadcasts 16 rows without re-entering the training
    // lineage.
    Materialized.frame(spark, dir, "ivfCentroids") {
      val e0 = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      val n = e0.count()
      val (schema, rows) = Scale.loop(spark) { lp =>
        lp.sized(n)
        val e = lp.checkpoint(lp.rebind(e0))
        val seeds = e
          .orderBy(graft.functions.TextFns.md5Long(col("vec_id").cast("string")),
            col("vec_id"))
          .limit(IvfK)
          .select(col("vec_id").as("cid"), col("embedding").as("c"))
        val trained = lloydRound(e, lloydRound(e, seeds))
        (trained.schema, trained.collect().toSeq)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
  // The Lloyd outputs are tiny (IvfK rows) but referenced by several later
  // CTEs; MATERIALIZED stops DuckDB inlining (= re-running) the whole
  // assign→mean pipeline per reference, which multiplied the window
  // operators and their memory reservations (driver gate OOM, r13).
  private def sqlLloyd(src: String, aN: String, rN: String, outN: String): String =
    s"""$aN AS (
       |  SELECT vec_id, embedding, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ${sqlL2sq("embedding", "c")}, cid) AS rn
       |  FROM embeddings CROSS JOIN $src
       |), $rN AS (
       |  SELECT cid, g.i,
       |    CAST(round(avg(CAST(embedding[g.i] AS DOUBLE)), 6) AS FLOAT) AS m
       |  FROM $aN, unnest(range(1, ${Dedup.Dim} + 1)) AS g(i)
       |  WHERE rn = 1 GROUP BY 1, 2
       |), $outN AS MATERIALIZED (
       |  SELECT cid, list(m ORDER BY i) AS c FROM $rN GROUP BY cid
       |)""".stripMargin
  private val ivfCentroidsCte: String =
    s"""seeds AS (
       |  SELECT vec_id AS cid, embedding AS c FROM embeddings
       |  ORDER BY ${graft.functions.TextFns.sqlMd5Long("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfK
       |), ${sqlLloyd("seeds", "a1", "r1", "c1")},
       |${sqlLloyd("c1", "a2", "r2", "cents")}""".stripMargin

  /** The IVF index: every vector's cell under [[ivfCentroids]], as
    * (vec_id, cid, embedding, label, cent_cos), assigned once per
    * (session, corpus); `cent_cos` is the raw cosine to the cell's
    * centroid. IVF's point is that the assignment is the index and only
    * the probe runs per query, so every reader of a vector's cell (the IVF
    * probes, the cluster diagnostics, SemDeDup, the IVF-PQ layout) reads
    * this frame; the Lloyd rounds are the only other assignment. */
  private[graft] def ivfCells(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "ivfCells") {
      argminCid(Corpus.table(spark, dir, "embeddings")
          .select("vec_id", "embedding", "label"),
        ivfCentroids(spark, dir), Seq("embedding", "label", "c"))
        .select(col("vec_id"), col("cid"), col("embedding"), col("label"),
          cosExpr("embedding", "c").as("cent_cos"))
    }

  /** The IVF query: the lowest vec_id's vector, as (qid, qv). */
  private def ivfQuery(spark: SparkSession, dir: String): DataFrame =
    ivfCells(spark, dir).orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Probe selection: the IvfProbes cells nearest the query `q`, as
    * (cid, qid, qv, qdist), ties to the lower cid. `q` is one row, so a
    * top-IvfProbes sort picks the same cells as a rank window per qid,
    * without the window's exchange and job. */
  private def probeCells(spark: SparkSession, dir: String, q: DataFrame): DataFrame =
    ivfCentroids(spark, dir).crossJoin(broadcast(q))
      .withColumn("qdist", l2sq("qv", "c"))
      .orderBy(col("qdist"), col("cid")).limit(IvfProbes)
      .select(col("cid"), col("qid"), col("qv"), col("qdist"))

  /** The 100 TB SERVING layout of [[annIvf]], demonstrated: the
    * [[ivfCells]] index written to disk hive-partitioned by `cid` (the
    * once-per-snapshot indexing job), probed by a query whose nprobe cell
    * list arrives through a broadcast join — Spark's dynamic partition
    * pruning then reads ONLY the probed cells' directories, never the full
    * index. Returns the same ranked rows as the in-session [[annIvf]];
    * ScaleSpec locks both the row equality and the `dynamicpruning`
    * PartitionFilter on the index scan. */
  private[graft] def ivfProbeFromDisk(spark: SparkSession, dir: String,
      out: String): DataFrame = {
    Scale.writePartitioned(
      ivfCells(spark, dir).select("vec_id", "cid", "embedding"), out, "cid")
    val index = spark.read.parquet(out)
    // Spark plans dynamic partition pruning only when the probe side holds
    // a filter it deems selective, and a limit is none: the probe list
    // keeps only cells at a finite distance, which every probed cell is
    val probes = probeCells(spark, dir, ivfQuery(spark, dir))
      .where(col("qdist") < Double.PositiveInfinity)
    topkRanked(index.join(broadcast(probes), "cid")
      .where(col("vec_id") =!= col("qid"))
      .select(col("vec_id"), cosExpr("embedding", "qv").as("cos")))
  }

  /** IVF ANN: a probe of the [[ivfCells]] index — only the query's
    * IvfProbes nearest cells are scored, and no vector is assigned. */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    topkRanked(ivfCells(spark, dir)
      .join(broadcast(probeCells(spark, dir, ivfQuery(spark, dir))), "cid")
      .where(col("vec_id") =!= col("qid"))
      .select(col("vec_id"), cosExpr("embedding", "qv").as("cos")))
  /** Corpus clustering via the same learned coarse quantizer: cluster
    * sizes + mean cosine of members to their centroid (training-data
    * diversity diagnostics), one aggregate over the [[ivfCells]] index. */
  def embeddingClusters(spark: SparkSession, dir: String): DataFrame =
    ivfCells(spark, dir)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("cent_cos")), 4)
          .cast("decimal(14,4)").cast("double").as("avg_cos_to_centroid"))
  val embeddingClustersSql: String =
    s"""WITH $ivfCentroidsCte, assigned AS (
       |  SELECT vec_id, embedding, cid, c FROM (
       |    SELECT e.vec_id, e.embedding, c.cid, c.c,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |)
       |SELECT cid, count(*) AS n_members,
       |  CAST(CAST(round(avg(${sqlCos("embedding", "c")}), 4) AS DECIMAL(14,4))
       |    AS DOUBLE) AS avg_cos_to_centroid
       |FROM assigned GROUP BY 1""".stripMargin

  /** Cluster purity against the embeddings' ground-truth labels: per cell,
    * member count and the majority-label fraction under the same learned
    * quantizer — the diagnostic that tells a curation pipeline whether the
    * coarse cells align with semantic groups. Reads the cells and labels
    * of the [[ivfCells]] index, plus two label-keyed aggregations
    * (≤ |cells|·|labels| intermediate rows). */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame =
    ivfCells(spark, dir)
      .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("cl"))
      .groupBy("cid")
      .agg(sum(col("cl")).as("n_members"), max(col("cl")).as("n_majority"))
      .select(col("cid"), col("n_members"), col("n_majority"),
        // §6: exact basis points, not round(DOUBLE)
        graft.functions.TextFns.bp(col("n_majority"), col("n_members"))
          .as("purity_bp"))
  val clusterPuritySql: String =
    s"""WITH $ivfCentroidsCte, assigned AS (
       |  SELECT vec_id, label, cid FROM (
       |    SELECT e.vec_id, e.label, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |), cl AS (
       |  SELECT cid, label, count(*) AS cl FROM assigned GROUP BY 1, 2
       |)
       |SELECT cid, CAST(sum(cl) AS BIGINT) AS n_members,
       |  CAST(max(cl) AS BIGINT) AS n_majority,
       |  ${graft.functions.TextFns.sqlBp("max(cl)", "sum(cl)")} AS purity_bp
       |FROM cl GROUP BY 1""".stripMargin

  // ---- #21h cluster topic labels (top TF-IDF terms per cluster) ----------
  /** What each embedding cluster is ABOUT — the labeling audit every
    * clustering-driven curation decision runs before trusting cell-level
    * drops or sampling weights: per cluster, the top terms by
    * cluster-level TF-IDF, where the "documents" of the IDF are the
    * clusters themselves (vec_id ≡ doc_id links the modalities, the
    * semantic_lexical_agreement convention). Plan shape: each doc's cell
    * comes from the [[ivfCells]] index; the cell frame (two ints per
    * doc) joins the documents scan PER-DOC before tokenization, so the
    * corpus explode runs once and the only corpus-sized shuffle is the
    * (cid, term) rollup with map-side partials. Every IDF input after that is
    * cluster-bounded (≤ |cells|·|vocab| rows). Ranking follows the
    * tfidf_top_terms discipline — score pinned to DECIMAL(14,4) before
    * the (score, term) rank so a last-ulp ln() difference between libm
    * implementations can't flip the order. At 100 TB the per-doc join is
    * doc-keyed co-located with the embedding store's layout; nothing else
    * sees a corpus-sized key. */
  val ClusterTopicsTopN = 5
  def clusterTopics(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfCells(spark, dir).select(col("vec_id").as("doc_id"), col("cid"))
    val terms = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .join(assigned, "doc_id")
      .select(col("cid"), explode(lowerTokens(col("text"))).as("term"))
    val ctf = terms.groupBy("cid", "term").agg(count(lit(1)).as("tf"))
      .withColumn("clen", sum(col("tf")).over(Window.partitionBy("cid")))
    val cdf = ctf.groupBy("term").agg(count(lit(1)).as("df"))
    // nc is a 1-row aggregate collected at plan build (the dsir_select /
    // stats-pass precedent — O(1) driver state): as a LITERAL, the
    // df < nc gate is a base-side predicate on the vocab-bounded frame,
    // not a two-sided comparison that Catalyst would pull into a
    // lint-banned conditioned BroadcastNestedLoopJoin.
    val nc = assigned.agg(countDistinct(col("cid"))).collect()(0).getLong(0)
    val w = Window.partitionBy("cid").orderBy(col("score").desc, col("term"))
    ctf.join(cdf, "term")
      // corpus-wide terms (df = nc) label nothing — drop them before the
      // rank so the report surfaces genuinely discriminative terms
      .where(col("df") < lit(nc))
      .withColumn("score",
        round((col("tf").cast("double") / col("clen"))
          * log((lit(nc).cast("double") + 1.0) / (col("df").cast("double") + 1.0)), 4)
          .cast("decimal(14,4)"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= ClusterTopicsTopN)
      .select(col("cid"), col("term"), col("score").cast("double").as("score"),
        col("rk").cast("long").as("rk"))
  }
  val clusterTopicsSql: String =
    // Spill-friendly shape (VERDICT r11 #1: this oracle OOM'd the loaded
    // driver box): `assigned` and `ctf` are each referenced twice →
    // MATERIALIZED so neither the argmin scan nor the corpus-sized term
    // rollup runs twice; the per-cluster length is a ≤|cells|-row GROUP BY
    // joined back instead of a window over the corpus-vocab frame (hash
    // aggregation goes out-of-core where a window partition materializes).
    // Only the final ≤|cells|·|vocab| rank keeps a window, on the bounded
    // frame.
    s"""WITH $ivfCentroidsCte, assigned AS MATERIALIZED (
       |  SELECT vec_id AS doc_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |), ct AS (
       |  SELECT x.cid, t.w AS term
       |  FROM (SELECT a.cid, d.text FROM documents d
       |        JOIN assigned a USING (doc_id)) x,
       |    unnest(${sqlLowerTokens("x.text")}) AS t(w)
       |), ctf AS MATERIALIZED (
       |  SELECT cid, term, count(*) AS tf FROM ct GROUP BY 1, 2
       |), clen AS (
       |  SELECT cid, sum(tf) AS clen FROM ctf GROUP BY 1
       |), cdf AS (
       |  SELECT term, count(*) AS df FROM ctf GROUP BY 1
       |), nc AS (SELECT count(DISTINCT cid) AS nc FROM assigned),
       |scored AS (
       |  SELECT ctf.cid, ctf.term,
       |    CAST(round((CAST(tf AS DOUBLE) / clen)
       |      * ln((CAST(nc AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)), 4)
       |      AS DECIMAL(14,4)) AS score
       |  FROM ctf JOIN clen USING (cid) JOIN cdf USING (term) CROSS JOIN nc
       |  WHERE df < nc
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cid
       |    ORDER BY score DESC, term) AS rk FROM scored
       |)
       |SELECT cid, term, CAST(score AS DOUBLE) AS score, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $ClusterTopicsTopN""".stripMargin

  // ---- #21p cluster × source mix ------------------------------------------
  /** Which sources feed which semantic clusters — the contingency a
    * cluster-aware mixing decision reads next to [[clusterTopics]]' labels:
    * per (cid, source), member count plus the share of the cluster and the
    * share of the source, both in exact basis points (§6). Each doc's cell
    * comes from the [[ivfCells]] index; the per-doc source attach is a
    * doc-keyed equi-join (co-located with the embedding store's layout at 100 TB);
    * everything after the (cid, source) rollup operates on
    * ≤ |cells|·|sources| rows, where the two share windows are bounded
    * frames, not corpus windows. */
  def clusterSourceMix(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfCells(spark, dir).select(col("vec_id").as("doc_id"), col("cid"))
    val wc = Window.partitionBy("cid")
    val ws = Window.partitionBy("source")
    Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(assigned, "doc_id")
      .groupBy(col("cid"), col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("cluster_total", sum(col("n_docs")).over(wc))
      .withColumn("source_total", sum(col("n_docs")).over(ws))
      .select(col("cid"), col("source"), col("n_docs"),
        graft.functions.TextFns.bp(col("n_docs"), col("cluster_total"))
          .as("cluster_share_bp"),
        graft.functions.TextFns.bp(col("n_docs"), col("source_total"))
          .as("source_share_bp"))
  }
  val clusterSourceMixSql: String =
    s"""WITH $ivfCentroidsCte, assigned AS (
       |  SELECT vec_id AS doc_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |), cs AS (
       |  SELECT a.cid, d.source, count(*) AS n_docs
       |  FROM documents d JOIN assigned a USING (doc_id) GROUP BY 1, 2
       |)
       |SELECT cid, source, n_docs,
       |  (n_docs * 10000) // CAST(sum(n_docs) OVER (PARTITION BY cid)
       |    AS BIGINT) AS cluster_share_bp,
       |  (n_docs * 10000) // CAST(sum(n_docs) OVER (PARTITION BY source)
       |    AS BIGINT) AS source_share_bp
       |FROM cs""".stripMargin

  // ---- #36 SemDeDup semantic deduplication -------------------------------
  /** Pairwise-cosine threshold above which two same-cell embeddings count
    * as semantic duplicates (tuned to the synthetic corpus — max pairwise
    * cos ~0.51 — so the dropped set is non-vacuous at every test SF). */
  val SemThr = 0.35

  /** The [[ivfCells]] index with its centroid-cosine pinned to 6 decimals:
    * feeds both sides of the pair join, the final projection, and the
    * sweep. A projection of the index, so the index stays the one stored
    * copy of the embeddings. */
  private def semAssigned(spark: SparkSession, dir: String): DataFrame =
    ivfCells(spark, dir).select(col("vec_id"), col("cid"), col("embedding"),
      round(col("cent_cos"), 6).cast("decimal(14,6)").cast("double").as("ccos"))

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate removal via
    * within-cluster pairwise cosine under the SHARED learned coarse
    * quantizer ([[ivfCentroids]] — the paper's k-means step, trained once
    * per corpus). A vector is dropped iff some same-cell vector with
    * pair cosine ≥ [[SemThr]] sits CLOSER TO THE CELL EDGE (lower
    * centroid-cosine, tie-break lower vec_id) — the paper's
    * keep-the-least-central-member policy made order-free and relational
    * (an EXISTS semi-join on the pair predicate) so the kept set is
    * deterministic, not greedy-traversal-order dependent.
    *
    * Scale: the pair join is per-cell, never corpus×corpus — cells hold
    * ~n/IvfK vectors and SemDeDup scales k with the corpus, so the
    * quadratic term is bounded by cell width (a hot cell is an AQE
    * skew-split, not row amplification beyond its own width); the
    * centroid table always broadcasts; the one exchange keys on cid — at
    * 100 TB cid is the embedding store's partition key (the ann_ivf disk
    * layout), making the self-join co-located. Centroid-cosines round
    * through DECIMAL(14,6) so the drop ORDERING is engine-stable; the
    * pair threshold reads the raw IEEE cosine (dedup_embedding's §6
    * argument: identical op sequence in both engines). */
  def semdedup(spark: SparkSession, dir: String): DataFrame = {
    val assigned = semAssigned(spark, dir)
    val dropped = assigned.as("b").join(assigned.as("a"),
        col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id")
          && (col("a.ccos") < col("b.ccos")
            || (col("a.ccos") === col("b.ccos")
              && col("a.vec_id") < col("b.vec_id")))
          && cosExpr("a.embedding", "b.embedding") >= SemThr,
        "left_semi")
      .select(col("vec_id"), lit(false).as("keep"))
    // plain vec_id-keyed left join (NOT a broadcast hint: the dropped set
    // scales with the corpus — at test SF AQE broadcasts it on its own)
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("ccos"),
        coalesce(col("keep"), lit(true)).as("keep"))
  }
  /** Quantizer + assignment + drop-rule CTEs, reusable by [[semdedupSql]]
    * and Selection's composed selected_corpus oracle. */
  private[operators] val semdedupCtes: String =
    s"""$ivfCentroidsCte, assigned AS MATERIALIZED (
       |  SELECT vec_id, cid, embedding,
       |    CAST(CAST(round(${sqlCos("embedding", "c")}, 6) AS DECIMAL(14,6))
       |      AS DOUBLE) AS ccos
       |  FROM (
       |    SELECT e.vec_id, e.embedding, c.cid, c.c,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned b JOIN assigned a ON a.cid = b.cid
       |    AND a.vec_id <> b.vec_id
       |    AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
       |    AND ${sqlCos("a.embedding", "b.embedding")} >= $SemThr
       |)""".stripMargin
  val semdedupSql: String =
    s"""WITH $semdedupCtes
       |SELECT s.vec_id, s.cid, s.ccos, d.vec_id IS NULL AS keep
       |FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id""".stripMargin

  // ---- #21q embedding outlier audit (per-cell 2σ on centroid cosine) -----
  /** Garbage/poisoning detector over the embedding space: a vector whose
    * centroid-cosine sits more than 2σ from ITS CELL's mean is flagged —
    * the per-cell analogue of event_anomalies, run before trusting
    * cell-level curation. The test is EXACT integer arithmetic end to end:
    * ccos is already a pinned 6-decimal value (semdedup's centroid-cosine
    * over the [[ivfCells]] index), recovered as an e6 integer, and
    * |x−μ| > 2σ is evaluated as (x·n−S)² > 4·(n·Q−S²) over DECIMAL(38,0)
    * — no float anywhere, so the flag set is bit-identical in both
    * engines. Per-cell moments are
    * one agg on ≤IvfK keys that broadcasts back; Q aggregates in decimal
    * so the sum can't overflow at any corpus size. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e6 = semAssigned(spark, dir)
      .select(col("vec_id"), col("cid"), col("ccos"),
        round(col("ccos") * lit(1000000L), 0).cast("long").as("v"))
    val stats = e6.groupBy(col("cid")).agg(
      count(lit(1)).as("n"), sum(col("v")).as("s"),
      sum(col("v").cast("decimal(19,0)") * col("v").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("q"))
    val d = (col("v") * col("n") - col("s")).cast("decimal(38,0)")
    val lhs = d * d
    val rhs = (col("n").cast("decimal(38,0)") * col("q")
      - col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)")) * lit(4)
    e6.join(broadcast(stats), "cid")
      .select(col("vec_id"), col("cid"), col("ccos"), col("n").as("n_cell"),
        (lhs > rhs).as("outlier"))
  }
  val embeddingOutliersSql: String =
    s"""WITH $ivfCentroidsCte, assigned AS MATERIALIZED (
       |  SELECT vec_id, cid,
       |    CAST(CAST(round(${sqlCos("embedding", "c")}, 6) AS DECIMAL(14,6))
       |      AS DOUBLE) AS ccos
       |  FROM (
       |    SELECT e.vec_id, e.embedding, c.cid, c.c,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |), e6 AS MATERIALIZED (
       |  SELECT vec_id, cid, ccos,
       |    CAST(round(ccos * 1000000, 0) AS BIGINT) AS v
       |  FROM assigned
       |), st AS (
       |  SELECT cid, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
       |    sum(CAST(v AS HUGEINT) * v) AS q
       |  FROM e6 GROUP BY 1
       |)
       |SELECT e.vec_id, e.cid, e.ccos, CAST(st.n AS BIGINT) AS n_cell,
       |  (CAST(e.v AS HUGEINT) * st.n - st.s)
       |    * (CAST(e.v AS HUGEINT) * st.n - st.s)
       |    > 4 * (st.n * st.q - CAST(st.s AS HUGEINT) * st.s) AS outlier
       |FROM e6 e JOIN st USING (cid)""".stripMargin

  /** Threshold rungs the sweep audits (finite decimals → identical double
    * constants both engines). */
  val SemSweepThrs: Seq[Double] = Seq(0.30, 0.35, 0.40, 0.45, 0.50)

  /** SemDeDup threshold-calibration sweep — the audit run BEFORE anyone
    * trusts [[SemThr]] (the lsh_tuning_report discipline): per candidate
    * rung, the within-cell pair volume and the exact dropped-vector count
    * with its basis-point drop rate. The exists-rule dropped set equals
    * the distinct per-pair LOSERS (the more-central member of each
    * qualifying pair), so one pair frame at the loosest rung — built from
    * the same [[ivfCells]] index [[semdedup]] reads — serves every
    * rung via a 5-row broadcast; no per-rung corpus pass, no re-quantize. */
  def semdedupSweep(spark: SparkSession, dir: String): DataFrame = {
    val assigned = semAssigned(spark, dir)
    val minThr = SemSweepThrs.min
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(cosExpr("a.embedding", "b.embedding").as("cos"),
        when(col("a.ccos") > col("b.ccos")
            || (col("a.ccos") === col("b.ccos")
              && col("a.vec_id") > col("b.vec_id")),
          col("a.vec_id")).otherwise(col("b.vec_id")).as("loser"))
      .where(col("cos") >= minThr)
    // every rung is a CONDITIONAL aggregate of the one pair frame (never a
    // θ-join against the rung list — a conditioned nested loop is lint-
    // banned and pointless for 5 static rungs), then the 1-row result
    // unpivots to rung rows
    val aggCols = SemSweepThrs.zipWithIndex.flatMap { case (t, i) => Seq(
      coalesce(sum(when(col("cos") >= t, 1L)), lit(0L)).as(s"p_$i"),
      countDistinct(when(col("cos") >= t, col("loser"))).as(s"d_$i")) }
    val nVec = assigned.agg(count(lit(1)).as("n_vectors"))
    val one = pairs.agg(aggCols.head, aggCols.tail: _*)
      .crossJoin(broadcast(nVec))
    one.select(explode(array(SemSweepThrs.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("thr"), col(s"p_$i").as("n_pairs"),
          col(s"d_$i").as("n_dropped"),
          graft.functions.TextFns.bp(col(s"d_$i"),
            greatest(col("n_vectors"), lit(1L))).as("drop_bp"))
      }: _*)).as("r"))
      .select(col("r.thr").as("thr"), col("r.n_pairs").as("n_pairs"),
        col("r.n_dropped").as("n_dropped"), col("r.drop_bp").as("drop_bp"))
  }
  val semdedupSweepSql: String =
    s"""WITH $ivfCentroidsCte, assigned AS MATERIALIZED (
       |  SELECT vec_id, cid, embedding,
       |    CAST(CAST(round(${sqlCos("embedding", "c")}, 6) AS DECIMAL(14,6))
       |      AS DOUBLE) AS ccos
       |  FROM (
       |    SELECT e.vec_id, e.embedding, c.cid, c.c,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |), pairs AS MATERIALIZED (
       |  SELECT ${sqlCos("a.embedding", "b.embedding")} AS cos,
       |    CASE WHEN a.ccos > b.ccos
       |           OR (a.ccos = b.ccos AND a.vec_id > b.vec_id)
       |         THEN a.vec_id ELSE b.vec_id END AS loser
       |  FROM assigned a JOIN assigned b ON a.cid = b.cid
       |    AND a.vec_id < b.vec_id
       |  WHERE ${sqlCos("a.embedding", "b.embedding")}
       |    >= ${SemSweepThrs.min}
       |), nv AS (SELECT count(*) AS n_vectors FROM assigned),
       |rungs AS (SELECT CAST(t.thr AS DOUBLE) AS thr FROM (VALUES
       |  ${SemSweepThrs.map(t => s"($t)").mkString(", ")}) AS t(thr))
       |SELECT thr, CAST(count(cos) AS BIGINT) AS n_pairs,
       |  CAST(count(DISTINCT loser) AS BIGINT) AS n_dropped,
       |  ${graft.functions.TextFns.sqlBp("count(DISTINCT loser)",
             "greatest(n_vectors, 1)")} AS drop_bp
       |FROM rungs LEFT JOIN pairs ON cos >= thr CROSS JOIN nv
       |GROUP BY thr, n_vectors""".stripMargin

  val annIvfSql: String =
    s"""WITH $ivfCentroidsCte, q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  ORDER BY vec_id LIMIT 1
       |), probes AS (
       |  SELECT cid, qid, qv FROM (
       |    SELECT c.cid, q.qid, q.qv,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${sqlL2sq("q.qv", "c.c")}, c.cid) AS qrn
       |    FROM cents c CROSS JOIN q
       |  ) WHERE qrn <= $IvfProbes
       |), assigned AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |), scored AS (
       |  SELECT a.vec_id, ${sqlCos("a.embedding", "p.qv")} AS cos
       |  FROM assigned a JOIN probes p USING (cid)
       |  WHERE a.vec_id <> p.qid
       |), ranked AS (
       |  SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT vec_id, CAST(CAST(round(cos, 4) AS DECIMAL(14,4)) AS DOUBLE) AS cos, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  // ---- #21g cosine range search (threshold query) ------------------------
  /** The other half of the retrieval API: not "the k nearest" but "everything
    * within a similarity radius" (FAISS range_search). Same hyperplane-bucket
    * pruning as `ann_lsh` (hamming ≤ 1 probes — at 100 TB the bucket is the
    * partitioning key, so the probe touches ~9/256 of the corpus), then an
    * exact cosine filter at the threshold. Pure filter — no top-k sort, no
    * window, output bounded by the radius. The oracle mirrors the bucket
    * predicate, so both engines search the identical candidate set. */
  /** Radius chosen so the oracle row is non-vacuous at every test SF (the
    * synthetic embeddings are near-orthogonal; 0.05 keeps a handful of
    * genuine near-neighbors at sf0.01 rather than verifying 0 = 0). */
  val RangeTau = 0.05

  def annRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .withColumn("bucket", bucketCol("embedding"))
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
    e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid")
        && bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= 1)
      .select(col("vec_id"), cosExpr("embedding", "qv").as("cos"))
      .where(col("cos") >= RangeTau)
      .select(col("vec_id"), round(col("cos"), 4).cast("decimal(14,4)").cast("double").as("cos"))
  }
  val annRangeSearchSql: String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket FROM e
       |  ORDER BY vec_id LIMIT 1
       |), scored AS (
       |  SELECT e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS cos
       |  FROM e, q
       |  WHERE e.vec_id <> q.qid AND bit_count(xor(e.bucket, q.qbucket)) <= 1
       |)
       |SELECT vec_id, CAST(CAST(round(cos, 4) AS DECIMAL(14,4)) AS DOUBLE) AS cos FROM scored
       |WHERE cos >= $RangeTau""".stripMargin

  // ---- #21f int8 symmetric quantization (embedding storage path) --------
  /** Quantize each embedding to int8: s = max|v|/127 per vector,
    * q_i = clamp(round(v_i/s), ±127). The 4× storage compression a 100 TB
    * embedding store runs before anything else touches the vectors —
    * map-only at any scale (one projection, zero shuffles).
    *
    * Oracle robustness: the emitted aggregates of q are exact integers,
    * and the reconstruction cosine needs no float scale at all — dequant
    * is q·s, and s > 0 cancels from cos(q·s, v), so recon_cos =
    * dot(q,v)/(√Σq²·√Σv²) with Σq² exact and the double chains in the
    * same left-fold order on both engines. */
  // ---- #21h product quantization (PQ codes, per-subspace codebooks) -----
  /** FAISS-style product quantizer: the embedding splits into PqM
    * contiguous PqSubDim-dim subvectors; each subspace learns PqK
    * centroids (same md5-spread seeding + two Lloyd rounds as the IVF
    * coarse quantizer, run over ALL subspaces in one exploded frame), and
    * a vector's code is its per-subspace nearest-centroid ids — 64 floats
    * compress to PqM small ints, the standard memory layout ANN serving
    * tiers hold in RAM. Emits each vector's code word plus its exact
    * quantization error (sum of per-subspace squared distances, folded in
    * subspace order so both engines add the same doubles in the same
    * sequence).
    *
    * Scale: codebooks are PqM×PqK rows (always broadcast); training and
    * encoding are one exploded scan each with a partial-agg argmin
    * (min_by) — the corpus never shuffles more than one row per
    * (vector, subspace). */
  val PqM = 8
  val PqSubDim = Dedup.Dim / PqM
  val PqK = 16

  // r14 (§4): the codegen'd FloatDotProduct IS this fold — a strict left
  // fold from 0.0 of (double)a_i · (double)b_i — so the swap is
  // bit-identical; the interpreted aggregate/zip_with lambdas were the
  // dominant per-row cost of the whole PQ family (3 evals per (sv, c)
  // candidate pair in every assign).
  private def subDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.FloatDotProduct(a, b)
  private def subL2sq(a: String, b: String) =
    subDot(col(a), col(a)) + subDot(col(b), col(b)) -
      lit(2.0) * subDot(col(a), col(b))
  private def sqlSubDot(a: String, b: String) =
    s"list_aggregate(list_transform(range(1, $PqSubDim + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')"
  private def sqlSubL2sq(a: String, b: String) =
    s"(${sqlSubDot(a, a)}) + (${sqlSubDot(b, b)}) - 2 * (${sqlSubDot(a, b)})"

  /** (vec_id, m, sv): every vector's PqM subvector slices. */
  private def subVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${PqM - 1}), m -> " +
        s"struct(CAST(m AS BIGINT) AS m, slice(embedding, m * $PqSubDim + 1, $PqSubDim) AS sv))"))
      .as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))

  /** Per-(vec, subspace) nearest codebook entry; same partial-agg argmin
    * shape as [[argminCid]], keyed by (vec_id, m) with the codebooks
    * broadcast and pre-joined on m. */
  private def pqAssign(sv: DataFrame, books: DataFrame): DataFrame =
    sv.join(broadcast(books), "m")
      .withColumn("dist", subL2sq("sv", "c"))
      .groupBy("vec_id", "m")
      .agg(min_by(struct(col("cid"), col("dist")), struct(col("dist"), col("cid"))).as("a"))
      .select(col("vec_id"), col("m"), col("a.cid").as("cid"), col("a.dist").as("dist"))

  /** One Lloyd refinement over every subspace at once (assign → per-dim
    * means, rounded to 6 decimals before the float cast — see lloydRound). */
  private def pqLloyd(sv: DataFrame, books: DataFrame): DataFrame =
    pqAssign(sv, books)
      .join(sv, Seq("vec_id", "m"))
      .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("m", "cid", "pos").agg(round(avg(col("v").cast("double")), 6).as("mn"))
      .groupBy("m", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
        s => s.getField("mn").cast("float")).as("c"))

  /** Trained codebooks (m, cid, c), cached per (session, corpus). */
  def pqCodebooks(spark: SparkSession, dir: String): DataFrame =
    // r14: same loop profile + bounded-collect finish as [[ivfCentroids]]
    // — the two PQ Lloyd rounds are a bounded fixpoint over the exploded
    // (vec, subspace) frame, and the PqM×PqK-row codebook table returns
    // to the parent session as a LocalRelation.
    Materialized.frame(spark, dir, "pqCodebooks") {
      val e0 = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      val n = e0.count()
      val (schema, rows) = Scale.loop(spark) { lp =>
        lp.sized(n * PqM)
        val e = lp.checkpoint(lp.rebind(e0))
        val seeds = e
          .orderBy(graft.functions.TextFns.md5Long(col("vec_id").cast("string")),
            col("vec_id"))
          .limit(PqK)
          .select(col("vec_id").as("cid"), col("embedding"))
        val seedBooks = subVecs(seeds.withColumnRenamed("cid", "vec_id"))
          .select(col("m"), col("vec_id").as("cid"), col("sv").as("c"))
        val sv = lp.checkpoint(subVecs(e))
        val trained = pqLloyd(sv, pqLloyd(sv, seedBooks))
        (trained.schema, trained.collect().toSeq)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }

  /** Materialized codes table (vec_id, m, cid, dist): the PQ INDEX — at
    * 100 TB this is the parquet artifact an encode job writes once and
    * every serving query scans instead of the float vectors; locally it is
    * encoded once per (session, corpus) and shared by `pq_quantize`,
    * `ann_pq` and `ann_ivfpq`. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "pqCodes") {
      val n = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding").count()
      pqAssign(subVecs(Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")),
          pqCodebooks(spark, dir))
        .coalesce(Scale.loopParts(spark, n * PqM))
    }

  def pqQuantize(spark: SparkSession, dir: String): DataFrame =
    pqCodes(spark, dir)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("cid"), col("dist"))))
        .as("arr"))
      .select(col("vec_id"),
        concat_ws(" ", expr("transform(arr, x -> CAST(x.cid AS STRING))"))
          .as("codes"),
        // fold the per-subspace errors in m-order: both engines add the
        // same doubles in the same sequence (orderless SUM could differ
        // in the last ulp and flip the rounded boundary)
        round(aggregate(col("arr"), lit(0.0), (a, x) => a + x.getField("dist")), 4)
          .cast("decimal(14,4)").cast("double").as("pq_err"))

  private def sqlPqLloyd(svSrc: String, bookSrc: String, aN: String,
      rN: String, outN: String): String =
    s"""$aN AS (
       |  SELECT s.vec_id, s.m, s.sv, b.cid,
       |    ${sqlSubL2sq("s.sv", "b.c")} AS dist,
       |    row_number() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${sqlSubL2sq("s.sv", "b.c")}, b.cid) AS rn
       |  FROM $svSrc s JOIN $bookSrc b ON s.m = b.m
       |), $rN AS (
       |  SELECT m, cid, g.i,
       |    CAST(round(avg(CAST(sv[g.i] AS DOUBLE)), 6) AS FLOAT) AS mn
       |  FROM $aN, unnest(range(1, $PqSubDim + 1)) AS g(i)
       |  WHERE rn = 1 GROUP BY 1, 2, 3
       |), $outN AS MATERIALIZED (
       |  SELECT m, cid, list(mn ORDER BY i) AS c FROM $rN GROUP BY 1, 2
       |)""".stripMargin
  val pqQuantizeSql: String =
    s"""WITH sv AS MATERIALIZED (
       |  SELECT vec_id, CAST(g.m AS BIGINT) AS m,
       |    embedding[g.m * $PqSubDim + 1 : (g.m + 1) * $PqSubDim] AS sv
       |  FROM embeddings, unnest(range(0, $PqM)) AS g(m)
       |), seeds AS (
       |  SELECT vec_id AS cid, embedding FROM embeddings
       |  ORDER BY ${graft.functions.TextFns.sqlMd5Long("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $PqK
       |), seedbooks AS (
       |  SELECT CAST(g.m AS BIGINT) AS m, cid,
       |    embedding[g.m * $PqSubDim + 1 : (g.m + 1) * $PqSubDim] AS c
       |  FROM seeds, unnest(range(0, $PqM)) AS g(m)
       |), ${sqlPqLloyd("sv", "seedbooks", "a1", "r1", "b1")},
       |${sqlPqLloyd("sv", "b1", "a2", "r2", "b2")},
       |assign AS (
       |  SELECT s.vec_id, s.m, b.cid,
       |    ${sqlSubL2sq("s.sv", "b.c")} AS dist,
       |    row_number() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${sqlSubL2sq("s.sv", "b.c")}, b.cid) AS rn
       |  FROM sv s JOIN b2 b ON s.m = b.m
       |)
       |SELECT vec_id,
       |  list_aggr(list_transform(list(cid ORDER BY m),
       |    x -> CAST(x AS VARCHAR)), 'string_agg', ' ') AS codes,
       |  CAST(CAST(round(list_aggregate(list(dist ORDER BY m), 'sum'), 4)
       |    AS DECIMAL(14,4)) AS DOUBLE) AS pq_err
       |FROM assign WHERE rn = 1 GROUP BY vec_id""".stripMargin

  // ---- #21i PQ ANN search (asymmetric distance computation) -------------
  /** The PQ serving path: the query's per-subspace distances to every
    * codebook entry form a PqM×PqK lookup table (always tiny, always
    * broadcast); a database vector's approximate distance is the sum of
    * its codes' table entries — the vectors themselves are never touched
    * after encoding. Distances fold in subspace order (§6-deterministic);
    * top-k is TakeOrderedAndProject with rank recovery, same shape as
    * every other top-k here.
    *
    * Scale: the scan side is the CODES table (PqM small ints per vector,
    * ~16× smaller than the float vectors — the reason serving tiers use
    * PQ); per vector it shuffles one row into the argmin-style fold. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val qSub = subVecs(q.select(col("qid").as("vec_id"), col("qv").as("embedding")))
      .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
    val dtab = qSub.join(pqCodebooks(spark, dir), "m")
      .select(col("qid"), col("m"), col("cid"), subL2sq("qsv", "c").as("qd"))
    val codes = pqCodes(spark, dir)
      .select(col("vec_id"), col("m"), col("cid"))
    val scored = codes.join(broadcast(dtab), Seq("m", "cid"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("qd")))).as("arr"))
      .select(col("vec_id"),
        aggregate(col("arr"), lit(0.0), (a, x) => a + x.getField("qd")).as("adist"))
    scored.orderBy(col("adist"), col("vec_id")).limit(TopK)
      .select(struct(col("adist").as("adist"), col("vec_id").as("vec_id")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.vec_id").as("vec_id"),
        round(col("s.adist"), 4).cast("decimal(14,4)").cast("double").as("adist"),
        (col("pos") + 1).cast("long").as("rk"))
  }
  val annPqSql: String =
    s"""WITH sv AS MATERIALIZED (
       |  SELECT vec_id, CAST(g.m AS BIGINT) AS m,
       |    embedding[g.m * $PqSubDim + 1 : (g.m + 1) * $PqSubDim] AS sv
       |  FROM embeddings, unnest(range(0, $PqM)) AS g(m)
       |), seeds AS (
       |  SELECT vec_id AS cid, embedding FROM embeddings
       |  ORDER BY ${graft.functions.TextFns.sqlMd5Long("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $PqK
       |), seedbooks AS (
       |  SELECT CAST(g.m AS BIGINT) AS m, cid,
       |    embedding[g.m * $PqSubDim + 1 : (g.m + 1) * $PqSubDim] AS c
       |  FROM seeds, unnest(range(0, $PqM)) AS g(m)
       |), ${sqlPqLloyd("sv", "seedbooks", "a1", "r1", "b1")},
       |${sqlPqLloyd("sv", "b1", "a2", "r2", "b2")},
       |codes AS MATERIALIZED (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT s.vec_id, s.m, b.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sqlSubL2sq("s.sv", "b.c")}, b.cid) AS rn
       |    FROM sv s JOIN b2 b ON s.m = b.m) WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  ORDER BY vec_id LIMIT 1
       |), qsub AS (
       |  SELECT q.qid, CAST(g.m AS BIGINT) AS m,
       |    qv[g.m * $PqSubDim + 1 : (g.m + 1) * $PqSubDim] AS qsv
       |  FROM q, unnest(range(0, $PqM)) AS g(m)
       |), dtab AS MATERIALIZED (
       |  SELECT qsub.qid, qsub.m, b.cid, ${sqlSubL2sq("qsub.qsv", "b.c")} AS qd
       |  FROM qsub JOIN b2 b ON qsub.m = b.m
       |), scored AS (
       |  SELECT c.vec_id,
       |    list_aggregate(list(d.qd ORDER BY c.m), 'sum') AS adist
       |  FROM codes c JOIN dtab d ON c.m = d.m AND c.cid = d.cid
       |  WHERE c.vec_id <> d.qid
       |  GROUP BY c.vec_id
       |), ranked AS (
       |  SELECT vec_id, adist,
       |    row_number() OVER (ORDER BY adist, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT vec_id, CAST(CAST(round(adist, 4) AS DECIMAL(14,4)) AS DOUBLE) AS adist,
       |  CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  // ---- #21j IVF-PQ ANN (coarse pruning + compressed-domain scoring) -----
  /** The full FAISS-style IVFPQ serving stack (non-residual variant,
    * `by_residual=false`): the coarse quantizer prunes the search to the
    * IvfProbes cells nearest the query, and within those cells the ADC
    * distance table scores the PQ codes — the float vectors are touched by
    * neither step. Reuses BOTH materialized artifacts: [[ivfCentroids]]
    * (the cell quantizer) and [[pqCodebooks]] (the code quantizer).
    *
    * Scale: the (cell, codes) layout frame is the on-disk index — built
    * once with one vec_id-keyed shuffle, then stored partitioned by cell
    * so a probe is partition pruning; the probe list and the PqM×PqK
    * distance table both broadcast. Per probed vector exactly one row
    * reaches the fold exchange, carrying PqM small ints instead of the
    * float vector. */
  /** Materialized IVF-PQ index layout (cell, vec_id, m, cid): the codes
    * table joined to the [[ivfCells]] index's cells — the on-disk layout
    * a build job writes partitioned by cell, so a probe is partition
    * pruning. The vec_id-keyed join runs once per (session, corpus). */
  def ivfPqLayout(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "ivfPqLayout") {
      val n = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding").count()
      pqCodes(spark, dir).select(col("vec_id"), col("m"), col("cid"))
        .join(ivfCells(spark, dir).select(col("vec_id"), col("cid").as("cell")), "vec_id")
        .coalesce(Scale.loopParts(spark, n * PqM))
    }

  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val q = ivfQuery(spark, dir)
    val probes = probeCells(spark, dir, q).select(col("cid").as("cell"), col("qid"))
    val qSub = subVecs(q.select(col("qid").as("vec_id"), col("qv").as("embedding")))
      .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
    val dtab = qSub.join(pqCodebooks(spark, dir), "m")
      .select(col("qid"), col("m"), col("cid"), subL2sq("qsv", "c").as("qd"))
    // index layout: every vector's cell + its PQ codes (cell is the
    // partition key at scale; the vec_id join happens once at index build)
    val layout = ivfPqLayout(spark, dir)
    val scored = layout.join(broadcast(probes), "cell")
      .where(col("vec_id") =!= col("qid"))
      .join(broadcast(dtab), Seq("qid", "m", "cid"))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("qd")))).as("arr"))
      .select(col("vec_id"),
        aggregate(col("arr"), lit(0.0), (a, x) => a + x.getField("qd")).as("adist"))
    scored.orderBy(col("adist"), col("vec_id")).limit(TopK)
      .select(struct(col("adist").as("adist"), col("vec_id").as("vec_id")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.vec_id").as("vec_id"),
        round(col("s.adist"), 4).cast("decimal(14,4)").cast("double").as("adist"),
        (col("pos") + 1).cast("long").as("rk"))
  }
  val annIvfPqSql: String =
    s"""WITH $ivfCentroidsCte,
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlL2sq("e.embedding", "c.c")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  ORDER BY vec_id LIMIT 1
       |), probes AS (
       |  SELECT cid AS cell, qid FROM (
       |    SELECT c.cid, q.qid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${sqlL2sq("q.qv", "c.c")}, c.cid) AS qrn
       |    FROM cents c CROSS JOIN q
       |  ) WHERE qrn <= $IvfProbes
       |), sv AS MATERIALIZED (
       |  SELECT vec_id, CAST(g.m AS BIGINT) AS m,
       |    embedding[g.m * $PqSubDim + 1 : (g.m + 1) * $PqSubDim] AS sv
       |  FROM embeddings, unnest(range(0, $PqM)) AS g(m)
       |), pseeds AS (
       |  SELECT vec_id AS cid, embedding FROM embeddings
       |  ORDER BY ${graft.functions.TextFns.sqlMd5Long("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $PqK
       |), pseedbooks AS (
       |  SELECT CAST(g.m AS BIGINT) AS m, cid,
       |    embedding[g.m * $PqSubDim + 1 : (g.m + 1) * $PqSubDim] AS c
       |  FROM pseeds, unnest(range(0, $PqM)) AS g(m)
       |), ${sqlPqLloyd("sv", "pseedbooks", "pa1", "pr1", "pb1")},
       |${sqlPqLloyd("sv", "pb1", "pa2", "pr2", "pb2")},
       |codes AS MATERIALIZED (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT s.vec_id, s.m, b.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sqlSubL2sq("s.sv", "b.c")}, b.cid) AS rn
       |    FROM sv s JOIN pb2 b ON s.m = b.m) WHERE rn = 1
       |), qsub AS (
       |  SELECT q.qid, CAST(g.m AS BIGINT) AS m,
       |    qv[g.m * $PqSubDim + 1 : (g.m + 1) * $PqSubDim] AS qsv
       |  FROM q, unnest(range(0, $PqM)) AS g(m)
       |), dtab AS MATERIALIZED (
       |  SELECT qsub.qid, qsub.m, b.cid, ${sqlSubL2sq("qsub.qsv", "b.c")} AS qd
       |  FROM qsub JOIN pb2 b ON qsub.m = b.m
       |), scored AS (
       |  SELECT c.vec_id,
       |    list_aggregate(list(d.qd ORDER BY c.m), 'sum') AS adist
       |  FROM codes c
       |  JOIN assigned a ON c.vec_id = a.vec_id
       |  JOIN probes p ON a.cell = p.cell
       |  JOIN dtab d ON d.qid = p.qid AND c.m = d.m AND c.cid = d.cid
       |  WHERE c.vec_id <> p.qid
       |  GROUP BY c.vec_id
       |), ranked AS (
       |  SELECT vec_id, adist,
       |    row_number() OVER (ORDER BY adist, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT vec_id, CAST(CAST(round(adist, 4) AS DECIMAL(14,4)) AS DOUBLE) AS adist,
       |  CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  // ---- #21l IVF-PQ recall audit ----------------------------------------
  /** How much does the ~16× compression + cell pruning cost in answer
    * quality? Exact top-k by TRUE squared-L2 on the float vectors
    * (ground truth, one corpus scan against the broadcast 1-row query)
    * vs [[annIvfPq]]'s top-k from the compressed index — overlap count
    * and exact-basis-point recall. The quality dial this turns at scale:
    * recall too low → raise IvfProbes or PqM; both sides reuse the
    * session-materialized layout/codebooks, so the audit is one extra
    * corpus scan, run as a scheduled job, not per serving query.
    *
    * Outputs are pure BIGINT (set intersection + [[graft.functions.TextFns.bp]]):
    * nothing float-compared, so the oracle row is exact by construction. */
  def ivfpqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("vec_id"), l2sq("embedding", "qv").as("d"))
      .orderBy(col("d"), col("vec_id")).limit(TopK)
      .select(col("vec_id"))
    val approx = annIvfPq(spark, dir)
      .select(col("vec_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("n_exact"), col("n_hit"),
        graft.functions.TextFns.bp(col("n_hit"),
          greatest(col("n_exact"), lit(1L))).as("recall_bp"))
  }
  lazy val ivfpqRecallSql: String =
    s"""WITH approx AS (
       |  SELECT vec_id FROM ($annIvfPqSql)
       |), q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  ORDER BY vec_id LIMIT 1
       |), exact AS (
       |  SELECT e.vec_id
       |  FROM embeddings e, q WHERE e.vec_id <> q.qid
       |  ORDER BY ${sqlL2sq("e.embedding", "q.qv")}, e.vec_id
       |  LIMIT $TopK
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hit,
       |  ${graft.functions.TextFns.sqlBp(
            "sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)",
            "greatest(count(*), 1)")}
       |    AS recall_bp
       |FROM exact x LEFT JOIN approx a ON x.vec_id = a.vec_id""".stripMargin

  /** Corpus embedding HEALTH audit — the check an ANN pipeline runs before
    * trusting a new embedding batch: vector count, zero vectors (a broken
    * encoder emits them and every cosine against them is NaN/garbage), and
    * the L2-norm² distribution (min/max/mean — a collapsed or exploding
    * norm range breaks IVF cell balance and PQ codebook training). One
    * map-only projection (the codegen'd left-fold dot product) + one 1-row
    * aggregation; norms are rounded→DECIMAL per row so the mean's sum is
    * order-insensitive and exact before the final double division (§6). */
  def embeddingNormStats(spark: SparkSession, dir: String): DataFrame = {
    val n2 = round(Dedup.dotExpr("embedding", "embedding"), 4)
      .cast("decimal(18,4)")
    Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .select(n2.as("n2"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === lit(0).cast("decimal(18,4)"), 1L).otherwise(0L))
          .as("n_zero"),
        min(col("n2")).cast("double").as("min_norm2"),
        max(col("n2")).cast("double").as("max_norm2"),
        (sum(col("n2")).cast("decimal(18,4)").cast("double")
          / count(lit(1)).cast("double")).as("avg_norm2"))
  }
  val embeddingNormStatsSql: String =
    s"""WITH n AS (
       |  SELECT CAST(round(${Dedup.sqlDotExpr("embedding", "embedding")}, 4)
       |    AS DECIMAL(18,4)) AS n2
       |  FROM embeddings
       |)
       |SELECT count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  CAST(min(n2) AS DOUBLE) AS min_norm2,
       |  CAST(max(n2) AS DOUBLE) AS max_norm2,
       |  CAST(CAST(sum(n2) AS DECIMAL(18,4)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS avg_norm2
       |FROM n""".stripMargin

  /** Int8 quantization audit, one codegen'd pass per vector
    * ([[org.apache.spark.sql.graft.Int8QuantStats]] — replaces the five
    * interpreted `transform`/`aggregate`/`zip_with` lambdas this query
    * spent its time in; same math, §6 rounding applied to the raw cosine
    * here). Map-only at any scale. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val qs = org.apache.spark.sql.graft.Int8QuantStats(col("embedding"))
    Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .select(col("vec_id"), qs.as("qs"))
      .where(col("qs").isNotNull)
      .select(col("vec_id"),
        col("qs.n_dims").as("n_dims"),
        col("qs.q_l1").as("q_l1"),
        col("qs.q_sum").as("q_sum"),
        round(col("qs.recon_raw"), 4).cast("decimal(14,4)").cast("double")
          .as("recon_cos"))
  }
  val embeddingQuantizeSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding AS v,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id, v,
      |    list_transform(v, x -> CAST(least(greatest(
      |      round(CAST(x AS DOUBLE) / s), -127.0), 127.0) AS BIGINT)) AS qv
      |  FROM base WHERE s > 0.0
      |)
      |SELECT vec_id, CAST(len(qv) AS BIGINT) AS n_dims,
      |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
      |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
      |  CAST(CAST(round(
      |    list_aggregate(list_transform(range(1, len(qv) + 1),
      |      i -> CAST(qv[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)), 'sum')
      |    / (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
      |      * sqrt(list_aggregate(list_transform(range(1, len(v) + 1),
      |          i -> CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)), 'sum'))),
      |  4) AS DECIMAL(14,4)) AS DOUBLE) AS recon_cos
      |FROM q""".stripMargin

  // ---- #21n per-source embedding coherence (centroid-norm identity) ------
  /** Is a feed topically TIGHT or scattered? Mean pairwise cosine of each
    * source's embeddings — computed WITHOUT any pair join via the centroid
    * identity: for unit vectors, Σ_{i≠j} v̂_i·v̂_j = ‖Σ v̂‖² − n, so mean
    * pairwise cos = (S − n)/(n(n−1)) with S = Σ_d (Σ_i v̂_{i,d})². The
    * pair-join formulation is O(n²) per source; this is ONE pass — explode
    * to (source, dim) grain, decimal-sum per dimension (order-insensitive
    * EXACT aggregation: each v̂_d is rounded to a pinned decimal first, so
    * both engines sum identical decimals in any order — the lm_perplexity
    * trick), then a ≤|sources|·Dim rollup. Norms fold in fixed dimension
    * order (the shared codegen'd dot product), so every double is
    * bit-identical across engines. */
  def sourceCoherence(spark: SparkSession, dir: String): DataFrame = {
    val docsSrc = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .join(docsSrc, col("vec_id") === col("doc_id"))
      .withColumn("nrm", sqrt(dotExpr("embedding", "embedding")))
      .where(col("nrm") > 0.0)
    val nPer = e.groupBy(col("source")).agg(count(lit(1)).as("n_vecs"))
    val comps = e
      .select(col("source"), col("nrm"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("source"), col("dim"),
        round(col("x").cast("double") / col("nrm"), 6)
          .cast("decimal(14,6)").as("vd"))
      .groupBy(col("source"), col("dim"))
      .agg(sum(col("vd")).cast("decimal(24,6)").as("sd"))
    val s = comps
      .select(col("source"),
        (col("sd") * col("sd")).cast("decimal(38,12)").as("sd2"))
      .groupBy(col("source"))
      // narrow to DECIMAL(18,8) BEFORE the double cast: precision ≤18 keeps
      // DuckDB's decimal→double on the int64 path and the raw value under
      // 2^53, so both engines convert exactly (the q1_agg lesson); the
      // 12→8 rescale rounds HALF_UP on non-negative values in both engines
      .agg(sum(col("sd2")).cast("decimal(18,8)").cast("double").as("s_sum"))
    // both sides are ≤|sources|-row aggregates — broadcast explicitly so
    // the final join never plans a sort-merge (plan-asserted in ScaleSpec)
    nPer.join(broadcast(s), Seq("source"))
      .where(col("n_vecs") >= 2L)
      .select(col("source"), col("n_vecs"),
        round((col("s_sum") - col("n_vecs").cast("double"))
            / (col("n_vecs") * (col("n_vecs") - 1L)).cast("double"), 6)
          .cast("decimal(14,6)").cast("double").as("mean_pair_cos"))
  }
  val sourceCoherenceSql: String =
    s"""WITH e AS (
       |  SELECT d.source, e.vec_id, e.embedding,
       |    sqrt(${sqlDotExpr("e.embedding", "e.embedding")}) AS nrm
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |  WHERE sqrt(${sqlDotExpr("e.embedding", "e.embedding")}) > 0.0
       |), np AS (
       |  SELECT source, count(*) AS n_vecs FROM e GROUP BY 1
       |), comps AS (
       |  SELECT source, g.dim,
       |    CAST(sum(CAST(round(CAST(embedding[g.dim] AS DOUBLE) / nrm, 6)
       |      AS DECIMAL(14,6))) AS DECIMAL(24,6)) AS sd
       |  FROM e, unnest(range(1, ${graft.operators.Dedup.Dim} + 1)) AS g(dim)
       |  GROUP BY 1, 2
       |), s AS (
       |  SELECT source,
       |    CAST(CAST(sum(CAST(sd * sd AS DECIMAL(38,12))) AS DECIMAL(18,8))
       |      AS DOUBLE) AS s_sum
       |  FROM comps GROUP BY 1
       |)
       |SELECT np.source, np.n_vecs,
       |  CAST(CAST(round((s.s_sum - CAST(np.n_vecs AS DOUBLE))
       |    / CAST(np.n_vecs * (np.n_vecs - 1) AS DOUBLE), 6)
       |    AS DECIMAL(14,6)) AS DOUBLE) AS mean_pair_cos
       |FROM np JOIN s ON np.source = s.source
       |WHERE np.n_vecs >= 2""".stripMargin

  // ---- #21m hybrid search: lexical + vector fusion via RRF ---------------
  /** Reciprocal-rank fusion of two independent retrieval modalities over
    * the aligned documents/embeddings tables (vec_id ≡ doc_id): a lexical
    * ranking (distinct-token Jaccard against the query doc, exact integer
    * basis points) and a vector ranking (the `ann_topk` cosine), each cut
    * to a [[RrfPool]]-deep candidate pool, fused by
    * score(d) = Σ_lists 1/([[RrfC]] + rank_list(d)) — here in exact ×10⁶
    * integer arithmetic so both engines agree bit-for-bit.
    *
    * Scale shape: each modality keeps its own index-shaped plan — the
    * lexical side is two bounded joins against the BROADCAST query-token
    * set (the corpus-sized frame is only scanned, never shuffled wide:
    * the groupBys key on doc_id, the natural partitioning), the vector
    * side is the one-scan broadcast-query cosine — and both pools collapse
    * to ≤[[RrfPool]] rows via orderBy+limit (TakeOrderedAndProject), so
    * the fusion join touches ≤2·pool rows regardless of corpus size.
    * Missing-from-one-list docs contribute 0 from that list (the standard
    * RRF convention), surfaced as rank 0 in the output. */
  val RrfPool = 20
  val RrfTopN = 10
  val RrfC = 60L

  /** Rank recovery over an already-limited pool: sort the ≤pool survivors
    * inside one array (the `topkRanked` trick, generic over the score). */
  private def pooledRanks(pool: DataFrame, rankName: String): DataFrame =
    pool // expects columns (id, ns) with ns = the DESCENDING sort key negated
      .select(struct(col("ns"), col("id").as("id")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.id").as("id"), (col("pos") + 1).cast("long").as(rankName))

  def hybridSearchRrf(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val vecPool = pooledRanks(
      e.crossJoin(broadcast(q)).where(col("vec_id") =!= col("qid"))
        .select(col("vec_id").as("id"), cosExpr("embedding", "qv").as("cos"))
        .orderBy(col("cos").desc, col("id")).limit(RrfPool)
        .select(negate(col("cos")).as("ns"), col("id")), "vec_rk")
    // Lex leg, one corpus pass (r8; the previous shape derived the query
    // term set from the corpus-wide explode and computed n_terms and
    // n_inter as separate aggregations — 3 evaluations of the explode, 9
    // scans in the executed plan). The query doc's term set comes from a
    // ONE-ROW broadcast join picked off a plain documents scan (explodes a
    // single doc), broadcasts into a map-side left join against the corpus
    // term explode, and a single doc-keyed aggregation yields both the
    // term count and the intersection size.
    val qt = Corpus.table(spark, dir, "documents")
      .join(broadcast(q.select(col("qid"))), col("doc_id") === col("qid"))
      .select(explode(lowerTokens(col("text"))).as("qterm")).distinct()
    val tk = Corpus.table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(lowerTokens(col("text"))).as("term")).distinct()
    val stats = tk.join(broadcast(qt), col("term") === col("qterm"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("qterm").isNotNull, 1L).otherwise(0L)).as("n_inter"))
    val lexPool = pooledRanks(
      stats
        .crossJoin(broadcast(qt.agg(count(lit(1)).as("q_n"))))
        .crossJoin(broadcast(q.select(col("qid"))))
        .where(col("doc_id") =!= col("qid"))
        .select(col("doc_id").as("id"),
          org.apache.spark.sql.graft.ExactMath.intDiv(
            col("n_inter") * lit(10000L),
            col("n_terms") + col("q_n") - col("n_inter"))
            .as("lex_bp"))
        .orderBy(col("lex_bp").desc, col("id")).limit(RrfPool)
        .select(negate(col("lex_bp")).as("ns"), col("id")), "lex_rk")
    val fused = vecPool.join(lexPool, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("lex_rk"), lit(0L)).as("lex_rk"),
        coalesce(col("vec_rk"), lit(0L)).as("vec_rk"),
        (when(col("vec_rk").isNull, lit(0L)).otherwise(
          org.apache.spark.sql.graft.ExactMath.intDiv(
            lit(1000000L), lit(RrfC) + col("vec_rk"))) +
         when(col("lex_rk").isNull, lit(0L)).otherwise(
          org.apache.spark.sql.graft.ExactMath.intDiv(
            lit(1000000L), lit(RrfC) + col("lex_rk")))).as("rrf_e6"))
    fused
      .orderBy(col("rrf_e6").desc, col("id")).limit(RrfTopN)
      .select(struct(negate(col("rrf_e6")).as("ns"), col("id").as("id"),
        col("lex_rk").as("lex_rk"), col("vec_rk").as("vec_rk"),
        col("rrf_e6").as("rrf_e6")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.id").as("doc_id"), col("s.lex_rk").as("lex_rk"),
        col("s.vec_rk").as("vec_rk"), col("s.rrf_e6").as("rrf_e6"),
        (col("pos") + 1).cast("long").as("rk"))
  }
  val hybridSearchRrfSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  ORDER BY vec_id LIMIT 1
       |), vscore AS (
       |  SELECT e.vec_id AS id, ${sqlCos("e.embedding", "q.qv")} AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> q.qid
       |), vpool AS (
       |  SELECT id, vec_rk FROM (
       |    SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id) AS BIGINT)
       |      AS vec_rk
       |    FROM vscore) WHERE vec_rk <= $RrfPool
       |), tk AS (
       |  SELECT DISTINCT doc_id, g.t AS term
       |  FROM (SELECT doc_id, ${sqlLowerTokens("text")} AS ts
       |    FROM documents),
       |  unnest(ts) AS g(t)
       |), qt AS (
       |  SELECT DISTINCT term FROM tk, q WHERE tk.doc_id = q.qid
       |), qs AS (
       |  SELECT count(*) AS q_n FROM qt
       |), lex AS (
       |  SELECT s.doc_id AS id,
       |    (coalesce(i.n_inter, 0) * 10000)
       |      // (s.n_terms + qs.q_n - coalesce(i.n_inter, 0)) AS lex_bp
       |  FROM (SELECT doc_id, count(*) AS n_terms FROM tk GROUP BY 1) s
       |  LEFT JOIN (SELECT tk.doc_id, count(*) AS n_inter
       |    FROM tk JOIN qt ON tk.term = qt.term GROUP BY 1) i
       |    ON s.doc_id = i.doc_id, qs, q
       |  WHERE s.doc_id <> q.qid
       |), lpool AS (
       |  SELECT id, lex_rk FROM (
       |    SELECT id, CAST(row_number() OVER (ORDER BY lex_bp DESC, id) AS BIGINT)
       |      AS lex_rk
       |    FROM lex) WHERE lex_rk <= $RrfPool
       |), fused AS (
       |  SELECT coalesce(v.id, l.id) AS doc_id,
       |    coalesce(l.lex_rk, 0) AS lex_rk,
       |    coalesce(v.vec_rk, 0) AS vec_rk,
       |    coalesce(1000000 // ($RrfC + v.vec_rk), 0)
       |      + coalesce(1000000 // ($RrfC + l.lex_rk), 0) AS rrf_e6
       |  FROM vpool v FULL JOIN lpool l ON v.id = l.id
       |)
       |SELECT doc_id, lex_rk, vec_rk, CAST(rrf_e6 AS BIGINT) AS rrf_e6, rk
       |FROM (
       |  SELECT *, CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id)
       |    AS BIGINT) AS rk
       |  FROM fused)
       |WHERE rk <= $RrfTopN""".stripMargin

  // ---- #37 bitext mining (margin-kNN alignment) --------------------------
  /** Neighborhood size for the margin normalizer (the papers' k). */
  val BtKnnK = 4
  /** Margin acceptance threshold (CCMatrix uses ~1.06; tuned up so the
    * synthetic corpus yields both mined and rejected sources at every SF). */
  val BtMarginThr = 1.2
  /** Stand-in "languages": ground-truth label groups of the embeddings
    * table play source/target (the same proxy role DsirTargetLang plays). */
  val BtLabelA = 0
  val BtLabelB = 1

  /** Margin-based bitext mining (Artetxe & Schwenk 2019; the CCMatrix /
    * CCAligned recipe): align group-A embeddings to group-B by RELATIVE
    * similarity — absolute cosine can't separate a true translation from a
    * hub vector, so each pair's cosine is normalized by the mean of the
    * two sides' k-NN neighborhoods: margin(x,y) = cos(x,y) / ((avgk(x) +
    * avgk(y)) / 2); forward mining keeps each source's best-margin target
    * at margin ≥ [[BtMarginThr]].
    *
    * Spark-first shape: candidates come from the SHARED signed-hyperplane
    * buckets (hamming ≤ 1 probes — the ann_join/dedup_embedding blocking;
    * never A×B), positive-cosine only, so the k-NN means are averages over
    * each vector's candidate list (FAISS-kNN's role, approximated the same
    * way the paper's own index approximates exact kNN, and mirrored
    * EXACTLY by the oracle so both engines mine the identical set). Per-
    * side means are bounded windows (partitioned by vector); cosines are
    * §6-pinned decimals before any mean, and each mean is an exact decimal
    * SUM cast to DOUBLE over an integer count, so fold order never
    * matters. At 100 TB the bucket is the partition key on both sides and
    * every stage keys on va/vb/bucket — no global anything. */
  def bitextMine(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        bucketCol("embedding").as("bucket"))
    val a = e.where(col("label") === BtLabelA)
      .select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("bucket").as("ba"))
    val probeMasks = 0L +: (0 until NumPlanes).map(j => 1L << j)
    val b = e.where(col("label") === BtLabelB)
      .select(col("vec_id").as("vb"), col("embedding").as("eb"),
        explode(array(probeMasks.map(m =>
          col("bucket").bitwiseXOR(lit(m))): _*)).as("pb"))
    // each (va, vb) matches at most one probe mask (the XOR values are
    // distinct), so the candidate set has no duplicate pairs
    val cand = a.join(b, col("ba") === col("pb"))
      .select(col("va"), col("vb"),
        round(cosExpr("ea", "eb"), 6).cast("decimal(14,6)").as("rc"))
      .where(col("rc") > 0)
    def sideAvg(key: String, other: String, out: String): DataFrame = {
      val w = Window.partitionBy(key).orderBy(col("rc").desc, col(other))
      cand.withColumn("rk", row_number().over(w)).where(col("rk") <= BtKnnK)
        .groupBy(key)
        .agg((sum(col("rc")).cast("double") / count(lit(1))).as(out))
    }
    val m = cand
      .join(sideAvg("va", "vb", "ax"), "va")
      .join(sideAvg("vb", "va", "ay"), "vb")
      .select(col("va"), col("vb"), col("rc"),
        round(col("rc").cast("double") / ((col("ax") + col("ay")) / lit(2.0)), 6)
          .cast("decimal(14,6)").cast("double").as("margin"))
    val wBest = Window.partitionBy("va").orderBy(col("margin").desc, col("vb"))
    m.withColumn("brk", row_number().over(wBest))
      .where(col("brk") === 1 && col("margin") >= BtMarginThr)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        col("rc").cast("double").as("cos"), col("margin"))
  }
  val bitextMineSql: String = {
    val masks = (0L +: (0 until NumPlanes).map(j => 1L << j)).mkString(", ")
    s"""WITH eb AS MATERIALIZED (
       |  SELECT vec_id, embedding, label,
       |    ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings WHERE label IN ($BtLabelA, $BtLabelB)
       |), cand AS MATERIALIZED (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    CAST(round(${sqlCos("a.embedding", "b.embedding")}, 6)
       |      AS DECIMAL(14,6)) AS rc
       |  FROM (SELECT * FROM eb WHERE label = $BtLabelA) a
       |  JOIN (SELECT vec_id, embedding, xor(bucket, g.m) AS pb
       |        FROM eb, unnest([$masks]) AS g(m)
       |        WHERE label = $BtLabelB) b
       |    ON a.bucket = b.pb
       |  WHERE CAST(round(${sqlCos("a.embedding", "b.embedding")}, 6)
       |      AS DECIMAL(14,6)) > 0
       |), ra AS (
       |  SELECT va, CAST(sum(rc) AS DOUBLE) / count(*) AS ax FROM (
       |    SELECT va, rc, row_number() OVER (PARTITION BY va
       |      ORDER BY rc DESC, vb) AS rk FROM cand)
       |  WHERE rk <= $BtKnnK GROUP BY va
       |), rb AS (
       |  SELECT vb, CAST(sum(rc) AS DOUBLE) / count(*) AS ay FROM (
       |    SELECT vb, rc, row_number() OVER (PARTITION BY vb
       |      ORDER BY rc DESC, va) AS rk FROM cand)
       |  WHERE rk <= $BtKnnK GROUP BY vb
       |), m AS (
       |  SELECT va, vb, rc,
       |    CAST(CAST(round(CAST(rc AS DOUBLE) / ((ax + ay) / 2.0), 6)
       |      AS DECIMAL(14,6)) AS DOUBLE) AS margin
       |  FROM cand JOIN ra USING (va) JOIN rb USING (vb)
       |)
       |SELECT va AS vec_a, vb AS vec_b, CAST(rc AS DOUBLE) AS cos, margin
       |FROM (SELECT m.*, row_number() OVER (PARTITION BY va
       |  ORDER BY margin DESC, vb) AS brk FROM m)
       |WHERE brk = 1 AND margin >= $BtMarginThr""".stripMargin
  }

  // ---- #25j-c semantic decontamination (embedding-space probe overlap) ----
  /** The embedding complement of `decontaminate`: exact n-gram overlap
    * misses paraphrased benchmark leakage; this audit flags every TRAIN
    * vector whose cosine to ANY probe vector reaches the shared
    * [[Dedup.CosineThreshold]]. Probe set pinned to vec_id %
    * [[SemDecontProbeMod]] == 0 (the held-out-benchmark stand-in, the
    * `decontaminate` convention); for each contaminated vector: how many
    * probes it hits, the closest probe (ties on probe id) and the pinned
    * cosine. Candidates come from the SAME two signed-hyperplane bucket
    * tables `dedup_embedding` blocks on — probe side explodes the ±1-bit
    * masks, so the oracle mirrors the blocking exactly and both engines
    * score the identical candidate set.
    *
    * Scale: the probe side is benchmark-bounded → BROADCAST with its mask
    * explode; the corpus side streams through the bucket equi-join (never
    * all-pairs, never a corpus shuffle). A larger probe set swaps the
    * broadcast for the IVF serving index (`ann_ivf`) without changing the
    * row contract. */
  val SemDecontProbeMod = 10L

  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .select(col("vec_id") +: col("embedding") +:
      (0 until NumTables).map(t =>
        bucketColT("embedding", t).as(s"bucket$t")): _*)
    val probeMasks = 0L +: (0 until NumPlanes).map(j => 1L << j)
    val train = e.where(pmod(col("vec_id"), lit(SemDecontProbeMod)) =!= 0)
    val probes = e.where(pmod(col("vec_id"), lit(SemDecontProbeMod)) === 0)
    def tableCand(t: Int): DataFrame = {
      val p = probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("pv"),
        explode(array(probeMasks.map(m =>
          col(s"bucket$t").bitwiseXOR(lit(m))): _*)).as("pb"))
      train.as("a").join(broadcast(p), col(s"a.bucket$t") === col("pb"))
        .select(col("a.vec_id").as("vec_id"), col("probe_id"),
          cosExpr("embedding", "pv").as("cos_raw"))
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
    (0 until NumTables).map(tableCand).reduce(_ union _)
      .dropDuplicates("vec_id", "probe_id")
      // §6: threshold/rank on the RAW cosine (bit-identical IEEE math in
      // both engines over the identical candidate set); only the emitted
      // value is rounded to a pinned decimal
      .where(col("cos_raw") >= Dedup.CosineThreshold)
      .withColumn("n_probe_hits", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(
        w.orderBy(col("cos_raw").desc, col("probe_id"))))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("n_probe_hits"),
        col("probe_id").as("best_probe"),
        round(col("cos_raw"), 4).cast("decimal(14,4)").cast("double")
          .as("cos"))
  }
  lazy val semanticDecontaminateSql: String = {
    val cos = s"(${sqlDotExpr("a.embedding", "p.pv")}) / " +
      s"(sqrt(${sqlDotExpr("a.embedding", "a.embedding")}) * " +
      s"sqrt(${sqlDotExpr("p.pv", "p.pv")}))"
    val masks = (0L +: (0 until NumPlanes).map(j => 1L << j))
      .mkString("[", ", ", "]")
    val bucketCols = (0 until NumTables)
      .map(t => s"${sqlBucketT("embedding", t)} AS bucket$t")
      .mkString(",\n    ")
    val tableSelects = (0 until NumTables).map { t =>
      s"""SELECT a.vec_id, p.probe_id, $cos AS cos_raw
         |  FROM t a JOIN (
         |    SELECT vec_id AS probe_id, embedding AS pv,
         |      xor(bucket$t, m.m) AS pb
         |    FROM q, unnest($masks) AS m(m)
         |  ) p ON a.bucket$t = p.pb""".stripMargin
    }.mkString("\n  UNION\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    $bucketCols
       |  FROM embeddings
       |), t AS (SELECT * FROM e WHERE vec_id % $SemDecontProbeMod <> 0),
       |q AS (SELECT * FROM e WHERE vec_id % $SemDecontProbeMod = 0),
       |cand AS (
       |  $tableSelects
       |), kept AS (
       |  SELECT vec_id, probe_id, cos_raw,
       |    count(*) OVER (PARTITION BY vec_id) AS n_probe_hits,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_raw DESC, probe_id) AS rk
       |  FROM cand WHERE cos_raw >= ${Dedup.CosineThreshold}
       |)
       |SELECT vec_id, CAST(n_probe_hits AS BIGINT) AS n_probe_hits,
       |  probe_id AS best_probe,
       |  CAST(CAST(round(cos_raw, 4) AS DECIMAL(14,4)) AS DOUBLE) AS cos
       |FROM kept WHERE rk = 1""".stripMargin
  }

  // ---- #21s MMR diversified selection ------------------------------------
  /** Maximal-marginal-relevance top-[[MmrK]] (Carbonell & Goldstein 1998):
    * greedily pick argmax λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s) — the
    * retrieval answer that is relevant AND non-redundant (a plain top-k
    * over a near-dup-heavy corpus returns k copies of one document).
    *
    * Scale shape: the DISTRIBUTED work is the relevance scan — one pass,
    * TakeOrderedAndProject down to the [[MmrPoolN]]-row candidate pool.
    * The greedy loop then runs driver-side on that bounded pool (the
    * Lloyd/BPE ≤-model-table-rows collect discipline: ≤50 rows of 64
    * floats regardless of corpus size; the iteration is inherently
    * sequential — each pick changes the next round's penalty term).
    * Rows-only BY DESIGN (iterative argmax fixpoint, the bpe_merges
    * argument); brute-forced from scratch in SimilaritySpec. */
  val MmrK = 10
  val MmrPoolN = 50
  val MmrLambda = 0.7
  def mmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val q = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pool = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
      .crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("vec_id"), col("embedding"),
        cosExpr("embedding", "qv").as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrPoolN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Float], Double, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    while (selected.length < MmrK && remaining.nonEmpty) {
      val best = remaining.map { case (id, v, rel) =>
        val penalty =
          if (selected.isEmpty) 0.0
          else selected.map(s => cos(v, s._2)).max
        (id, v, rel, MmrLambda * rel - (1 - MmrLambda) * penalty)
      }.minBy { case (id, _, _, score) => (-score, id) }
      selected += best
      remaining --= remaining.filter(_._1 == best._1)
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, _, rel, score), ix) =>
        (ix + 1L, id,
          BigDecimal(rel).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          BigDecimal(score).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }.toDF("rk", "vec_id", "rel", "mmr")
  }

  // ---- #21t streaming-free PCA: top components by subspace iteration -----
  /** Top-[[PcaComponents]] principal components of the embedding cloud by
    * BLOCK power iteration (orthogonal/subspace iteration) — the
    * covariance matrix is NEVER materialized: each round is ONE
    * distributed pass computing n·C·V as Σ_d s_d·x_d − (Σ_d s_d)·μ with
    * s_d = x_dᵀv − μᵀv, via a posexplode over the dims (the vector gets a
    * sentinel 1.0 slot appended so Σ s_d rides the same 65-key exchange),
    * followed by driver-side Gram-Schmidt on the 4×64 block. Eigenvalues
    * are the Rayleigh quotients of the final pass; the deterministic seed
    * block is StrictMath-sin based (no RNG). Whitening/dim-reduction for
    * embedding pipelines — dedup/ANN run in the reduced space at a
    * fraction of the cost.
    *
    * Rows-only BY DESIGN (iterative fixpoint, float math); SimilaritySpec
    * verifies eigen-properties (orthonormality, Cv≈λv residual, λ
    * ordering) against an independently computed covariance matrix. */
  val PcaComponents = 4
  val PcaIters = 12

  // the fitted model is a per-corpus artifact like the IVF centroids:
  // without the cache BOTH consumers (embedding_pca, pca_project) re-run
  // the 12-round matvec loop per invocation (~3 s each at sf0.1 steady)
  def pcaModel(spark: SparkSession, dir: String)
      : (Array[Double], Array[Array[Double]], Array[Double], Long) =
    Materialized.value(spark, dir, "pcaModel")(pcaModelFit(spark, dir))

  private def pcaModelFit(spark: SparkSession, dir: String)
      : (Array[Double], Array[Array[Double]], Array[Double], Long) = {
    val e0 = Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val dim = Dedup.Dim
    // the 13 matvec passes each embed a fresh literal block (the rotated
    // V), so every round recompiles its codegen fragments and replans
    // under AQE — the iterative-loop profile (Scale.loop, see
    // Dedup.pagerankOn) runs them on a size-derived layout. Codegen stays
    // on (no roundLiterals): interpreting the per-row dot products costs
    // more than compiling each round (first run at sf0.1, 4 cores: 11.3 s
    // compiled against 13.4 s interpreted)
    val nVecs = e0.count()
    Scale.loop(spark) { lp =>
    lp.sized(nVecs * (dim + 1L))
    val e = lp.checkpoint(lp.rebind(e0))
    // mean + count: one dim-keyed exchange
    val meanRows = e.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(sum(col("v").cast("double")).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    // empty corpus: no mean rows at all — return the orthonormal seed with
    // zero eigenvalues instead of iterating (the matvec agg would be empty
    // too); callers emit 0 rows under n == 0
    val n = meanRows.headOption.map(_._3).getOrElse(0L)
    val mean = Array.ofDim[Double](dim)
    meanRows.foreach { case (p, s, _) => mean(p) = s / n }
    // deterministic seed block, Gram-Schmidt-orthonormalized
    var block = Array.tabulate(PcaComponents, dim)((j, i) =>
      StrictMath.sin((j * dim + i + 1).toDouble))
    def gramSchmidt(b: Array[Array[Double]]): Array[Array[Double]] = {
      val out = Array.ofDim[Double](b.length, dim)
      for (j <- b.indices) {
        val v = b(j).clone()
        for (k <- 0 until j) {
          val d = (0 until dim).map(i => v(i) * out(k)(i)).sum
          for (i <- 0 until dim) v(i) -= d * out(k)(i)
        }
        val norm = math.sqrt(v.map(x => x * x).sum)
        for (i <- 0 until dim) out(j)(i) = v(i) / norm
      }
      out
    }
    block = gramSchmidt(block)
    // one distributed pass: n·C·V for the current block (the matvec)
    def matvec(b: Array[Array[Double]]): Array[Array[Double]] = {
      val vLits = b.map(v => lit(v.map(_.toFloat)))
      val cs = b.map(v => (0 until dim).map(i => v(i) * mean(i)).sum)
      // s_j columns + the sentinel slot; ONE 65-key exchange
      val scored = e.select(
        Seq(posexplode(concat(col("embedding"),
          array(lit(1.0f)))).as(Seq("pos", "v"))) ++
        b.indices.map(j =>
          (org.apache.spark.sql.graft.FloatDotProduct(
            col("embedding"), vLits(j)) - lit(cs(j))).as(s"s$j")): _*)
      val aggCols = b.indices.map(j =>
        sum(col(s"s$j") * col("v").cast("double")).as(s"w$j"))
      val agg = scored.groupBy("pos")
        .agg(aggCols.head, aggCols.tail: _*)
        .collect().map(r => r.getInt(0) ->
          b.indices.map(j => r.getDouble(j + 1)).toArray).toMap
      b.indices.map { j =>
        val sumS = agg(dim)(j) // the sentinel slot = Σ s_d
        Array.tabulate(dim)(i => agg(i)(j) - sumS * mean(i))
      }.toArray
    }
    if (n == 0L) (mean, block, Array.fill(PcaComponents)(0.0), 0L)
    else {
    for (_ <- 1 to PcaIters) block = gramSchmidt(matvec(block))
    // Rayleigh-Ritz finish: with a nearly flat spectrum the block spans
    // the dominant subspace but its columns aren't individual
    // eigendirections — rotate by the eigenvectors of the small
    // M = VᵀCV (4×4 Jacobi on the driver) and sort by Ritz value.
    val raw = matvec(block)
    val small = Array.tabulate(PcaComponents, PcaComponents)((a, b) =>
      (0 until dim).map(i => block(a)(i) * raw(b)(i)).sum / n)
    val (ritzVals, rot) = jacobiSym(small)
    val order = ritzVals.indices.sortBy(j => -ritzVals(j))
    val comps = order.map { oj =>
      Array.tabulate(dim)(i =>
        (0 until PcaComponents).map(k => rot(k)(oj) * block(k)(i)).sum)
    }.toArray
    val eigen = order.map(ritzVals).toArray
    // sign pin: largest-|loading| coordinate positive (lowest index wins)
    for (j <- comps.indices) {
      val k = (0 until dim).maxBy(i => (math.abs(comps(j)(i)), -i))
      if (comps(j)(k) < 0) for (i <- 0 until dim) comps(j)(i) = -comps(j)(i)
    }
    (mean, comps, eigen, n)
    }
    }
  }

  /** Cyclic Jacobi for a small symmetric matrix: (eigenvalues,
    * eigenvector matrix with vectors in COLUMNS). Deterministic sweep
    * order; plenty for the 4×4 Ritz block. */
  private def jacobiSym(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val k = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(k, k)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until 30; p <- 0 until k; q <- p + 1 until k
         if math.abs(a(p)(q)) > 1e-14) {
      val phi = 0.5 * math.atan2(2 * a(p)(q), a(q)(q) - a(p)(p))
      val c = math.cos(phi); val s = math.sin(phi)
      for (i <- 0 until k) {
        val aip = a(i)(p); val aiq = a(i)(q)
        a(i)(p) = c * aip - s * aiq; a(i)(q) = s * aip + c * aiq
      }
      for (i <- 0 until k) {
        val api = a(p)(i); val aqi = a(q)(i)
        a(p)(i) = c * api - s * aqi; a(q)(i) = s * api + c * aqi
      }
      for (i <- 0 until k) {
        val vip = v(i)(p); val viq = v(i)(q)
        v(i)(p) = c * vip - s * viq; v(i)(q) = s * vip + c * viq
      }
    }
    (Array.tabulate(k)(i => a(i)(i)), v)
  }

  def embeddingPca(spark: SparkSession, dir: String): DataFrame = {
    val (_, block, eigen, nRows) = pcaModel(spark, dir)
    import spark.implicits._
    if (nRows == 0L)
      return Seq.empty[(Long, Long, Double, Double)]
        .toDF("comp_ix", "dim_ix", "loading", "eigenvalue")
    block.indices.flatMap { j =>
      block(j).indices.map { i =>
        (j.toLong, i.toLong,
          BigDecimal(block(j)(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          BigDecimal(eigen(j)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }
    }.toDF("comp_ix", "dim_ix", "loading", "eigenvalue")
  }

  /** Project every embedding onto the fitted components — the reduced
    * representation downstream dedup/ANN consume. Distributed map-only
    * projection under the broadcast 4×64 block. Rows-only (inherits the
    * fixpoint). */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val (mean, block, _, _) = pcaModel(spark, dir)
    val cs = block.map(v => v.indices.map(i => v(i) * mean(i)).sum)
    val vLits = block.map(v => lit(v.map(_.toFloat)))
    Corpus.table(spark, dir, "embeddings").select("vec_id", "embedding").select(
      Seq(col("vec_id")) ++ block.indices.map(j =>
        round(org.apache.spark.sql.graft.FloatDotProduct(
          col("embedding"), vLits(j)) - lit(cs(j)), 4)
          .cast("decimal(14,4)").cast("double").as(s"pc$j")): _*)
  }
}
