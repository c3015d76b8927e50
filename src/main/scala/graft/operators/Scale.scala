package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale techniques as reusable utilities (SURVEY.md §4). These are the
  * knobs a 100 TB deployment reaches for when AQE alone isn't enough:
  * salting for pathological key skew, bucketing for repeated co-located
  * joins on the same key.
  */
object Scale {

  /** Two-phase salted aggregation for skewed keys: phase 1 counts/sums on
    * (key, salt) so a hot key spreads over `buckets` reducers; phase 2
    * merges the (|keys| × buckets)-sized partials. Result ≡
    * `df.groupBy(key).agg(count, sum(valueCol))` for any salt function —
    * the salt only moves rows between reducers. */
  def saltedAgg(df: DataFrame, key: String, valueCol: String, buckets: Int): DataFrame =
    df
      .withColumn("__salt", pmod(hash(monotonically_increasing_id()), lit(buckets)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("sum_value"))

  /** Salted replicated-build join for skewed join keys — the manual form of
    * what AQE's skew-join does with runtime stats: the build side is
    * replicated `buckets`× (one copy per salt value) and the probe side
    * scatters each hot key over `buckets` reducers via a deterministic
    * per-row salt, so no single task takes a whole hot key. Result ≡
    * `probe.join(build, key)` for any salt expression. Build-side cost is
    * |build| × buckets rows — use for build sides too big to broadcast but
    * far smaller than the probe side. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      saltCol: org.apache.spark.sql.Column, buckets: Int): DataFrame =
    probe
      .withColumn("__salt", pmod(saltCol, lit(buckets)))
      // shuffle_hash pins the shuffled join the salt exists for — a build
      // side small enough for the planner to broadcast wouldn't need
      // salting in the first place
      .join(build.withColumn("__salt",
          explode(array((0 until buckets).map(lit): _*))).hint("shuffle_hash"),
        Seq(key, "__salt"))
      .drop("__salt")

  /** Write both sides bucketed+sorted by the join key so subsequent joins
    * need no exchange (bucket-pruned SortMergeJoin over co-located files).
    * The returned names are registered tables; join them with
    * autoBroadcastJoinThreshold=-1 to see the exchange-free plan. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Distributed DENSE RANK over arbitrary key columns without a
    * single-partition window (the unpartitioned-WindowExec scale-killer
    * PlanLintSpec bans): range-repartition on the keys, local dense ranks
    * per partition, then per-partition offsets from a collected
    * one-row-per-partition stats pass, adjusting when a key run spans a
    * partition boundary. Driver state is O(partitions). Rank is 1-based,
    * dense, and independent of the (sampled, possibly nondeterministic)
    * range boundaries. */
  def denseRankByRange(df: DataFrame, keyCols: Seq[String],
      rankCol: String): DataFrame = {
    val spark = df.sparkSession
    val np = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, 1)
    val sorted = df.repartitionByRange(np, keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)
    val schema = sorted.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val rdd = sorted.rdd
    def keyOf(r: org.apache.spark.sql.Row): Seq[Any] = keyIdx.map(r.get)
    // pass 1: per-partition distinct-key count + first/last key
    val stats = rdd.mapPartitionsWithIndex { (p, it) =>
      var n = 0L
      var first: Seq[Any] = null
      var prev: Seq[Any] = null
      it.foreach { r =>
        val k = keyOf(r)
        if (prev == null || k != prev) { n += 1; if (first == null) first = k }
        prev = k
      }
      Iterator.single((p, n, Option(first), Option(prev)))
    }.collect().sortBy(_._1)
    val offsets = Array.ofDim[Long](stats.length)
    var acc = 0L
    var lastKey: Option[Seq[Any]] = None
    stats.foreach { case (p, n, f, l) =>
      // a key run continuing across the boundary shares the previous rank
      val off = if (f.isDefined && f == lastKey) acc - 1 else acc
      offsets(p) = off
      acc = off + n
      if (l.isDefined) lastKey = l
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val ranked = rdd.mapPartitionsWithIndex { (p, it) =>
      val off = bc.value(p)
      var prev: Seq[Any] = null
      var ld = 0L
      it.map { r =>
        val k = keyOf(r)
        if (prev == null || k != prev) ld += 1
        prev = k
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (off + ld))
      }
    }
    spark.createDataFrame(ranked, org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        rankCol, org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Distributed EXCLUSIVE prefix sums of `valCol` in `idCol` order — the
    * same two-pass shape as [[denseRankByRange]] (range partition, local
    * cumulative, O(partitions) collected offsets); the global-window-free
    * way to lay documents end-to-end into one address space. */
  def exclusivePrefixSums(df: DataFrame, idCol: String, valCol: String,
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    val np = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, 1)
    val sorted = df.repartitionByRange(np, col(idCol))
      .sortWithinPartitions(col(idCol))
    val schema = sorted.schema
    val vIdx = schema.fieldIndex(valCol)
    val rdd = sorted.rdd
    val sums = rdd.mapPartitionsWithIndex { (p, it) =>
      Iterator.single((p, it.map(_.getLong(vIdx)).sum))
    }.collect().sortBy(_._1)
    val offsets = Array.ofDim[Long](sums.length)
    var acc = 0L
    sums.foreach { case (p, s) => offsets(p) = acc; acc += s }
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (p, it) =>
      var run = bc.value(p)
      it.map { r =>
        val row = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ run)
        run += r.getLong(vIdx)
        row
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Default per-partition row budget for [[loopSession]] — graph/model
    * rows are narrow (tens of bytes), so 1M rows ≈ tens of MB per task,
    * inside the guide's 100 MB–1 GB window with headroom for join state. */
  val LoopRowsPerPartition = 1000000L

  /** Iterative-fixpoint frames above this stay on the parent session
    * (AQE on, session shuffle sizing): at that size each round runs long
    * enough that AQE's per-exchange planning jobs are amortized and its
    * skew handling is worth keeping. Below it the loop's fixed-shape
    * per-round plans pay ~100 ms of driver round-trip per exchange —
    * across rounds×exchanges that overhead dominates the actual work
    * (measured: 161 AQE jobs / 21 s wall for a 10-round PageRank over a
    * 5-node graph whose total task time was 9 s spread over 251 tasks). */
  val LoopAqeOffMaxRows = 50000000L

  /** Run `body` with a session tuned for a BOUNDED ITERATIVE LOOP over
    * frames of roughly `rows` rows (graph edges, model tables): when the
    * loop is small enough that per-round driver overhead dominates
    * ([[LoopAqeOffMaxRows]]), the body gets a CLONED session (the
    * SuffixRepeats.withoutAqe discipline — shared SparkContext/cache,
    * isolated SQLConf, so nothing leaks to concurrent queries) with AQE
    * off and shuffle partitions derived from `rows` instead of the
    * session constant. Above the threshold the parent session is handed
    * back unchanged — at that scale AQE's skew splits matter more than
    * its planning round-trips. Both knobs are conf-overridable
    * (`graft.loopRowsPerPartition`, `graft.loopAqeOffMaxRows`) so a
    * cluster deployment can retune without code changes. Frames built
    * under the clone may escape (the clone shares the SparkContext);
    * durable results should be re-rooted via the PARENT session so
    * readers keep its adaptive behavior. */
  /** `roundLiterals`: set true when the loop embeds ROUND-VARYING literal
    * values in its plans (per-round normalization sums, rotated component
    * blocks): every round's generated source is then unique, Janino
    * compiles it fresh (~50-150 ms per fragment × fragments × rounds, on
    * stages whose task time is microseconds), and interpreted execution —
    * semantically identical by Spark's codegen contract — is cheaper.
    * Loops whose plan text is round-invariant (the argmax tokenizers, the
    * label-propagation rounds) compile once and hit the codegen cache, so
    * they keep codegen on. */
  def loopSession[A](spark: org.apache.spark.sql.SparkSession, rows: Long,
      roundLiterals: Boolean = false)(
      body: org.apache.spark.sql.SparkSession => A): A = {
    val aqeMax = spark.conf.getOption("graft.loopAqeOffMaxRows")
      .flatMap(_.toLongOption).getOrElse(LoopAqeOffMaxRows)
    if (rows > aqeMax) body(spark)
    else {
      val perPart = spark.conf.getOption("graft.loopRowsPerPartition")
        .flatMap(_.toLongOption).getOrElse(LoopRowsPerPartition)
      val parentP = spark.sessionState.conf.numShufflePartitions
      val p = math.max(1L, math.min(parentP.toLong,
        rows / math.max(perPart, 1L) + 1L)).toInt
      val cs = spark.newSession()
      spark.conf.getAll.foreach { case (k, v) =>
        try cs.conf.set(k, v)
        catch { case _: Exception => () } // static/immutable entries
      }
      cs.conf.set("spark.sql.adaptive.enabled", "false")
      cs.conf.set("spark.sql.shuffle.partitions", p.toString)
      if (roundLiterals) {
        cs.conf.set("spark.sql.codegen.wholeStage", "false")
        cs.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      body(cs)
    }
  }

  /** The persisted RDD behind a localCheckpoint'd frame (its LogicalRDD
    * leaf), tracked so a loop can release its per-round checkpoint blocks
    * once the result no longer reads them (ADVICE r3: clearAll on the
    * final frame alone left every round's blocks pinned). */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Release checkpoint blocks without blocking. Spark logs that a locally
    * checkpointed RDD cannot be recomputed once released; that is the
    * point — its readers are done. Failures (a stopped context) are
    * ignored. */
  def release(rdds: IterableOnce[org.apache.spark.rdd.RDD[_]]): Unit =
    rdds.iterator.foreach(r => try r.unpersist(false) catch { case _: Throwable => () })

  /** Re-root `df` under session `cs` (same SparkContext): the public-API
    * path is an RDD[Row] bridge, so downstream computes pay one
    * InternalRow→Row conversion per materialization — callers should
    * localCheckpoint the result once before looping over it. The result
    * is coalesced to the clone's shuffle sizing: the parent frame carries
    * the parent's partitioning (32-way for a few thousand rows at bench),
    * and without the narrow coalesce every map stage of every round still
    * fans out over near-empty tasks. */
  def rebind(cs: org.apache.spark.sql.SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq cs) df
    else {
      val p = cs.conf.getOption("spark.sql.shuffle.partitions")
        .flatMap(_.toIntOption).getOrElse(1)
      cs.createDataFrame(df.rdd, df.schema).coalesce(math.max(p, 1))
    }

  /** Hive-style partitioned layout (`out/col=value/part-*.parquet`): the
    * standard way a 100 TB corpus store is laid out so per-partition
    * queries (one language, one source, one dump date) read only matching
    * directories — the scan's PartitionFilters prune everything else
    * without touching file footers. */
  def writePartitioned(df: DataFrame, out: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(out)
}
