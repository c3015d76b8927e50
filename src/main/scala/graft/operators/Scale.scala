package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Scale techniques as reusable utilities (SURVEY.md §4). These are the
  * knobs a 100 TB deployment reaches for when AQE alone isn't enough:
  * salting for pathological key skew, bucketing for repeated co-located
  * joins on the same key.
  *
  * It is also the one owner of iterative loops: every bounded fixpoint
  * loop runs in a [[loop]] scope, and no other code takes a
  * `localCheckpoint` (LoopScopeSpec's source gate; 4 one-shot query
  * builds in `Relational` are listed there). The scope guarantees:
  *  - one session rule: a clone with AQE off and [[loopParts]] shuffle
  *    partitions below [[LoopAqeOffMaxRows]] rows, the parent above;
  *  - every checkpoint the body takes through the scope — those that
  *    size the loop included — is released by [[Loop.release]] or when
  *    the scope exits, on a normal return, an early return or an
  *    exception;
  *  - on exit the clone's conf that the scope set goes back to the
  *    parent's effective values, for frames that escape the clone;
  *  - a returned frame that still reads one of the scope's checkpoints
  *    throws IllegalStateException: a checkpoint is never released before
  *    its last reader;
  *  - durable results ([[Loop.finish]]) are rooted at scratch parquet
  *    under [[scratchBase]] and read back on the parent session.
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

  /** Distributed EXCLUSIVE prefix sums of `valCol` in `idCol` order:
    * range partition, local cumulative sums, then per-partition offsets
    * from O(partitions) collected totals — the global-window-free way to
    * lay documents end-to-end into one address space. */
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

  /** Per-partition row budget of a loop session: loop state is narrow
    * rows (graph edges, model tables, tens of bytes each), so 1M rows ≈
    * tens of MB per task, inside the guide's 100 MB–1 GB window with
    * headroom for join state. */
  val LoopRowsPerPartition = 1000000L

  /** Loops over more rows than this run on the parent session (AQE on,
    * session shuffle sizing): at that size each round runs long enough
    * that AQE's per-exchange planning jobs are amortized and its skew
    * handling is worth keeping. Below it a loop's fixed-shape per-round
    * plans pay ~100 ms of driver round-trip per exchange — across
    * rounds×exchanges that overhead dominates the actual work (measured:
    * 161 AQE jobs / 21 s wall for a 10-round PageRank over a 5-node graph
    * whose total task time was 9 s spread over 251 tasks). */
  val LoopAqeOffMaxRows = 50000000L

  /** Shuffle partitions for `rows` rows of loop state: one per
    * [[LoopRowsPerPartition]], at most the session's own count. Loop
    * sessions use it, and so do the persisted per-corpus artifacts sized
    * by their row count. */
  def loopParts(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      rows / LoopRowsPerPartition + 1L)).toInt

  /** The shared-storage base for durable scratch writes: `graft.scratchDir`,
    * else the driver's tmp dir. A cluster's executors commit parquet parts
    * to their own disks, so on anything but a single host the tmp-dir
    * fallback would read back partial data; it fails fast instead.
    * local-cluster[…] (the multi-JVM smoke) is single-host, so its tmp dir
    * is shared. */
  def scratchBase(spark: SparkSession): String =
    scratchBase(spark.sparkContext.master, spark.conf.getOption("graft.scratchDir"))
      .getOrElse(s"${sys.props("java.io.tmpdir")}/graft-scratch-${spark.sparkContext.applicationId}")

  /** The configured scratch dir, or None where the tmp dir is shared;
    * throws on a multi-node master with none configured. */
  private[graft] def scratchBase(master: String, scratchDir: Option[String]): Option[String] =
    scratchDir.orElse {
      require(master == "local" || master.startsWith("local[") ||
        master.startsWith("local-cluster["),
        s"graft.scratchDir must point at shared storage (HDFS/S3/NFS) when " +
          s"running on a multi-node cluster (master=$master); the " +
          "java.io.tmpdir fallback is only correct on a single host")
      None
    }

  /** The handle a [[loop]] body works through. */
  final class Loop private[Scale] (parent: SparkSession, roundLiterals: Boolean) {
    private var cs: SparkSession = null
    private var tuned = Seq.empty[String]
    private val held = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]
    private val taken = scala.collection.mutable.Set.empty[Int]

    /** Pick the session for a loop over about `rows` rows, once: the
      * parent above [[LoopAqeOffMaxRows]], else a clone with AQE off and
      * [[loopParts]] shuffle partitions. `roundLiterals` loops also run
      * interpreted. */
    def sized(rows: Long): SparkSession = {
      require(cs == null, "the loop is already sized")
      cs =
        if (rows > LoopAqeOffMaxRows) parent
        else {
          val c = parent.newSession()
          parent.conf.getAll.foreach { case (k, v) =>
            try c.conf.set(k, v)
            catch { case _: Exception => () } // static/immutable entries
          }
          val set = Seq("spark.sql.adaptive.enabled" -> "false",
            "spark.sql.shuffle.partitions" -> loopParts(parent, rows).toString) ++
            (if (roundLiterals) Seq("spark.sql.codegen.wholeStage" -> "false",
              "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Nil)
          set.foreach { case (k, v) => c.conf.set(k, v) }
          tuned = set.map(_._1)
          c
        }
      cs
    }

    /** Re-root `df` under the loop session (same SparkContext): the
      * public-API path is an RDD[Row] bridge, so downstream computes pay
      * one InternalRow→Row conversion per materialization — checkpoint the
      * result once before looping over it. The result is coalesced to the
      * loop's shuffle sizing: the parent frame carries the parent's
      * partitioning (32-way for a few thousand rows at bench), and without
      * the narrow coalesce every map stage of every round still fans out
      * over near-empty tasks. */
    def rebind(df: DataFrame): DataFrame = {
      require(cs != null, "size the loop before rebinding to its session")
      if (df.sparkSession eq cs) df
      else cs.createDataFrame(df.rdd, df.schema)
        .coalesce(cs.sessionState.conf.numShufflePartitions)
    }

    /** `ds.localCheckpoint(eager)`, owned by this loop: released by
      * [[release]] or when the loop exits. */
    def checkpoint[T](ds: Dataset[T], eager: Boolean = false): Dataset[T] = {
      val c = ds.localCheckpoint(eager)
      rdds(c).foreach { r => held(r.id) = r; taken += r.id }
      c
    }

    /** Free checkpoint `ds` now: its last reader is done. */
    def release(ds: Dataset[_]): Unit =
      rdds(ds).flatMap(r => held.remove(r.id)).foreach(unpersist)

    /** Durable finish: write the (bounded) final frame to scratch parquet
      * and serve the persisted, counted read-back on the parent session.
      * Checkpoint lineage is unrecoverable once released, so the result is
      * rooted at a file scan instead: it survives losing every cached
      * block for one bounded write, and readers keep the parent's conf. */
    def finish(tag: String, df: DataFrame): DataFrame = {
      val path = s"${scratchBase(parent)}/$tag"
      df.write.mode("overwrite").parquet(path)
      val out = parent.read.parquet(path).persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }

    /** The RDDs `ds` scans (a checkpoint is a LogicalRDD leaf). */
    private def rdds(ds: Dataset[_]): Seq[RDD[_]] =
      ds.queryExecution.analyzed.collectLeaves().collect {
        case l: LogicalRDD => l.rdd
      }

    private[Scale] def reads(ds: Dataset[_]): Boolean =
      rdds(ds).exists(r => taken(r.id))

    /** Release what is still held; hand frames that escape a clone the
      * parent's effective conf for everything the loop set. */
    private[Scale] def close(): Unit = {
      held.values.foreach(unpersist)
      held.clear()
      if (cs != null && (cs ne parent))
        tuned.foreach(k => cs.conf.set(k, parent.sessionState.conf.getConfString(k)))
    }

    /** Spark logs that a locally checkpointed RDD cannot be recomputed
      * once released; that is the point. Failures (a stopped context) are
      * ignored. */
    private def unpersist(r: RDD[_]): Unit =
      try r.unpersist(blocking = false) catch { case _: Throwable => () }
  }

  /** Run a BOUNDED ITERATIVE LOOP (graph rounds, model fits, tokenizer
    * merges, suffix doubling) as one scope that owns its session and
    * every checkpoint it takes (the guarantees are in the header). The
    * body sizes the loop once ([[Loop.sized]], after counting any inputs
    * it checkpointed for that), re-roots inputs with [[Loop.rebind]],
    * truncates per-round lineage with [[Loop.checkpoint]] and may free a
    * checkpoint early with [[Loop.release]]. The clone shares the
    * SparkContext, block manager and cache but owns an isolated SQLConf,
    * so nothing leaks to concurrent queries on other threads; it copies
    * the parent's runtime conf once, at [[Loop.sized]].
    *
    * `roundLiterals`: set true when the loop embeds ROUND-VARYING literal
    * values in its plans (per-round normalization sums, rotated component
    * blocks): every round's generated source is then unique, Janino
    * compiles it fresh (~50-150 ms per fragment × fragments × rounds, on
    * stages whose task time is microseconds), and interpreted execution —
    * semantically identical by Spark's codegen contract — is cheaper.
    * Loops whose plan text is round-invariant (the argmax tokenizers, the
    * label-propagation rounds) compile once and hit the codegen cache, so
    * they keep codegen on. */
  def loop[A](spark: SparkSession, roundLiterals: Boolean = false)(
      body: Loop => A): A = {
    val lp = new Loop(spark, roundLiterals)
    try {
      val out = body(lp)
      out match {
        case ds: Dataset[_] if lp.reads(ds) =>
          throw new IllegalStateException(
            "a loop returned a frame that reads its own checkpoint; " +
              "finish it durably or collect it inside the loop")
        case _ => out
      }
    } finally lp.close()
  }

  /** Hive-style partitioned layout (`out/col=value/part-*.parquet`): the
    * standard way a 100 TB corpus store is laid out so per-partition
    * queries (one language, one source, one dump date) read only matching
    * directories — the scan's PartitionFilters prune everything else
    * without touching file footers. */
  def writePartitioned(df: DataFrame, out: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(out)
}
