// Lives under org.apache.spark.sql: the one-sort prefix-doubling rank pass
// needs `SparkSession.internalCreateDataFrame` (private[sql]) to hand its
// UnsafeRow output straight back to Catalyst without a Row conversion.
package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The Tungsten-resident core of the distributed suffix-index build
  * (graft.operators.SuffixRepeats): one prefix-doubling level = rank the
  * corpus by its (rank, rank_shifted) key WITHOUT an unpartitioned window,
  * and emit ONLY the level's ACTIVE SET — rows that are valid (the whole
  * block fits its document) and whose key class has >= 2 valid members.
  * Singleton classes are frozen forever (a position with a globally unique
  * block can never join a repeat family at any finer level; its successors
  * are represented synthetically by the caller), so the sort/join/cache
  * volume of every subsequent level collapses to the corpus's actual
  * repeat mass — at 100 TB, the boilerplate fraction, not the corpus.
  *
  * vs the generic Row-level distributed dense rank (a range-sort, a
  * per-partition stats pass and a ranked re-emission, since deleted) plus
  * a separate dup-test aggregation that this replaced (VERDICT r8 "What's
  * wrong" #1):
  *
  *  - **One range-sort per level, not two, and no third dup-test shuffle.**
  *    The sorted level is persisted ONCE as serialized UnsafeRows; the
  *    stats pass materializes it, the active-set emission replays from
  *    cache, and the loop-termination test (`hasValidDup` = "the active
  *    set is nonempty") falls out of the same per-partition stats.
  *  - **No Row boxing.** Rows stay InternalRow end to end: stats and
  *    emission read `getLong` straight off UnsafeRows; output rows are
  *    written with a reused UnsafeRowWriter (all-fixed-width, zeroed once)
  *    and handed back via internalCreateDataFrame. The old path paid
  *    `Row.fromSeq(r.toSeq :+ rank)` per corpus character per level.
  *  - **O(partitions) driver state.** Rank offsets AND the class-size
  *    decisions for runs spanning partition boundaries are chained on the
  *    driver from per-partition (first/last key, valid-count) stats; runs
  *    wholly inside a partition are decided locally in the emission pass
  *    (middle runs buffer at most one in-partition key run).
  *
  * Input contract: columns `(gpos, doc_id, pos, doc_len, k1[, k2])`, all
  * LongType, `numKeys` in {1, 2}, sorted-key runs = key classes. Output
  * frame: `(gpos, doc_id, pos, doc_len, rank)`; rank is 1-based and dense
  * over ALL key classes of the input in key order (emitted rows skip the
  * ranks of frozen classes — consumers use rank for equality only). The
  * caller owns `storage` and must unpersist it when the level dies.
  */
object RangeRank {

  final case class Ranked(frame: DataFrame, hasValidDup: Boolean,
      storage: RDD[InternalRow])

  private val OutSchema = StructType(
    Seq("gpos", "doc_id", "pos", "doc_len", "rank")
      .map(n => StructField(n, LongType, nullable = false)))

  /** Per-partition pass-1 stats: rank offsets + run/valid-count evidence.
    * firstRunValid/lastRunValid are the partition-local VALID counts of its
    * first and last key run (equal when the partition is a single run). */
  private final case class PartStats(pid: Int, nonEmpty: Boolean,
      nDistinct: Long, firstK1: Long, firstK2: Long, lastK1: Long,
      lastK2: Long, anyLocalDup: Boolean, firstRunValid: Long,
      lastRunValid: Long)

  def rankLevel(df: DataFrame, numKeys: Int, block: Long): Ranked = {
    require(numKeys == 1 || numKeys == 2, s"numKeys=$numKeys")
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val np = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, 1)
    val names = df.columns
    val keyCols = (0 until numKeys).map(i => col(names(4 + i)))
    val sorted = df.repartitionByRange(np, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    val twoKeys = numKeys == 2
    // serialized UnsafeRows: ~48 B/row with no per-object heap overhead;
    // rows must be copied out of the sort's reused buffer before caching
    val sortedRdd = sorted.queryExecution.toRdd
      .mapPartitions(it => it.map(_.copy()))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)

    // ---- pass 1 (materializes the cache): O(partitions) collected ----
    val stats = sortedRdd.mapPartitionsWithIndex { (p, it) =>
      var any = false
      var nDist = 0L
      var firstK1 = 0L; var firstK2 = 0L
      var prevK1 = 0L; var prevK2 = 0L
      var runValid = 0L
      var firstRunValid = -1L
      var localDup = false
      while (it.hasNext) {
        val r = it.next()
        val k1 = r.getLong(4)
        val k2 = if (twoKeys) r.getLong(5) else 0L
        if (!any) {
          any = true; nDist = 1; firstK1 = k1; firstK2 = k2
        } else if (k1 != prevK1 || k2 != prevK2) {
          if (runValid >= 2) localDup = true
          if (firstRunValid < 0) firstRunValid = runValid
          nDist += 1
          runValid = 0
        }
        if (r.getLong(2) + block <= r.getLong(3)) runValid += 1
        prevK1 = k1; prevK2 = k2
      }
      if (any) {
        if (runValid >= 2) localDup = true
        if (firstRunValid < 0) firstRunValid = runValid // single-run partition
      }
      Iterator.single(PartStats(p, any, nDist, firstK1, firstK2, prevK1,
        prevK2, localDup, math.max(firstRunValid, 0L), runValid))
    }.collect().sortBy(_.pid)

    // ---- driver: rank offsets + boundary-run class decisions ----
    val nParts = stats.length
    val offsets = new Array[Long](nParts)
    val nDistArr = new Array[Long](nParts)
    val firstOk = new Array[Boolean](nParts)
    val lastOk = new Array[Boolean](nParts)
    // a run local to one partition with >= 2 valid members is a dup class
    var dup = stats.exists(_.anyLocalDup)
    // the key run currently open at the chain tail: accumulated valid
    // count + the partitions whose first/last-run flags it will resolve
    var chainOpen = false
    var chainTotal = 0L
    var chainK1 = 0L; var chainK2 = 0L
    val chainMembers = ArrayBuffer.empty[(Int, Boolean, Boolean)]
    def closeChain(): Unit = if (chainOpen) {
      val ok = chainTotal >= 2
      if (ok) dup = true
      chainMembers.foreach { case (pid, coversFirst, coversLast) =>
        if (coversFirst) firstOk(pid) = ok
        if (coversLast) lastOk(pid) = ok
      }
      chainMembers.clear()
      chainOpen = false
      chainTotal = 0L
    }
    def openChain(total: Long, k1: Long, k2: Long,
        member: (Int, Boolean, Boolean)): Unit = {
      chainOpen = true; chainTotal = total; chainK1 = k1; chainK2 = k2
      chainMembers += member
    }
    var acc = 0L
    stats.foreach { s =>
      nDistArr(s.pid) = s.nDistinct
      if (!s.nonEmpty) offsets(s.pid) = acc // empty ranges pass chains through
      else {
        val continues = chainOpen && s.firstK1 == chainK1 && s.firstK2 == chainK2
        offsets(s.pid) = if (continues) acc - 1 else acc
        acc = offsets(s.pid) + s.nDistinct
        if (continues) {
          chainTotal += s.firstRunValid
          if (s.nDistinct == 1) chainMembers += ((s.pid, true, true))
          else {
            chainMembers += ((s.pid, true, false))
            closeChain()
            openChain(s.lastRunValid, s.lastK1, s.lastK2, (s.pid, false, true))
          }
        } else {
          closeChain()
          if (s.nDistinct == 1)
            openChain(s.firstRunValid, s.lastK1, s.lastK2, (s.pid, true, true))
          else {
            firstOk(s.pid) = s.firstRunValid >= 2 // wholly local first run
            openChain(s.lastRunValid, s.lastK1, s.lastK2, (s.pid, false, true))
          }
        }
      }
    }
    closeChain()

    // ---- pass 2 (lazy, replays from cache): emit the active set ----
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcN = spark.sparkContext.broadcast(nDistArr)
    val bcFirst = spark.sparkContext.broadcast(firstOk)
    val bcLast = spark.sparkContext.broadcast(lastOk)
    val ranked = sortedRdd.mapPartitionsWithIndex { (p, it) =>
      val off = bcOff.value(p)
      val nDist = bcN.value(p)
      val pFirstOk = bcFirst.value(p)
      val pLastOk = bcLast.value(p)
      // all five output fields are fixed-width longs, so one writer is
      // zeroed once and refilled in place; downstream exchanges/aggregates
      // copy rows they retain (the standard operator-output contract)
      val writer = new UnsafeRowWriter(5)
      writer.reset()
      writer.zeroOutNullBytes()
      val peeked = it.buffered
      new scala.collection.AbstractIterator[InternalRow] {
        // first/last runs may span partitions: their class decision comes
        // pre-chained from the driver and they STREAM. Middle runs are
        // wholly in-partition: buffer one run's valid rows (cache-fresh
        // objects, safe to hold), decide locally, drain.
        private var runIdx = 0L
        private var curK1 = 0L; private var curK2 = 0L
        private var streamMode = false
        private var streamOk = false
        private val q = new java.util.ArrayDeque[InternalRow]()
        private var nextUp: InternalRow = null

        private def sameRun(r: InternalRow): Boolean =
          r.getLong(4) == curK1 && (!twoKeys || r.getLong(5) == curK2)
        private def valid(r: InternalRow): Boolean =
          r.getLong(2) + block <= r.getLong(3)

        private def advance(): Unit = {
          while (true) {
            if (!q.isEmpty) { nextUp = q.poll(); return }
            if (streamMode) {
              while (peeked.hasNext && sameRun(peeked.head)) {
                val r = peeked.next()
                if (streamOk && valid(r)) { nextUp = r; return }
              }
              streamMode = false
            }
            if (!peeked.hasNext) return
            runIdx += 1
            val h = peeked.head
            curK1 = h.getLong(4)
            curK2 = if (twoKeys) h.getLong(5) else 0L
            if (runIdx == 1L) { streamMode = true; streamOk = pFirstOk }
            else if (runIdx == nDist) { streamMode = true; streamOk = pLastOk }
            else {
              var cnt = 0
              while (peeked.hasNext && sameRun(peeked.head)) {
                val r = peeked.next()
                if (valid(r)) { q.add(r); cnt += 1 }
              }
              if (cnt < 2) q.clear()
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextUp == null) advance()
          nextUp != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = nextUp
          nextUp = null
          writer.write(0, r.getLong(0))
          writer.write(1, r.getLong(1))
          writer.write(2, r.getLong(2))
          writer.write(3, r.getLong(3))
          writer.write(4, off + runIdx)
          writer.getRow
        }
      }
    }
    Ranked(spark.internalCreateDataFrame(ranked, OutSchema), dup, sortedRdd)
  }
}
