package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Registry of the per-(session, corpus) materialized intermediates
  * (LSH signatures, candidate pairs, component labels, simhashes, anagram
  * vocabulary, IVF centroids, gram frames). Each is persisted on first use
  * and shared by every consumer of the same corpus; a long-lived session
  * that finishes with a corpus calls `clearAll()` (or lets the caches die
  * with the session) so the pinned storage is released. */
object Materialized {

  private val caches =
    scala.collection.mutable.ListBuffer.empty[TrieMap[(String, String), DataFrame]]

  private val clearables = scala.collection.mutable.ListBuffer.empty[() => Unit]

  /** Called once per cache at object init; returns the cache for inline use. */
  private[graft] def register(
      c: TrieMap[(String, String), DataFrame]): TrieMap[(String, String), DataFrame] =
    caches.synchronized { caches += c; c }

  /** Register a non-DataFrame cache's reset hook so clearAll() covers it
    * (e.g. Curation's memoized broadcast-cap probe decisions). */
  private[graft] def registerClearable(f: () => Unit): Unit =
    caches.synchronized { clearables += f }

  /** Cache key scoped to the SparkSession INSTANCE, not just the
    * application: `SparkSession.newSession()` clones share an applicationId
    * but carry independent conf/UDF state, so a frame resolved under one
    * session must not be served to another (ADVICE r3). The identity hash
    * disambiguates sessions within the app; applicationId separates
    * distinct local test apps that could reuse identity hashes after GC. */
  private[graft] def sessionKey(spark: SparkSession, dir: String): (String, String) =
    (spark.sparkContext.applicationId + ":" +
      java.lang.System.identityHashCode(spark).toHexString, dir)

  /** Race-safe get-or-materialize: TrieMap.getOrElseUpdate may evaluate the
    * by-name default concurrently in two threads, and the loser's persisted
    * frame would leak storage with no owner (ADVICE r3). putIfAbsent
    * resolves the race and the loser is explicitly unpersisted. `build`
    * must return an already-persisted frame. */
  private[graft] def cached(cache: TrieMap[(String, String), DataFrame],
      spark: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    val key = sessionKey(spark, dir)
    cache.get(key) match {
      case Some(df) => df
      case None =>
        val built = build
        cache.putIfAbsent(key, built) match {
          case Some(winner) =>
            try built.unpersist() catch { case _: Throwable => () }
            winner
          case None => built
        }
    }
  }

  /** Number of live materialized frames (diagnostics/tests). */
  def size: Int = caches.synchronized(caches.map(_.size).sum)

  /** Unpersist and forget every materialized intermediate, in every
    * registered cache. (dedupComponents releases its per-round checkpoint
    * blocks inline once the final labels are persisted, so the cached
    * frames are the only pinned storage.) Safe to call with stopped
    * sessions (unpersist failures are swallowed); subsequent queries
    * re-materialize. */
  def clearAll(): Unit =
    caches.synchronized {
      caches.foreach { c =>
        c.values.foreach(df => try df.unpersist() catch { case _: Throwable => () })
        c.clear()
      }
      clearables.foreach(f => try f() catch { case _: Throwable => () })
    }
}
