package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** The one keyed store of the per-(session, corpus) artifacts that queries
  * share, and the one place that decides how they are keyed, stored,
  * shared and released.
  *
  * Key: `(sessionKey(spark, dir), name)`. `name` is the artifact's one
  * name in the code base (a parametric family spells its parameter into
  * it, `s"gramCounts/$k"`); MaterializedSpec's source gate checks that no
  * two call sites share one.
  *
  * [[frame]] holds materialized intermediates (LSH signatures, candidate
  * pairs, component labels, gram frames, trained merge tables). It
  * persists what its build returns at MEMORY_AND_DISK unless that frame is
  * already cached — a durable finish's persisted read-back, or a frame
  * persisted at another level — so a build never ends in `.persist`.
  *
  * [[value]] holds driver-side results: fitted models, trained tokenizer
  * state, pinned schemas, broadcast-probe decisions. A value that pins
  * storage of its own passes the function that releases it.
  *
  * Two threads may build the same key at once; putIfAbsent picks the
  * winner and the loser's storage is released. `clearAll()` unpersists
  * every frame, releases every value and forgets both (or they die with
  * the session); later queries rebuild. */
object Materialized {

  private type Key = ((String, String), String)

  private val frames = TrieMap.empty[Key, DataFrame]
  private val values = TrieMap.empty[Key, (Any, () => Unit)]

  /** Cache key scoped to the SparkSession INSTANCE, not just the
    * application: `SparkSession.newSession()` clones share an applicationId
    * but carry independent conf/UDF state, so a frame resolved under one
    * session must not be served to another (ADVICE r3). The identity hash
    * disambiguates sessions within the app; applicationId separates
    * distinct local test apps that could reuse identity hashes after GC. */
  private[graft] def sessionKey(spark: SparkSession, dir: String): (String, String) =
    (spark.sparkContext.applicationId + ":" +
      java.lang.System.identityHashCode(spark).toHexString, dir)

  private def quietly(f: => Unit): Unit = try f catch { case _: Throwable => () }

  /** Race-safe get-or-make: a concurrent loser's artifact is dropped. */
  private def resolve[A](store: TrieMap[Key, A], key: Key)(make: => A)(
      drop: A => Unit): A =
    store.getOrElse(key, {
      val made = make
      store.putIfAbsent(key, made) match {
        case Some(winner) => quietly(drop(made)); winner
        case None => made
      }
    })

  /** The frame `name` over corpus `dir` in this session, built and
    * persisted on first use. */
  private[graft] def frame(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    resolve(frames, (sessionKey(spark, dir), name)) {
      val built = build
      if (built.storageLevel == StorageLevel.NONE)
        built.persist(StorageLevel.MEMORY_AND_DISK)
      else built
    }(_.unpersist())

  /** The driver-side value `name` over `dir` in this session, fitted on
    * first use; `release` frees what the value pins when it is dropped. */
  private[graft] def value[V](spark: SparkSession, dir: String, name: String)(
      fit: => V, release: V => Unit = (_: V) => ()): V =
    resolve(values, (sessionKey(spark, dir), name)) {
      val v = fit
      (v: Any, () => release(v))
    }(_._2())._1.asInstanceOf[V]

  /** Number of live materialized frames (diagnostics/tests). */
  def size: Int = frames.size

  /** Unpersist and forget every frame, release and forget every value.
    * Safe to call with stopped sessions (release failures are
    * swallowed); subsequent queries re-materialize. */
  def clearAll(): Unit = {
    frames.keys.foreach(k => frames.remove(k).foreach(df => quietly(df.unpersist())))
    values.keys.foreach(k => values.remove(k).foreach(v => quietly(v._2())))
  }
}
