package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder every graft main (and the test suites)
  * starts from. It carries the settings all of them share: no UI, a UTC
  * session time zone (the NTZ → epoch-seconds path of `Relational.evSec`
  * depends on it), the [[GraftExtensions]] SQL functions, and
  * TIMESTAMP(NANOS) parquet columns read as epoch-nano longs, and a
  * codegen cache that holds the whole inventory under class names free of
  * stage ids. Each caller picks its own master and shuffle partitions. */
object Session {

  /** Entries of Spark's JVM-wide cache of generated classes, a static conf
    * read once when the first class compiles. Spark's default of 100 is
    * far below what graft's queries generate: one pass over all 284 keys
    * at sf0.01 compiles 3,730 distinct classes, and a second pass adds 128
    * more. At 100, a session that interleaves queries evicts and recompiles
    * most classes on every pass; 6,000 keeps two passes' worth with room
    * for plans that change with the data scale. */
  val CodegenCacheEntries = 6000

  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    // a whole-stage class named for its codegen stage id is new source
    // whenever a plan's independent subtrees are numbered in another
    // order, which varies from run to run; without the id, a rerun of an
    // unchanged plan finds its classes in the cache above
    .config("spark.sql.codegen.useIdInClassName", "false")

  /** [[builder]] on `local[cpus]` with one shuffle partition per core. */
  def local(cpus: String): SparkSession.Builder =
    builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
}
