package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder every graft main (and the test suites)
  * starts from. It carries the settings all of them share: no UI, a UTC
  * session time zone (the NTZ → epoch-seconds path of `Relational.evSec`
  * depends on it), the [[GraftExtensions]] SQL functions, and
  * TIMESTAMP(NANOS) parquet columns read as epoch-nano longs. Each caller
  * picks its own master and shuffle partitions. */
object Session {
  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** [[builder]] on `local[cpus]` with one shuffle partition per core. */
  def local(cpus: String): SparkSession.Builder =
    builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
}
