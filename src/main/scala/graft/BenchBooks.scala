package graft

/** Times the reference's headline workload (raw book files → anagram part
  * files) for BASELINE.md: the reference README reports "under 20 seconds"
  * for 100 books (~43 MB) on its deployed GCP pipeline. */
object BenchBooks {
  def main(args: Array[String]): Unit = {
    val Array(booksDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // JVM warmup
    // best of 2 in one JVM (same methodology as graft.Bench): the first run
    // carries codegen/classload for this plan, the second measures the plan
    var n = 0L
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      n = graft.sources.GutenbergSource.anagramsFromBooks(spark, booksDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // explicit ROOT locale: a comma-decimal default locale would render
    // 1,873 and break the JSON line (the Bench.f2 fix, applied here too)
    def f3(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    println(s"""{"metric":"anagrams_from_books","groups":$n,"value":${f3(times.min)},"first_run":${f3(times.head)},"unit":"sec"}""")
    spark.stop()
  }
}
