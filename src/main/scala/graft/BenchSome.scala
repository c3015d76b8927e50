package graft

/** Local-iteration bench: times ONLY the queries named on the command line
  * (all of them, in name order, when none are named; same session config
  * and noop-sink methodology as [[Bench]]), printing per-pass seconds.
  * [[Bench]] is the full-sweep record; this exists so a single query can
  * be profiled without paying the full sweep.
  * `GRAFT_BENCH_EXPLAIN` set prints each query's formatted plan under a
  * `========== name ==========` line; with `SPARK_GRAFT_PASSES=0` that
  * plan dump is all it does (the plans are audited per SURVEY.md §7). */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = Session.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmUp(spark, sfDir)
    // per-query job/stage/task counters (scheduling-overhead attribution)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) taskMs.addAndGet(t.taskMetrics.executorRunTime)
    })
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to passes).map { _ =>
        val (j0, s0, k0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let listener events drain
        (dt, jobs.get - j0, stages.get - s0, tasks.get - k0, taskMs.get - m0)
      }
      if (sys.env.contains("GRAFT_BENCH_EXPLAIN")) {
        println(s"\n========== $name ==========")
        fn(spark, sfDir).explain("formatted")
      }
      val ts = runs.map(_._1)
      if (ts.nonEmpty)
        println(f"[benchsome] $name passes=${ts.map(t => f"$t%.3f").mkString(",")} min=${ts.min}%.3f " +
          runs.map(r => s"jobs=${r._2},stages=${r._3},tasks=${r._4},taskSec=${r._5 / 1000.0}").mkString(" | "))
    }
    spark.stop()
  }
}
