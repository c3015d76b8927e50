package graft

/** Thin job-submission surface — the Spark-native equivalent of the
  * reference's HTTP start trigger (mapphase/start.go:24-90: an HTTP
  * request names the input bucket and the controller fans the job out).
  * Here the "trigger" is `spark-submit` / `sbt runMain` with positional
  * args, and the fan-out is Spark's own scheduler:
  *
  *   runMain graft.Main <query|all|list> <sfDir> [outDir]
  *   runMain graft.Main sql "<statement>" <sfDir> [outDir]
  *
  *  - `list` prints every runnable query key (one per line) and exits.
  *  - `<query> <sfDir>` runs one SparkEntry query and prints its rows to
  *    stdout (show-style, capped) — the smoke-test mode.
  *  - `<query> <sfDir> <outDir>` writes the result as parquet part files
  *    to `<outDir>/<query>` — the production mode; `all` runs every query.
  *  - `sql "<statement>" <sfDir> [outDir]` runs ad-hoc ANSI SQL over the
  *    registered corpus tables (region…embeddings) with every graft SQL
  *    function available (sort_chars, shingle_poly_hash, minhash_sig,
  *    float_dot, …) — the `spark-sql`-equivalent entry into the engine.
  *
  * Session config mirrors Verify/Bench (local master is overridable via
  * SPARK_GRAFT_MASTER for a real cluster; shuffle partitions via
  * SPARK_GRAFT_CPUS so the same main scales from laptop to cluster). */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    if (args(0) == "list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    if (args.length < 2) { usage(); sys.exit(2) }
    val sqlMode = args(0) == "sql"
    if (sqlMode && args.length < 3) { usage(); sys.exit(2) }
    val (what, sfDir) = if (sqlMode) (args(1), args(2)) else (args(0), args(1))
    val outDir = args.lift(if (sqlMode) 3 else 2)
    val names =
      if (sqlMode) Seq("sql")
      else if (what == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (SparkEntry.queries.contains(what)) Seq(what)
      else {
        System.err.println(s"unknown query '$what' — see `graft.Main list`")
        sys.exit(2)
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    // SPARK_GRAFT_LOG=INFO surfaces per-job timings for plan profiling
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    try names.foreach { name =>
      val df =
        if (sqlMode) {
          graft.sources.Corpus.register(spark, sfDir)
          spark.sql(what)
        } else SparkEntry.queries(name)(spark, sfDir)
      outDir match {
        case Some(d) =>
          df.write.mode("overwrite").parquet(s"$d/$name")
          println(s"[graft] $name -> $d/$name")
        case None => df.show(50, truncate = false)
      }
    } finally spark.stop()
  }

  private def usage(): Unit =
    System.err.println(
      "usage: graft.Main <query|all|list> <sfDir> [outDir]\n" +
      "       graft.Main sql \"<statement>\" <sfDir> [outDir]\n" +
      "  env: SPARK_GRAFT_MASTER (default local[N]), SPARK_GRAFT_CPUS (N, default 4)")
}
