package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, explode}
import graft.functions.TextFns

object Bench {

  /** JVM-wide GC time (ms) summed over all collectors. */
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }
  /** Process CPU nanoseconds (com.sun.management extension, JDK 8+). */
  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
  /** 1-minute system load average (-1 when the platform hides it). */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** JVM/codegen warmup so the first measured query doesn't absorb
    * session startup: exercise the machinery every query shares (parquet
    * reader, shuffle, regex/split/explode codegen, md5) on a 64-row
    * sample. First-run numbers then measure each query's OWN work —
    * notably the one-time materialization of shared intermediates —
    * instead of whichever query happened to run first paying global JIT. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    graft.sources.Corpus.table(spark, sfDir, "documents").limit(64)
      .select(col("doc_id"), explode(TextFns.wsTokens(col("text"))).as("tok"))
      .where("tok RLIKE '^[a-z]+$'")
      .groupBy("tok").count()
      .selectExpr("md5(tok) AS h", "count").orderBy("h").limit(5).collect()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // box-load telemetry (VERDICT r8 #4): the r8 driver steady total came
    // out 1.8x the builder's same-commit idle-box run and nothing in the
    // artifact could attribute it. load avg before/after, JVM GC time and
    // process-CPU/wall let a reader separate query regressions from a
    // contended or memory-starved box: contention shows as high load with
    // low cpu/wall utilization; heap pressure shows as gc_ms.
    // Load gate (VERDICT r12 #8): BENCH_r12 ran at load 3.41 and read
    // 129.6 s where the same commit benched 90.8 s on a quiet box — an
    // adjudication burden every round it happens. If the box is busy at
    // startup, WAIT (bounded) for the 1-min load to drop below 2 before
    // measuring; the JSON records how long we waited and the load we gave
    // up at, so a still-loaded record is explicit instead of ambiguous.
    val loadAtStart = loadAvg
    // tolerant parse (the _halve_mem lesson): a malformed override must
    // cost the default, never the whole bench record
    val cooldownBudget =
      sys.env.get("GRAFT_BENCH_COOLDOWN_SECS").flatMap(_.toLongOption)
        .getOrElse {
          sys.env.get("GRAFT_BENCH_COOLDOWN_SECS").foreach(v =>
            System.err.println(
              s"[bench] unparseable GRAFT_BENCH_COOLDOWN_SECS '$v'; using 120"))
          120L
        }
    val cooldown0 = System.nanoTime()
    while (loadAvg > 2.0
        && (System.nanoTime() - cooldown0) / 1e9 < cooldownBudget)
      Thread.sleep(5000)
    val cooldownSec = (System.nanoTime() - cooldown0) / 1e9
    val loadBefore = loadAvg
    val gc0 = gcMs
    val cpu0 = cpuNanos
    val wall0 = System.nanoTime()
    warmUp(spark, sfDir)
    // Two runs per query; BOTH are reported (ADVICE r3). The min measures
    // the steady-state plan; the first run additionally pays one-time costs
    // — JIT, codegen, and crucially the materialization of any shared
    // intermediate (LSH signatures, pair graph, centroids) this query is
    // first to touch. min() alone would silently drop that work from the
    // totals. A query that throws is recorded as -1 (never as its
    // time-to-failure) and listed in "errors" so a broken query cannot
    // masquerade as fast.
    //
    // Evaluation is a noop-datasource WRITE, not count(): under count()
    // Catalyst prunes every column (the scan reads struct<> and the
    // projections vanish from the plan), so a map-only query would bench
    // an empty row-count scan instead of its real work. The noop sink
    // evaluates every output row fully and discards it.
    // Contention guard (VERDICT r10 #7): BENCH_r10 on a box with ~5 cores
    // already busy (load_before 4.76) read as a 73% regression that a
    // quiet-box same-commit re-run fully reversed. When the box is already
    // loaded at startup, take a THIRD steady pass per query and report
    // min-of-3 — one extra sample is cheap insurance against a busy
    // neighbor landing inside a 2-pass window. The `passes` telemetry
    // field records which mode ran.
    val passes = if (loadBefore > 2.0) 3 else 2
    // (min, first, per-pass times, load avg at measurement) per query.
    // Per-pass + per-query load (VERDICT r11 #7): the r11 record ran at
    // load 7.3 and still carried 8.5 s map-only outliers past the
    // min-of-3 guard — with each query's raw passes and the 1-min load
    // at its slot, a loaded-box record is self-diagnosing row-by-row
    // (pass spread >> min ⇒ neighbor contention, not a plan regression).
    val results = SparkEntry.queries.map { case (name, fn) =>
      val runs = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val ok = try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      val (min, first) =
        if (runs.forall(_._1)) (runs.map(_._2).min, runs.head._2) else (-1.0, -1.0)
      name -> (min, first, runs.map(_._2), loadAvg)
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val gcDeltaMs = gcMs - gc0
    val cpuSec = if (cpu0 < 0) -1.0 else (cpuNanos - cpu0) / 1e9
    val loadAfter = loadAvg
    // per-query maps print CHEAPEST-FIRST: the driver keeps the TAIL of
    // its capture (BENCH_r04/r05/r08 all clipped the front), so ascending
    // cost puts the heavy hitters — the rows a judge needs to spot a
    // regression — at the surviving end of the line.
    val ordered = results.toSeq.sortBy { case (_, (min, _, _, _)) => min }
    def jsonMap(sel: ((Double, Double, Seq[Double], Double)) => Double) = ordered
      .map { case (k, v) => s"\"" + k + "\":" + sel(v) }.mkString("{", ",", "}")
    val errors = results.collect { case (k, (v, _, _, _)) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val firstTotal = results.values.map(_._2).filter(_ >= 0).sum
    // explicit ROOT locale (ADVICE r9): under a comma-decimal default locale
    // f"$d%.2f" renders 0,95 and makes both bench JSON lines unparseable
    def f2(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    // raw pass times + load-at-slot, 2dp/1dp compact: ~8 KB for 215
    // queries — printed BEFORE the first/steady maps so a tail-truncated
    // capture sacrifices the diagnostics before the verdict data.
    val passesMap = ordered.map { case (k, (_, _, ts, _)) =>
      "\"" + k + "\":[" + ts.map(f2).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val loadMap = ordered.map { case (k, (_, _, _, ld)) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(ld)) }.mkString("{", ",", "}")
    val telemetry = s""""wall_sec":${f2(wallSec)},"cpu_sec":${f2(cpuSec)},""" +
      s""""cpu_util":${f2(if (wallSec > 0 && cpuSec >= 0) cpuSec / wallSec else -1.0)},""" +
      s""""gc_ms":$gcDeltaMs,"load_before":${f2(loadBefore)},"load_after":${f2(loadAfter)},""" +
      s""""load_at_start":${f2(loadAtStart)},"cooldown_sec":${f2(cooldownSec)},""" +
      s""""host_cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""passes":$passes"""
    // every headline scalar FIRST, the two long per-query maps LAST: the
    // driver's capture truncated BENCH_r04's tail, losing 16 timings AND
    // the totals — a clipped line now still carries every summary field.
    // Map order matters too (VERDICT r7 #2): the steady-state `queries`
    // map goes LAST so a truncation eats the first-run map (recoverable
    // locally) instead of the steady map a judge needs.
    println(s"""{"metric":"total","value":$total,"unit":"sec","first_total":$firstTotal,"n_queries":${results.size},"errors":$errors,$telemetry,"sf":"$sfDir","queries_load":$loadMap,"queries_passes":$passesMap,"queries_first":${jsonMap(_._2)},"queries":${jsonMap(_._1)}}""")
    // BENCH_r04 AND r05 show the driver keeps the TAIL of the capture, not
    // the head — the scalars-first line above lost its front both rounds.
    // Repeat the compact scalars as the FINAL line so a tail capture of any
    // length ≥ one line always contains the parseable totals.
    // "tail":true disambiguates this repeat from the full line above for
    // any JSON-lines consumer that keys on metric=="total"
    println(s"""{"metric":"total","tail":true,"value":$total,"unit":"sec","first_total":$firstTotal,"n_queries":${results.size},"errors":$errors,$telemetry,"sf":"$sfDir"}""")
    spark.stop()
  }
}
