package perfbench

import java.lang.management.ManagementFactory
import java.util.Locale
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. Drives graft only through its public entry
  * points (`GutenbergSource.writeAnagramParts`, `SparkEntry.queries`) from
  * one client thread in a closed loop, and prints one JSON object per line
  * on stdout:
  *
  *  - `{"ev":"ready"}` once the session is up and the warm-up query ran;
  *  - `{"ev":"op",...}` per timed operation (a books pass, or one query);
  *  - `{"ev":"layers",...}` per pass when tracing (listener totals);
  *  - `{"ev":"end",...}` with process-level figures.
  *
  * Usage:
  * {{{
  *   Harness setup <workDir>
  *   Harness run <books|query_mix> <inputDir> <workDir> <seconds> <seed>
  *               <trace 0|1> <minWarmPasses> <maxPasses> [key,key,...]
  * }}}
  */
object Harness {

  val Cores = 4

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(Locale.ROOT, "%.6f", Double.box(d))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** One JSON object from (key, already-rendered value) pairs. */
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  private val out = new java.io.PrintStream(
    new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
  def emit(line: String): Unit = out.synchronized(out.println(line))

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on one clock. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Heap the session still holds after full collections, in MB: shared
    * caches, broadcast and plan state, not garbage. A collection lets
    * Spark's ContextCleaner free the broadcasts and shuffles it found
    * unreachable, on its own thread, so collections repeat until a reading
    * no longer falls (by at most 10 rounds). */
  def liveHeapMb: Double = {
    def collected(): Double = {
      System.gc(); System.gc(); Thread.sleep(300)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collected()
    var rounds = 1
    var next = collected()
    while (next < last - 0.5 && rounds < 10) {
      last = next; next = collected(); rounds += 1
    }
    math.min(last, next)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** The ready event: where set-up time went, in ms since JVM start. */
  def ready(atMain: Double, atSession: Double): String = {
    val up = ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    obj("ev" -> str("ready"), "main_ms" -> num(atMain),
      "session_ms" -> num(atSession - atMain), "warmup_ms" -> num(up - atSession))
  }
  def uptimeMs: Double = ManagementFactory.getRuntimeMXBean.getUptime.toDouble

  /** A local session configured like graft.Bench; `created` is called
    * between session creation and the warm-up query. */
  def session(workDir: String, created: () => Unit = () => ()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    created()
    // the fixed warm-up query graft.Bench runs before measuring
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: workDir :: Nil =>
      val atMain = uptimeMs
      var atSession = 0.0
      val spark = session(workDir, () => atSession = uptimeMs)
      emit(ready(atMain, atSession))
      // a set-up probe has nothing to flush: skip the orderly shutdown
      Runtime.getRuntime.halt(0)
    case "run" :: workload :: inputDir :: workDir :: seconds :: seed ::
        trace :: minWarm :: maxPasses :: keys =>
      new Run(workload, inputDir, workDir, seconds.toDouble, seed.toLong,
        trace == "1", minWarm.toInt, maxPasses.toInt,
        keys.headOption.toSeq.flatMap(_.split(",")).filter(_.nonEmpty)).run()
    case _ =>
      System.err.println("usage: Harness setup <workDir> | Harness run " +
        "<workload> <inputDir> <workDir> <seconds> <seed> <trace> " +
        "<minWarm> <maxPasses> [key,key,...]")
      sys.exit(2)
  }
}

/** One measured run in a fresh JVM. */
final class Run(workload: String, inputDir: String, workDir: String,
    seconds: Double, seed: Long, traced: Boolean, minWarm: Int,
    maxPasses: Int, keys: Seq[String]) {
  import Harness._

  private val tracer: Option[Tracer] = if (traced) Some(new Tracer) else None

  /** Times `body` (which reports its own failures) as one call of kind
    * `kind` ("build"/"action") in pass `pass`; with tracing it is a span
    * and its jobs carry its id. */
  private def timed[T](spark: SparkSession, pass: Int, kind: String,
      name: String)(body: => T): (T, Double) = {
    val span = tracer.map(_.open(kind, name))
    span.foreach { s =>
      spark.sparkContext.setLocalProperty(Tracer.SpanProp, s.toString)
      spark.sparkContext.setLocalProperty(Tracer.PassProp, pass.toString)
    }
    val s0 = tracer.map(_.snap())
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    for (t <- tracer; s <- span) {
      t.close(s)
      t.charge(pass, kind, ms, s0.get)
    }
    (r, ms)
  }

  def run(): Unit = {
    val atMain = uptimeMs
    var atSession = 0.0
    tracer.foreach(_.openRoot())
    val spark = session(workDir, () => atSession = uptimeMs)
    tracer.foreach(_.setupDone(spark))
    emit(ready(atMain, atSession))
    // the cold first pass, one settling pass (the JIT is still compiling
    // the hot paths), then warm passes until `seconds` of them ran
    var warmS = 0.0
    def more(pass: Int) =
      pass < 2 + minWarm || (warmS < seconds && pass < maxPasses)
    var pass = 0
    workload match {
      case "books" =>
        while (more(pass)) {
          tracer.foreach(_.passStart(pass))
          val outPath = s"$workDir/parts/pass-$pass"
          val (ok, ms) = timed(spark, pass, "action", "writeAnagramParts") {
            try {
              graft.sources.GutenbergSource.writeAnagramParts(
                spark, s"$inputDir/books", outPath, Cores)
              true
            } catch { case e: Throwable =>
              System.err.println(s"[perfbench] books pass $pass: $e"); false }
          }
          tracer.foreach(_.afterAction(spark, pass))
          tracer.foreach(_.passEnd(spark, pass, ms))
          if (pass > 1) warmS += ms / 1e3
          emit(obj("ev" -> str("op"), "pass" -> pass.toString,
            "key" -> str("books"), "build_ms" -> num(0), "action_ms" -> num(ms),
            "ms" -> num(ms), "ok" -> ok.toString, "out" -> str(outPath)))
          pass += 1
        }
      case "query_mix" =>
        while (more(pass)) {
          tracer.foreach(_.passStart(pass))
          val order = new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
          var passMs = 0.0
          order.foreach { key =>
            val (df, buildMs) = timed(spark, pass, "build", key) {
              try Some(graft.SparkEntry.queries(key)(spark, inputDir))
              catch { case e: Throwable =>
                System.err.println(s"[perfbench] build $key: $e"); None }
            }
            val (ok, actionMs) = timed(spark, pass, "action", key) {
              df.exists { d =>
                try { d.write.mode("overwrite").format("noop").save(); true }
                catch { case e: Throwable =>
                  System.err.println(s"[perfbench] run $key: $e"); false }
              }
            }
            tracer.foreach(_.afterAction(spark, pass))
            passMs += buildMs + actionMs
            emit(obj("ev" -> str("op"), "pass" -> pass.toString,
              "key" -> str(key), "build_ms" -> num(buildMs),
              "action_ms" -> num(actionMs), "ms" -> num(buildMs + actionMs),
              "ok" -> ok.toString))
          }
          tracer.foreach(_.passEnd(spark, pass, passMs))
          if (pass > 1) warmS += passMs / 1e3
          pass += 1
          if (pass == 1) {
            // instead of a timed settling pass, an untimed one that writes
            // every key's result from the shared caches the cold pass built
            // in its seeded order, for the oracle check
            keys.foreach { key => check(spark, key) {
              graft.SparkEntry.queries(key)(spark, inputDir)
                .write.mode("overwrite").parquet(s"$workDir/results/$key")
            } }
            pass += 1
          }
        }
        val sql = keys.map(k => k -> str(graft.SparkEntry.oracleSql(k)))
        val w = new java.io.PrintWriter(s"$workDir/oracle_sql.json", "UTF-8")
        try w.println(obj(sql: _*)) finally w.close()
      case other =>
        System.err.println(s"[perfbench] unknown workload $other")
        sys.exit(2)
    }
    tracer.foreach(_.finish(spark, s"$workDir/trace.jsonl"))
    emit(obj("ev" -> str("end"), "passes" -> pass.toString,
      "heap_live_mb" -> num(liveHeapMb), "rss_peak_mb" -> num(rssPeakMb),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "cores" -> Cores.toString,
      "host_cpus" -> Runtime.getRuntime.availableProcessors.toString))
    spark.stop()
  }

  /** Untimed work (result dumps): a `check` span whose jobs
    * belong to no pass. Failures are reported, not thrown. */
  private def check(spark: SparkSession, key: String)(body: => Unit): Unit = {
    val span = tracer.map(_.open("check", key))
    span.foreach { s =>
      spark.sparkContext.setLocalProperty(Tracer.SpanProp, s.toString)
      spark.sparkContext.setLocalProperty(Tracer.PassProp, "-1")
    }
    try body catch { case e: Throwable =>
      System.err.println(s"[perfbench] check $key: $e")
      emit(obj("ev" -> str("check_failed"), "key" -> str(key)))
    }
    for (t <- tracer; s <- span) t.close(s)
    tracer.foreach(_.afterAction(spark, -1))
  }
}
