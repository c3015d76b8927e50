package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  val SpanProp = "perfbench.span"
  val PassProp = "perfbench.pass"

  /** Counter readings a timed call is charged against. */
  final case class Snap(cpuNs: Long, gcMs: Long, compileNs: Long,
      compiles: Long, frames: Int)
}

/** Per-pass totals of every layer the benchmark attributes time to. Only
  * timed calls count: jobs of untimed checks carry pass -1 and land
  * nowhere. */
final class PassStats {
  var timedMs, buildMs = 0.0
  var buildJobs, schemaJobs = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var compileNs, compiles = 0L
  var jobs, stages, tasks, taskFailures, stageRetries = 0L
  var runMs, execCpuNs, execGcMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var scanMs, aggMs, sortMs = 0.0
  var rowsScanned, rowsOut = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var matBuilds = 0L
  var matFrames = 0L
  var cachedBytes = 0L
  var driverCpuNs, driverGcMs = 0L

  /** Wall time inside timed calls with no task running anywhere. */
  def idleMs: Double = {
    val sorted = taskIntervals.sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, timedMs - covered)
  }

  def metrics: Seq[(String, Double)] = {
    val mb = 1048576.0
    Seq(
      "entry.build_ms" -> buildMs,
      "entry.build_jobs" -> buildJobs.toDouble,
      "entry.schema_jobs" -> schemaJobs.toDouble,
      "catalyst.analysis_ms" -> analysisMs,
      "catalyst.optimization_ms" -> optimizationMs,
      "catalyst.planning_ms" -> planningMs,
      "codegen.compile_ms" -> compileNs / 1e6,
      "codegen.compiles" -> compiles.toDouble,
      "scheduler.jobs" -> jobs.toDouble,
      "scheduler.stages" -> stages.toDouble,
      "scheduler.tasks" -> tasks.toDouble,
      "scheduler.task_failures" -> taskFailures.toDouble,
      "scheduler.stage_retries" -> stageRetries.toDouble,
      "executor.run_ms" -> runMs.toDouble,
      "executor.cpu_ms" -> execCpuNs / 1e6,
      "executor.gc_ms" -> execGcMs.toDouble,
      "executor.busy_frac" ->
        (if (timedMs > 0) runMs / (timedMs * Harness.Cores) else 0.0),
      "executor.idle_ms" -> idleMs,
      "plan.scan_ms" -> scanMs,
      "plan.agg_ms" -> aggMs,
      "plan.sort_ms" -> sortMs,
      "plan.rows_scanned" -> rowsScanned.toDouble,
      "plan.rows_out" -> rowsOut.toDouble,
      "shuffle.write_mb" -> shuffleWrite / mb,
      "shuffle.read_mb" -> shuffleRead / mb,
      "shuffle.spill_mb" -> spill / mb,
      "io.input_mb" -> input / mb,
      "io.output_mb" -> output / mb,
      "materialized.frames" -> matFrames.toDouble,
      "materialized.builds" -> matBuilds.toDouble,
      "materialized.cached_mb" -> cachedBytes / mb,
      "driver.gc_ms" -> driverGcMs.toDouble,
      "driver.cpu_s" -> math.max(0L, driverCpuNs - execCpuNs) / 1e9,
    )
  }
}

/** Spans and per-layer counters of one traced run. Spans are kept in memory
  * and written as JSON lines when the run ends; times are epoch ms. */
final class Tracer {
  import Harness._

  private case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Double, var end: Double)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val passes = mutable.Map.empty[Int, PassStats]
  private var passSpan = -1
  private val pendingQe = mutable.ArrayBuffer.empty[QueryExecution]

  // listener-side state (bus thread); every access is under `this` lock
  private val stagePass = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]

  private def stats(pass: Int): PassStats =
    synchronized(passes.getOrElseUpdate(pass, new PassStats))

  private def add(kind: String, name: String, parent: Int, start: Double,
      end: Double = Double.NaN): Int = synchronized {
    val id = spans.size
    spans += Span(id, parent, kind, name, start, end)
    id
  }

  def openRoot(): Unit = {
    val jvmStart =
      ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    stack.push(add("run", "run", -1, jvmStart))
    add("setup", "session", 0, jvmStart)
  }

  def setupDone(spark: SparkSession): Unit = {
    synchronized(spans(1).end = nowMs)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def open(kind: String, name: String): Int = {
    val id = add(kind, name, stack.head, nowMs)
    stack.push(id)
    id
  }

  def close(id: Int): Unit = {
    synchronized(spans(id).end = nowMs)
    if (stack.headOption.contains(id)) stack.pop()
  }

  def passStart(pass: Int): Unit = {
    passSpan = open("pass", s"pass-$pass")
    stats(pass)
  }

  /** Closes the pass span and reports the pass's layer totals. */
  def passEnd(spark: SparkSession, pass: Int, timedMs: Double): Unit = {
    close(passSpan)
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val s = stats(pass)
    s.timedMs = timedMs
    s.matFrames = graft.operators.Materialized.size.toLong
    s.cachedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val fields = Seq("ev" -> str("layers"), "pass" -> pass.toString) ++
      synchronized(s.metrics).map { case (k, v) => k -> num(v) }
    emit(obj(fields: _*))
  }

  def snap(): Tracer.Snap = Tracer.Snap(cpuNs, gcMs, CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    graft.operators.Materialized.size)

  /** Charges one timed call of `pass` with the counters moved since `s0`.
    * In local mode the driver and the executors share this JVM, so the
    * driver CPU is the process CPU minus the task CPU seen by listeners
    * (subtracted when the pass is reported). */
  def charge(pass: Int, kind: String, ms: Double, s0: Tracer.Snap): Unit = {
    val s1 = snap()
    val st = stats(pass)
    synchronized {
      if (kind == "build") st.buildMs += ms
      st.driverCpuNs += s1.cpuNs - s0.cpuNs
      st.driverGcMs += s1.gcMs - s0.gcMs
      st.compileNs += s1.compileNs - s0.compileNs
      st.compiles += s1.compiles - s0.compiles
      st.matBuilds += math.max(0, s1.frames - s0.frames)
    }
  }

  /** Waits for the listeners to see everything the last call did and
    * charges its query executions to `pass` (-1: untimed, dropped). */
  def afterAction(spark: SparkSession, pass: Int): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val qes = synchronized { val q = pendingQe.toList; pendingQe.clear(); q }
    if (pass >= 0) {
      val st = stats(pass)
      qes.foreach { qe =>
        val ph = qe.tracker.phases
        def phaseMs(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val plan = nodes(qe.executedPlan)
        def metricMs(n: SparkPlan, key: String): Double =
          n.metrics.get(key).map { m =>
            val v = math.max(0L, m.value)
            if (m.metricType == "nsTiming") v / 1e6 else v.toDouble
          }.getOrElse(0.0)
        def rows(n: SparkPlan): Option[Long] =
          n.metrics.get("numOutputRows").map(m => math.max(0L, m.value))
        synchronized {
          st.analysisMs += phaseMs("analysis")
          st.optimizationMs += phaseMs("optimization")
          st.planningMs += phaseMs("planning")
          plan.foreach { n =>
            val name = n.nodeName
            if (name.contains("Scan")) {
              st.scanMs += metricMs(n, "scanTime")
              st.rowsScanned += rows(n).getOrElse(0L)
            }
            if (name.contains("Aggregate")) st.aggMs += metricMs(n, "aggTime")
            if (name.contains("Sort")) st.sortMs += metricMs(n, "sortTime")
          }
          st.rowsOut += plan.iterator.flatMap(rows).nextOption().getOrElse(0L)
        }
      }
    }
  }

  /** Every node of an executed plan, looking through adaptive wrappers
    * and query stages; reused exchanges are not walked twice. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized(pendingQe += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized(pendingQe += qe)
  }

  private def propInt(p: java.util.Properties, k: String): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(k))).flatMap(_.toIntOption)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val pass = propInt(e.properties, Tracer.PassProp).getOrElse(-1)
        val parent = propInt(e.properties, Tracer.SpanProp).getOrElse(0)
        e.stageIds.foreach(sid => stagePass(sid) = pass)
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        jobSpan(e.jobId) = add("job", s"job-${e.jobId} $site", parent,
          e.time.toDouble)
        if (pass >= 0) {
          val st = stats(pass)
          st.jobs += 1
          if (spans.lift(parent).exists(_.kind == "build")) {
            st.buildJobs += 1
            if (site.startsWith("parquet at")) st.schemaJobs += 1
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobSpan.remove(e.jobId).foreach(id => spans(id).end = e.time.toDouble)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stagePass.get(e.stageInfo.stageId).filter(_ >= 0).foreach { p =>
          val st = stats(p)
          st.stages += 1
          if (e.stageInfo.attemptNumber() > 0) st.stageRetries += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stagePass.get(e.stageId).filter(_ >= 0).foreach { p =>
          val st = stats(p)
          st.tasks += 1
          if (e.reason != Success) st.taskFailures += 1
          st.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          val m = e.taskMetrics
          if (m != null) {
            st.runMs += m.executorRunTime
            st.execCpuNs += m.executorCpuTime
            st.execGcMs += m.jvmGCTime
            st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            st.input += m.inputMetrics.bytesRead
            st.output += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Ends the root span and writes every span as one JSON line. */
  def finish(spark: SparkSession, path: String): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val end = nowMs
    val w = new java.io.PrintWriter(path, "UTF-8")
    try synchronized {
      spans(0).end = end
      spans.foreach { s =>
        val e = if (s.end.isNaN) end else s.end
        w.println(obj("id" -> s.id.toString, "parent" -> s.parent.toString,
          "kind" -> str(s.kind), "name" -> str(s.name),
          "start" -> String.format(java.util.Locale.ROOT, "%.3f", Double.box(s.start)),
          "end" -> String.format(java.util.Locale.ROOT, "%.3f", Double.box(e))))
      }
    } finally w.close()
  }
}
