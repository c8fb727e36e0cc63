package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** In-memory spans and per-span counters, recorded from the benchmark's own
  * code around its calls into the engine and written out when the run
  * ends. Nothing here is installed unless the run is traced.
  *
  * Spans carry epoch microseconds. Direct spans time a call made by the
  * benchmark; derived spans (`sampling.accounting`, `sinks.write` inside a
  * ladder job) are built from the query executions the listeners saw under
  * the enclosing op, with the execution's own start and end.
  */
object Trace {

  final case class Span(id: Int, parent: Int, op: String, name: String, start: Long, end: Long) {
    def dur: Long = end - start
  }

  final class Counters {
    var jobs, stages, tasks, failures = 0L
    var cpuNs, waitMs, shuffleRead, shuffleWrite, spill, gcMs = 0L
  }

  final case class Exec(
      id: Long, func: String, analysisMs: Long, optimizationMs: Long, planningMs: Long, pushdownHits: Long)

  val SpanKey = "perfbench.span"

  @volatile var on = false
  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000
  def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0
  private var sc: SparkContext = _

  // written by the listener bus thread, read after a drain
  private val counters = mutable.HashMap.empty[Int, Counters]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobExec = mutable.HashMap.empty[Int, Long]
  private val rootExec = mutable.HashMap.empty[Long, Long]
  private val execStart = mutable.HashMap.empty[Long, Long]
  private val execEnd = mutable.HashMap.empty[Long, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val execs = mutable.ArrayBuffer.empty[Exec]

  def span[T](op: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowMicros
      try body
      finally {
        spans += Span(id, parent, op, name, start, nowMicros)
        current = parent
        sc.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
      }
    }

  def nextSpanId: Int = nextId

  private def countersOf(job: Int): Option[Counters] =
    jobSpan.get(job).map(s => counters.getOrElseUpdate(s, new Counters))

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      span.foreach { s =>
        jobSpan(e.jobId) = s
        exec.foreach(jobExec(e.jobId) = _)
        counters.getOrElseUpdate(s, new Counters).jobs += 1
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          rootExec(s.executionId) = s.rootExecutionId.getOrElse(s.executionId)
          execStart(s.executionId) = s.time
        case s: SparkListenerSQLExecutionEnd =>
          execEnd(s.executionId) = s.time
          SparkInternals.endedQuery(s).foreach { case (func, qe) =>
            val phases = qe.tracker.phases
            def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
            val hits = qe.tracker.rules.collect {
              case (rule, r) if rule.contains("SamplePushdown") => r.numEffectiveInvocations
            }.sum
            execs += Exec(s.executionId, func, ms("analysis"), ms("optimization"), ms("planning"), hits)
          }
        case _ =>
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.synchronized {
      val id = e.stageInfo.stageId
      stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageJob.get(id).flatMap(countersOf).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      stageJob.get(e.stageId).flatMap(countersOf).foreach { c =>
        c.tasks += 1
        if (e.reason != Success) c.failures += 1
        stageSubmitted.get(e.stageId).foreach(s => c.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.spill += m.diskBytesSpilled
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(Jobs)
  }

  /** Wait for the listener bus, then fold the events of the spans from
    * `firstSpan` on into layer metrics. Executions whose function name is in
    * `accounting` or `sink` and that ran directly under an op span become
    * derived child spans of that op.
    */
  def passLayers(firstSpan: Int, accounting: Set[String], sink: Set[String]): Map[String, Double] = {
    SparkInternals.drain(sc)
    synchronized {
      val mine = spans.filter(_.id >= firstSpan).toList
      val byId = mine.map(s => s.id -> s).toMap
      // jobs by their root execution: a write or an adaptive plan runs nested ones
      val execJobs = jobExec.toList.filter { case (j, _) => byId.contains(jobSpan(j)) }
        .groupBy { case (_, ex) => rootExec.getOrElse(ex, ex) }.map { case (ex, js) => ex -> js.map(_._1) }
      val execSpan = execJobs.map { case (ex, js) => ex -> jobSpan(js.head) }
      val mineExecs = execs.filter(e => execSpan.contains(e.id)).toList
      def layer(e: Exec): Option[String] =
        if (byId(execSpan(e.id)).name != "op") None
        else if (accounting(e.func)) Some("sampling.accounting")
        else if (sink(e.func)) Some("sinks.write")
        else None
      val derived = mineExecs.flatMap { e =>
        layer(e).map { n =>
          val parent = byId(execSpan(e.id))
          Span(0, parent.id, parent.op, n, execStart(e.id) * 1000, execEnd(e.id) * 1000)
        }
      }
      spans ++= derived
      val all = mine ++ derived
      val children = all.groupBy(_.parent)
      // length of the union of a span's child intervals, clipped to the span
      def covered(s: Span): Long = {
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var total = 0L
        var from, reach = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > reach) { if (from != Long.MinValue) total += reach - from; from = a; reach = b }
          else reach = math.max(reach, b)
        }
        if (from != Long.MinValue) total += reach - from
        total
      }
      def selfSec(name: String): Double =
        all.filter(_.name == name).map(s => s.dur - (if (s.id > 0) covered(s) else 0L)).sum / 1e6
      def spanJobs(name: String): Double =
        mine.filter(_.name == name).flatMap(s => counters.get(s.id)).map(_.jobs).sum.toDouble
      val cs = mine.flatMap(s => counters.get(s.id))
      def sumC(f: Counters => Long): Double = cs.map(f).sum.toDouble
      Map(
        "queries.build_s" -> selfSec("queries.build"),
        "queries.build_jobs" -> spanJobs("queries.build"),
        "queries.exec_s" -> selfSec("exec"),
        "sampling.accounting_s" -> selfSec("sampling.accounting"),
        "sampling.accounting_jobs" ->
          mineExecs.filter(layer(_).contains("sampling.accounting")).map(e => execJobs(e.id).size).sum.toDouble,
        "sinks.write_s" -> selfSec("sinks.write"),
        "compare.error_s" -> selfSec("compare"),
        "op.residual_s" -> mine.filter(_.name == "op").map(s => s.dur - covered(s)).sum / 1e6,
        "plans.analysis_ms" -> mineExecs.map(_.analysisMs).sum.toDouble,
        "plans.optimization_ms" -> mineExecs.map(_.optimizationMs).sum.toDouble,
        "plans.planning_ms" -> mineExecs.map(_.planningMs).sum.toDouble,
        "plans.samplepushdown_hits" -> mineExecs.map(_.pushdownHits).sum.toDouble,
        "exec.jobs" -> sumC(_.jobs),
        "exec.stages" -> sumC(_.stages),
        "exec.tasks" -> sumC(_.tasks),
        "exec.task_cpu_s" -> sumC(_.cpuNs) / 1e9,
        "exec.task_wait_s" -> sumC(_.waitMs) / 1e3,
        "exec.shuffle_read_mb" -> sumC(_.shuffleRead) / 1e6,
        "exec.shuffle_write_mb" -> sumC(_.shuffleWrite) / 1e6,
        "exec.spill_mb" -> sumC(_.spill) / 1e6,
        "exec.gc_s" -> sumC(_.gcMs) / 1e3,
        "exec.task_failures" -> sumC(_.failures))
    }
  }
}
