package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import Probe._

/** Per-layer recorder for a traced run, built only from Spark's public
  * listeners and from timing calls into the program's public functions.
  *
  * Attribution is by sequence: the benchmark is one closed-loop client, so
  * after it drains the listener bus at the end of an operation every event
  * delivered since the previous drain belongs to that operation. */
final class Probe(spark: SparkSession) {

  private var cur = new Counts
  private val jobStart = scala.collection.mutable.Map[Int, (Long, String)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      // The final stage's name is the call site that launched the job.
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobStart(e.jobId) = (e.time, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, site) =>
        cur.jobs += Job(t0, e.time, site)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized { cur.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      cur.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cur.cpuNs += m.executorCpuTime
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.peakMem = math.max(cur.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
      val q = phases(qe, func)
      Probe.this.synchronized { cur.qes += q }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    take(): Unit
  }

  def stop(): Unit = {
    take(): Unit
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Adds a Catalyst record the listeners cannot see: the analysis of a
    * frame that is built by one Dataset and executed by another (a `noop`
    * write runs a new command whose own analysis is nearly empty). */
  def noteAnalysis(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
    synchronized { cur.qes += Qe("build", ms, 0, 0, 0) }
  }

  /** Waits for the bus, then returns and resets what was recorded. */
  def take(): Counts = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized { val c = cur; cur = new Counts; c }
  }
}

object Probe {
  final case class Job(start: Long, end: Long, site: String)

  /** One action's Catalyst phases (QueryPlanningTracker) and the node count
    * of its analysed plan, subqueries included. */
  final case class Qe(func: String, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, planNodes: Int)

  /** Everything one operation made Spark do. */
  final class Counts {
    val jobs = ArrayBuffer[Job]()
    var stages, tasks = 0L
    var cpuNs, shuffleRead, shuffleWrite, spill, peakMem = 0L
    val qes = ArrayBuffer[Qe]()

    /** Milliseconds during which at least one job was running. */
    def jobActiveMs: Double = {
      var total = 0L
      var end = Long.MinValue
      for (j <- jobs.sortBy(_.start)) {
        if (j.start >= end) { total += j.end - j.start; end = j.end }
        else if (j.end > end) { total += j.end - end; end = j.end }
      }
      total.toDouble
    }

    def toJson(wallMs: Double): Map[String, Any] = Map(
      "wall_ms" -> wallMs,
      "jobs" -> jobs.size, "stages" -> stages, "tasks" -> tasks,
      "job_active_ms" -> jobActiveMs,
      "driver_ms" -> math.max(0.0, wallMs - jobActiveMs),
      "executor_cpu_ms" -> cpuNs / 1e6,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakMem,
      "analysis_ms" -> qes.map(_.analysisMs).sum,
      "optimization_ms" -> qes.map(_.optimizationMs).sum,
      "planning_ms" -> qes.map(_.planningMs).sum,
      "plan_nodes" -> qes.map(_.planNodes).sum,
      "job_sites" -> jobs.groupBy(j => siteFile(j.site)).map { case (k, v) => k -> v.size },
      "job_spans" -> jobs.map(j => Seq(j.start, j.end)))
  }

  /** "collect at Dedup.scala:123" → "Dedup". */
  def siteFile(site: String): String = {
    val m = """ at ([A-Za-z0-9_$]+)\.(scala|java):\d+""".r.findFirstMatchIn(site)
    m.map(_.group(1)).getOrElse("other")
  }

  def planNodes(plan: LogicalPlan): Int =
    plan.collectWithSubqueries { case p => p }.size

  def phases(qe: QueryExecution, func: String): Qe = {
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    Qe(func, ms("analysis"), ms("optimization"), ms("planning"),
      planNodes(qe.analyzed))
  }
}

/** In-memory spans, written out with the result at the end of the run.
  * Times are epoch microseconds so that Spark job events (epoch ms) can be
  * placed under the operation that launched them. */
final class Tracer(val on: Boolean) {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = base + System.nanoTime() / 1000L

  import Tracer.Span
  val spans = ArrayBuffer[Span]()
  private var stack = List(0)

  def add(name: String, start: Long, end: Long, parent: Int): Unit =
    if (on) spans += Span(spans.size + 1, parent, name, start, end)

  /** Runs `body` inside a span and returns its result. */
  def span[T](name: String)(body: => T): T =
    if (!on) body else {
      val id = spans.size + 1
      spans += Span(id, stack.head, name, nowUs, 0L)
      stack = id :: stack
      try body finally {
        stack = stack.tail
        spans(id - 1) = spans(id - 1).copy(end = nowUs)
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_us" -> s.start, "end_us" -> s.end))
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  val off = new Tracer(false)
}
