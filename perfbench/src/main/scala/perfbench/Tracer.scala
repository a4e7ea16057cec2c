package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A span the harness records around one of its own calls. Times are epoch
  * milliseconds, the clock Spark's listener events use. */
final case class Span(id: Int, parent: Int, unit: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
  def contains(t: Double): Boolean = t >= start && t <= end
}

object Tracer {
  final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long,
      outBytes: Long, outRecords: Long)
  /** One SQL execution: when its first planning phase started, each
    * phase's duration, and its plan fingerprint. */
  final case class Exec(firstPhase: Double, phases: Map[String, Double],
      nodes: Map[String, Int], exchanges: Map[String, Int])
}

/** Records what Spark reports while the traced run's listeners are
  * installed: jobs, stages, tasks and, for every SQL execution, its
  * planning phases and physical plan. Nothing here is installed during
  * timed runs. Attribution to harness spans is by time: the workload runs
  * one unit at a time, so the unit whose span contains an event's start
  * caused it. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = mutable.ArrayBuffer[Job]()
  val tasks = mutable.ArrayBuffer[Task]()
  val execs = mutable.ArrayBuffer[Exec]()
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1

  private val base = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch ms with sub-millisecond resolution from the monotonic clock. */
  def now(): Double = base + (System.nanoTime() - baseNs) / 1e6

  /** Time `body` as a span named `name` of `unit` under `parent`. */
  def span[A](unit: String, name: String, parent: Int = 0)(body: Int => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val s = now()
    try body(id) finally synchronized { spans += Span(id, parent, unit, name, s, now()) }
  }

  /** Record a span whose times come from elsewhere (Spark's progress). */
  def addSpan(unit: String, name: String, parent: Int, start: Double, end: Double): Span =
    synchronized {
      nextId += 1
      val s = Span(nextId, parent, unit, name, start, end)
      spans += s
      s
    }

  private object Plans extends AdaptiveSparkPlanHelper

  private def fingerprint(plan: SparkPlan): (Map[String, Int], Map[String, Int]) = {
    val nodes = mutable.Map[String, Int]().withDefaultValue(0)
    val exch = mutable.Map[String, Int]().withDefaultValue(0)
    Plans.foreach(plan) { p =>
      nodes(p.nodeName.replaceAll(" \\(\\d+\\)$", "").trim) += 1
      p match {
        case e: ShuffleExchangeExec => exch(e.shuffleOrigin.toString) += 1
        case _ =>
      }
    }
    (nodes.toMap, exch.toMap)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled + m.memoryBytesSpilled,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val (nodes, exch) =
          try fingerprint(qe.executedPlan) catch { case _: Exception => (Map.empty[String, Int], Map.empty[String, Int]) }
        Tracer.this.synchronized {
          execs += Exec(ph.values.map(_.startTimeMs).min.toDouble,
            ph.map { case (k, v) => k -> v.durationMs.toDouble / 1e3 }, nodes, exch)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var installed = false
  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    installed = true
  }
  def uninstall(): Unit = if (installed) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    installed = false
  }
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def clear(): Unit = synchronized { jobs.clear(); tasks.clear(); execs.clear() }

  /** Layer figures for the events that started inside `unitSpans` (the
    * top-level spans of one unit) — one row of the per-unit ledger. */
  def unitLedger(unitSpans: Seq[Span], buildSpans: Seq[Span]): mutable.LinkedHashMap[String, Any] =
    synchronized {
      def in(t: Double) = unitSpans.exists(_.contains(t))
      def inBuild(t: Double) = buildSpans.exists(_.contains(t))
      val js = jobs.filter(j => in(j.start))
      val stageIds = js.flatMap(_.stages).toSet
      val ts = tasks.filter(t => stageIds(t.stage))
      val es = execs.filter(e => in(e.firstPhase))
      val wall = unitSpans.map(_.dur).sum / 1e3
      def jobSpan(j: Job) = (j.start, if (j.end.isNaN) j.start else j.end)
      val jobUnion = Stats.union(js.map(jobSpan)) / 1e3
      val eager = js.filter(j => inBuild(j.start))
      val nodes = mutable.Map[String, Int]().withDefaultValue(0)
      val exch = mutable.Map[String, Int]().withDefaultValue(0)
      es.foreach { e =>
        e.nodes.foreach { case (k, v) => nodes(k) += v }
        e.exchanges.foreach { case (k, v) => exch(k) += v }
      }
      def phase(p: String) = es.map(_.phases.getOrElse(p, 0.0)).sum
      mutable.LinkedHashMap[String, Any](
        "wall_s" -> wall,
        "build_s" -> buildSpans.map(_.dur).sum / 1e3,
        "eager_jobs" -> eager.size,
        "eager_s" -> Stats.union(eager.map(jobSpan)) / 1e3,
        "analysis_s" -> phase("analysis"),
        "optimization_s" -> phase("optimization"),
        "planning_s" -> phase("planning"),
        "jobs" -> js.size,
        "stages" -> stageIds.size,
        "tasks" -> ts.size,
        "job_union_s" -> jobUnion,
        "driver_gap_s" -> math.max(0.0, wall - jobUnion),
        "task_run_s" -> ts.map(_.runMs).sum / 1e3,
        "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "task_gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "shuffle_write_mb" -> ts.map(_.shWrite).sum / 1e6,
        "shuffle_read_mb" -> ts.map(_.shRead).sum / 1e6,
        "fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
        "spill_mb" -> ts.map(_.spill).sum / 1e6,
        "output_mb" -> ts.map(_.outBytes).sum / 1e6,
        "output_rows" -> ts.map(_.outRecords).sum,
        "plan_nodes" -> nodes.toMap,
        "exchanges" -> exch.toMap)
    }

  /** Median over stages (with two or more tasks) of max / median task run
    * time, for the stages of jobs that started inside `within`. */
  def skew(within: Seq[Span]): Double = synchronized {
    val stageIds = jobs.filter(j => within.exists(_.contains(j.start))).flatMap(_.stages).toSet
    val ratios = tasks.filter(t => stageIds(t.stage)).groupBy(_.stage).values
      .filter(_.size >= 2).map { ts =>
        val run = ts.map(_.runMs.toDouble)
        val med = Stats.median(run.toSeq)
        if (med > 0) run.max / med else 1.0
      }.toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}
