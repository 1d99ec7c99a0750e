package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of the closed loop: a battery query (build,
  * then execute) or one statement (execute only, so `buildEndNs` equals
  * `startNs`). Times are `System.nanoTime`. */
final case class Op(idx: Int, pass: Int, name: String, cls: String,
                    startNs: Long, buildEndNs: Long, endNs: Long,
                    ok: Boolean, traced: Boolean,
                    rows: Long = -1L, filesBefore: Int = 0, filesRewritten: Int = 0) {
  def ms: Double = (endNs - startNs) / 1e6
  def buildMs: Double = (buildEndNs - startNs) / 1e6
}

/** Maps `System.nanoTime` onto the epoch-millisecond clock Spark stamps
  * its listener events with. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = originMs + (ns - originNs) / 1e6
}

/** Task metrics summed over a set of tasks. */
final class TaskAgg {
  var tasks, failures, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs,
      inputBytes, inputRecords, spill = 0L
  var peakExecMem = 0L
  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; failures += o.failures; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

final class JobRec(val id: Int, val startMs: Long, val group: String) {
  @volatile var endMs: Long = -1L
  @volatile var stages: Int = 0
  val tasks = new TaskAgg
}

final case class QueryRec(analysisMs: Long, optimizationMs: Long,
                          planningMs: Long, exchanges: Int)

/** Counts from Spark's public listener APIs: jobs, stages and tasks
  * from [[SparkListener]], and Catalyst phase times plus the number of
  * exchanges of every executed plan from [[QueryExecutionListener]].
  * Attached only during traced passes. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** SQL execution id -> (start time, job group or null). */
  val executions = new ConcurrentHashMap[Long, (Long, String)]()
  val executionOf = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, Long]())
  val queries = new ConcurrentLinkedQueue[(QueryExecution, QueryRec)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new JobRec(e.jobId, e.time, group)
    e.stageIds.foreach(stageJob.put(_, j))
    jobs.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    if (j != null) j.tasks.synchronized {
      val a = j.tasks
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.spill += m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, (s.time, s.jobGroupId.orNull))
    case e: SparkListenerSQLExecutionEnd =>
      val qe = org.apache.spark.sql.perfbench.ExecutionEnd.qe(e)
      if (qe != null) executionOf.put(qe, e.executionId)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
    val ex = try PlanWalk.exchanges(qe.executedPlan) catch { case _: Exception => 0 }
    queries.add(qe -> QueryRec(phase("analysis"), phase("optimization"), phase("planning"), ex))
  }
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Shuffle and broadcast exchanges of a plan, through adaptive stages
    * and subqueries. */
  def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.size
}

/** What the listener saw during one op. */
final class OpLayers(val op: Op) {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val queries = mutable.ArrayBuffer.empty[QueryRec]
  val tasks = new TaskAgg
  def stages: Int = jobs.map(_.stages).sum
  def catalystMs: Double = queries.map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum.toDouble

  /** Wall time covered by at least one job, clipped to [fromMs, toMs). */
  def jobUnionMs(fromMs: Double, toMs: Double): Double = {
    val iv = jobs.map(j => (math.max(j.startMs.toDouble, fromMs),
      math.min(if (j.endMs < 0) toMs else j.endMs.toDouble, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = -1.0; var curB = -1.0
    iv.foreach { case (a, b) =>
      if (a > curB) { total += math.max(0.0, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + math.max(0.0, curB - curA)
  }
  def buildJobs: Int = jobs.count(_.startMs < Clock.epochMs(op.buildEndNs))
}

object Attribution {
  val GroupPrefix = "perfbench-op-"

  /** Assigns every job and executed query the listener recorded to the
    * traced op that issued it: by job group when Spark propagated it,
    * otherwise by submission time (the loop runs one op at a time). */
  def apply(ops: Seq[Op], sc: SparkContext, c: SparkCounters): Seq[OpLayers] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val traced = ops.filter(_.traced)
    val out = traced.map(o => o.idx -> new OpLayers(o)).toMap
    val starts = traced.map(o => Clock.epochMs(o.startNs)).toArray
    def byTime(ms: Double): Option[OpLayers] = {
      val i = java.util.Arrays.binarySearch(starts, ms)
      val k = if (i >= 0) i else -i - 2
      if (k < 0) None
      else {
        val o = traced(k)
        if (ms <= Clock.epochMs(o.endNs) + 1.0) out.get(o.idx) else None
      }
    }
    def owner(group: String, startMs: Long): Option[OpLayers] =
      Option(group).filter(_.startsWith(GroupPrefix))
        .flatMap(g => out.get(g.drop(GroupPrefix.length).toInt))
        .orElse(byTime(startMs.toDouble))
    c.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      owner(j.group, j.startMs).foreach { l => l.jobs += j; l.tasks.add(j.tasks) }
    }
    c.queries.asScala.foreach { case (qe, q) =>
      Option(c.executionOf.get(qe)).flatMap(id => Option(c.executions.get(id)))
        .flatMap { case (ms, group) => owner(group, ms) }
        .foreach(_.queries += q)
    }
    traced.map(o => out(o.idx))
  }
}

/** In-memory span list, written out once when the run ends. */
final class SpanLog {
  private val lines = mutable.ArrayBuffer.empty[String]
  private var next = 0L

  def span(parent: Long, name: String, layer: String, startMs: Double, endMs: Double,
           attrs: Seq[(String, String)] = Nil): Long = {
    next += 1
    lines += Stats.obj(Seq("kind" -> Stats.str("span"), "id" -> next.toString,
      "parent" -> parent.toString, "name" -> Stats.str(name), "layer" -> Stats.str(layer),
      "start_ms" -> Stats.num(startMs), "end_ms" -> Stats.num(endMs)) ++
      (if (attrs.isEmpty) Nil else Seq("attrs" -> Stats.obj(attrs))))
    next
  }

  def write(path: String, header: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try { w.println(header); lines.foreach(w.println) } finally w.close()
  }
}
