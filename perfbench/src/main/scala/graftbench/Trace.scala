package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Microseconds on the wall clock Spark stamps its events with, at
  * nanoTime resolution, so client spans and listener events share one
  * time base. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** One client-side span: the workload's operation (`layer` = "op")
  * or a call into one layer's public function inside it. Spark jobs
  * and stages become child spans when the trace is assembled. */
final case class Span(op: Int, layer: String, startUs: Long, endUs: Long) {
  def group: String = Recorder.group(op, layer)
  def durUs: Long = endUs - startUs
}

/** Records client spans when tracing is on; otherwise runs the body
  * untouched. Each call sets the Spark job group to `op/layer`, which
  * is how jobs, stages, tasks and SQL executions are attributed to
  * the span that caused them. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var op = -1

  def inOp[T](opId: Int)(body: => T): T =
    if (!traced) body
    else {
      op = opId
      val t0 = Clock.nowUs
      try body
      finally {
        spans += Span(opId, "op", t0, Clock.nowUs)
        spark.sparkContext.clearJobGroup()
      }
    }

  def call[T](layer: String)(body: => T): T =
    if (!traced) body
    else {
      spark.sparkContext.setJobGroup(Recorder.group(op, layer), layer)
      val t0 = Clock.nowUs
      try body
      finally spans += Span(op, layer, t0, Clock.nowUs)
    }
}

object Recorder {
  def group(op: Int, layer: String): String = s"op-$op/$layer"
  def opOf(group: String): Option[Int] =
    if (group == null || !group.startsWith("op-")) None
    else scala.util.Try(group.substring(3, group.indexOf('/')).toInt).toOption
}

/** Spark-side events of the traced phase: a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for each action's
  * planning phases and executed-plan SQL metrics. Events are queued
  * as they arrive and joined to client spans after the listener bus
  * has drained. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[JobEv]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val stages = new ConcurrentLinkedQueue[StageEv]()
  val tasks = new ConcurrentLinkedQueue[TaskEv]()
  val execGroups = new ConcurrentLinkedQueue[(Long, String)]()
  val queries = new ConcurrentLinkedQueue[QueryEv]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobEv(e.jobId, Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
      e.time * 1000L, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time * 1000L))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (si.submissionTime.isDefined && si.completionTime.isDefined && m != null)
      stages.add(StageEv(si.stageId, si.submissionTime.get * 1000L, si.completionTime.get * 1000L,
        si.numTasks, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasks.add(TaskEv(e.stageId, e.taskInfo.launchTime * 1000L, e.taskInfo.finishTime * 1000L))

  /** The query listener is told of an action's end by the same
    * `SQLExecutionEnd` event this listener receives next: both sit on
    * Spark's shared listener queue, whose one thread hands each event
    * to every listener in registration order, and [[Tracer.register]]
    * registers the query listener first. `QueryExecution.id` is not
    * the SQL execution id, so this pairing is what ties an action's
    * planning phases and operator metrics to its job group. */
  private var pending: QueryEv = null

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => s.jobGroupId.foreach(g => execGroups.add((s.executionId, g)))
    case end: SparkListenerSQLExecutionEnd =>
      if (pending != null) queries.add(pending.copy(executionId = end.executionId))
      pending = null
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    pending = QueryEv(-1L, phases, operatorMetrics(qe.executedPlan))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  final case class JobEv(jobId: Int, group: String, startUs: Long, stageIds: Seq[Int])
  final case class StageEv(stageId: Int, startUs: Long, endUs: Long, numTasks: Int, cpuNs: Long,
      runMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class TaskEv(stageId: Int, startUs: Long, endUs: Long) { def durUs: Long = endUs - startUs }
  final case class QueryEv(executionId: Long, phases: Map[String, Double], ops: Map[String, Double])

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** SQL metrics of the executed plan (through adaptive stages),
    * summed over the operators the per-layer metrics read. */
  def operatorMetrics(plan: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def m(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    PlanWalk.foreach(plan) { p =>
      p.nodeName match {
        case "ObjectHashAggregate" =>
          acc("object_agg_ms") += m(p, "aggTime")
          acc("agg_sort_fallbacks") += m(p, "numTasksFallBacked")
        case n if n.startsWith("Scan ") || p.getClass.getSimpleName == "FileSourceScanExec" =>
          acc("scan_ms") += m(p, "scanTime")
          acc("files_read") += m(p, "numFiles")
          acc("rows_scanned") += m(p, "numOutputRows")
        case _ =>
      }
    }
    acc.toMap
  }

  /** union length of [start, end) intervals clipped to [lo, hi). */
  def coveredUs(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = intervals.iterator.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toArray.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def register(spark: SparkSession, t: Tracer): Unit = {
    spark.listenerManager.register(t)
    spark.sparkContext.addSparkListener(t)
  }

  def unregister(spark: SparkSession, t: Tracer): Unit = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  /** The assembled trace of one phase: every client span with its
    * Spark jobs and stages as children, and the self time of each
    * layer (its span's duration minus the time covered by its
    * children). */
  final class Assembled(val spans: Seq[Span], t: Tracer) {
    private val jobEnd = t.jobEnds.asScala.toMap
    val jobs: Seq[(JobEv, Long)] = t.jobs.asScala.toSeq.flatMap(j => jobEnd.get(j.jobId).map(j -> _))
    private val stageJob: Map[Int, JobEv] =
      jobs.sortBy(_._1.jobId).reverse.flatMap { case (j, _) => j.stageIds.map(_ -> j) }.toMap
    val stages: Seq[StageEv] = t.stages.asScala.toSeq
    val tasks: Seq[TaskEv] = t.tasks.asScala.toSeq
    private val execGroup = t.execGroups.asScala.toMap
    val queries: Seq[(QueryEv, String)] = t.queries.asScala.toSeq.flatMap(q => execGroup.get(q.executionId).map(q -> _))

    def opOfStage(s: Int): Option[Int] = stageJob.get(s).flatMap(j => Recorder.opOf(j.group))

    val ops: Seq[Span] = spans.filter(_.layer == "op")
    val calls: Seq[Span] = spans.filter(_.layer != "op")
    val stagesByOp: Map[Int, Seq[StageEv]] = stages.groupBy(s => opOfStage(s.stageId).getOrElse(-1))
    val tasksByStage: Map[Int, Seq[TaskEv]] = tasks.groupBy(_.stageId)
    val jobsByGroup: Map[String, Seq[(JobEv, Long)]] = jobs.groupBy(_._1.group)
    val queriesByOp: Map[Int, Seq[QueryEv]] = queries.groupBy(q => Recorder.opOf(q._2).getOrElse(-1)).map {
      case (k, v) => k -> v.map(_._1)
    }

    /** self time in µs summed over all ops, per layer: the op itself
      * (outside any layer call), layer calls (outside their jobs),
      * jobs (outside their stages) and stages. */
    def selfUs: Seq[(String, Long)] = {
      val opSelf = ops.map(o => o.durUs - coveredUs(calls.filter(_.op == o.op).map(c => (c.startUs, c.endUs)), o.startUs, o.endUs)).sum
      val callSelf = calls.map { c =>
        c.durUs - coveredUs(jobsByGroup.getOrElse(c.group, Nil).map { case (j, e) => (j.startUs, e) }, c.startUs, c.endUs)
      }.sum
      val jobSelf = jobs.filter(j => Recorder.opOf(j._1.group).isDefined).map { case (j, e) =>
        (e - j.startUs) - coveredUs(stages.filter(s => j.stageIds.contains(s.stageId)).map(s => (s.startUs, s.endUs)), j.startUs, e)
      }.sum
      val stageSelf = stages.filter(s => opOfStage(s.stageId).isDefined).map(s => s.endUs - s.startUs).sum
      Seq("op" -> opSelf, "call" -> callSelf, "job" -> jobSelf, "stage" -> stageSelf)
    }

    /** the span tree as JSON lines: op → call → job → stage. */
    def toJson(workload: String): String = {
      val sb = new StringBuilder
      def line(kind: String, id: String, parent: String, name: String, s: Long, e: Long): Unit =
        sb ++= s"""{"kind":"$kind","id":"$id","parent":"$parent","name":"$name","start_us":$s,"end_us":$e}""" + "\n"
      line("workload", workload, "", workload, spans.map(_.startUs).minOption.getOrElse(0L), spans.map(_.endUs).maxOption.getOrElse(0L))
      ops.foreach(o => line("op", s"op-${o.op}", workload, "op", o.startUs, o.endUs))
      calls.foreach(c => line("call", c.group, s"op-${c.op}", c.layer, c.startUs, c.endUs))
      jobs.foreach { case (j, e) => line("job", s"job-${j.jobId}", Option(j.group).getOrElse(""), s"job ${j.jobId}", j.startUs, e) }
      stages.foreach { s =>
        line("stage", s"stage-${s.stageId}", stageJob.get(s.stageId).map(j => s"job-${j.jobId}").getOrElse(""),
          s"stage ${s.stageId} (${s.numTasks} tasks)", s.startUs, s.endUs)
      }
      sb.toString
    }
  }
}
