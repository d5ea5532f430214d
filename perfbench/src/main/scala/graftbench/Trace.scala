package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds; `parent` is -1 for an
  * operation's root span and for Spark jobs whose parent is resolved after
  * the run (the innermost harness span of the same operation that contains
  * the job's start).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long)

/** In-memory span recorder. Spans are only recorded while `enabled`; the
  * harness thread nests them with [[span]], other threads (refresh
  * dispatch, the listener bus) add finished spans with [[add]].
  */
final class Tracer {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]
  @volatile var enabled = false
  @volatile var op = -1

  def now(): Long = epochBase + (System.nanoTime() - nanoBase)
  def reserve(): Int = synchronized { nextId += 1; nextId }
  def current: Int = synchronized { if (stack.isEmpty) -1 else stack.top }

  def add(s: Span): Unit = synchronized { spans += s }

  def add(name: String, parent: Int, op: Int, start: Long, end: Long): Unit =
    add(Span(reserve(), name, parent, op, start, end))

  /** Time `body` as a child of the innermost open span of this thread. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = reserve()
      val parent = synchronized { val p = if (stack.isEmpty) -1 else stack.top; stack.push(id); p }
      val start = now()
      try body
      finally {
        synchronized { stack.pop() }
        add(Span(id, name, parent, op, start, now()))
      }
    }

  def all: Seq[Span] = synchronized { spans.toList }
}

object SelfTime {
  /** Self time per span of one operation: the part of the span's duration
    * that none of its children covers. Nothing is clipped. An instant is
    * owned by the spans active at it that have no active child there; where
    * several own it at once (concurrent refresh targets or Spark stages) it
    * is shared equally among them. The self times of an operation therefore
    * sum to the time covered by any of its spans: its root span's wall time
    * when every span lies inside the root, more when one leaves it.
    */
  def apply(opSpans: Seq[Span]): Map[Int, Long] = {
    val iv = opSpans.filter(s => s.end > s.start)
    val cuts = iv.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = mutable.Map[Int, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val active = iv.filter(s => s.start <= a && a < s.end)
        val parents = active.map(_.parent).toSet
        val owners = active.filterNot(s => parents(s.id))
        owners.foreach(s => out(s.id) += (b - a).toDouble / owners.size)
      case _ => ()
    }
    opSpans.map(s => s.id -> math.round(out(s.id))).toMap
  }

  /** Time (ns) the spans of one operation spend outside their parent's
    * interval: zero when the spans nest, the size of the error when a
    * clock, a parent resolution or a timer is off.
    */
  def escaped(opSpans: Seq[Span]): Long = {
    val byId = opSpans.map(s => s.id -> s).toMap
    opSpans.flatMap(s => byId.get(s.parent).map { p =>
      val inside = math.max(0L, math.min(s.end, p.end) - math.max(s.start, p.start))
      math.max(0L, s.end - s.start) - inside
    }).sum
  }
}

/** Per-operation counters gathered from Spark's listener bus and from the
  * final physical plans of the operation's SQL executions.
  */
final class OpCounters {
  var sqlExecutions, jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, recordsRead = 0L
  var analysisNs, optimizationNs, planningNs = 0L
  var ruleNs, ruleCalls, ruleEffective = 0L
  var scanMs, pipelineMs, aggMs, sortMs, peakMemory, outputRows = 0L
}

/** The traced run's Spark probe: a SparkListener for jobs, stages, tasks
  * and SQL executions, and a QueryExecutionListener for planning phases,
  * the graft optimizer rule and per-operator SQL metrics. Events are
  * charged to the tracer's current operation; the harness drains the
  * listener bus after each traced operation so no event is charged late.
  */
final class SparkProbe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val counters = mutable.Map[Int, OpCounters]()
  private val jobSpans = mutable.Map[Int, (Int, Int, Long)]() // jobId -> (span id, op, start)
  private val stageJob = mutable.Map[Int, Int]() // stageId -> job span id

  private def acc(op: Int): OpCounters = counters.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = tracer.op
    acc(op).jobs += 1
    val id = tracer.reserve()
    jobSpans(e.jobId) = (id, op, e.time * 1000000L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { case (id, op, start) =>
      tracer.add(Span(id, "spark.job", -1, op, start, e.time * 1000000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    acc(tracer.op).stages += 1
    for (s <- info.submissionTime; c <- info.completionTime; job <- stageJob.get(info.stageId))
      tracer.add("spark.stage", job, tracer.op, s * 1000000L, c * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(tracer.op)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => synchronized { acc(tracer.op).sqlExecutions += 1 }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { record(acc(tracer.op), qe) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Planning phases and rule statistics of one QueryExecution, plus the
    * operator metrics of its final (post-AQE) physical plan.
    */
  def record(a: OpCounters, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phaseNs(p: String): Long = phases.get(p).map(_.durationMs * 1000000L).getOrElse(0L)
    a.analysisNs += phaseNs("analysis")
    a.optimizationNs += phaseNs("optimization")
    a.planningNs += phaseNs("planning")
    qe.tracker.rules.get(graft.plans.RewriteSortedIntersect.ruleName).foreach { r =>
      a.ruleNs += r.totalTimeNs
      a.ruleCalls += r.numInvocations
      a.ruleEffective += r.numEffectiveInvocations
    }
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) {
      val nodes = SparkProbe.nodes(plan)
      def sum(metric: String): Long =
        nodes.flatMap(_.metrics.get(metric)).map(_.value).sum
      a.scanMs += sum("scanTime")
      a.pipelineMs += sum("pipelineTime")
      a.aggMs += sum("aggTime")
      a.sortMs += sum("sortTime")
      a.peakMemory = math.max(a.peakMemory, sum("peakMemory"))
      a.spill += sum("spillSize")
      // rows delivered to the operation's sink: the topmost node that
      // counts its output rows, under a V2 write (the noop sink)
      if (plan.nodeName.contains("OverwriteByExpression") || plan.nodeName.contains("AppendData"))
        nodes.drop(1).find(_.metrics.contains("numOutputRows"))
          .foreach(n => a.outputRows += n.metrics("numOutputRows").value)
    }
  }
}

object SparkProbe {
  /** All nodes of a physical plan, descending through adaptive plans,
    * query stages and subqueries; reused exchanges are not re-entered.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def attach(spark: SparkSession, probe: SparkProbe): Unit = {
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }

  def detach(spark: SparkSession, probe: SparkProbe): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(probe)
    spark.listenerManager.unregister(probe)
  }
}
