package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graftbench.Harness.secs

/** Per-layer metrics of a traced run, from the traced operations' spans
  * and the Spark probe's counters. Times and counts are per operation
  * (means over traced operations) unless the name says otherwise.
  */
object Layers {

  /** Resolve the parents of Spark job spans: the innermost harness span
    * of the same operation that contains the job's midpoint (Spark's event
    * times are whole milliseconds, so a job's start can read earlier than
    * the harness span it ran in).
    */
  def resolve(spans: Seq[Span]): Seq[Span] = {
    val byOp = spans.filterNot(_.name.startsWith("spark.")).groupBy(_.op)
    def depth(s: Span, ids: Map[Int, Span]): Int =
      if (s.parent == -1) 0 else ids.get(s.parent).map(depth(_, ids) + 1).getOrElse(0)
    spans.map { s =>
      if (s.name != "spark.job" || s.parent != -1) s
      else {
        val cands = byOp.getOrElse(s.op, Nil)
        val ids = cands.map(c => c.id -> c).toMap
        val mid = s.start + (s.end - s.start) / 2
        val inside = cands.filter(c => c.start <= mid && mid < c.end)
        if (inside.isEmpty) s.copy(parent = cands.find(_.parent == -1).map(_.id).getOrElse(-1))
        else s.copy(parent = inside.maxBy(depth(_, ids)).id)
      }
    }
  }

  /** Largest gap (ms), over traced operations, between the sum of the
    * self times of the operation's spans and the operation's wall time.
    */
  def selfTimeError(spans: Seq[Span], ops: Seq[Op]): Double = {
    val byOp = spans.groupBy(_.op)
    ops.filter(_.traced).flatMap { o =>
      byOp.get(o.id).map(opSpans => math.abs(SelfTime(opSpans).values.sum - o.wallNs) / 1e6)
    }.maxOption.getOrElse(0.0)
  }

  /** Largest time (ms), over traced operations, that the operation's spans
    * spend outside their parents' intervals.
    */
  def escaped(spans: Seq[Span], ops: Seq[Op]): Double = {
    val byOp = spans.groupBy(_.op)
    ops.filter(_.traced).flatMap(o => byOp.get(o.id).map(SelfTime.escaped(_) / 1e6))
      .maxOption.getOrElse(0.0)
  }

  /** Tracing overhead: over the operations run both traced and untraced,
    * the geometric mean of (median traced wall ÷ median untraced wall),
    * minus one.
    */
  def overhead(ops: Seq[Op]): Double = {
    val ratios = ops.groupBy(_.name).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Harness.median(t.map(o => secs(o.wallNs))) / Harness.median(u.map(o => secs(o.wallNs))))
    }
    if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.size) - 1.0
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit =
    Files.writeString(path, Json(spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.start, "end_ns" -> s.end))))

  /** Metrics common to both workloads: operators (query build/action and
    * per-family times), plans, spark, jvm and the tracing overhead, which
    * leaves out the first `warmPasses` passes.
    */
  def common(ops: Seq[Op], warmPasses: Int, probe: SparkProbe, tracer: Tracer, cpus: Int,
      gcMs: Long, heapPeakMb: Double, rssMb: Double): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val n = math.max(traced.size, 1).toDouble
    val cs = traced.flatMap(o => probe.counters.get(o.id))
    def tot(f: OpCounters => Long): Double = cs.map(f).sum.toDouble
    val queries = traced.filter(_.kind == "query")
    val m = mutable.LinkedHashMap[String, Double]()
    if (queries.nonEmpty) {
      m("operators.build_s") = queries.map(o => secs(o.buildNs)).sum / queries.size
      m("operators.action_s") = queries.map(o => secs(o.actionNs)).sum / queries.size
      queries.groupBy(o => QueryWorkload.family(o.name)).foreach { case (f, os) =>
        m(s"operators.family.${f}_s") = os.map(o => secs(o.wallNs)).sum / os.size
      }
    }
    m("plans.analysis_s") = tot(_.analysisNs) / 1e9 / n
    m("plans.optimization_s") = tot(_.optimizationNs) / 1e9 / n
    m("plans.planning_s") = tot(_.planningNs) / 1e9 / n
    m("plans.graft_rule_s") = tot(_.ruleNs) / 1e9 / n
    m("plans.graft_rule_effective_ratio") =
      if (tot(_.ruleCalls) == 0) 0.0 else tot(_.ruleEffective) / tot(_.ruleCalls)
    m("spark.sql_executions") = tot(_.sqlExecutions) / n
    m("spark.jobs") = tot(_.jobs) / n
    m("spark.stages") = tot(_.stages) / n
    m("spark.tasks") = tot(_.tasks) / n
    m("spark.task_run_s") = tot(_.taskRunMs) / 1e3 / n
    m("spark.task_cpu_s") = tot(_.taskCpuNs) / 1e9 / n
    m("spark.gc_s") = tot(_.gcMs) / 1e3 / n
    val actionWall = traced.map(o => secs(if (o.actionNs > 0) o.actionNs else o.wallNs)).sum
    m("spark.core_busy_ratio") =
      if (actionWall == 0) 0.0 else tot(_.taskRunMs) / 1e3 / (cpus * actionWall)
    m("spark.shuffle_write_bytes") = tot(_.shuffleWrite) / n
    m("spark.shuffle_read_bytes") = tot(_.shuffleRead) / n
    m("spark.shuffle_fetch_wait_s") = tot(_.fetchWaitMs) / 1e3 / n
    m("spark.spill_bytes") = tot(_.spill) / n
    m("spark.input_rows_per_output_row") =
      if (tot(_.outputRows) == 0) 0.0 else tot(_.recordsRead) / tot(_.outputRows)
    m("spark.op.scan_s") = tot(_.scanMs) / 1e3 / n
    m("spark.op.codegen_pipeline_s") = tot(_.pipelineMs) / 1e3 / n
    m("spark.op.agg_s") = tot(_.aggMs) / 1e3 / n
    m("spark.op.sort_s") = tot(_.sortMs) / 1e3 / n
    m("spark.op.peak_memory_mb") =
      if (cs.isEmpty) 0.0 else cs.map(_.peakMemory).max / 1048576.0
    m("jvm.gc_s") = gcMs / 1e3 / n
    m("jvm.heap_peak_mb") = heapPeakMb
    m("jvm.peak_rss_mb") = rssMb
    val spans = resolve(tracer.all)
    m("trace.self_time_error_ms") = selfTimeError(spans, ops)
    m("trace.escaped_ms") = escaped(spans, ops)
    m("trace.spans_per_op") = spans.count(_.op > 0) / n
    m("trace.overhead_ratio") = overhead(ops.filter(_.pass > warmPasses))
    m("fail_ratio") = if (ops.isEmpty) 0.0 else ops.count(!_.ok).toDouble / ops.size
    m.toMap
  }
}
