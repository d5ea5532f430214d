package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Arguments passed by run.py. `work` is the run's fresh directory and the
  * JVM's working directory, so graft's relative `target/graft-*` artifact
  * and state paths land inside it; `data` holds the fixture tables.
  * `cpus` — Spark's local parallelism, shuffle partitions and refresh
  * concurrency — is the number of CPUs the JVM may use.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, data: Path, out: Path) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("data")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath)
  }
}

/** One timed operation: a query, an ingest batch, or a serve read. */
final case class Op(id: Int, kind: String, name: String, pass: Int, traced: Boolean,
    ok: Boolean, error: String, wallNs: Long, buildNs: Long, actionNs: Long)

/** Runs operations one after another (one closed-loop client), times
  * them, cancels any that exceed the per-operation deadline, and — in a
  * traced run — records their spans and drains the listener bus after
  * each so every Spark event is charged to the operation that caused it.
  */
final class Runner(spark: SparkSession, tracer: Tracer, timeoutS: Long) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private val watchdog = Executors.newSingleThreadScheduledExecutor()
  private val sc = spark.sparkContext
  private var buildNs, actionNs = 0L

  def op(kind: String, name: String, pass: Int)(body: => Unit): Op = {
    val id = ops.size + 1
    val tag = s"graftbench-op-$id"
    sc.addJobTag(tag)
    tracer.op = id
    buildNs = 0L; actionNs = 0L
    val timer = watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelJobsWithTag(tag)
    }, timeoutS, TimeUnit.SECONDS)
    val t0 = System.nanoTime()
    val error =
      try { tracer.span(s"op.$kind")(body); "" }
      catch { case NonFatal(e) => Option(e.getMessage).getOrElse(e.toString).take(300) }
    val wall = System.nanoTime() - t0
    timer.cancel(false)
    sc.removeJobTag(tag)
    if (tracer.enabled) org.apache.spark.BenchBus.drain(sc)
    tracer.op = -1
    val o = Op(id, kind, name, pass, tracer.enabled, error.isEmpty, error, wall, buildNs, actionNs)
    ops += o
    o
  }

  /** The query-building half of an operation (graft's `QueryDef.query`
    * or a serve verb): plan construction, eager barriers, artifact reads.
    */
  def build[T](body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span("build")(body) finally buildNs += System.nanoTime() - t0
  }

  /** The action half: a `noop`-format write, which computes every output
    * column of every row (a `count()` would let Catalyst prune them).
    */
  def action(df: org.apache.spark.sql.DataFrame): Unit = {
    val t0 = System.nanoTime()
    try tracer.span("action")(df.write.format("noop").mode("overwrite").save())
    finally actionNs += System.nanoTime() - t0
  }

  def release(): Unit = Harness.release(spark)

  def close(): Unit = watchdog.shutdownNow()
}

object Harness {
  /** Set-up rounds per run; `setup_s` is their median. The first round is
    * timed from the JVM's start, the second repeats the whole set-up in the
    * same process (a new session over a new fixture path and new state).
    */
  val Setups = 2

  /** `System.nanoTime()` at the JVM's start. */
  val jvmStart: Long = System.nanoTime() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

  /** Start of set-up round `round`: the JVM's start for the first round. */
  def setupStart(round: Int): Long = if (round == 1) jvmStart else System.nanoTime()

  /** Whether pass (or batch) `k`, counted from 1, is traced in a traced
    * run: after `warm` untraced warm-up passes, the order untraced, traced,
    * traced, untraced, repeated, so the two kinds are equally warm on
    * average and the tracing overhead compares like with like.
    */
  def tracedPass(a: Args, k: Int, warm: Int): Boolean =
    a.trace && k > warm && ((k - warm) % 4 == 2 || (k - warm) % 4 == 3)

  /** Fewest passes (batches) a run makes: its warm-up, then two, or in a
    * traced run one untraced-traced-traced-untraced cycle.
    */
  def minPasses(a: Args, warm: Int): Int = warm + (if (a.trace) 4 else 2)

  def session(a: Args, round: Int): SparkSession = {
    val dir = a.work.resolve(s"spark/r$round")
    SparkSession.builder().master(s"local[${a.cpus}]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.hadoop.fs.benchcount.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.benchcount.impl", classOf[CountingAbstractFs].getName)
      .getOrCreate()
  }

  /** Drop memory-pinned blocks (localCheckpoint / persist) between
    * operations, as a long-lived application serving many queries must.
    */
  def release(spark: SparkSession): Unit =
    try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    } catch { case NonFatal(_) => () }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A fresh copy (hard links) of the fixture tables under a new path:
    * graft keys its persisted artifacts by the fixture path, so each
    * set-up round builds them again from nothing.
    */
  def linkFixtures(a: Args, round: Int): String = {
    val dir = Files.createDirectories(a.work.resolve(s"fixtures/r$round"))
    Files.list(a.data).forEach(f => Files.createLink(dir.resolve(f.getFileName), f))
    dir.toString
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis quantile estimate: a Beta-weighted mean of all order
    * statistics. A run's samples come from a handful of rows of very
    * different cost, and a single order statistic jumps from one row's
    * cost to the next under small noise; the weighted mean moves smoothly.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
    }

  def secs(ns: Long): Double = ns / 1e9

  /** Run `body`, logging its wall time to the JVM's log. */
  def logged[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[graftbench] $label ${secs(System.nanoTime() - t0)}%.3f s")
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Bytes and files under a local directory tree. */
  def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      var bytes, files = 0L
      Files.walk(p).forEach { f =>
        if (Files.isRegularFile(f)) { bytes += Files.size(f); files += 1 }
      }
      (bytes, files)
    }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val result = a.workload match {
      case "llm_corpus" => QueryWorkload.run(a)
      case "ingest_refresh" => IngestWorkload.run(a)
      case other => sys.error(s"unknown workload $other")
    }
    Files.writeString(a.out, Json(result))
  }
}
