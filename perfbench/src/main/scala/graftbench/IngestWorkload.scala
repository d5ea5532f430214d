package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, concat, encode, lit}

import graft.SparkEntry
import graft.api.implicits._
import graft.operators.{Refresh, RefreshTarget}
import graft.streaming.{IncrementalDedup, IncrementalWinnow}
import graftbench.Harness.{median, quantile, secs}

/** The `ingest_refresh` workload: the reference's refresh scenario with
  * graft's write paths. Each batch (1) lands new events and documents
  * files under catalog tables behind the catalog's back, (2) refreshes
  * all ten tables through `Refresh.refreshAll`, (3) reads the landed
  * tables back and checks the new rows are visible, (4) feeds the batch
  * to the trend, near-dup and winnow maintainers and to a pack store
  * (appends every batch, deletes and upserts on even batches, one tail
  * compaction in the second); each batch is followed by (5) four serve
  * reads. In a traced run the second batch is traced, so every pack-store
  * call has a span.
  *
  * run.py stages the inputs: `ingest/<table>/initial.parquet`, one
  * `batch-NNN.parquet` per batch, `ingest/counts.txt` with their row counts
  * and `ingest/edits.txt` with the pack store's seeded deletes and upserts
  * (`<batch> delete|upsert <ids>`).
  */
object IngestWorkload {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val Landed = Seq("events", "documents")

  /** One set-up's catalog, maintainer and pack-store locations. */
  final class Store(val root: Path) {
    def loc(t: String): Path = root.resolve(s"catalog/$t")
    val trend: String = root.resolve("state/trend").toString
    val neardup: String = root.resolve("state/neardup").toString
    val winnow: String = root.resolve("state/winnow").toString
    val pack: String = root.resolve("pack").toString
  }

  private def objects(spark: SparkSession, docs: DataFrame): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    docs.select(col("doc_id").as("_1"), encode(col("text"), "UTF-8").as("_2")).as[(Long, Array[Byte])]
  }

  private def trendIngest(spark: SparkSession, st: Store, events: DataFrame, b: Long): Unit =
    spark.graft.trendState(st.trend).ingest(events, "user_id", "event_type", "ts", "value", Some(b))

  def run(a: Args): Map[String, Any] = {
    val staged = a.work.resolve("ingest")
    val nBatches = Files.list(staged.resolve("events")).iterator().asScala
      .count(_.getFileName.toString.startsWith("batch-"))
    def batchFile(t: String, b: Int): Path = staged.resolve(f"$t/batch-$b%03d.parquet")
    val edits: Map[Int, Seq[(String, Seq[Long])]] =
      Files.readAllLines(staged.resolve("edits.txt")).asScala.toSeq.filter(_.nonEmpty).map { l =>
        val Array(b, kind, ids) = l.split(" ")
        (b.toInt, (kind, ids.split(",").map(_.toLong).toSeq))
      }.groupMap(_._1)(_._2)
    val tracer = new Tracer

    // Set-up, repeated: session, catalog tables over the static fixtures
    // and the initial events/documents, maintainer states and the pack
    // store built from the initial rows, and one warm serve read each.
    var spark: SparkSession = null
    var st: Store = null
    val setupS = (1 to Harness.Setups).map { r =>
      if (spark != null) Harness.stop(spark)
      val t0 = Harness.setupStart(r)
      st = new Store(a.work.resolve(s"ingest-r$r"))
      spark = Harness.logged(s"setup r$r session")(Harness.session(a, r))
      spark.sparkContext.setLogLevel("ERROR")
      Tables.foreach { t =>
        val loc = Files.createDirectories(st.loc(t))
        val src = if (Landed.contains(t)) staged.resolve(s"$t/initial.parquet") else a.data.resolve(s"$t.parquet")
        Files.createLink(loc.resolve("part-000.parquet"), src)
        spark.sql(s"CREATE TABLE $t USING parquet LOCATION 'benchcount://${loc.toUri.getPath}'")
      }
      val events = spark.read.parquet(staged.resolve("events/initial.parquet").toString)
      val docs = spark.read.parquet(staged.resolve("documents/initial.parquet").toString)
      Harness.logged(s"setup r$r trend")(trendIngest(spark, st, events, 0L))
      Harness.logged(s"setup r$r neardup")(IncrementalDedup.processBatch(spark, docs, st.neardup, Some(0L)))
      Harness.logged(s"setup r$r winnow")(
        IncrementalWinnow.processBatch(spark, docs.select("doc_id", "text"), st.winnow, Some(0L)))
      Harness.logged(s"setup r$r pack")(spark.graft.packStore(st.pack).init(objects(spark, docs), nPacks = a.cpus))
      serves(spark, st).foreach { case (name, df) =>
        Harness.logged(s"setup r$r serve $name")(df().write.format("noop").mode("overwrite").save())
      }
      secs(System.nanoTime() - t0)
    }
    val runner = new Runner(spark, tracer, timeoutS = 120)
    val pack = spark.graft.packStore(st.pack)
    val probe = new SparkProbe(tracer)

    // rows per staged part: "<table> <batch> <rows>", batch 0 the initial load
    val counts: Map[(String, Int), Long] = Files.readAllLines(staged.resolve("counts.txt")).asScala
      .filter(_.nonEmpty).map(_.split(" ")).map(f => (f(0), f(1).toInt) -> f(2).toLong).toMap
    val expected = mutable.Map[String, Long]()
    Landed.foreach(t => expected(t) = counts((t, 0)))
    var landedBytes = Landed.map(t => Files.size(staged.resolve(s"$t/initial.parquet"))).sum
    var landedRows = 0L
    val wrong = mutable.ArrayBuffer.empty[String]
    val steps = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tracer.span(name)(body)
      finally steps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs(System.nanoTime() - t0)
    }
    val refreshResults = mutable.ArrayBuffer.empty[(Double, Double)] // (dispatch wait ms, duration ms)
    var refreshOk, refreshAll = 0
    val listCalls = mutable.ArrayBuffer.empty[Long]

    val batchWall = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var gcMs = 0L
    var lastBatch = 0
    val t0 = System.nanoTime()
    def elapsed = secs(System.nanoTime() - t0)
    Harness.resetHeapPeak()
    while (lastBatch < nBatches &&
        (batchWall.size < Harness.minPasses(a, 0) || elapsed < a.seconds)) {
      val b = lastBatch + 1
      val traced = Harness.tracedPass(a, b, 0)
      if (traced) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        SparkProbe.attach(spark, probe)
        tracer.enabled = true
      }
      val gc0 = Harness.gcMillis()
      val op = runner.op("batch", s"batch-$b", b) {
        // (1) land: link the staged file under a hidden name, then rename
        // it into place — one atomic commit per table
        var landedAt = 0L
        step("land") {
          Landed.foreach { t =>
            val hidden = st.loc(t).resolve(f".part-$b%03d.parquet")
            Files.createLink(hidden, batchFile(t, b))
            Files.move(hidden, st.loc(t).resolve(f"part-$b%03d.parquet"), StandardCopyOption.ATOMIC_MOVE)
          }
          landedAt = System.nanoTime()
        }
        val lists0 = CountingFs.listCalls.get()
        // (2) refresh all ten tables, at most `cpus` at a time
        step("refresh.all") {
          val parent = tracer.current
          val start = System.nanoTime()
          val dispatched = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
          val results = Refresh.refreshAll(spark, Tables.map(RefreshTarget), 60.seconds,
            concurrency = a.cpus, onDispatch = t => dispatched.put(t, System.nanoTime()))
          results.foreach { r =>
            val d: Long = dispatched.getOrDefault(r.target, start)
            refreshResults += (((d - start) / 1e6, r.durationNanos / 1e6))
            refreshAll += 1
            if (r.ok) refreshOk += 1
            if (tracer.enabled) {
              val s = tracer.now() - (System.nanoTime() - d)
              tracer.add("refresh.target", parent, tracer.op, s, s + r.durationNanos)
            }
          }
          require(results.forall(_.ok), results.filterNot(_.ok).flatMap(_.error).mkString("; "))
        }
        // (3) read the landed tables through the catalog
        Landed.foreach { t =>
          val n = step(if (t == Landed.head) "read.first" else "read") { spark.table(t).count() }
          expected(t) += counts((t, b))
          if (n != expected(t)) wrong += s"$t count $n after batch $b, expected ${expected(t)}"
        }
        steps.getOrElseUpdate("freshness", mutable.ArrayBuffer.empty) += secs(System.nanoTime() - landedAt)
        listCalls += CountingFs.listCalls.get() - lists0
        // (4) maintainers and pack store
        val events = spark.read.parquet(st.loc("events").resolve(f"part-$b%03d.parquet").toString)
        val docs = spark.read.parquet(st.loc("documents").resolve(f"part-$b%03d.parquet").toString)
        step("trend.batch")(trendIngest(spark, st, events, b.toLong))
        step("neardup.batch")(IncrementalDedup.processBatch(spark, docs, st.neardup, Some(b.toLong)))
        step("winnow.batch")(IncrementalWinnow.processBatch(spark, docs.select("doc_id", "text"),
          st.winnow, Some(b.toLong)))
        step("pack.append")(pack.append(objects(spark, docs)))
        edits.getOrElse(b, Nil).foreach {
          case ("delete", ids) =>
            step("pack.delete")(pack.delete(spark.createDataset(ids)(org.apache.spark.sql.Encoders.scalaLong)))
          case (_, ids) =>
            val all = spark.read.parquet(st.loc("documents").toString)
            step("pack.upsert")(pack.upsert(objects(spark,
              all.filter(col("doc_id").isin(ids: _*))
                .select(col("doc_id"), concat(col("text"), lit(s" v$b")).as("text")))))
        }
        if (b == 2) step("pack.compact_tail")(pack.compactTail())
      }
      if (op.ok) {
        landedRows += Landed.map(t => counts((t, b))).sum
        landedBytes += Landed.map(t => Files.size(batchFile(t, b))).sum
      }
      batchWall += ((secs(op.wallNs), traced))
      // (5) serve reads from the maintained state
      serves(spark, st).foreach { case (name, df) =>
        runner.op("serve", name, b) { runner.action(runner.build(df())) }
        runner.release()
      }
      if (traced) {
        tracer.enabled = false
        SparkProbe.detach(spark, probe)
        gcMs += Harness.gcMillis() - gc0
      }
      lastBatch = b
    }
    val heapPeak = Harness.heapPeakMb()
    val rss = Harness.peakRssMb()

    // Checks, outside the timed region.
    val stateDirs = Seq(st.trend, st.neardup, st.winnow).map(java.nio.file.Paths.get(_))
    def stateSize = stateDirs.map(Harness.treeSize).foldLeft((0L, 0L)) { case ((b1, f1), (b2, f2)) => (b1 + b2, f1 + f2) }
    val before = stateSize._1
    val r0 = System.nanoTime()
    val events = spark.read.parquet(batchFile("events", lastBatch).toString)
    val docs = spark.read.parquet(batchFile("documents", lastBatch).toString)
    trendIngest(spark, st, events, lastBatch.toLong)
    IncrementalDedup.processBatch(spark, docs, st.neardup, Some(lastBatch.toLong))
    IncrementalWinnow.processBatch(spark, docs.select("doc_id", "text"), st.winnow, Some(lastBatch.toLong))
    val replayS = secs(System.nanoTime() - r0)
    if (stateSize._1 != before) wrong += s"replaying batch $lastBatch changed state bytes ${before} -> ${stateSize._1}"

    val snap = Files.createDirectories(a.work.resolve("snapshot"))
    Tables.foreach { t =>
      val target = Files.createDirectories(snap.resolve(s"$t.parquet"))
      Files.list(st.loc(t)).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .foreach(f => Files.createLink(target.resolve(f.getFileName), f))
    }
    val served = serves(spark, st).toMap
    Seq("trend" -> SparkEntry.queries("q_ts_trend"),
      "neardup" -> graft.operators.DedupQueries.dedupNear.query,
      "winnow" -> SparkEntry.queries("q_text_winnow_pairs"))
      .foreach { case (serve, twin) =>
        try {
          val got = rowsOf(served(serve)())
          val want = rowsOf(twin(spark, snap.toString))
          if (got != want) wrong += s"served $serve differs from its one-shot twin (${got.size} vs ${want.size} rows)"
        } catch { case NonFatal(e) => wrong += s"$serve check failed: ${e.getMessage}" }
      }
    val landed = spark.read.parquet(st.loc("documents").toString).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val live = mutable.Map[Long, String]() ++ landed
    (1 to lastBatch).foreach(b => edits.getOrElse(b, Nil).foreach {
      case ("delete", ids) => ids.foreach(live.remove)
      case (_, ids) => ids.foreach(i => live(i) = landed(i) + s" v$b")
    })
    val scanned = pack.scan().collect().map { case (i, bytes) => i -> new String(bytes, "UTF-8") }.toMap
    if (scanned != live.toMap) wrong += s"pack scan has ${scanned.size} objects, expected ${live.size} live"

    val ops = runner.ops.toSeq
    val plain = ops.filterNot(_.traced)
    val e2e = Map(
      "setup_s" -> median(setupS),
      "pass_s" -> median(batchWall.filterNot(_._2).map(_._1).toSeq),
      "query_p50_s" -> quantile(plain.filter(_.kind == "serve").map(o => secs(o.wallNs)), 0.5),
      "query_p90_s" -> quantile(plain.filter(_.kind == "serve").map(o => secs(o.wallNs)), 0.9))
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        Layers.writeSpans(a.work.resolve("trace.json"), Layers.resolve(tracer.all))
        def med(name: String): Double = steps.get(name).map(xs => median(xs.toSeq)).getOrElse(0.0)
        def serveMed(name: String): Double =
          median(ops.filter(o => o.kind == "serve" && o.name == name).map(o => secs(o.wallNs)))
        val (stateBytes, stateFiles) = stateSize
        val (packBytes, packFiles) = Harness.treeSize(java.nio.file.Paths.get(st.pack))
        val stats = pack.stats().collect().head
        Layers.common(ops, 0, probe, tracer, a.cpus, gcMs, heapPeak, rss) ++ Map(
          "operators.refresh.makespan_ms" -> med("refresh.all") * 1e3,
          "operators.refresh.target_p50_ms" -> median(refreshResults.map(_._2).toSeq),
          "operators.refresh.dispatch_wait_ms" -> median(refreshResults.map(_._1).toSeq),
          "operators.refresh.ok_ratio" -> refreshOk.toDouble / math.max(refreshAll, 1),
          "sources.first_read_s" -> med("read.first"),
          "sources.list_calls" -> listCalls.sum.toDouble / math.max(listCalls.size, 1),
          "sources.freshness_s" -> med("freshness"),
          "streaming.trend.batch_s" -> med("trend.batch"),
          "streaming.neardup.batch_s" -> med("neardup.batch"),
          "streaming.winnow.batch_s" -> med("winnow.batch"),
          "streaming.trend.serve_s" -> serveMed("trend"),
          "streaming.neardup.serve_s" -> serveMed("neardup"),
          "streaming.winnow.serve_s" -> serveMed("winnow"),
          "streaming.state_bytes" -> stateBytes.toDouble,
          "streaming.state_files" -> stateFiles.toDouble,
          "streaming.replay_s" -> replayS,
          "multimodal.pack.append_s" -> med("pack.append"),
          "multimodal.pack.upsert_s" -> med("pack.upsert"),
          "multimodal.pack.delete_s" -> med("pack.delete"),
          "multimodal.pack.compact_tail_s" -> med("pack.compact_tail"),
          "multimodal.pack.scan_s" -> serveMed("pack"),
          "multimodal.pack.bytes" -> packBytes.toDouble,
          "multimodal.pack.files" -> packFiles.toDouble,
          "multimodal.pack.live_components" ->
            (stats.getAs[Long]("base_components") + stats.getAs[Long]("delta_components") +
              stats.getAs[Long]("tombstone_components")).toDouble,
          "ingest.rows_per_s" -> landedRows / batchWall.map(_._1).sum,
          "ingest.state_bytes_per_input_byte" -> (stateBytes + packBytes).toDouble / landedBytes)
      }
    runner.close()
    Harness.stop(spark)
    Map(
      "setup_rounds_s" -> setupS,
      "passes_s" -> batchWall.map(_._1).toSeq,
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "traced" -> o.traced,
        "ok" -> o.ok, "error" -> o.error, "wall_s" -> secs(o.wallNs))),
      "wrong" -> wrong.toSeq,
      "checks" -> Seq.empty[String],
      "e2e" -> e2e,
      "layers" -> layers)
  }

  /** The four serve reads, as (name, function returning the frame). */
  def serves(spark: SparkSession, st: Store): Seq[(String, () => DataFrame)] =
    Seq(
      "trend" -> (() => spark.graft.trendState(st.trend).trend),
      "neardup" -> (() => IncrementalDedup.readPairs(spark, st.neardup)),
      "winnow" -> (() => IncrementalWinnow.serveWinnowPairs(spark, st.winnow)),
      "pack" -> (() => spark.graft.packStore(st.pack).scan().toDF("id", "bytes")))

  /** A frame's rows as a sorted multiset of strings, columns in name order. */
  def rowsOf(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.toIndexedSeq.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
  }
}
