package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance of the span-provenance state — the streaming
  * upkeep of q_text_span_source's "who copied whom" audit: each arriving
  * micro-batch of documents lands its per-doc window-occurrence counts
  * and per-doc window mass APPEND-ONLY (a doc's windows never change
  * once written — the posting-segment property) and MERGES the
  * per-window sufficient statistic (gh → total count, min holder), whose
  * partials are associative: cnt is a sum, the canonical source a min.
  * Serve runs the EXACT SAME attribution tail as the registered query
  * (TextQueries.spanSourceFromTables), so state-served ≡ one-shot
  * bit-for-bit over any batch split — IncrementalSpanSpec replays the
  * fixture to pin it.
  *
  * Why this matters at 100 TB: nightly admission re-runs the provenance
  * audit, and the one-shot recomputes every window of the standing
  * corpus each night; here a batch costs O(batch windows) plus one
  * window-vocabulary-grain merge, and the corpus text is never
  * re-tokenized.
  *
  * State protocol: [[RecordLog]] records carrying the stats dir, the
  * LIVE occ/docs segment lists, and the last committed batch id (r11
  * advice: the old single-pointer swap let two concurrent ingests
  * silently drop or tear a batch).
  *
  *  - ingest writes its occ/docs segments and merged stats under
  *    WRITER-UNIQUE names, then CASes the next record. A lost race rebases:
  *    re-read the winner, re-merge the stats partial against ITS stats,
  *    splice the batch segments into ITS lists, retry at the next
  *    version. The occ/docs segments are pure batch data — version-
  *    independent — so a rebase never rewrites them.
  *  - stats are vocabulary-sized and rewritten per merge, so superseded
  *    stats dirs are GARBAGE: after a commit at v, the stats dir of
  *    v−2 is deleted (if no surviving record references it). Exactly one
  *    superseded version is kept so a reader serving state v−1 while the
  *    commit lands never has its scan deleted out from under it.
  *  - compaction ([[compactSegments]]) folds the occ and docs segment
  *    lists of the state it read into one dir each and CASes a record
  *    swapping them in — the IncrementalIndex compactFrom discipline:
  *    writer-unique output dir, duplicate-compactor guard, rebase keeps
  *    interloper segments, inputs deleted only after the publish lands.
  *
  * Contract: each doc_id arrives exactly once across batches (corpus
  * ingest). Concurrent ingests and compactions are safe under the CAS;
  * replay protection is the committed batch tag.
  */
object IncrementalSpan {

  private val occSchema = StructType(Seq(
    StructField("gh", LongType), StructField("doc_id", LongType),
    StructField("k", LongType)))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_windows", LongType)))
  private val statsSchema = StructType(Seq(
    StructField("gh", LongType), StructField("cnt", LongType),
    StructField("src", LongType)))

  /** One committed span state: one [[RecordLog]] record. `occSegs` /
    * `docSegs` are dir names under `occ/` / `docs/`; `statsDir` is
    * relative to `base`.
    */
  /** `occTombs`/`docTombs` — segment dirs folded by the LAST compaction,
    * still on disk for readers that resolved the pre-swap record
    * (deferred GC, the r15 IncrementalWinnow discipline): deleted when
    * the NEXT compaction publishes. Pre-tombs records parse with the
    * fields absent.
    */
  private[graft] case class SpanState(version: Long, statsDir: Option[String],
      occSegs: Seq[String], docSegs: Seq[String], batch: Option[Long],
      occTombs: Seq[String] = Seq.empty, docTombs: Seq[String] = Seq.empty)
      extends RecordLog.Record

  private[graft] val records = new RecordLog.Of[SpanState](
    SpanState(-1L, None, Seq.empty, Seq.empty, None),
    st => RecordLog.body("stats" -> st.statsDir.getOrElse(""), "occ" -> RecordLog.list(st.occSegs),
      "docs" -> RecordLog.list(st.docSegs), "batch" -> RecordLog.num(st.batch),
      "tombocc" -> RecordLog.list(st.occTombs), "tombdocs" -> RecordLog.list(st.docTombs)),
    (v, f) => SpanState(v, f.text("stats"), f.list("occ"), f.list("docs"), f.num("batch"),
      f.list("tombocc"), f.list("tombdocs")))

  /** Latest committed state ([[RecordLog]] resolution). */
  private[graft] def currentState(s: SparkSession, base: String): SpanState =
    records.current(s, base)

  /** Bounded stats growth (r11 advice): after a commit at version v, the
    * stats dir referenced by record v−2 is garbage UNLESS a surviving
    * later record still names it (compaction carries statsDir forward
    * unchanged). Exactly one superseded version is kept so a reader that
    * resolved state v−1 just before the commit still scans live files.
    */
  private def gcStats(s: SparkSession, base: String, committed: SpanState): Unit =
    try {
      records.read(s, base, committed.version - 2).flatMap(_.statsDir).foreach { old =>
        val keep = Seq(committed.version - 1, committed.version)
          .flatMap(records.read(s, base, _)).flatMap(_.statsDir)
        if (!keep.contains(old))
          graft.sources.GraftFs.deleteRecursively(s, s"$base/$old")
      }
    } catch { case _: Throwable => () } // GC must never fail a commit

  private def empty(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readStatsOf(s: SparkSession, base: String, st: SpanState): DataFrame =
    st.statsDir match {
      case Some(d) => s.read.schema(statsSchema).parquet(s"$base/$d")
      case None => empty(s, statsSchema)
    }

  private def readOccOf(s: SparkSession, base: String, st: SpanState): DataFrame =
    if (st.occSegs.isEmpty) empty(s, occSchema)
    else s.read.schema(occSchema).parquet(st.occSegs.map(n => s"$base/occ/$n"): _*)

  private def readDocsOf(s: SparkSession, base: String, st: SpanState): DataFrame =
    if (st.docSegs.isEmpty) empty(s, docsSchema)
    else s.read.schema(docsSchema).parquet(st.docSegs.map(n => s"$base/docs/$n"): _*)

  /** Merge one micro-batch of (doc_id, text) documents into the span
    * state and CAS-publish the next state record. Replays (batch id <=
    * committed tag) are skipped — re-landing a doc's windows would
    * double-count them in both the occurrence segments and the merged
    * stats. Batch cost is O(batch windows) + one vocabulary-grain merge.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit = {
    val st0 = currentState(s, base)
    if (batchId.exists(id => st0.batch.exists(_ >= id))) return
    // first-write-wins per doc_id: an at-least-once source re-emitting a
    // document under a NEW batch id (the replay tag only guards same-id
    // redelivery) would otherwise double its window counts in BOTH the
    // occurrence segments and the merged stats — silent corruption no
    // serve-side dedup can undo. The anti-join reads the committed
    // doc-grain segments (skinny); concurrent writers are expected to
    // carry disjoint doc sets (the foreachBatch topology guarantees it).
    val fresh = batch.join(readDocsOf(s, base, st0).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val occP = graft.operators.TextQueries.windowGrams(
        fresh.select(col("doc_id"), col("text")))
      .groupBy("gh", "doc_id").agg(count(lit(1)).as("k"))
      .localCheckpoint() // feeds the segment write, the stats partial, and the doc masses
    val docsP = fresh.select("doc_id").distinct()
      .join(occP.groupBy("doc_id").agg(sum("k").as("n2")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n2"), lit(0L)).as("n_windows"))
    val statsP = occP.groupBy(col("gh").as("g2"))
      .agg(sum("k").as("c2"), min("doc_id").as("s2"))
    var st = st0
    var attempts = 0
    var committed = false
    var segs: Option[(String, String)] = None // writer-unique (occSeg, docsSeg)
    var statsOf: Option[(String, String)] = None // (writtenDir, mergedFromStatsDir)
    while (!committed) {
      attempts += 1
      require(attempts <= 8, s"processBatch: lost the publish race $attempts times at $base")
      val v = st.version + 1
      // the batch segments are pure batch data — version-independent, so
      // a rebase reuses them; writer-unique names make concurrent
      // attempts at the same version physically disjoint
      val (occSeg, docsSeg) = segs.getOrElse {
        val uid = java.util.UUID.randomUUID.toString.take(8)
        val p = (s"b$v-$uid", s"b$v-$uid")
        occP.write.mode("overwrite").parquet(s"$base/occ/${p._1}")
        docsP.write.mode("overwrite").parquet(s"$base/docs/${p._2}")
        segs = Some(p); p
      }
      // the stats merge is against a SPECIFIC predecessor stats dir;
      // reuse the written merge only while the committed dir hasn't
      // moved (compaction never moves it — an ingest rebase across a
      // compaction keeps the merge; across a foreign ingest it recomputes)
      val statsName = statsOf match {
        case Some((written, from)) if st.statsDir.contains(from) || (st.statsDir.isEmpty && from.isEmpty) =>
          written
        case _ =>
          val merged = readStatsOf(s, base, st)
            .join(statsP, col("gh") === col("g2"), "full_outer")
            .select(coalesce(col("gh"), col("g2")).as("gh"),
              (coalesce(col("cnt"), lit(0L)) + coalesce(col("c2"), lit(0L))).as("cnt"),
              least(col("src"), col("s2")).as("src")) // least skips nulls: min of the present sides
            .localCheckpoint()
          val n = s"stats/v$v-" + java.util.UUID.randomUUID.toString.take(8)
          merged.write.mode("overwrite").parquet(s"$base/$n")
          statsOf = Some((n, st.statsDir.getOrElse("")))
          n
      }
      val next = SpanState(v, Some(statsName), st.occSegs :+ occSeg,
        st.docSegs :+ docsSeg, batchId.orElse(st.batch),
        st.occTombs, st.docTombs)
      if (records.publish(s, base, next)) { committed = true; gcStats(s, base, next) }
      else {
        st = currentState(s, base)
        if (batchId.exists(id => st.batch.exists(_ >= id))) return
      }
    }
  }

  /** Fold the current occ and docs segment lists into one dir each and
    * CAS-publish the swap — the IncrementalIndex compactSegments
    * discipline (r11 verdict ask 5): without it a year of frequent
    * batches is hundreds of thousands of small parquet dirs on the serve
    * path. Content is unchanged by construction — occ rows are disjoint
    * (gh, doc_id) facts and docs rows disjoint doc_ids, both order-free.
    * Concurrent ingest is safe: a batch that commits mid-compact wins
    * the CAS and the rebase keeps its segments alongside the compacted
    * dirs. GC is DEFERRED one compaction generation (the r15
    * IncrementalWinnow discipline): folded inputs are tombstoned in the
    * new record and reclaimed at the NEXT compaction's entry (before
    * its publish, so a crash there cannot orphan them) — a reader that
    * resolved the pre-swap record between currentState and scan
    * execution keeps its files.
    */
  def compactSegments(s: SparkSession, base: String): Unit =
    compactFrom(s, base, currentState(s, base))

  /** The compaction body against an explicitly observed state — split out
    * so IncrementalSpanSpec can drive the lost-CAS rebase path
    * deterministically.
    */
  private[graft] def compactFrom(s: SparkSession, base: String, observed: SpanState): Unit = {
    if (observed.occSegs.size <= 1 && observed.docSegs.size <= 1) return
    val foldedOcc = observed.occSegs.toSet
    val foldedDocs = observed.docSegs.toSet
    val uid = java.util.UUID.randomUUID.toString.take(8)
    val cName = s"c${observed.version + 1}-$uid"
    // duplicate/overlap fast path: proceed only while EVERY folded
    // input is still live — with deferred GC (r15) an overlapping
    // concurrent fold leaves our inputs readable as tombstones, and an
    // exists-guard would let us publish a state listing shared window
    // counts twice (an additive double-count). Appends never remove a
    // segment, so the legitimate stale-observed rebase always passes.
    val live = currentState(s, base)
    if (!foldedOcc.forall(live.occSegs.contains)
      || !foldedDocs.forall(live.docSegs.contains)) return
    // reclaim the PREVIOUS generation's tombstones at entry (a full
    // generation old; reclaiming before our publish means a crash below
    // cannot orphan them — the still-current record keeps them listed
    // and the next compaction re-reclaims)
    live.occTombs.filterNot(foldedOcc.contains)
      .foreach(n => graft.sources.GraftFs.deleteRecursively(s, s"$base/occ/$n"))
    live.docTombs.filterNot(foldedDocs.contains)
      .foreach(n => graft.sources.GraftFs.deleteRecursively(s, s"$base/docs/$n"))
    try {
      readOccOf(s, base, observed).localCheckpoint()
        .write.mode("overwrite").parquet(s"$base/occ/$cName")
      readDocsOf(s, base, observed).localCheckpoint()
        .write.mode("overwrite").parquet(s"$base/docs/$cName")
    } catch {
      case e: Exception =>
        graft.sources.GraftFs.deleteRecursively(s, s"$base/occ/$cName")
        graft.sources.GraftFs.deleteRecursively(s, s"$base/docs/$cName")
        // rethrow ONLY when every folded input is still live (a genuine
        // I/O failure reading committed data); a concurrent compactor
        // that swapped any subset of our inputs supersedes this fold
        val liveNow = currentState(s, base).occSegs.toSet
        if (!foldedOcc.forall(liveNow.contains)) return
        throw e
    }
    var st = observed
    var attempts = 0
    var committed = false
    while (!committed) {
      attempts += 1
      if (attempts > 8) {
        // exhaustion must not orphan the written compacted dirs
        graft.sources.GraftFs.deleteRecursively(s, s"$base/occ/$cName")
        graft.sources.GraftFs.deleteRecursively(s, s"$base/docs/$cName")
        require(false, s"compactSegments: lost the publish race $attempts times at $base")
      }
      if (!foldedOcc.forall(st.occSegs.contains)
        || !foldedDocs.forall(st.docSegs.contains)) {
        // the race winner was a compaction overlapping our folded set —
        // its output covers the swapped content; publishing ours would
        // double-count shared windows. Abort; the winner owns cleanup.
        graft.sources.GraftFs.deleteRecursively(s, s"$base/occ/$cName")
        graft.sources.GraftFs.deleteRecursively(s, s"$base/docs/$cName")
        return
      }
      // keep every segment committed since the observed state (an
      // interleaved append loses nothing); swap only the folded inputs,
      // tombstone them (deferred GC — deleted by the NEXT compaction)
      val next = SpanState(st.version + 1, st.statsDir,
        (cName +: st.occSegs.filterNot(foldedOcc.contains)).distinct,
        (cName +: st.docSegs.filterNot(foldedDocs.contains)).distinct,
        st.batch,
        foldedOcc.toSeq.sorted, foldedDocs.toSeq.sorted)
      if (records.publish(s, base, next)) committed = true
      else st = currentState(s, base)
    }
    // (prior-generation tombs were reclaimed at entry; appends cannot
    // add tombs and an interleaved compaction takes the overlap exit)
  }

  /** The full provenance audit served from state — ≡ q_text_span_source
    * over everything ingested (IncrementalSpanSpec pins row equality).
    * Docs, occurrences, and stats are read from ONE state record — a
    * concurrent commit cannot tear the triple apart.
    */
  def serveSpanSource(s: SparkSession, base: String): DataFrame = {
    val st = currentState(s, base)
    graft.operators.TextQueries.spanSourceFromTables(
      readDocsOf(s, base, st), readOccOf(s, base, st), readStatsOf(s, base, st))
  }

  /** NOVELTY of a candidate slice against the STANDING state — the
    * q_text_novelty semantics with the standing window set served from
    * the maintained stats instead of re-tokenizing the corpus (the
    * operator's documented 100 TB path): per candidate doc, the fraction
    * of its stride-1 20-token windows absent from every ingested
    * document's window set. The slice is NOT ingested by this call — it
    * is the admission question ("how much new information would this
    * slice add"), asked before committing it.
    */
  def serveNovelty(s: SparkSession, base: String, candidates: DataFrame): DataFrame = {
    val standing = readStatsOf(s, base, currentState(s, base)).select("gh")
    val grams = graft.operators.TextQueries.windowGrams(
        candidates.select(col("doc_id"), col("text")))
      .localCheckpoint() // feeds the per-doc mass AND the anti-join
    val novel = grams.join(standing, Seq("gh"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("novel_windows"))
    val nWin = grams.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    candidates.select("doc_id")
      .join(nWin, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("novel_windows"), lit(0L)).as("novel_windows"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          round(coalesce(col("novel_windows"), lit(0L)).cast(DoubleType)
            / col("n_windows"), 6)).as("novelty"))
      .orderBy("doc_id")
  }

  /** Attach to a documents stream via foreachBatch (replay-protected). */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
