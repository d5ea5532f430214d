package graft.streaming

import graft.operators.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance of the winnowing fingerprint index
  * (q_text_winnow's selection, serving q_text_winnow_pairs' match step):
  * the copy-detection index a deployment keeps under continuous ingest.
  * Fingerprints are CONTENT-ONLY (the rightmost-min selection depends on
  * nothing outside the document), so the state is a pure append of
  * per-batch distinct (doc_id, fp_hash) segments — the expensive per-doc
  * linear work (tokenize → gram hash → window-min) runs ONCE per
  * document ever; the match step at serve runs over the maintained
  * skinny relation (≈ 2/(w+1) of gram volume). The df census and df-cap
  * are GLOBAL properties and therefore evaluate at serve time over the
  * whole maintained relation — a fingerprint that becomes boilerplate in
  * batch 40 correctly drops out of matches retroactively, which is
  * exactly the one-shot semantics ([[serveWinnowPairs]] ≡
  * `winnowPairsOn` by construction: same distinct fp relation, same
  * tail).
  *
  * State protocol: [[RecordLog]] records naming the live segment set and
  * committed batch id; a replayed batch id lands nothing; a lost
  * publish race re-CASes with the SAME segment (batch
  * derivations are batch-pure, so no rebase recompute exists here).
  * Segments auto-compact every [[AutoCompactSegs]] batches
  * ([[compactSegments]]) so the record body and the serve read stay
  * O(1) in batch count over a long-running ingest.
  */
object IncrementalWinnow {

  private val fpSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("fp_hash", LongType)))

  /** `tombs` — segment dirs folded by the LAST compaction, still on disk
    * for readers that resolved the pre-swap record (deferred GC, r14
    * ADVICE): they are deleted when the NEXT compaction publishes, so a
    * serve that resolved any of the two most recent records never has a
    * parquet dir removed between plan resolution and scan execution.
    */
  private[graft] case class WinnowState(version: Long, segs: Seq[String],
      batch: Option[Long], tombs: Seq[String] = Seq.empty) extends RecordLog.Record

  private[graft] val records = new RecordLog.Of[WinnowState](
    WinnowState(-1L, Seq.empty, None),
    st => RecordLog.body("segs" -> RecordLog.list(st.segs), "batch" -> RecordLog.num(st.batch),
      "tombs" -> RecordLog.list(st.tombs)),
    (v, f) => WinnowState(v, f.list("segs"), f.num("batch"), f.list("tombs")))

  /** Latest committed state ([[RecordLog]] resolution). */
  private[graft] def currentState(s: SparkSession, base: String): WinnowState =
    records.current(s, base)

  /** The committed micro-batch id — the serve row's build-completeness
    * probe.
    */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    currentState(s, base).batch

  /** The maintained fingerprint relation (doc_id, fp_hash) from ONE
    * committed record, GLOBALLY distinct: each segment is distinct
    * within its batch, but an at-least-once source may legitimately
    * re-emit the same document under a NEW batch id (the replay guard
    * only catches same-id redelivery) — without the cross-segment
    * distinct those duplicate rows would double the df census and
    * n_shared, silently diverging from the one-shot's global
    * `.distinct()` (r13 review finding). The relation is skinny
    * (2/(w+1) density), so the dedup costs one hash aggregate.
    */
  def readFingerprints(s: SparkSession, base: String): DataFrame = {
    val st = currentState(s, base)
    if (st.segs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], fpSchema)
    else s.read.schema(fpSchema).parquet(st.segs.map(n => s"$base/fps/$n"): _*)
      .distinct()
  }

  /** Ingest one batch of (doc_id, text) documents: extract winnow
    * fingerprints once, land them as a writer-unique segment, CAS the
    * record. A replayed batch id lands nothing.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None, k: Int = 3, w: Int = 4): Unit = {
    val st0 = currentState(s, base)
    if (batchId.exists(id => st0.batch.exists(_ >= id))) return
    val fps = TextQueries.winnowOn(batch.select("doc_id", "text"), k, w)
      .select("doc_id", "fp_hash").distinct()
    val uid = java.util.UUID.randomUUID.toString.take(8)
    val segName = s"b${st0.version + 1}-$uid"
    fps.write.mode("overwrite").parquet(s"$base/fps/$segName")
    // an exit that never published must not leave the segment orphaned
    def dropSeg(): Unit = graft.sources.GraftFs.deleteRecursively(s, s"$base/fps/$segName")
    var st = st0
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 16) {
        dropSeg()
        require(false, s"processBatch: lost the publish race $attempts times at $base")
      }
      val next = WinnowState(st.version + 1, st.segs :+ segName,
        batchId.orElse(st.batch), st.tombs)
      if (records.publish(s, base, next)) {
        // bound state growth: without compaction the record body and the
        // serve-time read (N tiny parquet dirs + a global distinct) grow
        // linearly with batch count over a long-running ingest. The fold
        // runs AFTER this batch's publish already landed, so a failure
        // here (lost-CAS exhaustion, a concurrent compactor racing the
        // same inputs) must not fail the committed batch — compaction is
        // idempotent and re-triggers on the next publish at ≥
        // AutoCompactSegs (r14 ADVICE: availability, not correctness)
        if (next.segs.size >= AutoCompactSegs)
          try compactFrom(s, base, next)
          catch {
            case e: Exception =>
              System.err.println(s"[IncrementalWinnow] auto-compaction at $base " +
                s"deferred to the next trigger: ${e.getMessage}")
          }
        return
      }
      st = currentState(s, base)
      if (batchId.exists(id => st.batch.exists(_ >= id))) {
        // defense-in-depth: never drop a segment the committed record
        // references (a concurrent same-id landing leaves OURS orphaned)
        if (!st.segs.contains(segName)) dropSeg()
        return
      }
    }
  }

  /** Auto-compaction threshold: processBatch folds the live segments
    * whenever a publish leaves this many — steady-state serve reads a
    * handful of dirs, not one per batch ever ingested.
    */
  private val AutoCompactSegs = 16

  /** Fold every live fingerprint segment into ONE globally-distinct
    * segment and CAS-publish the swap — the IncrementalSpan/Index
    * compactSegments discipline. Content is unchanged by construction:
    * readFingerprints applies a global distinct anyway, so pre-folding
    * it into the compacted segment is the same relation (and makes the
    * at-least-once cross-segment duplicates disappear from disk, not
    * just from the serve view). Concurrent ingest is safe: a batch that
    * commits mid-compact wins the CAS and the rebase keeps its segment
    * alongside the compacted dir.
    *
    * GC is DEFERRED one compaction generation (r14 ADVICE): the folded
    * input dirs are recorded as the new state's `tombs`; the NEXT
    * compaction reclaims the live record's tombs at ENTRY (before its
    * own fold — they are already a full generation old, so no reader
    * that resolved either of the two most recent records references
    * them, and reclaiming before our own publish means a crash anywhere
    * in THIS compaction cannot orphan them: they stay listed in the
    * still-current record and the next attempt re-reclaims). The
    * guarantee is TWO RECORDS DEEP, not a wall-clock window: a reader
    * that resolved the pre-swap record between currentState and scan
    * execution keeps its files until the following compaction — a full
    * 16-batch auto-window in steady state, but an operator invoking
    * compactSegments back-to-back shortens it to the gap between calls
    * (a scan still holding a YET older record was never covered; pace
    * explicit maintenance accordingly). The cost is ≤ one generation of
    * folded segments parked on disk; a crash between this compactor's
    * own fold-write and publish can still orphan its UNREFERENCED
    * `cName` output dir — the same pre-existing class as a crashed
    * ingest's segment, invisible to every reader and bounded by crash
    * count, not by runtime.
    */
  def compactSegments(s: SparkSession, base: String): Unit =
    compactFrom(s, base, currentState(s, base))

  /** The compaction body against an explicitly observed state — split
    * out so the spec can drive the lost-CAS rebase path
    * deterministically.
    */
  private[graft] def compactFrom(s: SparkSession, base: String, observed: WinnowState): Unit = {
    if (observed.segs.size <= 1) return
    val folded = observed.segs.toSet
    val uid = java.util.UUID.randomUUID.toString.take(8)
    val cName = s"c${observed.version + 1}-$uid"
    // duplicate/overlapping-compactor fast path: proceed only while
    // EVERY folded input is still live. All-or-nothing matters with
    // deferred GC (r15): an overlapping concurrent fold leaves our
    // inputs READABLE as tombstones, so without this guard we would
    // succeed and publish a state listing the shared content twice —
    // once in our cName, once in the other compactor's (harmless for
    // winnow's distinct relation, a double-count for the additive
    // siblings; guarded identically in all three). An APPEND never
    // removes a segment, so the legitimate stale-observed rebase
    // (interleaved ingest) always passes this check.
    val live = currentState(s, base)
    if (!folded.forall(live.segs.contains)) return
    // reclaim the PREVIOUS generation's tombstones at entry: they are a
    // full compaction generation old (no reader holding the current or
    // prior record references them), and reclaiming BEFORE our own
    // publish means a crash anywhere below cannot orphan them — they
    // stay listed in the still-current record and the next compaction
    // re-reclaims (deleteRecursively of a missing dir is a no-op)
    live.tombs.filterNot(folded.contains)
      .foreach(n => graft.sources.GraftFs.deleteRecursively(s, s"$base/fps/$n"))
    try {
      s.read.schema(fpSchema).parquet(observed.segs.map(n => s"$base/fps/$n"): _*)
        .distinct()
        .write.mode("overwrite").parquet(s"$base/fps/$cName")
    } catch {
      case e: Exception =>
        graft.sources.GraftFs.deleteRecursively(s, s"$base/fps/$cName")
        // rethrow ONLY when every folded input is still live (a genuine
        // I/O failure reading committed data). If ANY folded seg already
        // left the live set, a concurrent compactor with an overlapping
        // folded set swapped (and possibly reclaimed) a subset of our
        // inputs mid-read — its compacted dir covers the content, our
        // fold is superseded, and failing the caller would be pure
        // failure amplification (r14 ADVICE).
        val liveNow = currentState(s, base).segs.toSet
        if (!folded.forall(liveNow.contains)) return
        throw e
    }
    var st = observed
    var attempts = 0
    var committed = false
    while (!committed) {
      attempts += 1
      if (attempts > 8) {
        // exhaustion must not orphan the written compacted dir
        graft.sources.GraftFs.deleteRecursively(s, s"$base/fps/$cName")
        require(false, s"compactSegments: lost the publish race $attempts times at $base")
      }
      if (!folded.forall(st.segs.contains)) {
        // the race winner was another compaction overlapping our folded
        // set (same observed state, or a superset/subset fold) — its
        // output covers the swapped content; publishing ours would
        // double-list it. Abort; the winner owns the tombstone cleanup.
        graft.sources.GraftFs.deleteRecursively(s, s"$base/fps/$cName")
        return
      }
      // keep every segment committed since the observed state (an
      // interleaved append loses nothing); swap only the folded inputs,
      // tombstone them (deferred GC — deleted by the NEXT compaction)
      val next = WinnowState(st.version + 1,
        (cName +: st.segs.filterNot(folded.contains)).distinct, st.batch,
        folded.toSeq.sorted)
      if (records.publish(s, base, next)) committed = true
      else st = currentState(s, base)
    }
    // (prior-generation tombs were reclaimed at entry; an interleaved
    // append cannot add tombs, and an interleaved compaction takes the
    // superseded-fold exit above — nothing further to delete here)
  }

  /** The MOSS match step served from the maintained fingerprint relation
    * — ≡ q_text_winnow_pairs one-shot by construction (the fp relation
    * is content-only and distinct per doc, and the df census / df-cap /
    * pair join run the registered tail verbatim over it).
    */
  def serveWinnowPairs(s: SparkSession, base: String,
      dfCap: Int = 16, minShared: Int = 2): DataFrame =
    TextQueries.winnowPairsFromFps(readFingerprints(s, base), dfCap, minShared)

  /** Attach to a documents stream via foreachBatch (replay-protected). */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
