package graft.streaming

import graft.functions.Tokenize
import graft.operators.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental / streaming MinHash near-dedup (round-3 §7.6 #1): the state
  * a nightly 100 TB ingest pipeline keeps is exactly the tables this
  * maintains — banded LSH signatures and hashed token sets of every
  * document seen so far, plus the verified near-dup pairs emitted along
  * the way. Each arriving micro-batch:
  *
  *   1. computes its own signatures (per-row HOFs, shuffle-free);
  *   2. candidate-joins the BATCH signatures against state ∪ batch — only
  *      pairs touching a new doc are enumerated, so batch cost scales with
  *      the batch, not the corpus;
  *   3. verifies candidates exactly (same `verifyJaccard` gate as the
  *      batch operators — precision 1.0 by construction);
  *   4. commits the batch's signature/hash/pair segments atomically.
  *
  * Because signatures depend only on document content, the union of
  * per-batch emissions over any batch split equals the one-shot batch
  * q_dedup_near pair set exactly — IncrementalDedupSpec asserts set
  * equality including the jaccard scores, and q_serve_neardup_state puts
  * the build→serve loop through the driver's oracle gate every round.
  *
  * State protocol (r12): [[RecordLog]] records naming the live segment
  * set (each segment = writer-unique dirs `banded/<seg>`, `hashed/<seg>`,
  * `pairs/<seg>`) and the committed batch id; a replayed batch id is
  * skipped; a lost publish race rebases — the pure-batch signature/hash
  * segments are reused, the state-dependent pair emission recomputes
  * against the winner's state.
  *
  * Segments auto-compact every [[AutoCompactSegs]] batches (r15 —
  * the Index/Span/Winnow discipline with deferred-GC tombstones and
  * the all-live overlap guard), so the record body, the serve read,
  * and each batch's state-side signature scan stay O(1) in batch
  * count over a long-running ingest.
  */
object IncrementalDedup {

  private val bandedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("sz", IntegerType), StructField("band", IntegerType),
    StructField("sig", LongType)))
  private val hashedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("toksh", ArrayType(LongType, containsNull = false), nullable = false)))
  private val pairsSchema = StructType(Seq(
    StructField("doc_id1", LongType), StructField("doc_id2", LongType),
    StructField("jaccard", DoubleType)))

  /** One committed dedup state: segment names (shared by the banded/
    * hashed/pairs dirs — the three are always committed together) and
    * the highest landed batch id. `tombs` are the segment names folded
    * by the LAST compaction (deferred GC, the r15 discipline): still on
    * disk in all three families for readers that resolved the pre-swap
    * record, reclaimed at the NEXT compaction's entry.
    */
  private[graft] case class DedupState(version: Long, segs: Seq[String],
      batch: Option[Long], tombs: Seq[String] = Seq.empty) extends RecordLog.Record

  private[graft] val records = new RecordLog.Of[DedupState](
    DedupState(-1L, Seq.empty, None),
    st => RecordLog.body("segs" -> RecordLog.list(st.segs), "batch" -> RecordLog.num(st.batch),
      "tombs" -> RecordLog.list(st.tombs)),
    (v, f) => DedupState(v, f.list("segs"), f.num("batch"), f.list("tombs")))

  /** Latest committed state ([[RecordLog]] resolution). */
  private[graft] def currentState(s: SparkSession, base: String): DedupState =
    records.current(s, base)

  /** The committed micro-batch id — the serve row's build-completeness
    * probe.
    */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    currentState(s, base).batch

  private def emptyDf(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readSegs(s: SparkSession, base: String, sub: String,
      schema: StructType, segs: Seq[String]): DataFrame =
    if (segs.isEmpty) emptyDf(s, schema)
    else s.read.schema(schema).parquet(segs.map(n => s"$base/$sub/$n"): _*)

  /** All pairs emitted so far, from ONE committed record (a concurrent
    * commit cannot tear the segment set).
    */
  def readPairs(s: SparkSession, base: String): DataFrame = {
    val st = currentState(s, base)
    readSegs(s, base, "pairs", pairsSchema, st.segs)
  }

  /** Process one batch of documents (doc_id, text, lang, ...): emit the
    * verified near-dup pairs involving at least one batch document, then
    * commit the batch's segments. Returns the emitted pairs (doc_id1 <
    * doc_id2, jaccard); a replayed batch id returns empty and lands
    * nothing.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): DataFrame = {
    val st0 = currentState(s, base)
    if (batchId.exists(id => st0.batch.exists(_ >= id)))
      return emptyDf(s, pairsSchema)
    // first-write-wins per doc_id: an at-least-once source re-emitting a
    // document under a NEW batch id would otherwise land duplicate
    // signature/hash rows AND re-emit every pair the doc already emitted
    // (pair-set unchanged, but row-level duplicates in the pair store).
    // The anti-join reads the per-doc hashed segments' key column —
    // skinny; concurrent writers carry disjoint docs (foreachBatch).
    val fresh = batch.join(
      readSegs(s, base, "hashed", hashedSchema, st0.segs).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val sets = fresh.select(col("doc_id"), col("lang"),
      Tokenize.tokenSet(col("text")).as("toks"))
    // batch derivations are pure batch data — materialize once, reuse
    // across publish-race rebases; writer-unique segment names make
    // concurrent writers collision-free (record-defined liveness)
    val bBanded = DedupQueries.bandedSignatures(sets, bands = 16).localCheckpoint()
    val bHashed = fresh.select(col("doc_id"),
      Tokenize.hashedTokenSet(col("text")).as("toksh")).localCheckpoint()
    val uid = java.util.UUID.randomUUID.toString.take(8)
    val segName = s"b${st0.version + 1}-$uid"
    bBanded.write.mode("overwrite").parquet(s"$base/banded/$segName")
    bHashed.write.mode("overwrite").parquet(s"$base/hashed/$segName")
    // an exit that never published must not leave the three family dirs
    // orphaned (the Winnow dropSeg discipline)
    def dropSeg(): Unit = Seq("banded", "hashed", "pairs")
      .foreach(f => graft.sources.GraftFs.deleteRecursively(s, s"$base/$f/$segName"))
    var st = st0
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 8) {
        dropSeg() // an exit that never published must not orphan the dirs
        require(false, s"processBatch: lost the publish race $attempts times at $base")
      }
      // the pair emission depends on the OBSERVED state (candidates =
      // batch × state ∪ batch) — recompute on every rebase
      val allBanded = readSegs(s, base, "banded", bandedSchema, st.segs).unionByName(bBanded)
      val allHashed = readSegs(s, base, "hashed", hashedSchema, st.segs).unionByName(bHashed)
      val l = bBanded.select(col("lang"), col("band"), col("sig"), col("doc_id").as("did1"))
      val r = allBanded.select(col("lang").as("lang2"), col("band").as("band2"),
        col("sig").as("sig2"), col("doc_id").as("did2"))
      val cands = l.join(r,
          col("lang") === col("lang2") && col("band") === col("band2")
            && col("sig") === col("sig2") && col("did1") =!= col("did2"))
        .select(least(col("did1"), col("did2")).as("doc_id1"),
          greatest(col("did1"), col("did2")).as("doc_id2"))
        .distinct()
      val newPairs = DedupQueries.verifyJaccard(cands, allHashed, 1, 2).localCheckpoint()
      newPairs.write.mode("overwrite").parquet(s"$base/pairs/$segName")
      val next = DedupState(st.version + 1, st.segs :+ segName,
        batchId.orElse(st.batch), st.tombs)
      if (records.publish(s, base, next)) {
        // bound state growth (the Winnow discipline): without folding,
        // every serve read and every batch's state-side scan opens one
        // parquet dir per batch ever ingested. The fold runs AFTER the
        // publish landed, so a failure here must not fail the committed
        // batch — compaction is idempotent and re-triggers
        if (next.segs.size >= AutoCompactSegs)
          try compactFrom(s, base, next)
          catch {
            case e: Exception =>
              System.err.println(s"[IncrementalDedup] auto-compaction at $base " +
                s"deferred to the next trigger: ${e.getMessage}")
          }
        return newPairs
      }
      st = currentState(s, base)
      if (batchId.exists(id => st.batch.exists(_ >= id))) {
        // genuine concurrent same-id landing: OUR dirs are orphans (the
        // membership guard is defense-in-depth against any path that
        // reaches here with our own segment committed)
        if (!st.segs.contains(segName)) dropSeg()
        return emptyDf(s, pairsSchema)
      }
    }
    emptyDf(s, pairsSchema) // unreachable
  }

  /** Auto-compaction threshold: processBatch folds the live segments
    * whenever a publish leaves this many — steady-state serve and the
    * per-batch state-side scans read a handful of dirs, not one per
    * batch ever ingested.
    */
  private val AutoCompactSegs = 16

  /** Fold every live segment of all THREE families into ONE dir each
    * and CAS-publish the swap — the Index/Span/Winnow r15 discipline.
    * Content is unchanged verbatim: each family is rewritten as the
    * plain union of its folded segments (no distinct — banded/hashed
    * rows are disjoint across segments by the first-write-wins ingest
    * guard, and pair rows keep their exact multiplicity). Concurrent
    * ingest is safe: a batch that commits mid-compact wins the CAS and
    * the rebase keeps its segment alongside the compacted dir. GC is
    * DEFERRED one generation: folded inputs are tombstoned in the new
    * record and reclaimed at the NEXT compaction's entry (before its
    * publish, so a crash there cannot orphan them).
    */
  def compactSegments(s: SparkSession, base: String): Unit =
    compactFrom(s, base, currentState(s, base))

  private val Families = Seq(
    ("banded", bandedSchema), ("hashed", hashedSchema), ("pairs", pairsSchema))

  private[graft] def compactFrom(s: SparkSession, base: String, observed: DedupState): Unit = {
    if (observed.segs.size <= 1) return
    val folded = observed.segs.toSet
    val uid = java.util.UUID.randomUUID.toString.take(8)
    val cName = s"c${observed.version + 1}-$uid"
    def dropC(): Unit = Families.foreach { case (f, _) =>
      graft.sources.GraftFs.deleteRecursively(s, s"$base/$f/$cName") }
    // duplicate/overlap fast path: proceed only while EVERY folded input
    // is still live — with deferred GC an overlapping concurrent fold
    // leaves our inputs readable as tombstones, and publishing ours
    // would double-list shared content (duplicate pair rows and
    // double-counted signatures in the per-batch state scans)
    val live = currentState(s, base)
    if (!folded.forall(live.segs.contains)) return
    // reclaim the PREVIOUS generation's tombstones at entry (a full
    // generation old; reclaiming before our publish means a crash below
    // cannot orphan them — the still-current record keeps them listed)
    for (t <- live.tombs.filterNot(folded.contains); (f, _) <- Families)
      graft.sources.GraftFs.deleteRecursively(s, s"$base/$f/$t")
    try {
      for ((f, schema) <- Families)
        readSegs(s, base, f, schema, observed.segs).localCheckpoint()
          .write.mode("overwrite").parquet(s"$base/$f/$cName")
    } catch {
      case e: Exception =>
        dropC()
        // rethrow ONLY when every folded input is still live (a genuine
        // I/O failure); a concurrent compactor that swapped any subset
        // supersedes this fold
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
        dropC() // exhaustion must not orphan three corpus-sized dirs
        require(false, s"compactSegments: lost the publish race $attempts times at $base")
      }
      if (!folded.forall(st.segs.contains)) {
        // the race winner overlapped our folded set — its output covers
        // the swapped content; publishing ours would double-list it
        dropC()
        return
      }
      val next = DedupState(st.version + 1,
        (cName +: st.segs.filterNot(folded.contains)).distinct, st.batch,
        folded.toSeq.sorted)
      if (records.publish(s, base, next)) committed = true
      else st = currentState(s, base)
    }
    // (prior-generation tombs were reclaimed at entry)
  }

  /** Attach the incremental dedup to a documents stream via foreachBatch;
    * the batch id is threaded into the committed record for crash-replay
    * idempotence.
    */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid)): Unit
    }
}
