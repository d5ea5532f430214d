package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental inverted-index maintenance — the streaming upkeep of
  * q_text_index's search surface: each arriving micro-batch of documents
  * lands its postings APPEND-ONLY (one parquet dir per batch — postings
  * of a doc never change once written, the immutable-segment property
  * every search engine builds on) and MERGES the bounded per-token stats
  * (df, cf) IncrementalAgg-style (count partials are associative, so
  * state ∘ batch ≡ one-shot over everything seen — the invariant
  * IncrementalIndexSpec replays the fixture to assert). No batch ever
  * re-tokenizes history.
  *
  * State protocol: [[RecordLog]] records carrying the stats dir, the
  * LIVE posting-segment list, and the last committed batch id.
  *
  *  - ingest (processBatch) writes its segment + merged stats under the
  *    attempted version, then CASes the next record. A lost race (a
  *    concurrent compaction committed first) rebases: re-read the winner,
  *    splice this batch's segment into ITS segment list, retry at the
  *    next version. Stats partials stay valid across a compaction rebase
  *    because compaction never touches stats.
  *  - compaction (compactSegments) folds exactly the segments of the
  *    state it read into one `c<N>` dir and CASes a record that swaps
  *    them for it. A lost race (a batch landed mid-compact) rebases by
  *    KEEPING the interloper's new segments alongside the compacted dir —
  *    interleaved append during compact loses nothing, by mechanism.
  *    Input dirs are deleted only AFTER the CAS lands; a crash between
  *    publish and delete leaves orphans, not duplicates.
  *
  * Scale shape: the postings family is the big side and is never
  * rewritten — batches cost O(batch). The stats table is
  * vocabulary-sized (bounded), rewritten per merge. [[searchHeads]]
  * serves q_text_index's df-filtered posting heads STRAIGHT from the
  * maintained state.
  *
  * Contract: each doc_id arrives exactly once (corpus ingest; the
  * exactly-once wrapper is PackIngest's batch-id discipline, reusable
  * upstream of this maintainer). One ingest maintainer per index (the
  * foreachBatch serial contract); compaction may run concurrently with
  * it from any admin thread.
  */
object IncrementalIndex {

  private val statsSchema = StructType(Seq(
    StructField("token", StringType),
    StructField("df", LongType),
    StructField("cf", LongType)))

  private val postingsSchema = StructType(Seq(
    StructField("token", StringType),
    StructField("doc_id", LongType),
    StructField("tf", LongType)))

  /** One committed index state: one [[RecordLog]] record. `segs` are
    * dir names under `postings/`; `statsDir` is relative to `base`.
    * `ndocs` is the CUMULATIVE ingested document count (r11 advice: a
    * NULL-text document lands zero postings, so a count reconstructed
    * from postings under-reports n_docs/avgdl and breaks the documented
    * bit-equality of [[serveHybrid]]/[[bm25]] with the registered
    * queries, which count ALL corpus rows). Records written before this
    * field parse with ndocs absent and the serve paths fall back to the
    * postings-derived count.
    */
  /** `tombs` — posting dirs folded by the LAST compaction, still on disk
    * for readers that resolved the pre-swap record (deferred GC, the r15
    * IncrementalWinnow discipline): deleted when the NEXT compaction
    * publishes, so a serve that resolved either of the two most recent
    * records never loses a parquet dir between plan resolution and scan
    * execution. Pre-tombs records parse with the field absent.
    */
  private[graft] case class IndexState(version: Long, statsDir: Option[String],
      segs: Seq[String], batch: Option[Long], ndocs: Option[Long] = None,
      tombs: Seq[String] = Seq.empty) extends RecordLog.Record

  private[graft] val records = new RecordLog.Of[IndexState](
    IndexState(-1L, None, Seq.empty, None),
    st => RecordLog.body("stats" -> st.statsDir.getOrElse(""), "segs" -> RecordLog.list(st.segs),
      "batch" -> RecordLog.num(st.batch), "ndocs" -> RecordLog.num(st.ndocs),
      "tombs" -> RecordLog.list(st.tombs)),
    (v, f) => IndexState(v, f.text("stats"), f.list("segs"), f.num("batch"), f.num("ndocs"),
      f.list("tombs")))

  /** Latest committed state ([[RecordLog]] resolution). */
  private[graft] def currentState(s: SparkSession, base: String): IndexState =
    records.current(s, base)

  private def emptyDf(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Current per-token stats (empty before the first batch). */
  def readStats(s: SparkSession, base: String): DataFrame =
    readStatsOf(s, base, currentState(s, base))

  private def readStatsOf(s: SparkSession, base: String, st: IndexState): DataFrame =
    st.statsDir match {
      case Some(d) => s.read.schema(statsSchema).parquet(s"$base/$d")
      case None => emptyDf(s, statsSchema)
    }

  /** The LIVE posting segments (token, doc_id, tf) — exactly the dirs the
    * current log record lists, so orphans from a crashed compaction or a
    * not-yet-committed ingest are invisible.
    */
  def readPostings(s: SparkSession, base: String): DataFrame =
    readPostingsOf(s, base, currentState(s, base))

  private def readPostingsOf(s: SparkSession, base: String, st: IndexState): DataFrame =
    if (st.segs.isEmpty) emptyDf(s, postingsSchema)
    else s.read.schema(postingsSchema).parquet(st.segs.map(n => s"$base/postings/$n"): _*)

  /** The (n_docs, avgdl) singleton for scoring: n_docs is the record's
    * persisted ingest census when present (exact even when NULL-text
    * documents landed zero postings — they count toward n_docs and
    * dilute avgdl, exactly as the registered queries' all-rows
    * derivation does), else the postings-derived count (pre-ndocs
    * records; exact for corpora where every doc yields ≥ 1 posting).
    */
  private def globOf(st: IndexState, docs: DataFrame): DataFrame = st.ndocs match {
    case Some(n) if n > 0 =>
      docs.agg(lit(n).as("n_docs"),
        (sum("dl").cast(DoubleType) / lit(n.toDouble)).as("avgdl"))
    case _ =>
      docs.agg(count(lit(1)).as("n_docs"),
        (sum("dl").cast(DoubleType) / count(lit(1))).as("avgdl"))
  }

  private def batchTf(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
        explode(graft.functions.Tokenize.tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))

  /** Land one micro-batch: write its posting segment and merged stats,
    * then CAS-publish the next state record. Batch cost is O(batch) — the
    * posting history is never touched. A replayed micro-batch (its id ≤
    * the committed tag) is skipped; a call WITHOUT a batch id carries the
    * previously committed tag forward, so mixing manual calls into an
    * attach()-driven stream's state cannot erase replay protection.
    *
    * INGEST CONTRACT: each document must arrive at most once across
    * batch IDS (exactly-once per doc — what a checkpointed foreachBatch
    * topology provides). A doc re-emitted under a NEW id would double
    * its postings, df/cf census, and n_docs; unlike IncrementalSpan/
    * IncrementalDedup (whose doc-grain state makes a first-write-wins
    * anti-join skinny), guarding here would cost a postings-relation
    * doc-id scan per batch — a violation of the O(batch) cost contract —
    * so the contract is documented rather than silently paid.
    */
  def processBatch(s: SparkSession, batch: DataFrame, base: String,
      batchId: Option[Long] = None): Unit = {
    val st0 = currentState(s, base)
    if (batchId.exists(id => st0.batch.exists(_ >= id))) return
    val tf = batchTf(batch).localCheckpoint()
    val partial = tf.groupBy("token")
      .agg(count(lit(1)).as("df2"), sum("tf").as("cf2"))
    // cumulative doc count rides in the record (NULL-text docs land no
    // postings but DO count toward n_docs/avgdl — the serveHybrid/bm25
    // contract); pure batch data, so rebases reuse it
    val batchDocs = batch.select("doc_id").distinct().count()
    var st = st0
    var attempts = 0
    var committed = false
    var seg: Option[String] = None
    var statsOf: Option[(String, String)] = None // (writtenDir, mergedFromStatsDir)
    while (!committed) {
      attempts += 1
      require(attempts <= 8, s"processBatch: lost the publish race $attempts times at $base")
      val v = st.version + 1
      val segName = seg.getOrElse {
        // per-writer uid in the segment name (r15 ADVICE): two processes
        // replaying the same batch concurrently would otherwise produce
        // byte-identical record BODIES (`b$v` alone), and the
        // ambiguous-CAS readback below would let BOTH conclude they won —
        // the uid makes bodies writer-unique, so the readback proof holds
        // without leaning on the single-writer topology (the discipline
        // IncrementalDedup's segments already follow)
        val uid = java.util.UUID.randomUUID.toString.take(8)
        val n = s"b$v-$uid"
        tf.write.mode("overwrite").parquet(s"$base/postings/$n")
        seg = Some(n); n
      }
      // stats partials merge against a SPECIFIC stats version; reuse the
      // written merge only while the committed stats dir hasn't moved
      // (compaction never moves it — an ingest rebase across a compaction
      // keeps the merge; across a foreign ingest it recomputes).
      val statsName = statsOf match {
        case Some((written, from)) if st.statsDir.contains(from) || (st.statsDir.isEmpty && from.isEmpty) =>
          written
        case _ =>
          val merged = readStatsOf(s, base, st)
            .join(partial.withColumnRenamed("token", "t2"),
              col("token") === col("t2"), "full_outer")
            .select(
              coalesce(col("token"), col("t2")).as("token"),
              (coalesce(col("df"), lit(0L)) + coalesce(col("df2"), lit(0L))).as("df"),
              (coalesce(col("cf"), lit(0L)) + coalesce(col("cf2"), lit(0L))).as("cf"))
            .localCheckpoint()
          val n = s"stats/v$v"
          merged.write.mode("overwrite").parquet(s"$base/$n")
          statsOf = Some((n, st.statsDir.getOrElse("")))
          n
      }
      // a pre-ndocs predecessor record (absent field) falls back to the
      // postings-derived doc count once, here at ingest time
      val baseDocs = st.ndocs.getOrElse {
        if (st.segs.isEmpty) 0L
        else readPostingsOf(s, base, st).select("doc_id").distinct().count()
      }
      val next = IndexState(v, Some(statsName), st.segs :+ segName,
        batchId.orElse(st.batch), Some(baseDocs + batchDocs), st.tombs)
      if (records.publish(s, base, next)) committed = true
      else {
        st = currentState(s, base)
        if (batchId.exists(id => st.batch.exists(_ >= id))) return
      }
    }
  }

  /** q_text_index's output shape served from the maintained state:
    * df ≥ `minDf` tokens with stats and top-`k` posting heads. The
    * posting window scans segments, not raw text. Stats and postings are
    * read from ONE state record — a concurrent commit cannot tear the
    * pair apart.
    */
  def searchHeads(s: SparkSession, base: String, minDf: Long = 5L, k: Int = 5): DataFrame = {
    val st = currentState(s, base)
    val stats = readStatsOf(s, base, st).filter(col("df") >= minDf)
    val w = Window.partitionBy("token").orderBy(desc("tf"), asc("doc_id"))
    readPostingsOf(s, base, st).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .join(stats, "token")
      .select("token", "df", "cf", "rn", "doc_id", "tf")
      .orderBy("token", "rn")
  }

  /** BM25 ranked retrieval served ENTIRELY from the maintained state —
    * the build→serve loop closed: tf comes from the posting segments, df
    * from the stats table, and document lengths / corpus averages derive
    * from one aggregate over postings (dl = Σtf per doc — exact, since
    * postings are whitespace-token counts). No document text is ever
    * re-read; IncrementalIndexSpec pins row equality with the
    * from-scratch facade bm25 after a multi-batch ingest.
    */
  def bm25(s: SparkSession, base: String, queries: DataFrame, k: Int = 5,
      qid: String = "query_id", qtext: String = "query_text",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val st = currentState(s, base)
    val tf = readPostingsOf(s, base, st)
    val dfRel = readStatsOf(s, base, st).select(col("token"), col("df"))
    val docs = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val glob = globOf(st, docs)
    val qterms = queries.select(col(qid),
      explode(array_distinct(graft.functions.Tokenize.tokens(col(qtext)))).as("token"))
    val contrib = tf.join(broadcast(qterms), "token")
      .join(dfRel, "token").join(docs, "doc_id").crossJoin(broadcast(glob))
      .withColumn("__c",
        round(log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)))
          * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl"))),
          8).cast(org.apache.spark.sql.types.DecimalType(18, 8)))
    val scores = contrib.groupBy(col(qid), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum("__c").cast("double"), 6).as("score"))
    val w = Window.partitionBy(qid).orderBy(desc("score"), asc("doc_id"))
    scores.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qid), col("rank"), col("doc_id"), col("n_terms"), col("score"))
  }

  /** RRF hybrid retrieval served from the maintained state — the RAG
    * build→serve loop closed end-to-end (r10 verdict ask 3): the lexical
    * side re-derives q_text_hybrid's corpus queries (doc_id < 8, top-3
    * tf-idf terms) and their full BM25 score relation ENTIRELY from the
    * state's postings + stats (tf from segments, df from the stats
    * table, dl = Σtf per doc, n_docs from the record's persisted ingest
    * census — exact even when NULL-text docs landed zero postings, r11
    * advice — and avgdl = Σdl / n_docs), then
    * hands the scores to the REGISTERED query's own fusion tail
    * (SearchQueries.hybridFrom), so the rank/fuse/top-k plan is shared
    * code and the state-served result is bit-equal to q_text_hybrid once
    * the ingested batches cover the corpus (IncrementalIndexSpec pins
    * this across a 3-batch split + crash replay). The embedding side
    * stays a caller-provided frame: vectors are not index state here —
    * an ANN index (q_ann_* family) swaps in at corpus scale.
    */
  def serveHybrid(s: SparkSession, base: String, embeddings: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val st = currentState(s, base)
    val tf = readPostingsOf(s, base, st)
    val dfRel = readStatsOf(s, base, st).select(col("token"), col("df"))
    val docs = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val glob = globOf(st, docs)
    // corpus-derived query terms — bm25ScoresStage's qterms with tf/df
    // read from state instead of re-tokenized text
    val scoredQ = tf.filter(col("doc_id") < 8).join(dfRel, "token")
      .crossJoin(broadcast(glob.select("n_docs")))
      .withColumn("s", round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6))
    val wq = Window.partitionBy("doc_id").orderBy(desc("s"), asc("token"))
    val qterms = scoredQ.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 3)
      .select(col("doc_id").as("query_id"), col("token"))
    val contrib = tf.join(broadcast(qterms), "token")
      .join(dfRel, "token").join(docs, "doc_id").crossJoin(broadcast(glob))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("c", round(
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast(DoubleType) / col("avgdl"))),
        8).cast(DecimalType(18, 8)))
    val lexScores = contrib.groupBy("query_id", "doc_id")
      .agg(round(sum("c").cast(DoubleType), 6).as("score"))
    graft.operators.SearchQueries.hybridFrom(lexScores, embeddings)
  }

  /** Fold all live posting segments into ONE (the LSM/compactTail
    * analogue for the index): per-batch ingest leaves one small parquet
    * dir per micro-batch, and a year of minutely batches is 5×10⁵ dirs
    * whose open tax every searchHeads pays — this rewrites their union
    * into `c<N>` (content unchanged by construction: postings are
    * disjoint (token, doc) facts, order-free) and CAS-publishes a record
    * swapping them for it. Concurrent ingest is SAFE: a batch that
    * commits mid-compact wins the CAS, and the rebase keeps its segments
    * alongside the compacted dir. GC is DEFERRED one compaction
    * generation (the r15 IncrementalWinnow discipline): folded inputs
    * are tombstoned in the new record and reclaimed at the NEXT
    * compaction's entry (before its publish — so a crash there cannot
    * orphan them), keeping a reader that resolved the pre-swap record
    * between currentState and scan execution scanning live files.
    * Stats are untouched (they were never per-segment).
    */
  def compactSegments(s: SparkSession, base: String): Unit =
    compactFrom(s, base, currentState(s, base))

  /** The compaction body against an explicitly observed state — split out
    * so IncrementalIndexSpec can drive the lost-CAS rebase path
    * deterministically (commit an ingest between the read and the
    * publish).
    */
  private[graft] def compactFrom(s: SparkSession, base: String, observed: IndexState): Unit = {
    if (observed.segs.size <= 1) return
    val folded = observed.segs.toSet
    // WRITER-UNIQUE compacted dir name (still `c`-prefixed for operators):
    // two same-observed compactors write to DIFFERENT dirs, so the loser
    // can never overwrite an already-published winner in place (the
    // transient-partial-directory race) — it just deletes its own
    // unreferenced dir on abort.
    val cName = s"c${observed.version + 1}-" +
      java.util.UUID.randomUUID.toString.take(8)
    // Fast-path duplicate/overlap guard: proceed only while EVERY
    // folded input is still live. All-or-nothing matters with deferred
    // GC (r15): an overlapping concurrent fold leaves our inputs
    // READABLE as tombstones, so an exists-guard would let us succeed
    // and publish a state listing the shared postings TWICE (ours +
    // the other compactor's output — an additive double-count). An
    // APPEND never removes a segment, so the legitimate stale-observed
    // rebase always passes. The same guard re-runs inside the CAS loop.
    val live = currentState(s, base)
    if (!folded.forall(live.segs.contains)) return
    // reclaim the PREVIOUS generation's tombstones at entry: a full
    // generation old (no reader holding the current or prior record
    // references them), and reclaiming BEFORE our own publish means a
    // crash below cannot orphan them — they stay listed in the
    // still-current record and the next compaction re-reclaims
    live.tombs.filterNot(folded.contains)
      .foreach(n => graft.sources.GraftFs.deleteRecursively(s, s"$base/postings/$n"))
    // TOCTOU window: a concurrent winner can publish AND delete the
    // folded dirs between the guard above and this read — treat a read/
    // write failure whose live state confirms the swap as a lost race,
    // not an error.
    try {
      readPostingsOf(s, base, observed).localCheckpoint()
        .write.mode("overwrite").parquet(s"$base/postings/$cName")
    } catch {
      case e: Exception =>
        graft.sources.GraftFs.deleteRecursively(s, s"$base/postings/$cName")
        // rethrow ONLY when every folded input is still live (a genuine
        // I/O failure reading committed data); if ANY left the live set,
        // a concurrent compactor with an overlapping folded set swapped
        // a subset of our inputs mid-read — its compacted dir covers the
        // content and our fold is superseded, not failed
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
        graft.sources.GraftFs.deleteRecursively(s, s"$base/postings/$cName")
        require(false, s"compactSegments: lost the publish race $attempts times at $base")
      }
      // Rebase guard: if the race winner was a compaction overlapping
      // our folded set (same observed state or any sub/superset fold),
      // its output covers the swapped content — publishing ours would
      // double-count every shared posting. Abort; the winner owns the
      // tombstone cleanup; we remove our never-published duplicate dir.
      if (!folded.forall(st.segs.contains)) {
        graft.sources.GraftFs.deleteRecursively(s, s"$base/postings/$cName")
        return
      }
      // keep every segment committed since the observed state (an
      // interleaved append loses nothing); swap only the folded inputs,
      // tombstone them (deferred GC — deleted by the NEXT compaction)
      val next = IndexState(st.version + 1, st.statsDir,
        (cName +: st.segs.filterNot(folded.contains)).distinct, st.batch,
        st.ndocs, // compaction rewrites segments, never the corpus census
        folded.toSeq.sorted)
      if (records.publish(s, base, next)) committed = true
      else st = currentState(s, base)
    }
    // (prior-generation tombs were reclaimed at entry; appends cannot
    // add tombs and an interleaved compaction takes the overlap exit)
  }

  /** Attach to a documents stream via foreachBatch (replay-protected). */
  def attach(docs: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      processBatch(batch.sparkSession, batch, base, Some(bid))
    }
}
