package graft.streaming

import graft.sources.GraftFs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The pointer-swap commit protocol of the maintainers whose state is
  * rewritten per batch (Agg, Stats, Cdc, Drift, Scd2, Mine, Trend,
  * Components, Shards). Each maintainer keeps its own grain paths and
  * merge; the pointer, the replay rule and the swap live here.
  *
  *  - `<base>/_CURRENT` holds `v<N>` or `v<N>:batch=<id>`: the committed
  *    version number and, when the writer threads one, the last committed
  *    foreachBatch id. Before the first commit there is no pointer and
  *    every grain reads as an empty frame of its schema.
  *  - Replay rule: a batch whose id is `<=` the committed id is a crash
  *    replay and commits nothing — re-merging the same partials would
  *    double-count.
  *  - A commit writes every grain of version `N+1` under the caller's
  *    paths and waits for ALL of those writes to settle. Only then does it
  *    rethrow the first failure — the pointer stays at `N`, the half-written
  *    `N+1` dirs are unreferenced, and the replay overwrites them with no
  *    sibling writer still running into them — or swap the pointer
  *    atomically, so readers see the old version or the new one, never a mix.
  *  - A commit without a batch id (a manual call, a repair) carries the
  *    committed tag forward: dropping it would erase replay protection for
  *    the next crash-replay of an attach()-driven stream on the same state.
  */
object VersionPointer {

  /** One parsed `_CURRENT`: the committed version and batch tag. */
  final case class Pointer(version: Long, batch: Option[Long])

  def read(s: SparkSession, base: String): Option[Pointer] =
    GraftFs.readSmallFile(s, s"$base/_CURRENT").map { c =>
      c.trim.split(":batch=") match {
        case Array(v, b) => Pointer(v.drop(1).toLong, Some(b.toLong))
        case Array(v) => Pointer(v.drop(1).toLong, None)
      }
    }

  /** The committed micro-batch id, if the writer threads one. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    read(s, base).flatMap(_.batch)

  /** The grain at `path(version)` of `ptr`; empty before the first commit. */
  def grain(s: SparkSession, ptr: Option[Pointer], schema: StructType)(
      path: Long => String): DataFrame =
    ptr match {
      case Some(p) => s.read.schema(schema).parquet(path(p.version))
      case None => s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    }

  /** The grain at `path(version)` of the committed pointer. */
  def grain(s: SparkSession, base: String, schema: StructType)(
      path: Long => String): DataFrame =
    grain(s, read(s, base), schema)(path)

  /** Commit the next version: unless `batchId` is a replay, `grains(next)`
    * builds the (path, frame) writes of version `next`, every write runs
    * (concurrently when there are several) and settles, and the pointer
    * swaps to `next`. Returns the written frames in order, or `None` for a
    * skipped replay.
    */
  def commit(s: SparkSession, base: String, batchId: Option[Long])(
      grains: Long => Seq[(String, DataFrame)]): Option[Seq[DataFrame]] = {
    val ptr = read(s, base)
    val committed = ptr.flatMap(_.batch)
    if (batchId.exists(id => committed.exists(_ >= id))) return None
    val next = ptr.fold(0L)(_.version + 1)
    val writes = grains(next)
    settleAll(writes.map { case (path, df) => () => df.write.mode("overwrite").parquet(path) })
    val tag = batchId.orElse(committed).fold("")(id => s":batch=$id")
    GraftFs.writeSmallFileAtomic(s, s"$base/_CURRENT", s"v$next$tag")
    Some(writes.map(_._2))
  }

  /** Run the writes, wait for every one to finish or fail, then rethrow
    * the first failure in `writes` order.
    */
  private def settleAll(writes: Seq[() => Unit]): Unit = writes match {
    case Seq(only) => only()
    case _ =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      writes.map(w => Future(w()))
        .map(f => Await.ready(f, Duration.Inf).value.get)
        .collectFirst { case scala.util.Failure(e) => throw e }: Unit
  }
}

/** The exclusive-create log-record protocol of the append-segment
  * maintainers (Index, Span, Dedup, Winnow, CurationIngest), which admit
  * concurrent writers and compactors. Each maintainer keeps its record case
  * class, its fields and its rebase/compaction logic; the record format,
  * the CAS and the current-state resolution live here.
  *
  *  - Every committed state is ONE record file `<base>/log/v<N>` whose body
  *    is `key=value` fields joined by `;` (lists comma-joined, an absent
  *    number written `-`). A field a body lacks decodes as empty, so bodies
  *    written before the field existed still read. Segment liveness is
  *    defined by the record, never by listing: a crash leaves only
  *    unreferenced orphan dirs.
  *  - Publishing version `N` is an exclusive create of `log/v<N>` — the CAS.
  *    A create that reports failure with the record present is ambiguous
  *    (the rename may have landed before an RPC failure), so the record is
  *    read back: a byte-identical body means this writer won, because
  *    bodies carry writer-unique segment names. After a win the
  *    `<base>/_CURRENT` hint is rewritten to `v<N>`.
  *  - The current state starts from the hint's leading `v<digits>` (ignored
  *    when malformed or when that record is missing), else from the highest
  *    version in the `log/` listing, and walks forward while `log/v<N+1>`
  *    exists — a stale or torn hint costs O(lag) reads and never surfaces a
  *    wrong state.
  */
object RecordLog {

  /** What every log record carries: its version. */
  trait Record { def version: Long }

  /** The decoded fields of one record body; an absent field reads empty. */
  final class Fields(body: String) {
    private val kv = body.trim.split(";").map { f =>
      val i = f.indexOf('=')
      f.take(i) -> f.drop(i + 1)
    }.toMap
    def text(k: String): Option[String] = kv.get(k).filter(_.nonEmpty)
    def list(k: String): Seq[String] = text(k).map(_.split(",").toSeq).getOrElse(Seq.empty)
    def num(k: String): Option[Long] = kv.get(k).filter(_ != "-").map(_.toLong)
  }

  /** Encode `key=value` fields in order; see [[list]] and [[num]]. */
  def body(fields: (String, String)*): String =
    fields.map { case (k, v) => s"$k=$v" }.mkString(";")
  def list(xs: Seq[String]): String = xs.mkString(",")
  def num(x: Option[Long]): String = x.fold("-")(_.toString)

  /** One maintainer's log: its empty state and record codec. */
  final class Of[R <: Record](empty: R, val encode: R => String, decode: (Long, Fields) => R) {

    def read(s: SparkSession, base: String, v: Long): Option[R] =
      GraftFs.readSmallFile(s, s"$base/log/v$v").map(b => decode(v, new Fields(b)))

    /** The latest committed record, `empty` before the first publish. */
    def current(s: SparkSession, base: String): R = {
      val hinted = GraftFs.readSmallFile(s, s"$base/_CURRENT")
        .map(_.trim.drop(1).takeWhile(_.isDigit)).filter(_.nonEmpty)
        .flatMap(v => read(s, base, v.toLong))
      val start = hinted.orElse {
        val (fs, q) = GraftFs.resolve(s, s"$base/log")
        if (!fs.exists(q)) None
        else fs.listStatus(q).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("v")).map(_.drop(1).toLong).maxOption
          .map(v => read(s, base, v).getOrElse(empty))
      }
      start match {
        case None => empty
        case Some(start) =>
          var st = start
          var next = read(s, base, st.version + 1)
          while (next.isDefined) { st = next.get; next = read(s, base, st.version + 1) }
          st
      }
    }

    /** CAS-publish `r` as `log/v<r.version>`; true when this writer won. */
    def publish(s: SparkSession, base: String, r: R): Boolean = {
      val path = s"$base/log/v${r.version}"
      val b = encode(r)
      val ok = GraftFs.writeSmallFileExclusive(s, path, b) ||
        GraftFs.readSmallFile(s, path).exists(_.trim == b.trim)
      if (ok) GraftFs.writeSmallFileAtomic(s, s"$base/_CURRENT", s"v${r.version}")
      ok
    }
  }
}
