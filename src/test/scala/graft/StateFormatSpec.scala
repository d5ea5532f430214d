package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Pins the on-disk state formats byte for byte: literal `_CURRENT`
  * pointer bodies and `log/v<N>` record bodies, written exactly as the
  * maintainers have always written them (including record bodies from
  * before the `tombs`, `tombocc`/`tombdocs` and `ndocs` fields existed),
  * must read as the same state, and new commits must write the same bytes.
  */
class StateFormatSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_fmt_$name").toFile.getAbsolutePath

  private def put(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes(UTF_8)): Unit
  }

  private def slurp(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  test("pointer bodies v<N> and v<N>:batch=<id> read as before; commits write the same bytes") {
    val base = tmp("ptr")
    put(s"$base/_CURRENT", "v3")
    VersionPointer.read(spark, base) shouldBe Some(VersionPointer.Pointer(3L, None))
    IncrementalAgg.committedBatch(spark, base) shouldBe None
    put(s"$base/_CURRENT", "v3:batch=7\n")
    VersionPointer.read(spark, base) shouldBe Some(VersionPointer.Pointer(3L, Some(7L)))
    val probes = Seq[(SparkSession, String) => Option[Long]](
      IncrementalAgg.committedBatch, IncrementalStats.committedBatch,
      IncrementalCdc.committedBatch, IncrementalDrift.committedBatch,
      IncrementalScd2.committedBatch, IncrementalMine.committedBatch,
      IncrementalTrend.committedBatch, IncrementalComponents.committedBatch,
      IncrementalShards.committedBatch)
    probes.foreach(_(spark, base) shouldBe Some(7L))
    // the pointer names the version dir the grain is read from
    Seq(("click", 2L, BigDecimal("1.50")))
      .toDF("event_type", "n", "sum_value")
      .select(col("event_type"), col("n"), col("sum_value").cast("decimal(38,2)"))
      .write.parquet(s"$base/v3")
    IncrementalAgg.readState(spark, base).collect().map(_.toString).toSeq shouldBe
      Seq("[click,2,1.50]")

    val fresh = tmp("ptr_commit")
    val ev = Seq(("click", "1.25"), ("view", "2.00")).toDF("event_type", "value")
    def commitWrites(batchId: Option[Long], pointer: String): Unit = {
      IncrementalAgg.processBatch(spark, ev, fresh, batchId)
      slurp(s"$fresh/_CURRENT") shouldBe pointer
    }
    commitWrites(None, "v0")
    commitWrites(Some(5L), "v1:batch=5")
    commitWrites(None, "v2:batch=5") // no id: the committed tag carries forward
    commitWrites(Some(5L), "v2:batch=5") // replay: nothing commits
    commitWrites(Some(4L), "v2:batch=5")
    commitWrites(Some(6L), "v3:batch=6")
  }

  /** Write `body` as record `want.version` with the hint the maintainers
    * write, and check it reads back as `want` — through the hint, through
    * the log listing when the hint is gone, and past a malformed hint. A
    * publish of `want` writes the codec's body and the `v<N>` hint; when
    * `current` is set, that body is `body` byte for byte.
    */
  private def pin[R <: RecordLog.Record](name: String, records: RecordLog.Of[R],
      read: (SparkSession, String) => R, body: String, want: R, current: Boolean): Unit =
    withClue(s"$name <$body> ") {
      val base = tmp(name)
      put(s"$base/log/v${want.version}", body)
      put(s"$base/_CURRENT", s"v${want.version}")
      read(spark, base) shouldBe want
      Files.delete(Paths.get(s"$base/_CURRENT"))
      read(spark, base) shouldBe want
      put(s"$base/_CURRENT", "not-a-version")
      read(spark, base) shouldBe want

      val fresh = tmp(s"${name}_publish")
      records.publish(spark, fresh, want) shouldBe true
      slurp(s"$fresh/log/v${want.version}") shouldBe records.encode(want)
      slurp(s"$fresh/_CURRENT") shouldBe s"v${want.version}"
      if (current) records.encode(want) shouldBe body
    }

  test("log-record bodies of every log maintainer read as before; publishes write the same bytes") {
    import IncrementalIndex.IndexState
    pin("index", IncrementalIndex.records, IncrementalIndex.currentState,
      "stats=stats/v3;segs=c2-0badf00d,b3-12345678;batch=3;ndocs=500;tombs=b0-1a2b3c4d,b1-5e6f7a8b",
      IndexState(3L, Some("stats/v3"), Seq("c2-0badf00d", "b3-12345678"), Some(3L), Some(500L),
        Seq("b0-1a2b3c4d", "b1-5e6f7a8b")), current = true)
    pin("index_empty", IncrementalIndex.records, IncrementalIndex.currentState,
      "stats=;segs=;batch=-;ndocs=-;tombs=",
      IndexState(0L, None, Seq.empty, None, None, Seq.empty), current = true)
    pin("index_pre_ndocs", IncrementalIndex.records, IncrementalIndex.currentState,
      "stats=stats/v1;segs=b0,b1;batch=1",
      IndexState(1L, Some("stats/v1"), Seq("b0", "b1"), Some(1L)), current = false)

    import IncrementalSpan.SpanState
    pin("span", IncrementalSpan.records, IncrementalSpan.currentState,
      "stats=stats/v2-abcd1234;occ=c2-00ff00ff,b2-11223344;docs=c2-00ff00ff,b2-11223344;" +
        "batch=2;tombocc=b0-aaaa1111,b1-bbbb2222;tombdocs=b0-aaaa1111,b1-bbbb2222",
      SpanState(3L, Some("stats/v2-abcd1234"), Seq("c2-00ff00ff", "b2-11223344"),
        Seq("c2-00ff00ff", "b2-11223344"), Some(2L),
        Seq("b0-aaaa1111", "b1-bbbb2222"), Seq("b0-aaaa1111", "b1-bbbb2222")), current = true)
    pin("span_pre_tombs", IncrementalSpan.records, IncrementalSpan.currentState,
      "stats=stats/v1-abcd1234;occ=b0-aaaa1111,b1-bbbb2222;docs=b0-aaaa1111,b1-bbbb2222;batch=1",
      SpanState(1L, Some("stats/v1-abcd1234"), Seq("b0-aaaa1111", "b1-bbbb2222"),
        Seq("b0-aaaa1111", "b1-bbbb2222"), Some(1L)), current = false)

    import IncrementalDedup.DedupState
    pin("dedup", IncrementalDedup.records, IncrementalDedup.currentState,
      "segs=c2-deadbeef,b2-01234567;batch=2;tombs=b0-89abcdef,b1-fedcba98",
      DedupState(3L, Seq("c2-deadbeef", "b2-01234567"), Some(2L),
        Seq("b0-89abcdef", "b1-fedcba98")), current = true)
    pin("dedup_pre_tombs", IncrementalDedup.records, IncrementalDedup.currentState,
      "segs=b0-89abcdef;batch=0", DedupState(0L, Seq("b0-89abcdef"), Some(0L)), current = false)

    import IncrementalWinnow.WinnowState
    pin("winnow", IncrementalWinnow.records, IncrementalWinnow.currentState,
      "segs=b0-0a0b0c0d,b1-1a1b1c1d;batch=-;tombs=",
      WinnowState(1L, Seq("b0-0a0b0c0d", "b1-1a1b1c1d"), None), current = true)
    pin("winnow_pre_tombs", IncrementalWinnow.records, IncrementalWinnow.currentState,
      "segs=b0-0a0b0c0d;batch=0", WinnowState(0L, Seq("b0-0a0b0c0d"), Some(0L)), current = false)

    import CurationIngest.IngestLog
    pin("curation", CurationIngest.records, CurationIngest.currentState,
      "segs=b0-0f0e0d0c,b1-1f1e1d1c;batch=1",
      IngestLog(1L, Seq("b0-0f0e0d0c", "b1-1f1e1d1c"), Some(1L)), current = true)
  }
}
