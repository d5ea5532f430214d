package graft

import java.nio.file.Files

import graft.operators.{EventQueries, TimeSeriesQueries}
import graft.streaming.IncrementalTrend
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

/** IncrementalTrend: replay the events fixture in micro-batches and
  * assert BOTH state-served surfaces (MK/Sen trend, RFM segmentation)
  * equal their registered one-shot queries EXACTLY — the hourly grain
  * and the per-user triple are associative merges, so incremental ≡
  * batch is an identity.
  */
class IncrementalTrendSpec extends SparkTestBase with Matchers {

  private def rows(df: DataFrame) = df.collect().map(_.toString).toSeq

  private def rawRows = Tables.events(spark, sfTiny)
    .select(col("event_id"), col("user_id"),
      col("event_type").as("g"),
      expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
      (col("value").cast(DecimalType(12, 2)) * 100).cast(LongType).as("x"),
      expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
      (col("value").cast(DecimalType(12, 2)) * 100).cast(LongType).as("m"))

  test("state-served trend + rfm equal their one-shot twins exactly after 3-batch replay") {
    val base = Files.createTempDirectory("graft_inctrend").toFile.getAbsolutePath
    for (i <- 0 until 3)
      IncrementalTrend.processBatch(spark,
        rawRows.filter(abs(hash(col("event_id"))) % 3 === i), base, Some(i.toLong))
    new java.io.File(base).listFiles().count(_.getName.startsWith("v")) shouldBe 3
    rows(IncrementalTrend.serveTrend(spark, base)) shouldBe
      rows(TimeSeriesQueries.tsTrend.query(spark, sfTiny))
    rows(IncrementalTrend.serveRfm(spark, base)) shouldBe
      rows(EventQueries.eventsRfm.query(spark, sfTiny))
    // the maintained MK moments themselves ≡ the one-shot aggregation
    // (r14: serve reads these instead of re-aggregating the grain) —
    // diagnoses a moments-fold defect even where the served output would
    // mask it (e.g. a tie error on a series the sen join drops)
    val hourly = IncrementalTrend.readHourly(spark, base).localCheckpoint()
    rows(IncrementalTrend.readMoments(spark, base)
        .filter(col("n_pairs") > 0).orderBy("g")) shouldBe
      rows(TimeSeriesQueries.momentsFromParts(hourly,
        TimeSeriesQueries.slopeHistFromHourly(hourly)).orderBy("g"))
    // crash replay is a no-op on both surfaces
    val t = rows(IncrementalTrend.serveTrend(spark, base))
    IncrementalTrend.processBatch(spark,
      rawRows.filter(abs(hash(col("event_id"))) % 3 === 1), base, Some(1L))
    new java.io.File(base).listFiles().count(_.getName.startsWith("v")) shouldBe 3
    rows(IncrementalTrend.serveTrend(spark, base)) shouldBe t
  }

  test("a failed grain write settles every sibling write before processBatch throws; the replay converges") {
    FaultInjectingFileSystem.install(spark)
    FaultInjectingFileSystem.reset()
    val batch = (i: Int) => rawRows.filter(abs(hash(col("event_id"))) % 2 === i)
    val clean = Files.createTempDirectory("graft_inctrend_clean").toFile.getAbsolutePath
    val faultDir = Files.createTempDirectory("graft_inctrend_fault").toFile.getAbsolutePath
    val fault = s"graftfault://$faultDir"
    for (i <- 0 until 2) IncrementalTrend.processBatch(spark, batch(i), clean, Some(i.toLong))
    IncrementalTrend.processBatch(spark, batch(0), fault, Some(0L))

    // batch 1: the slopes write fails while the users write is still
    // sleeping in its first create
    FaultInjectingFileSystem.failCreateOnce("/v1/slopes/")
    FaultInjectingFileSystem.delayCreateOnce("/v1/users/", 6000L)
    intercept[Exception] { IncrementalTrend.processBatch(spark, batch(1), fault, Some(1L)) }
    // the delayed sibling already committed its output when the failure
    // surfaced, and no write job is left running (the status store trails
    // job ends by a listener-bus hop, far below the 6 s delay)
    new java.io.File(s"$faultDir/v1/users/_SUCCESS").exists() shouldBe true
    val settled = System.currentTimeMillis() + 2000
    while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty
      && System.currentTimeMillis() < settled) Thread.sleep(20)
    spark.sparkContext.statusTracker.getActiveJobIds shouldBe empty
    FaultInjectingFileSystem.fired.map(_._1).toSet shouldBe Set("failCreate", "delayCreate")
    IncrementalTrend.committedBatch(spark, fault) shouldBe Some(0L)
    FaultInjectingFileSystem.reset()

    IncrementalTrend.processBatch(spark, batch(1), fault, Some(1L))
    IncrementalTrend.committedBatch(spark, fault) shouldBe Some(1L)
    val surfaces = Seq[String => DataFrame](
      IncrementalTrend.serveTrend(spark, _), IncrementalTrend.serveRfm(spark, _),
      IncrementalTrend.readHourly(spark, _), IncrementalTrend.readSlopes(spark, _),
      IncrementalTrend.readSlopesCum(spark, _), IncrementalTrend.readUsers(spark, _),
      IncrementalTrend.readVals(spark, _), IncrementalTrend.readMoments(spark, _))
    for (read <- surfaces)
      rows(read(fault)).sorted shouldBe rows(read(clean)).sorted
  }
}
