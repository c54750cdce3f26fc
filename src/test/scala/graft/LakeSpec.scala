package graft

import graft.core.Timeframe
import graft.lake.{LakeProvider, LakeReader, LakeWriter}
import graft.ops.{Gaps, OrLevels, OrLevelsRef}
import graft.sources.SynthSource
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** Lake round-trip + upsert idempotence (reference K1/K2 semantics,
  * README "Reingesta es idempotente"), gap detection/fill, OR levels.
  */
class LakeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def ts(s: String) = Timestamp.valueOf(s)

  test("LakeProvider on an absent lake serves empty canonical frames, not crashes") {
    val root = Files.createTempDirectory("empty_lake").toString
    val p = new LakeProvider(spark, root)
    assert(p.loadM1("BTC-USD", None, None).isEmpty)
    assert(p.loadTf("BTC-USD", "M5", None, None).isEmpty)
    // and the levels tree fails with the CLEAR error, not PATH_NOT_FOUND
    val e = intercept[IllegalStateException](
      graft.lake.LevelsWriter.read(spark, root, "BTC-USD"))
    assert(e.getMessage.contains("no levels tree"))
  }

  test("upsert + readRange round-trip honors the half-open [from,to) contract") {
    val root = Files.createTempDirectory("lake").toString
    val bars = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-03")
    LakeWriter.upsert(spark, root, bars)
    val day1 = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-02 00:00:00")))
    assert(day1.count() === 1440)
    // open upper bound: nothing from 08-02 included
    assert(day1.agg(max(col("ts"))).head().getTimestamp(0).before(ts("2025-08-02 00:00:00")))
    val order = day1.collect().map(_.getAs[Timestamp]("ts").getTime)
    assert(order.toSeq === order.sorted.toSeq, "read back in ts order")
    // one range exchange on ts serves both the keep-first dedupe and the sort
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges =
      try LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.length === 1 && exchanges.head.isInstanceOf[RangePartitioning], exchanges)
    // re-upsert the same batch: idempotent (O8); re-read from the fresh listing
    LakeWriter.upsert(spark, root, bars)
    val again = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-02 00:00:00")))
    assert(again.count() === 1440)
  }

  test("refreshMonths recomputes only the targeted months; others stay stale until refreshed") {
    val root = Files.createTempDirectory("lake").toString
    val bars = SynthSource.m1(spark, "BTC-USD", "2025-07-30", "2025-08-02") // spans Jul + Aug
    LakeWriter.upsert(spark, root, bars)
    graft.lake.Aggregates.materialize(spark, root, bars, Timeframe.M15)
    // corrections land in BOTH months' M1...
    LakeWriter.upsert(spark, root,
      bars.where(col("ts") >= ts("2025-07-31 00:00:00") && col("ts") < ts("2025-08-02 00:00:00"))
        .withColumn("close", col("close") + 9.0))
    // ...but only July gets refreshed
    graft.lake.Aggregates.refreshMonths(spark, root, Timeframe.M15, Seq((2025, 7)))
    val provider = new graft.lake.LakeProvider(spark, root)
    def m15close(day: String, hm: String): Double =
      provider.loadTf("BTC-USD", "M15", Some(ts(s"$day 00:00:00")), None)
        .where(col("ts") === ts(s"$day $hm")).select("close").head().getDouble(0)
    val julyOrig = bars.where(col("ts") === ts("2025-07-31 10:14:00"))
      .select("close").head().getDouble(0) // last M1 bar of the 10:00 M15 bucket
    assert(m15close("2025-07-31", "10:00:00") === julyOrig + 9.0) // refreshed
    val augOrig = bars.where(col("ts") === ts("2025-08-01 10:14:00"))
      .select("close").head().getDouble(0)
    assert(m15close("2025-08-01", "10:00:00") === augOrig) // STALE: not refreshed
    // refreshing August catches it up
    graft.lake.Aggregates.refreshMonths(spark, root, Timeframe.M15, Seq((2025, 8)))
    assert(m15close("2025-08-01", "10:00:00") === augOrig + 9.0)
  }

  test("readUnified: stream appends shadow batch bars, add fresh ones, degrade to either side") {
    val root = Files.createTempDirectory("lake").toString
    val streamDir = s"$root/stream_append"
    val bars = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
    LakeWriter.upsert(spark, root, bars)
    // no stream dir -> plain batch read
    val batchOnly = LakeReader.readUnified(spark, root, streamDir, "synth", "BTC-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-02 00:00:00")))
    assert(batchOnly.count() === 1440)
    // appends: restate 00:00-01:00 with close+7, plus one brand-new bar at 23:59
    // of the NEXT day (outside the batch tree)
    val restated = bars.where(col("ts") < ts("2025-08-01 01:00:00"))
      .withColumn("close", col("close") + 7.0)
    val fresh = bars.where(col("ts") === ts("2025-08-01 00:00:00"))
      .withColumn("ts", lit(ts("2025-08-02 23:59:00")))
    restated.unionByName(fresh).write.mode("overwrite").parquet(streamDir)
    val unified = LakeReader.readUnified(spark, root, streamDir, "synth", "BTC-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-03 00:00:00")))
    assert(unified.count() === 1441) // 1440 batch keys + 1 fresh stream-only bar
    // the restated hour took the stream close (+7 over the batch value)
    val batchClose = bars.where(col("ts") === ts("2025-08-01 00:30:00"))
      .select("close").head().getDouble(0)
    val got = unified.where(col("ts") === ts("2025-08-01 00:30:00"))
      .select("close").head().getDouble(0)
    assert(got === batchClose + 7.0)
    // untouched bars keep the batch value
    val untouched = bars.where(col("ts") === ts("2025-08-01 12:00:00"))
      .select("close").head().getDouble(0)
    assert(unified.where(col("ts") === ts("2025-08-01 12:00:00"))
      .select("close").head().getDouble(0) === untouched)
    // absent batch tree -> stream side alone
    val emptyRoot = Files.createTempDirectory("lake_empty").toString
    val streamAlone = LakeReader.readUnified(spark, emptyRoot, streamDir, "synth", "BTC-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-03 00:00:00")))
    assert(streamAlone.count() === 61) // 60 restated + 1 fresh
  }

  test("layout validation accepts the writer's tree and flags strays") {
    val root = Files.createTempDirectory("lake").toString
    LakeWriter.upsert(spark, root,
      graft.sources.SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01"))
    assert(graft.lake.ValidateLayout.invalidPaths(spark, root).isEmpty)
    graft.lake.ValidateLayout.check(spark, root) // must not throw
    // plant a stray file outside the hive layout
    val stray = java.nio.file.Paths.get(root, "data", "stray.parquet")
    Files.write(stray, Array[Byte](1, 2, 3))
    assert(graft.lake.ValidateLayout.invalidPaths(spark, root) === Seq("stray.parquet"))
    assertThrows[IllegalArgumentException](graft.lake.ValidateLayout.check(spark, root))
  }

  test("lake probes go through the Hadoop FileSystem: file: URIs work") {
    val root = Files.createTempDirectory("lake").toString
    LakeWriter.upsert(spark, root,
      graft.sources.SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01"))
    val uriRoot = "file://" + root
    // readRange on an explicit file: URI (java.io.File would mis-handle it)
    val got = LakeReader.readRange(spark, uriRoot, "synth", "BTC-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-02 00:00:00")))
    assert(got.count() === 1440)
    assert(graft.lake.ValidateLayout.invalidPaths(spark, uriRoot).isEmpty)
    // absent tree under a file: URI short-circuits to the empty frame
    assert(LakeReader.readRange(spark, "file:///nonexistent-graft-root",
      "synth", "BTC-USD", "M1", None, None).count() === 0)
  }

  test("empty-lake read returns an empty canonical frame, not an error") {
    val root = Files.createTempDirectory("emptylake").toString
    val df = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-02 00:00:00")))
    assert(df.count() === 0)
    assert(df.columns.contains("ts") && df.columns.contains("close"))
    // column projection works on the empty frame too
    assert(LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1",
      None, None, Seq("ts", "close")).columns.toSeq === Seq("ts", "close"))
  }

  test("concurrent upserts to DIFFERENT months never clobber each other's partitions") {
    // The reference writer assumes a single writer per symbol tree
    // (writer.py:202-208 rewrites a whole month file in place). Our upsert
    // commits through Spark's dynamic partition overwrite, which replaces
    // ONLY the partitions the batch touches — so two writers landing
    // corrections into different months of the same (source, symbol, tf)
    // must both survive, each month keeping exactly its own writer's rows.
    // (A static overwrite — the naive mode("overwrite") — would have the
    // second commit delete the first writer's month wholesale.)
    val root = Files.createTempDirectory("lake_conc").toString
    val jan = SynthSource.m1(spark, "BTC-USD", "2025-01-10", "2025-01-10")
    val feb = SynthSource.m1(spark, "BTC-USD", "2025-02-10", "2025-02-10")
    LakeWriter.upsert(spark, root, jan)
    LakeWriter.upsert(spark, root, feb)
    val patchJan = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .withColumn("close", lit(111111.0))
    val patchFeb = feb.where(col("ts") === lit("2025-02-10 10:00:00"))
      .withColumn("close", lit(222222.0))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.DurationInt
    Await.result(Future.sequence(Seq(patchJan, patchFeb)
      .map(b => Future(LakeWriter.upsert(spark, root, b)))), 180.seconds)
    val all = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(all.count() === 2880, "no month lost, no duplicate introduced")
    assert(all.where(col("ts") === lit("2025-01-10 10:00:00")).head()
      .getAs[Double]("close") === 111111.0)
    assert(all.where(col("ts") === lit("2025-02-10 10:00:00")).head()
      .getAs[Double]("close") === 222222.0)
  }

  test("upsert keep-last: a re-ingested bar overwrites the old row") {
    val root = Files.createTempDirectory("lake").toString
    val bars = SynthSource.m1(spark, "ETH-USD", "2025-08-01", "2025-08-01")
    LakeWriter.upsert(spark, root, bars)
    val patched = bars.where(col("ts") === lit("2025-08-01 10:00:00"))
      .withColumn("close", lit(123456.0))
    LakeWriter.upsert(spark, root, patched)
    val readBack = LakeReader.readRange(spark, root, "synth", "ETH-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-02 00:00:00")))
    assert(readBack.count() === 1440) // no duplicate introduced
    val row = readBack.where(col("ts") === lit("2025-08-01 10:00:00")).head()
    assert(row.getAs[Double]("close") === 123456.0)
  }

  test("upsert determinism: intra-batch duplicate keys resolve identically on re-run (O8)") {
    // a malformed batch carrying the same key twice must land the SAME
    // survivor every run (value-tuple tiebreak), not whatever shuffle
    // order produced — re-running the identical ingest is a no-op
    val root = Files.createTempDirectory("lake_dupkey").toString
    val bar = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
      .where(col("ts") === lit("2025-08-01 10:00:00"))
    val dupBatch = bar.withColumn("close", lit(111.0))
      .unionByName(bar.withColumn("close", lit(222.0)))
    def readClose(): Double = LakeReader.readRange(spark, root, "synth",
        "BTC-USD", "M1", None, None)
      .where(col("ts") === lit("2025-08-01 10:00:00")).head().getAs[Double]("close")
    LakeWriter.upsert(spark, root, dupBatch)
    val first = readClose()
    LakeWriter.upsert(spark, root, dupBatch) // identical ingest re-run
    assert(first === 222.0 && readClose() === 222.0,
      "greatest value tuple must win, both runs")
  }

  test("readRange keeps BOTH markets' rows for the same (source, symbol, timeframe, ts)") {
    // the tree partitions by market; a symbol present under two markets
    // must not have one market's bars collapsed away by the read dedupe
    val root = Files.createTempDirectory("lake_mkt").toString
    val bars = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
    LakeWriter.upsert(spark, root, bars) // market defaults to crypto
    LakeWriter.upsert(spark, root,
      bars.withColumn("market", lit("stocks")).withColumn("close", col("close") + 7.0))
    val got = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(got.count() === 2880, "1440 bars per market, none collapsed")
    assert(got.select("market").distinct().count() === 2)
  }

  test("ONE batch carrying the same bar under TWO markets upserts both (market in the merge key)") {
    // r14: the writer's merge key omitted market while the reader's dedupe
    // key includes it — a mixed-market batch (same source/symbol/tf/ts,
    // different market = two different instruments) had one row silently
    // keep-last'ed away before it ever reached disk
    val root = Files.createTempDirectory("lake_mktkey").toString
    val bars = SynthSource.m1(spark, "XAU", "2025-08-01", "2025-08-01")
    val mixed = bars.unionByName(
      bars.withColumn("market", lit("fx")).withColumn("close", col("close") + 7.0))
    LakeWriter.upsert(spark, root, mixed)
    val got = LakeReader.readRange(spark, root, "synth", "XAU", "M1", None, None)
    assert(got.count() === 2880, "both markets' bars must survive ONE mixed upsert")
    assert(got.select("market").distinct().count() === 2)
  }

  test("null-key group: gaps are not falsely reported and synthFill does not duplicate real bars") {
    // r14: plain-equality joins never match null keys, so a null-symbol
    // group used to read back its ENTIRE grid as missing, and synthFill
    // emitted a synthetic twin beside every real bar
    val day = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
      .withColumn("symbol", lit(null).cast("string"))
    val gappy = day.where(col("ts") =!= lit("2025-08-01 03:00:00"))
    val miss = graft.ops.Gaps.minuteGaps(gappy, Seq("symbol"))
    assert(miss.count() === 1, "exactly the one removed minute is missing")
    assert(miss.head().getAs[Long]("n_missing") === 1L)
    val filled = graft.ops.Gaps.synthFill(gappy, Seq("symbol"))
    assert(filled.count() === 1440, "no duplicate synthetic twins beside real bars")
    assert(filled.where(col("is_synth")).count() === 1)
  }

  test("gap detection finds removed minutes as islands; synthFill repairs them") {
    val day = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
    val gappy = day.where(!(col("ts") >= lit("2025-08-01 03:00:00") &&
      col("ts") < lit("2025-08-01 03:10:00")) &&
      col("ts") =!= lit("2025-08-01 07:30:00"))
    val gaps = Gaps.minuteGaps(gappy).orderBy("gap_start").collect()
    assert(gaps.length === 2)
    assert(gaps(0).getAs[Long]("n_missing") === 10)
    assert(gaps(0).getAs[Timestamp]("gap_start").toString === "2025-08-01 03:00:00.0")
    assert(gaps(0).getAs[Timestamp]("gap_end").toString === "2025-08-01 03:09:00.0")
    assert(gaps(1).getAs[Long]("n_missing") === 1)

    val filled = Gaps.synthFill(gappy)
    assert(filled.count() === 1440)
    assert(filled.where(col("is_synth")).count() === 11)
    val prior = gappy.where(col("ts") === lit("2025-08-01 02:59:00")).head().getAs[Double]("close")
    val synth = filled.where(col("ts") === lit("2025-08-01 03:05:00")).head()
    assert(synth.getAs[Double]("close") === prior)
    assert(synth.getAs[Double]("volume") === 0.0)
  }

  test("day-scoped gaps see midnight-crossing gaps and fully missing days") {
    // observed: day1 00:00..23:49 and day3 00:11..23:59 — so a gap crosses
    // the day1/day2 midnight, day2 is entirely absent, and day3 opens late
    val three = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-03")
    val minutes = three.where(
        (col("ts") < lit("2025-08-01 23:50:00")) ||
        (col("ts") >= lit("2025-08-03 00:11:00")))
      .select(col("ts"))
    val gaps = Gaps.dayScopedMinuteGaps(minutes).orderBy("gap_start").collect()
    assert(gaps.map(r => (r.getAs[Timestamp]("gap_start").toString,
      r.getAs[Timestamp]("gap_end").toString, r.getAs[Long]("n_missing"))).toSeq === Seq(
      ("2025-08-01 23:50:00.0", "2025-08-01 23:59:00.0", 10L),  // tail of day1
      ("2025-08-02 00:00:00.0", "2025-08-02 23:59:00.0", 1440L), // whole day2
      ("2025-08-03 00:00:00.0", "2025-08-03 00:10:00.0", 11L)))  // head of day3
  }

  test("OR levels: known breakout is detected with direction and first-break ts") {
    import spark.implicits._
    // OR window 00:00-01:00 over values in [10, 20]; break UP at 01:05
    val rows = (0 until 60).map { i =>
      (Timestamp.valueOf(f"2025-08-01 00:$i%02d:00"), 15.0, if (i == 30) 20.0 else 16.0,
        if (i == 10) 10.0 else 14.0, 15.0, 1.0, "T")
    } ++ Seq(
      (ts("2025-08-01 01:00:00"), 15.0, 16.0, 14.0, 15.0, 1.0, "T"),
      (ts("2025-08-01 01:05:00"), 15.0, 25.0, 15.0, 21.0, 1.0, "T"), // close 21 > or_high 20 -> UP
      (ts("2025-08-01 01:10:00"), 21.0, 22.0, 19.0, 20.5, 1.0, "T"), // low 19 <= 20 -> retest
    )
    val df = rows.toDF("ts", "open", "high", "low", "close", "volume", "symbol")
    val levels = OrLevels.build(df, "UTC", "00:00-01:00").collect()
    assert(levels.length === 1)
    val r = levels.head
    assert(r.getAs[Double]("or_high") === 20.0)
    assert(r.getAs[Double]("or_low") === 10.0)
    assert(r.getAs[String]("break_dir") === "UP")
    assert(r.getAs[Timestamp]("break_ts").toString === "2025-08-01 01:05:00.0")
    // reference semantics: retest scans from or_end (NOT from the break), so
    // the 01:00 bar (low 14 <= or_high 20) is already the first retest
    assert(r.getAs[Timestamp]("retest_ts").toString === "2025-08-01 01:00:00.0")
    assert(r.getAs[Double]("retest_price") === 15.0)
  }

  test("OR levels: session boundaries follow DST (America/New_York, spring forward 2025-03-09)") {
    // 09:30 New York = 14:30 UTC before DST, 13:30 UTC after
    val days = graft.sources.SynthSource.m1(spark, "SPY", "2025-03-07", "2025-03-11")
    val levels = OrLevels.build(days, "America/New_York", "09:30-10:00")
      .orderBy("session_date").collect()
    val byDate = levels.map(r => r.getAs[java.sql.Date]("session_date").toString ->
      r.getAs[Timestamp]("or_start").toString).toMap
    assert(byDate("2025-03-08") === "2025-03-08 14:30:00.0") // EST: UTC-5
    assert(byDate("2025-03-10") === "2025-03-10 13:30:00.0") // EDT: UTC-4
    // typed variant agrees through the transition
    val typed = OrLevelsRef.buildTyped(days, "America/New_York", "09:30-10:00")
      .orderBy("session_date").collect()
      .map(r => r.getAs[java.sql.Date]("session_date").toString ->
        r.getAs[Timestamp]("or_start").toString).toMap
    assert(typed("2025-03-08") === byDate("2025-03-08"))
    assert(typed("2025-03-10") === byDate("2025-03-10"))
  }

  test("OR levels: session grouping respects a non-UTC tz") {
    import spark.implicits._
    // 23:30 UTC = 09:30 Tokyo next day: lands in the Tokyo session of 08-02
    val df = Seq(
      (ts("2025-08-01 23:30:00"), 1.0, 2.0, 0.5, 1.5, 1.0, "T"),
      (ts("2025-08-01 23:45:00"), 1.0, 2.5, 0.8, 1.2, 1.0, "T"),
    ).toDF("ts", "open", "high", "low", "close", "volume", "symbol")
    val levels = OrLevels.build(df, "Asia/Tokyo", "08:00-09:00")
    // both bars are 08:30/08:45 local on 08-02 -> one session, inside OR window
    val r = levels.collect()
    assert(r.length === 1)
    assert(r.head.getAs[java.sql.Date]("session_date").toString === "2025-08-02")
    assert(r.head.getAs[Double]("or_high") === 2.5)
    assert(r.head.getAs[String]("break_dir") === "NONE")
  }
}
