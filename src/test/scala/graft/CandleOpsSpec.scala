package graft

import graft.core.{CandleSchema, Timeframe}
import graft.ops._
import graft.sources.SynthSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's test invariants (SURVEY §5):
  * resample counts/labels/idempotence (tests/test_resample_offline.py),
  * as-of join shape (tests/test_join_mtf_shapes.py), bar-end shift
  * (tests/test_contracts_and_norm.py).
  */
class CandleOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val day = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01").cache()

  test("synth day has 1440 M1 bars, canonical schema, high>=low") {
    assert(day.count() === 1440)
    assert(day.columns.toSeq.startsWith(CandleSchema.canonicalOrder))
    assert(day.where(col("high") < col("low")).count() === 0)
    assert(day.where(col("high") < greatest(col("open"), col("close"))).count() === 0)
  }

  test("synth generation is deterministic regardless of partitioning") {
    val a = day.orderBy("ts").collect()
    val b = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
      .repartition(7).orderBy("ts").collect()
    assert(a.sameElements(b))
  }

  test("resample counts: M1 1440 -> M5 288, M15 96, H1 24, D1 1") {
    assert(Resample.ohlcv(day, Timeframe.M5).count() === 288)
    assert(Resample.ohlcv(day, Timeframe.M15).count() === 96)
    assert(Resample.ohlcv(day, Timeframe.H1).count() === 24)
    assert(Resample.ohlcv(day, Timeframe.D1).count() === 1)
  }

  test("resample labels are left: first M5 00:00, last 23:55; M15 23:45; H1 23:00") {
    def lastLabel(tf: Timeframe) =
      Resample.ohlcv(day, tf).agg(max(col("ts"))).head().getTimestamp(0).toString
    def firstLabel(tf: Timeframe) =
      Resample.ohlcv(day, tf).agg(min(col("ts"))).head().getTimestamp(0).toString
    assert(firstLabel(Timeframe.M5) === "2025-08-01 00:00:00.0")
    assert(lastLabel(Timeframe.M5) === "2025-08-01 23:55:00.0")
    assert(lastLabel(Timeframe.M15) === "2025-08-01 23:45:00.0")
    assert(lastLabel(Timeframe.H1) === "2025-08-01 23:00:00.0")
  }

  test("resample is idempotent: resample(resample(m1, M5), M5) == resample(m1, M5)") {
    val m5 = Resample.ohlcv(day, Timeframe.M5)
    val again = Resample.ohlcv(m5, Timeframe.M5)
    assert(m5.orderBy("ts").collect().sameElements(again.orderBy("ts").collect()))
  }

  test("resample semantics: M5 open is the first bar's open, volume the sum") {
    val first5 = day.orderBy("ts").limit(5).collect()
    val m5head = Resample.ohlcv(day, Timeframe.M5).orderBy("ts").limit(1).head()
    assert(m5head.getAs[Double]("open") === first5.head.getAs[Double]("open"))
    assert(m5head.getAs[Double]("close") === first5.last.getAs[Double]("close"))
    assert(m5head.getAs[Double]("high") === first5.map(_.getAs[Double]("high")).max)
    assert(math.abs(m5head.getAs[Double]("volume") - first5.map(_.getAs[Double]("volume")).sum) < 1e-9)
  }

  test("ffill resample fills empty buckets with prior OHLC and volume 0") {
    // remove minutes 05..09 -> M5 bucket 00:05 empty
    val gappy = day.where(!(col("ts") >= lit("2025-08-01 00:05:00") &&
      col("ts") < lit("2025-08-01 00:10:00")))
    val plain = Resample.ohlcv(gappy, Timeframe.M5)
    assert(plain.where(col("ts") === lit("2025-08-01 00:05:00")).count() === 0)
    val filled = Resample.ohlcvFfill(gappy, Timeframe.M5)
    assert(filled.count() === 288)
    val hole = filled.where(col("ts") === lit("2025-08-01 00:05:00")).head()
    val prior = filled.where(col("ts") === lit("2025-08-01 00:00:00")).head()
    assert(hole.getAs[Double]("close") === prior.getAs[Double]("close"))
    assert(hole.getAs[Double]("volume") === 0.0)
  }

  test("as-of join keeps exec row count and sees ctx rows at equal ts") {
    val m5 = Resample.ohlcv(day, Timeframe.M5)
    val joined = AsofJoin.backward(
      day.select(col("ts"), col("close")),
      m5.select(col("ts"), col("close").as("close_m5")))
    assert(joined.count() === 1440)
    // exec bar at 00:05 must see the M5 bar labeled 00:05 (tie included)
    val at = joined.where(col("ts") === lit("2025-08-01 00:05:00")).head()
    val m5at = m5.where(col("ts") === lit("2025-08-01 00:05:00")).head()
    assert(at.getAs[Double]("close_m5") === m5at.getAs[Double]("close"))
    // no nulls after the first ctx ts
    assert(joined.where(col("close_m5").isNull).count() === 0)
  }

  test("mtf join suffixes ctx columns and preserves exec grain") {
    val ctx = Map(
      "M5" -> Resample.ohlcv(day, Timeframe.M5),
      "M15" -> Resample.ohlcv(day, Timeframe.M15))
    val out = AsofJoin.mtf(day.select("ts", "open", "high", "low", "close", "volume"), ctx)
    assert(out.count() === 1440)
    for (c <- Seq("open", "high", "low", "close", "volume"); tf <- Seq("M5", "M15"))
      assert(out.columns.contains(s"${c}_$tf"), s"missing ${c}_$tf")
  }

  test("bucketJoin equals general backward asof on grid-aligned data") {
    val m5 = Resample.ohlcv(day, Timeframe.M5).select(col("ts"), col("close").as("close_m5"))
    val general = AsofJoin.backward(day.select("ts", "close"), m5)
      .orderBy("ts").collect()
    val bucketed = AsofJoin.bucketJoin(day.select("ts", "close"), m5, Timeframe.M5)
      .select("ts", "close", "close_m5").orderBy("ts").collect()
    assert(general.sameElements(bucketed))
  }

  test("backward asof with chunking (hot-key split) equals the window form") {
    // m5 from a gappy m1 so chunks see empty ctx stretches; 1h chunks force
    // many carry-ins across chunk boundaries, including the equal-ts tie
    val gappy = day.where(!(col("ts") >= lit("2025-08-01 10:00:00") &&
      col("ts") < lit("2025-08-01 13:30:00")))
    val m5 = Resample.ohlcv(gappy, Timeframe.M5).select(col("ts"), col("close").as("close_m5"))
    val exec = day.select(col("ts"), col("close"))
    val want = AsofJoin.backward(exec, m5).orderBy("ts").collect()
    val got = AsofJoin.directed(exec, m5, direction = "backward", chunk = 3600L)
      .select("ts", "close", "close_m5").orderBy("ts").collect()
    assert(got.sameElements(want))
    // the exec rows inside the ctx gap see the last bar before it (09:55):
    // the as-of fallback a grid bucketJoin would get wrong
    val at = got.find(_.getTimestamp(0).toString == "2025-08-01 10:10:00.0").get
    val m5prev = m5.where(col("ts") === lit("2025-08-01 09:55:00")).head()
    assert(at.getAs[Double]("close_m5") === m5prev.getAs[Double]("close_m5"))
    // keyed variant too
    val execK = exec.withColumn("symbol", lit("AAA"))
    val m5K = m5.withColumn("symbol", lit("AAA"))
    val wantK = AsofJoin.backward(execK, m5K, partitionCols = Seq("symbol"))
      .select("symbol", "ts", "close", "close_m5").orderBy("ts").collect()
    val gotK = AsofJoin.directed(execK, m5K, partitionCols = Seq("symbol"),
      direction = "backward", chunk = 3600L)
      .select("symbol", "ts", "close", "close_m5").orderBy("ts").collect()
    assert(gotK.sameElements(wantK))
  }

  test("bar-end shift moves 00:00 to 00:01 (reference normalize.py)") {
    val shifted = SynthSource.barEndShift(day)
    assert(shifted.agg(min(col("ts"))).head().getTimestamp(0).toString === "2025-08-01 00:01:00.0")
    assert(shifted.count() === 1440)
  }

  test("CandleAgg: one-pass OHLCV matches composed aggregates, skips nulls, merges across partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (10L, 5.0, 1.0), (20L, 9.0, 1.0), (30L, 2.0, 1.0), (40L, 7.0, 1.0))
    val df = rows.toDF("ts", "price", "size").repartition(4) // force merge path
    val c = df.agg(graft.functions.CandleAgg.candle(col("ts"), col("price"), col("size")).as("c"))
      .select("c.open", "c.high", "c.low", "c.close", "c.volume").head()
    assert(c.getDouble(0) === 5.0) // price at min ts
    assert(c.getDouble(1) === 9.0)
    assert(c.getDouble(2) === 2.0)
    assert(c.getDouble(3) === 7.0) // price at max ts
    assert(c.getDouble(4) === 4.0)
    // null prices are skipped; all-null group yields null struct
    val withNulls = Seq((1L, Some(3.0)), (2L, None), (3L, Some(4.0)))
      .toDF("ts", "price").repartition(2)
    val n = withNulls.agg(graft.functions.CandleAgg.candle(col("ts"), col("price"), lit(1.0)).as("c"))
      .select("c.open", "c.close", "c.volume").head()
    assert(n.getDouble(0) === 3.0 && n.getDouble(1) === 4.0 && n.getDouble(2) === 2.0)
    val empty = Seq((1L, Option.empty[Double])).toDF("ts", "price")
      .agg(graft.functions.CandleAgg.candle(col("ts"), col("price"), lit(1.0)).as("c"))
      .select("c").head()
    assert(empty.isNullAt(0))
  }

  test("timeframe aliases normalize (reference provider._norm_tf)") {
    assert(Timeframe("1 min") === Timeframe.M1)
    assert(Timeframe("5 mins") === Timeframe.M5)
    assert(Timeframe("1 hour") === Timeframe.H1)
    assert(Timeframe("1 day") === Timeframe.D1)
    assert(Timeframe("m15") === Timeframe.M15)
    assertThrows[IllegalArgumentException](Timeframe("M7"))
  }

  test("directed as-of: forward/nearest/tolerance semantics; backward == backward()") {
    import spark.implicits._
    def t(secs: Long*) = secs
    val left = t(0L, 10L, 20L).toDF("s")
      .select(timestamp_seconds(col("s")).as("ts"), col("s").as("exec_id"))
    val right = t(8L, 20L).toDF("s")
      .select(timestamp_seconds(col("s")).as("ts"), col("s").as("v"))
    def vals(direction: String, tol: Option[Long]) =
      AsofJoin.directed(left, right, direction = direction, tolerance = tol, chunk = 100L)
        .orderBy(col("exec_id")).select(col("v")).collect()
        .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    // backward: latest right <= ts (exact match included)
    assert(vals("backward", None) === Seq(-1L, 8L, 20L))
    // forward: earliest right >= ts (exact match included)
    assert(vals("forward", None) === Seq(8L, 20L, 20L))
    // nearest: 0 -> 8 (only next), 10 -> 8 (2 < 10), 20 -> exact
    assert(vals("nearest", None) === Seq(8L, 8L, 20L))
    // tolerance masks far matches but keeps the row
    assert(vals("backward", Some(5L)) === Seq(-1L, 8L, 20L))
    assert(vals("forward", Some(5L)) === Seq(-1L, -1L, 20L))
    assert(vals("nearest", Some(5L)) === Seq(-1L, 8L, 20L))

    // directed(backward, no tolerance) reproduces the flagship backward()
    // on real candle data
    val bars = day.select(col("ts"), col("close").as("exec_close"))
    val ctx = Resample.ohlcv(day, Timeframe.M15)
      .select(col("ts"), col("close").as("ctx_close"))
    val a = AsofJoin.backward(bars, ctx)
      .orderBy(col("ts")).select(col("ctx_close")).collect().toSeq
    val b = AsofJoin.directed(bars, ctx, direction = "backward")
      .orderBy(col("ts")).select(col("ctx_close")).collect().toSeq
    assert(a === b)
  }

  test("as-of joins are ROW-atomic: the matched row's null is served as null, never filled through") {
    // r14: right = [(100, close=5.0), (200, close=null)]; a left row at 210
    // matches the ts=200 ROW backward — pandas merge_asof / DuckDB ASOF
    // JOIN serve that row's NULL close. A per-column fill instead reached
    // back to ts=100's 5.0 (and under tolerance=50 served a value from a
    // row 110 s away through a match only 10 s away).
    import spark.implicits._
    val left = Seq(210L).toDF("s")
      .select(timestamp_seconds(col("s")).as("ts"), col("s").as("exec_id"))
    val right = Seq((100L, Option(5.0)), (200L, Option.empty[Double])).toDF("s", "v")
      .select(timestamp_seconds(col("s")).as("ts"), col("v"))
    def theV(df: org.apache.spark.sql.DataFrame): Option[Double] = {
      val r = df.select(col("v")).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(theV(AsofJoin.backward(left, right)) === None,
      "window-form backward must serve the matched row's null")
    assert(theV(AsofJoin.directed(left, right, direction = "backward", chunk = 50L)) === None,
      "chunked backward must serve the matched row's null (row crosses chunks)")
    assert(theV(AsofJoin.directed(left, right, tolerance = Some(50L), chunk = 100L)) === None,
      "tolerance must never admit a value from beyond it via fill-through-null")
    // forward direction mirror: left at 90 matches ts=100's 5.0 (non-null)
    val left2 = Seq(90L).toDF("s")
      .select(timestamp_seconds(col("s")).as("ts"), col("s").as("exec_id"))
    assert(theV(AsofJoin.directed(left2, right, direction = "forward", chunk = 100L)) === Some(5.0))
  }
}
