package graft

import graft.core.Timeframe
import graft.lake.{LakeReader, LakeWriter}
import graft.ops.{AsofJoin, Gaps, OrLevels, Resample}
import graft.sources.SynthSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** Multi-symbol paths: every partitioned operator must keep symbols
  * independent — no cross-symbol leakage through windows, grids, or joins.
  * (Single-symbol behavior is covered elsewhere; these are the partitionCols
  * code paths that a 1000-executor deployment leans on.)
  */
class MultiSymbolSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def threeSymbols = {
    val dfs = Seq(("AAA-USD", 1L), ("BBB-USD", 2L), ("CCC-USD", 3L)).map { case (s, seed) =>
      SynthSource.m1(spark, s, "2025-08-01", "2025-08-01", seed)
    }
    dfs.reduce(_ unionByName _)
  }

  test("lake round-trips each symbol independently") {
    val root = Files.createTempDirectory("lake").toString
    LakeWriter.upsert(spark, root, threeSymbols)
    for (s <- Seq("AAA-USD", "BBB-USD", "CCC-USD")) {
      val got = LakeReader.readRange(spark, root, "synth", s, "M1",
        Some(Timestamp.valueOf("2025-08-01 00:00:00")), Some(Timestamp.valueOf("2025-08-02 00:00:00")))
      assert(got.count() === 1440, s)
      assert(got.select("symbol").distinct().head().getString(0) === s)
    }
  }

  test("keyed resample does not mix symbols") {
    val all = threeSymbols
    val m5 = Resample.ohlcv(all, Timeframe.M5, Seq("source", "symbol"))
    assert(m5.count() === 3 * 288)
    // per-symbol m5 equals resampling that symbol alone
    val aloneA = Resample.ohlcv(all.where(col("symbol") === "AAA-USD"), Timeframe.M5)
      .orderBy("ts").select("ts", "open", "high", "low", "close", "volume").collect()
    val fromAll = m5.where(col("symbol") === "AAA-USD")
      .orderBy("ts").select("ts", "open", "high", "low", "close", "volume").collect()
    assert(aloneA.sameElements(fromAll))
  }

  test("partitioned mtf asof join keeps exec grain and per-symbol context") {
    val all = threeSymbols
    val m5 = Resample.ohlcv(all, Timeframe.M5, Seq("source", "symbol"))
    val joined = AsofJoin.mtf(
      all.select("source", "symbol", "ts", "open", "high", "low", "close", "volume"),
      Map("M5" -> m5), partitionCols = Seq("source", "symbol"))
    assert(joined.count() === 3 * 1440)
    // context for symbol B at 00:07 must equal B's own 00:05 bar
    val at = joined.where(col("symbol") === "BBB-USD" && col("ts") === lit("2025-08-01 00:07:00")).head()
    val bBar = m5.where(col("symbol") === "BBB-USD" && col("ts") === lit("2025-08-01 00:05:00")).head()
    assert(at.getAs[Double]("close_M5") === bBar.getAs[Double]("close"))
  }

  test("keyed gaps and OR levels stay per-symbol") {
    val all = threeSymbols
    // remove a stripe from ONE symbol only
    val gappy = all.where(!(col("symbol") === "BBB-USD" &&
      col("ts") >= lit("2025-08-01 05:00:00") && col("ts") < lit("2025-08-01 05:30:00")))
    val gaps = Gaps.minuteGaps(gappy, Seq("symbol")).collect()
    assert(gaps.length === 1)
    assert(gaps.head.getAs[String]("symbol") === "BBB-USD")
    assert(gaps.head.getAs[Long]("n_missing") === 30L)

    val levels = OrLevels.build(all, "UTC", "00:00-01:00")
    assert(levels.count() === 3)
    assert(levels.select("symbol").distinct().count() === 3)
  }
}
