package graft

import graft.sources.RawBar
import graft.sources.v2.WindowFetcher
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic executor-side fetcher: one M1 bar per minute, price derived
  * from (symbol, minute) so any partition plan reproduces the same data.
  * Public no-arg constructor — instantiated reflectively per partition.
  */
class FakeMinuteFetcher extends WindowFetcher {
  override def fetch(symbol: String, fromMs: Long, toMs: Long): Iterator[RawBar] =
    Iterator.iterate(fromMs)(_ + 60000L).takeWhile(_ < toMs).map { t =>
      val px = 100.0 + math.abs((symbol + t).hashCode % 1000) / 100.0
      RawBar(t, px, px + 0.5, px - 0.5, px + 0.1, 1.0)
    }
}

/** An INCLUSIVE-end fetcher — the reference pager's shape (client.py:133
  * keeps ts <= end): emits one extra bar exactly AT toMs. The reader must
  * clip it, or every internal window boundary lands in two partitions.
  */
class InclusiveEndFetcher extends WindowFetcher {
  override def fetch(symbol: String, fromMs: Long, toMs: Long): Iterator[RawBar] =
    Iterator.iterate(fromMs)(_ + 60000L).takeWhile(_ <= toMs).map { t =>
      val px = 100.0 + math.abs((symbol + t).hashCode % 1000) / 100.0
      RawBar(t, px, px + 0.5, px - 0.5, px + 0.1, 1.0)
    }
}

class DataSourceV2Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def load(extra: (String, String)*) = {
    val base = spark.read.format("graft.sources.v2.CandleFetchSource")
      .option("symbols", "BTC-USD,ETH-USD")
      .option("from", "2025-08-01T00:00:00Z")
      .option("to", "2025-08-02T00:00:00Z")
      .option("fetcher", classOf[FakeMinuteFetcher].getName)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("plans one input partition per (symbol, window) and fetches on executors") {
    val df = load()
    // 2 symbols x 3 8h-windows
    assert(df.rdd.getNumPartitions === 6)
    assert(df.count() === 2 * 1440)
    assert(df.select("symbol").distinct().count() === 2)
    // half-open window: first minute included, end excluded
    val ts = df.where(col("symbol") === "BTC-USD").agg(
      min(col("ts")).cast("long"), max(col("ts")).cast("long")).head()
    assert(ts.getLong(0) === java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond)
    assert(ts.getLong(1) === java.time.Instant.parse("2025-08-01T23:59:00Z").getEpochSecond)
  }

  test("windowHours drives the partition plan; data is partition-invariant") {
    val coarse = load().orderBy("symbol", "ts").collect()
    val fine = load("windowHours" -> "1")
    assert(fine.rdd.getNumPartitions === 48)
    assert(fine.orderBy("symbol", "ts").collect().sameElements(coarse))
  }

  test("an inclusive-end fetcher is clipped to the half-open window: no boundary duplicates") {
    // without the reader-side clip, each of the 2 internal 8h boundaries
    // (08:00, 16:00) plus the end bar (24:00) would duplicate/leak per
    // symbol: 2 x (1440 + 3) rows instead of 2 x 1440
    val df = spark.read.format("graft.sources.v2.CandleFetchSource")
      .option("symbols", "BTC-USD,ETH-USD")
      .option("from", "2025-08-01T00:00:00Z")
      .option("to", "2025-08-02T00:00:00Z")
      .option("fetcher", classOf[InclusiveEndFetcher].getName)
      .load()
    assert(df.count() === 2 * 1440)
    assert(df.groupBy("symbol", "ts").count().where(col("count") > 1).count() === 0,
      "window-boundary bars must not appear in two adjacent partitions")
    // and the data equals the exclusive fetcher's bit-for-bit
    assert(df.orderBy("symbol", "ts").collect()
      .sameElements(load().orderBy("symbol", "ts").collect()))
  }

  test("feeds the normal candle pipeline (schema enforce + resample)") {
    val bars = load().withColumn("timeframe", lit("M1"))
    val m5 = graft.ops.Resample.ohlcv(
      graft.core.CandleSchema.enforce(bars), graft.core.Timeframe.M5, Seq("symbol"))
    assert(m5.count() === 2 * 288)
  }
}
