package graft.lake

import graft.core.Timeframe
import graft.ops.Resample
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Materialized aggregate tree + the read-else-compute bridge policy.
  *
  * Mirrors the reference's `aggregates/` tree (reference:
  * src/datalake/aggregates/aggregate.py:13-15 destination,
  * :48-66 merge-dedupe month writer K3) and the LakeProvider fallback
  * (reference: src/bridge/backtest_crew/provider.py:52-87
  * `load_exec_and_filter`: prefer the pre-materialized aggregate, else
  * resample M1 on the fly — SURVEY §4 O4 "materialized view with fallback").
  *
  * Note the reference's own labeling quirk: provider.py's docstring claims
  * right/bar-end labeling while the shared resample code labels LEFT
  * (aggregate.py:41); the engine replicates the observed left labeling
  * (SURVEY §7.5 item 1).
  */
object Aggregates {

  /** Materialize resampled candles into the aggregates tree (idempotent
    * upsert, same merge-dedupe semantics as the data tree).
    */
  def materialize(spark: SparkSession, root: String, m1: DataFrame, tf: Timeframe): Unit = {
    // carry market through the resample whenever the base HAS it (r14): a
    // multi-market lake holds the same (source, symbol) under several
    // markets, and a market-less groupBy would blend their bars into one
    // fabricated aggregate that enforce() then misfiles under the default
    // market. Bases without the column (pre-enforce candle frames) keep
    // (source, symbol) and take enforce's default as before.
    val fullKeys = if (m1.columns.contains("market")) Seq("source", "symbol", "market")
      else Seq("source", "symbol")
    val agg = Resample.ohlcv(m1, tf, fullKeys)
      .withColumn("timeframe", lit(tf.code))
    LakeWriter.upsertCandles(spark, LakeLayout.aggregatesRoot(root), agg)
  }

  /** Incremental materialized-view maintenance: after an upsert touches a
    * set of (year, month) cells in the M1 tree, recompute ONLY those
    * months' aggregates and fold them in with the same idempotent
    * month-grain upsert — O(touched months) read and write, not
    * O(history). A full [[materialize]] over the whole base is the
    * refresh-everything degenerate case.
    *
    * Month-local recomputation is EXACT for every canonical timeframe
    * because their bucket widths divide 86400 s: epoch-aligned buckets
    * therefore align to midnight, and no bucket straddles a month
    * boundary — enforced with a require, so an exotic timeframe cannot
    * silently produce torn boundary bars.
    */
  def refreshMonths(spark: SparkSession, root: String, tf: Timeframe,
                    months: Seq[(Int, Int)]): Unit = {
    require(86400L % tf.seconds == 0,
      s"refreshMonths needs a day-aligned timeframe; ${tf.code} (${tf.seconds}s) is not")
    if (months.isEmpty) return
    LakeFs.readParquetIfData(spark, LakeLayout.dataRoot(root)).foreach { base =>
      val touched = months.map { case (y, m) =>
        col("year") === y && col("month") === m
      }.reduce(_ || _)
      val m1 = base.where(col("timeframe") === "M1").where(touched)
        .drop("year", "month")
      materialize(spark, root, m1, tf)
    }
  }
}

/** The backtester bridge (reference: src/bridge/backtest_crew/provider.py).
  * `loadExecAndFilter` returns (exec-tf frame, filter-tf frame), each served
  * from: M1 base read | pre-materialized aggregate | on-the-fly resample.
  */
class LakeProvider(spark: SparkSession, root: String,
                   source: String = "synth", market: String = "crypto") {

  private def readTree(path: String, symbol: String, tf: String,
                       from: Option[Timestamp], to: Option[Timestamp]): DataFrame = {
    val df = LakeFs.readParquetIfData(spark, path) match {
      // absent/empty tree reads as an empty CANONICAL frame — a zero-column
      // spark.emptyDataFrame would crash the callers' orderBy("ts")/
      // resample instead of honoring the empty-lake contract LakeReader
      // already implements (reference api.py:23-24)
      case None => return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.core.CandleSchema.schema)
      case Some(cur) => cur
        // market filters too: a multi-market lake can hold the same
        // (source, symbol, timeframe) under several markets, and the
        // provider must not interleave them
        .where(col("source") === source && col("market") === market &&
          col("symbol") === symbol && col("timeframe") === tf)
    }
    // derived year/month predicates ride along (LakeReader.applyRange) so
    // a one-month provider read prunes to the touched months instead of
    // listing the whole tree (r14 — this was a ts-only filter)
    LakeReader.applyRange(df, from, to).drop("year", "month")
  }

  def loadM1(symbol: String, from: Option[Timestamp], to: Option[Timestamp]): DataFrame =
    readTree(LakeLayout.dataRoot(root), symbol, "M1", from, to).orderBy("ts")

  /** read-else-compute: pre-aggregate if materialized and non-empty, else
    * resample the M1 base (reference provider.py:70-78 `_make`).
    */
  def loadTf(symbol: String, tf: String, from: Option[Timestamp], to: Option[Timestamp]): DataFrame = {
    val norm = Timeframe(tf)
    if (norm == Timeframe.M1) return loadM1(symbol, from, to)
    val pre = readTree(LakeLayout.aggregatesRoot(root), symbol, norm.code, from, to)
    val hasPre = !pre.isEmpty
    if (hasPre) pre.orderBy("ts")
    else Resample.ohlcv(loadM1(symbol, from, to), norm, Seq("source", "symbol")).orderBy("ts")
  }

  /** (exec, filter) pair like the reference bridge. */
  def loadExecAndFilter(symbol: String, from: Option[Timestamp], to: Option[Timestamp],
                        execTf: String, filterTf: String): (DataFrame, DataFrame) =
    (loadTf(symbol, execTf, from, to), loadTf(symbol, filterTf, from, to))
}
