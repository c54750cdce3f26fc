package lakebench

import graft.core.Timeframe
import graft.lake.LakeProvider
import graft.ops.{AsofJoin, Indicators, OrLevels}
import org.apache.spark.sql.{Row, SparkSession}

import java.sql.Timestamp
import scala.collection.mutable

/** One backtester data request, the read side of the `ingest` workload:
  * the exec frame and context frames through `LakeProvider.loadTf` (each
  * served from the aggregates tree when materialized, else resampled from
  * M1), a backward as-of MTF join of the context closes, the indicator set,
  * and opening-range levels over the M1 window, all collected to the driver
  * where a backtester consumes them.
  */
object Backtester {
  final case class Request(sym: Int, from: Long, to: Long, execTf: String, ctxTfs: Seq[String])
  final case class Result(rows: Array[Row], levels: Array[Row])

  def run(spark: SparkSession, tr: Tracer, root: String, gen: CandleGen, q: Request): Result = {
    val sym = gen.symbols(q.sym)
    val (from, to) = (Some(new Timestamp(q.from * 60000L)), Some(new Timestamp(q.to * 60000L)))
    val provider = new LakeProvider(spark, root, source = "binance")
    val execFull = tr.frame("lake.read") { provider.loadTf(sym, q.execTf, from, to) }
    val exec = execFull.select("ts", "symbol", "open", "high", "low", "close", "volume")
    val ctx = q.ctxTfs.map(tf => tf -> tr.frame("lake.read") { provider.loadTf(sym, tf, from, to) }).toMap
    val joined = tr.frame("ops.asof") { AsofJoin.mtf(exec, ctx, closeOnly = true) }
    val enriched = tr.frame("ops.indicators") { Indicators.enrich(joined, Seq("symbol")) }
    val m1 = if (Timeframe(q.execTf) == Timeframe.M1) execFull
             else tr.frame("lake.read") { provider.loadM1(sym, from, to) }
    val levels = tr.frame("ops.orlevels") { OrLevels.build(m1, "UTC", "00:00-01:00", Seq("symbol")) }
    val res = Result(enriched.orderBy("ts").collect(), levels.collect())
    // OrLevels caches its base frame; a long-lived caller releases it
    // between unrelated requests, as the engine's caching notes ask
    spark.catalog.clearCache()
    res
  }

  /** Compare a result with folds over the reference M1 bars (`bar(m)` is
    * the bar the lake holds for minute m of the request's symbol).
    */
  def check(q: Request, res: Result, bar: Long => Bar): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val w = Timeframe(q.execTf).minutes.toLong
    val rows = res.rows
    val expectedRows = ((q.to - q.from) / w).toInt
    if (rows.length != expectedRows) errs += s"rows: ${rows.length}, expected $expectedRows"
    val ts = rows.map(_.getAs[Timestamp]("ts").getTime / 60000L)
    if (ts.indices.drop(1).exists(k => ts(k) <= ts(k - 1))) errs += "ts not strictly increasing"
    if (ts.headOption.exists(_ != q.from)) errs += "first exec bar is not the window start"
    // exec bars: OHLCV fold of the reference M1 bars
    val execBad = rows.indices.count { k =>
      val f = Fold.ohlcv((ts(k) until ts(k) + w).map(bar), w.toInt)((q.sym, ts(k)))
      val r = rows(k)
      r.getAs[Double]("open") != f.open || r.getAs[Double]("high") != f.high ||
        r.getAs[Double]("low") != f.low || r.getAs[Double]("close") != f.close ||
        r.getAs[Double]("volume") != f.volume
    }
    if (execBad > 0) errs += s"exec: $execBad bars differ from the fold"
    // backward as-of context closes: the close of the last M1 bar of the
    // context bucket that starts at or before the exec bar
    q.ctxTfs.foreach { tf =>
      val cw = Timeframe(tf).minutes.toLong
      val bad = rows.indices.count { k =>
        rows(k).getAs[Double](s"close_$tf") != bar(Math.floorDiv(ts(k), cw) * cw + cw - 1).close
      }
      if (bad > 0) errs += s"as-of $tf: $bad context closes differ"
    }
    // opening range (00:00-01:00 UTC) per session day
    val days = ((q.to - q.from) / 1440).toInt
    if (res.levels.length != days) errs += s"levels: ${res.levels.length} sessions, expected $days"
    val lvBad = res.levels.count { r =>
      val d = Workload.minuteOf(r.getAs[java.sql.Date]("session_date").toLocalDate)
      val or = (d until d + 60).map(bar)
      r.getAs[Double]("or_high") != or.map(_.high).max || r.getAs[Double]("or_low") != or.map(_.low).min
    }
    if (lvBad > 0) errs += s"levels: $lvBad opening ranges differ"
    errs.toSeq
  }
}
