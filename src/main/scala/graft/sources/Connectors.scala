package graft.sources

import graft.core.{CandleSchema, Timeframe}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp
import java.time.Instant

/** Logical symbol mapping (reference SURVEY §2.1 S9). */
object SymbolMap {

  /** Logical -> Binance spot symbol (reference:
    * src/datalake/utils/symbols/binance_map.py:8-24 — specials, `-USD` ->
    * `USDT`, dash stripped, pass-through otherwise).
    */
  def toBinanceSymbol(logical: String): String = {
    val s = Option(logical).getOrElse("").toUpperCase.trim
    val specials = Map("BTC-USD" -> "BTCUSDT", "ETH-USD" -> "ETHUSDT")
    specials.getOrElse(s,
      if (s.contains("-")) {
        val (base, quote0) = dashed(logical, s)
        val quote = if (quote0 == "USD") "USDT" else quote0
        base + quote
      } else s)
  }

  /** `s` (the normalized form of the argument `symbol`) split at its first
    * dash into a non-empty base and quote. */
  private def dashed(symbol: String, s: String): (String, String) = {
    val i = s.indexOf('-')
    require(i > 0 && i < s.length - 1, s"symbol must be BASE-QUOTE, got '$symbol'")
    (s.take(i), s.drop(i + 1))
  }

  /** 'BTC-USD' | 'BTC:USD' | 'BTCUSD' | 'BTCUSDT' -> (base, quote)
    * (reference: src/datalake/ingestors/ibkr/contracts.py:26-40
    * `split_symbol`).
    */
  def splitSymbol(symbol: String): (String, String) = {
    val s = symbol.replace(":", "-").replace("/", "-").toUpperCase
    if (s.contains("-")) dashed(symbol, s)
    else if (s.endsWith("USDT")) (s.dropRight(4), "USDT")
    else if (s.endsWith("USD")) (s.dropRight(3), "USD")
    else throw new IllegalArgumentException(s"cannot infer quote in symbol: $symbol")
  }

  /** IB crypto contract fields (secType CRYPTO, default exchange PAXOS —
    * reference contracts.py:43-57).
    */
  def cryptoContract(symbol: String, exchange: Option[String] = None): Map[String, String] = {
    val (base, quote) = splitSymbol(symbol)
    Map("secType" -> "CRYPTO", "symbol" -> base, "currency" -> quote,
      "exchange" -> exchange.getOrElse("PAXOS"))
  }
}

/** One fetched raw kline/bar row (epoch-ms open time + OHLCV), the unit all
  * connector fetchers produce.
  */
case class RawBar(openTimeMs: Long, open: Double, high: Double, low: Double,
                  close: Double, volume: Double)

private[sources] object RawBarFrame {
  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("open", DoubleType),
    StructField("high", DoubleType), StructField("low", DoubleType),
    StructField("close", DoubleType), StructField("volume", DoubleType)))

  /** The (ts, OHLCV) frame every connector normalizes from, each bar
    * stamped at its open time + `tsShiftMs`. Built over a parallelized RDD
    * (not a LocalRelation), which keeps the ingest plans as they are.
    */
  def apply(spark: SparkSession, bars: Seq[RawBar], tsShiftMs: Long = 0L): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(bars.map(b =>
      Row(new Timestamp(b.openTimeMs + tsShiftMs), b.open, b.high, b.low, b.close, b.volume))),
      schema)
}

/** Binance klines connector (reference SURVEY §2.1 S6:
  * src/datalake/providers/binance/client.py:52-134 — paginated
  * /api/v3/klines, 1000 bars/request, <=10 requests per window, epoch-ms ->
  * UTC ts, numeric cast, clip to the requested range).
  *
  * This environment has zero egress, so the HTTP GET is injected
  * (`fetchPage`); everything around it — pagination planning, the 1000-bar
  * and 10-request budgets, normalization to the canonical candle schema,
  * range clipping — is the real logic, unit-tested against a fake fetcher.
  * At scale the per-(symbol, window) fetch plan becomes the input-partition
  * list of a DataSourceV2; driver-side fetch + createDataFrame is the
  * single-node form.
  */
object BinanceSource {
  /** 429 retry wrapper for the injected page fetch (reference
    * providers/binance/client.py:35-50): on an HTTP-429-shaped failure
    * retry up to [[Pacing.binanceMaxRetries]] times, sleeping the published
    * min(2^attempt, 10)-second backoff between attempts; any other failure,
    * or a 429 past the retry budget, propagates. The sleeper is injected so
    * the schedule is testable without wall-clock time; compose as
    * `new BinanceSource(BinanceSource.withRetry429(transport))`.
    */
  // Rate-limit-SHAPED messages only — a 429 must appear as a standalone
  // token (start/whitespace/colon/bracket-delimited), or with explicit
  // HTTP/status context, or alongside the "Too Many Requests" phrase.
  // Matches the shapes real transports produce — "HTTP 429 Too Many
  // Requests", java.net's "Server returned HTTP response code: 429 for
  // URL: …", "Too Many Requests (429)", a leading "429:" status, and
  // key=value shapes like "status_code=429" or "code=429" ('=' is in the
  // leading delimiter class) — but NOT a path (/shard_429.parquet: '_'
  // before), an id, or a count (14290: digits adjacent) merely embedding
  // the number. Compiled once, not per page fetch. False-positive cost is
  // 5 bounded backoff sleeps; a false NEGATIVE kills an ingest that one
  // retry would have saved, so ties break toward matching.
  private val rateLimited =
    "(?i)too many requests|http[ /]429|status(=| )429|(^|[\\s:=(\\[])429([\\s:)\\],]|$)".r

  def withRetry429(fetchPage: (String, String, Long, Long, Int) => Seq[RawBar],
                   sleeper: Long => Unit = ms => Thread.sleep(ms)):
      (String, String, Long, Long, Int) => Seq[RawBar] =
    (sym, iv, startMs, endMs, limit) => {
      def is429(e: Exception): Boolean =
        Option(e.getMessage).exists(m => rateLimited.findFirstIn(m).isDefined)
      var attempt = 0
      var out: Option[Seq[RawBar]] = None
      while (out.isEmpty) {
        try out = Some(fetchPage(sym, iv, startMs, endMs, limit))
        catch {
          case e: Exception
            if is429(e) &&
               attempt < Pacing.binanceMaxRetries =>
            sleeper(Pacing.binance429BackoffSeconds(attempt) * 1000L)
            attempt += 1
        }
      }
      out.get
    }
}

class BinanceSource(fetchPage: (String, String, Long, Long, Int) => Seq[RawBar]) {

  val barsPerRequest = 1000
  val maxRequestsPerWindow = 10

  /** Interval string for the API (reference client.py:15-20). */
  def interval(tf: Timeframe): String = tf match {
    case Timeframe.M1 => "1m"
    case Timeframe.M5 => "5m"
    case Timeframe.M15 => "15m"
    case Timeframe.M30 => "30m"
    case Timeframe.H1 => "1h"
    case Timeframe.D1 => "1d"
  }

  /** Fetch one symbol/timeframe/range into canonical candles. */
  def fetch(spark: SparkSession, logicalSymbol: String, tf: Timeframe,
            startUtc: Instant, endUtc: Instant, exchange: String = "BINANCE"): DataFrame = {
    val apiSymbol = SymbolMap.toBinanceSymbol(logicalSymbol)
    val stepMs = tf.seconds * 1000L
    val startMs = startUtc.toEpochMilli
    val endMs = endUtc.toEpochMilli

    // pagination loop with the reference's budgets (client.py:77-121)
    val pages = Iterator.iterate((startMs, 0, Seq.empty[RawBar])) { case (cursor, req, acc) =>
      val page = fetchPage(apiSymbol, interval(tf), cursor, endMs, barsPerRequest)
      val next = if (page.isEmpty) endMs else page.map(_.openTimeMs).max + stepMs
      (next, req + 1, acc ++ page)
    }.dropWhile { case (cursor, req, _) => cursor < endMs && req < maxRequestsPerWindow }
      .next()._3

    // DELIBERATE divergence from the reference's inclusive clip
    // (client.py:133 keeps ts <= end): we clip half-open [start, end) to
    // normalize every source to the engine's global [from, to) read
    // contract (api.py:13-19) — the bar AT endUtc belongs to the next
    // window, so adjacent fetch windows never double-ingest it.
    val df = RawBarFrame(spark,
      pages.filter(b => b.openTimeMs >= startMs && b.openTimeMs < endMs))
    CandleSchema.enforce(df
      .withColumn("symbol", lit(logicalSymbol))
      .withColumn("timeframe", lit(tf.code))
      .withColumn("source", lit("binance"))
      .withColumn("exchange", lit(exchange)))
  }
}

/** IBKR historical connector (reference SURVEY §2.1 S7:
  * src/datalake/ingestors/ibkr/downloader.py + ingest_cli.py — TWS
  * reqHistoricalData in 3 x 8h day chunks, bar-start -> bar-end +1min shift,
  * AGGTRADES what_to_show). Socket I/O is injected; chunk planning and
  * normalization are real.
  */
/** External-API pacing/retry budgets published by the reference (BASELINE.md)
  * — pure schedule functions so connector retry behavior is testable without
  * I/O.
  */
object Pacing {
  /** Binance 429 backoff: min(2^attempt, 10) seconds, <= 5 retries
    * (reference: providers/binance/client.py:35-50).
    */
  def binance429BackoffSeconds(attempt: Int): Int = math.min(1 << attempt, 10)
  val binanceMaxRetries = 5
  /** Binance weight budget: 5000/min, 2 weight per klines request, 0.2 s
    * pacing (reference: tools/fill_binance_month.py:59,63,100).
    */
  val binanceWeightPerMinute = 5000
  val binanceWeightPerRequest = 2
  val binancePacingMillis = 200L
  /** IBKR: <=0.7 req/s client throttle; fetch retry backoffs 2/5/10 s;
    * repair window fallbacks 3600/1800/600/300 s (reference:
    * ib_client.py:14, ingest_cli.py:384,338).
    */
  val ibkrMaxRequestsPerSecond = 0.7
  val ibkrFetchBackoffsSeconds: Seq[Int] = Seq(2, 5, 10)
  val ibkrRepairWindowsSeconds: Seq[Int] = Seq(3600, 1800, 600, 300)
  /** Orchestrator-level requests/day per timeframe for /api/v3/klines
    * limit=1000 (reference: tools/fill_binance_month.py:49-55 TF_REQS_PER_DAY).
    */
  val binanceReqsPerDay: Map[String, Int] = Map("M1" -> 2, "M5" -> 1, "M15" -> 1, "M30" -> 1)
}

/** Sliding-minute weight budget for the Binance fill orchestrator
  * (reference: tools/fill_binance_month.py:58-84 `Budget.maybe_wait`): the
  * window resets every 60 s; if the planned weight would exceed the
  * per-minute budget, sleep to the next window; then pace each planned
  * request with a small sleep while charging its weight. Clock and sleeper
  * are injected so the schedule is unit-testable without wall-clock time.
  */
final class WeightBudget(
    val maxWeightPerMinute: Int = Pacing.binanceWeightPerMinute,
    clock: () => Long = () => System.currentTimeMillis(),
    sleeper: Long => Unit = ms => Thread.sleep(ms)) {

  private var windowStartMs: Long = clock()
  private var usedWeight: Int = 0

  def used: Int = usedWeight

  /** DELIBERATE divergence from the reference: the budget check runs per
    * planned request, not once per batch — the reference's single upfront
    * check lets a batch larger than the whole budget overrun the window
    * after one sleep (fill_binance_month.py:71-77 resets and then issues
    * every planned request unchecked).
    */
  def maybeWait(plannedReqs: Int,
                weightPerReq: Int = Pacing.binanceWeightPerRequest,
                sleepPerCallMs: Long = Pacing.binancePacingMillis): Unit = {
    (0 until plannedReqs).foreach { _ =>
      val now = clock()
      if (now - windowStartMs >= 60000L) { windowStartMs = now; usedWeight = 0 }
      if (usedWeight + weightPerReq > maxWeightPerMinute) {
        val waitMs = 60000L - (now - windowStartMs)
        if (waitMs > 0) sleeper(waitMs)
        windowStartMs = clock()
        usedWeight = 0
      }
      sleeper(math.max(0L, sleepPerCallMs))
      usedWeight += weightPerReq
    }
  }
}

object IbkrSource {
  /** The 10299 downgrade retry (reference: downloader.py:15-54
    * `_req_historical_with_retry`): when IB rejects the requested
    * what_to_show with error 10299 demanding AGGTRADES, retry ONCE with
    * what_to_show=AGGTRADES; anything else (including 10299 while already
    * on AGGTRADES) propagates. `req` is the injected reqHistoricalData call
    * taking the what_to_show string; returns (bars, what_to_show actually
    * used) so the caller can stamp the column faithfully.
    */
  def withAggTradesDowngrade(req: String => Seq[RawBar],
                             whatToShow: String = "TRADES"): (Seq[RawBar], String) =
    try (req(whatToShow), whatToShow)
    catch {
      case e: Exception
        if Option(e.getMessage).exists(m =>
             m.contains("10299") && m.toUpperCase.contains("AGGTRADES")) &&
           whatToShow.toUpperCase != "AGGTRADES" =>
        (req("AGGTRADES"), "AGGTRADES")
    }
}

class IbkrSource(fetchWindow: (String, Instant, Instant) => Seq[RawBar]) {

  val chunkHours = 8 // reference ingest_cli.py:17 CHUNK_HOURS

  /** Shrinking repair-window plan for a gap range (reference:
    * _repair_range_with_fallback, ingest_cli.py:338): try the largest window
    * that covers the gap, falling back through the schedule.
    */
  def repairPlan(gapStart: Instant, gapEnd: Instant): Seq[(Instant, Instant)] = {
    val gapSeconds = java.time.Duration.between(gapStart, gapEnd).getSeconds
    val window = Pacing.ibkrRepairWindowsSeconds.findLast(_ >= gapSeconds)
      .getOrElse(Pacing.ibkrRepairWindowsSeconds.head)
    Iterator.iterate(gapStart)(_.plusSeconds(window))
      .takeWhile(_.isBefore(gapEnd))
      .map(s => (s, Seq(s.plusSeconds(window), gapEnd).min))
      .toSeq
  }

  /** 3 x 8h chunk plan for a UTC day (reference ingest_cli.py:184-193). */
  def dayChunks(day: java.time.LocalDate): Seq[(Instant, Instant)] = {
    val start = day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    (0 until 24 / chunkHours).map { i =>
      (start.plusSeconds(i.toLong * chunkHours * 3600),
        start.plusSeconds((i + 1).toLong * chunkHours * 3600))
    }
  }

  /** Fetch one UTC day of M1 bars, normalized to bar-END stamps. */
  def fetchDay(spark: SparkSession, symbol: String, day: java.time.LocalDate,
               exchange: String = "PAXOS"): DataFrame = {
    val bars = dayChunks(day).flatMap { case (from, to) => fetchWindow(symbol, from, to) }
    // bar_end shift (normalize.py:11)
    val df = RawBarFrame(spark, bars, tsShiftMs = 60000L)
    CandleSchema.enforce(df
      .withColumn("symbol", lit(symbol))
      .withColumn("timeframe", lit("M1"))
      .withColumn("source", lit("ibkr"))
      .withColumn("exchange", lit(exchange))
      .withColumn("what_to_show", lit("AGGTRADES"))
      .withColumn("vendor", lit("ibkr")))
  }
}
