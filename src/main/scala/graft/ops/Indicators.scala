package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Technical indicators over candle tables — the feature layer a
  * backtesting user of the reference lake computes on every series
  * (reference scope ends at OHLCV + OR levels; indicators are the standard
  * next step: SMA / truncated EMA / Bollinger bands / RSI / per-day VWAP).
  *
  * Scale shape: every indicator is a window function PARTITIONED BY the
  * series keys (symbol) and ordered by ts with a bounded row frame — the
  * canonical distributed time-series shape (state per partition is the
  * frame, shuffle is one exchange on the series key). Nothing here uses an
  * unpartitioned window or per-group collection.
  *
  * Determinism contract (DuckDB-oracle parity, the repo-wide rules):
  *  - frame sums of doubles go through round-4 DECIMAL terms, so they are
  *    independent of evaluation order;
  *  - derived doubles (variance, RS, EMA) are computed by the SAME
  *    expression tree both engines evaluate left-to-right in IEEE order;
  *  - EMA weights are driver-computed doubles injected as literals via
  *    Double.toString (shortest round-trip repr — parses back to the same
  *    bit pattern in any engine);
  *  - every exported value is rounded (4-6 dp) at the end.
  */
object Indicators {

  private def dec(c: Column): Column =
    round(c, 4).cast(DecimalType(28, 4))

  /** Round-4 term as a 1e4-scaled long: the exact integer 10^4·round(c,4).
    * round(c,4) is the double nearest the half-up 4-dp value v; ·10^4 then
    * round(·,0) recovers v·10^4 exactly (error ≪ 0.5), and the long cast is
    * exact below 2^53. Long frame-sums are then EXACT and order-independent
    * — same contract as the decimal path — but accumulate as primitive
    * adds instead of per-row BigDecimal ops (the dominant cost of the
    * indicator windows at bench scale).
    */
  private def l4(c: Column): Column =
    round(round(c, 4) * 10000.0, 0).cast("long")

  /** Frame-sum of a rounded double term, exact and order-independent.
    * Scaled-long sum → double → /10^4: both divisor and dividend are exact
    * doubles (|sum·10^4| < 2^53 for every bounded frame here), so the one
    * division is correctly rounded — bit-identical to the decimal-sum
    * `::DOUBLE` the oracle computes. Bounded frames only: an UNBOUNDED
    * running sum (obv) keeps the DecimalType path, whose range outlives
    * 2^53/10^4 at full scale.
    */
  private def fsum(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(l4(c)).over(w).cast("double") / 10000.0

  /** Simple moving average of `c` over the trailing `n` rows (shorter at
    * the head of the series — standard expanding warmup). NULL handling is
    * pinned to SQL AVG semantics (r15): the mean divides the null-skipping
    * frame sum by the count of NON-NULL `c` rows, so a frame of k rows
    * with j nulls averages the k-j real values (an all-null frame yields
    * NULL). Candle closes are non-null in practice, but the contract is
    * now explicit and oracle-mirrored rather than accidental.
    */
  def smaCols(keys: Seq[String], orderCol: String, c: Column, n: Int): Column = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(-(n - 1), 0)
    round(fsum(c, w) / count(c).over(w), 6)
  }

  /** Truncated exponential moving average: the N-term EMA expansion
    * EMA_t = Σ_{k<N} w_k·p_{t-k} / Σ_{k<N, lag k exists} w_k with
    * w_k = α·(1-α)^k, α = 2/(n+1). Truncation makes the recursion a pure
    * lag-chain expression — distributable, and exactly reproducible in any
    * engine (the untruncated recursion would need sequential state).
    */
  def emaCols(keys: Seq[String], orderCol: String, c: Column, n: Int): Column = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val alpha = 2.0 / (n + 1)
    val b = 1.0 - alpha
    val weights = Iterator.iterate(alpha)(_ * b).take(n).toSeq
    val lags = (0 until n).map(k => lag(c, k).over(w))
    val num = weights.zip(lags).map { case (wt, l) =>
      when(l.isNotNull, l * lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    val den = weights.zip(lags).map { case (wt, l) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    round(num / den, 6)
  }

  /** Bollinger bands over the trailing `n` rows: (mid, upper, lower) at
    * two standard deviations (sample variance; std treated as 0 when
    * cnt <= 1 or variance <= 0, so the first row yields zero-width bands
    * equal to mid — never null). Like [[smaCols]], NULL handling is pinned
    * to SQL AVG/VAR semantics (r15): cnt counts NON-NULL `c` rows, so
    * mean and sample variance range over the real values only (an
    * all-null frame yields NULL bands).
    */
  def bollingerCols(keys: Seq[String], orderCol: String, c: Column,
                    n: Int): (Column, Column, Column) = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(-(n - 1), 0)
    val cnt = count(c).over(w)
    val s1 = fsum(c, w)
    val s2 = fsum(c * c, w) // square in double, round-4, decimal-sum
    val mid = s1 / cnt
    val variance = (s2 - s1 * s1 / cnt) / (cnt - 1)
    val std = when(cnt > 1 && variance > 0.0, sqrt(variance)).otherwise(lit(0.0))
    (round(mid, 6), round(mid + lit(2.0) * std, 6), round(mid - lit(2.0) * std, 6))
  }

  /** RSI over the trailing `n` diffs (SMA flavor). 100 when there are no
    * losses in the frame (both engines take the same CASE branch — no
    * division-by-zero semantics in play), null on the first row.
    */
  def rsiCols(keys: Seq[String], orderCol: String, c: Column, n: Int): Column = {
    val wl = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val wf = wl.rowsBetween(-(n - 1), 0)
    val diff = c - lag(c, 1).over(wl)
    val gain = when(diff > 0.0, diff).otherwise(lit(0.0))
    val loss = when(diff < 0.0, -diff).otherwise(lit(0.0))
    // scaled-long (l4) frame-sums of the rounded gains/losses (bounded
    // n-row frames, so fsum's 2^53 contract holds); the null first-diff
    // is excluded via the when(isNotNull) guard
    val g = sum(when(diff.isNotNull, l4(gain))).over(wf).cast("double") / 10000.0
    val l = sum(when(diff.isNotNull, l4(loss))).over(wf).cast("double") / 10000.0
    when(diff.isNull, lit(null).cast("double"))
      .when(l === 0.0, lit(100.0))
      .otherwise(round(lit(100.0) - lit(100.0) / (lit(1.0) + g / l), 4))
  }

  /** Per-(keys, UTC day) volume-weighted average price over the candle
    * close. Window over the day partition — no separate join.
    */
  def vwapDayCols(keys: Seq[String], tsCol: String, price: Column,
                  volume: Column): Column = {
    val day = expr(s"CAST(`$tsCol` AS LONG) DIV 86400")
    val w = Window.partitionBy((keys.map(col) :+ day): _*)
    // DECIMAL sums, not fsum (r14): a whole-day partition is an UNBOUNDED
    // frame — fsum's scaled-long contract (|sum·10⁴| < 2^53) holds for the
    // bounded n-row indicator frames but not for a day of high-notional
    // price·volume terms, where the long sum would lose exactness and
    // eventually wrap silently. Value-identical in the non-overflow
    // regime: both paths produce the exact rational n/10⁴ as its nearest
    // double before the one division (the obv convention).
    round((sum(dec(price * volume)).over(w).cast("double")) /
      (sum(dec(volume)).over(w).cast("double")), 6)
  }

  /** Average True Range (SMA flavor) over the trailing `n` bars:
    * TR = max(high-low, |high-prevClose|, |low-prevClose|); first bar's TR
    * is its own range (no previous close).
    */
  def atrCols(keys: Seq[String], orderCol: String, high: Column, low: Column,
              close: Column, n: Int): Column = {
    val wl = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val wf = wl.rowsBetween(-(n - 1), 0)
    val pc = lag(close, 1).over(wl)
    val tr = when(pc.isNull, high - low)
      .otherwise(greatest(high - low, abs(high - pc), abs(low - pc)))
    round(sum(l4(tr)).over(wf).cast("double") / 10000.0 / count(lit(1)).over(wf), 6)
  }

  /** Stochastic %K over the trailing `n` bars:
    * 100·(close − lowestLow)/(highestHigh − lowestLow); 50 on a flat
    * window (both engines take the same CASE branch). min/max need no
    * decimal round-trip — they are order-independent already.
    */
  def stochKCols(keys: Seq[String], orderCol: String, high: Column,
                 low: Column, close: Column, n: Int): Column = {
    val wf = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(-(n - 1), 0)
    val hh = max(high).over(wf)
    val ll = min(low).over(wf)
    when(hh === ll, lit(50.0))
      .otherwise(round((close - ll) / (hh - ll) * 100.0, 4))
  }

  /** Cumulative series metrics: on-balance volume (running signed-volume
    * sum), running close high, and drawdown from that high — the equity-
    * curve risk metrics every backtest report carries. Unbounded-preceding
    * frames PARTITIONED BY the series keys (running state per symbol, no
    * global window); OBV terms ride the decimal round-trip, the running
    * max is order-independent as-is.
    */
  def cumulative(candles: DataFrame, keys: Seq[String]): DataFrame = {
    val (c, v) = (col("close"), col("volume"))
    val wl = Window.partitionBy(keys.map(col): _*).orderBy(col("ts"))
    val wu = wl.rowsBetween(Window.unboundedPreceding, 0)
    val diff = c - lag(c, 1).over(wl)
    val signedVol = when(diff.isNull, lit(0.0))
      .when(diff > 0.0, v).when(diff < 0.0, -v).otherwise(lit(0.0))
    val runMax = max(c).over(wu)
    candles
      .withColumn("obv", round(sum(dec(signedVol)).over(wu).cast("double"), 4))
      .withColumn("run_max", runMax)
      .withColumn("drawdown", round(c / runMax - 1.0, 6))
  }

  /** Time-weighted average value per (keys, UTC day) by trapezoidal
    * integration over IRREGULARLY-spaced observations — the TWAP/TWA
    * primitive behind execution benchmarks and "average state over time"
    * metrics, where a plain AVG over-weights bursts of dense ticks.
    *
    * twa = Σ (t_i − t_{i−1}) · (v_i + v_{i−1})/2 over consecutive
    * observations within the day, divided by the observed span
    * (t_last − t_first); NULL when the day has one observation or zero
    * span. Ordering is second-grain with `event_id` as a stable tiebreaker
    * (same convention as EventOps.transitions): same-second neighbors
    * contribute zero width, but WHICH value pairs with the next real
    * interval depends on order, so the tiebreak is part of the contract.
    *
    * Scale: one window partitioned by (keys, day) — keyed, parallelizes
    * by series and day — then a map-side-combined per-day aggregate;
    * trapezoid terms ride the round-4 decimal path so the integral is
    * summation-order-independent, and the closing division is one IEEE
    * op: the metric is oracle-portable bit-for-bit.
    *
    * Output: keys ++ (day, n, span_sec, twa).
    */
  def twa(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy((keys :+ "_day").map(col): _*)
      .orderBy(col("_tsec"), col("event_id"))
    val v = col("value")
    val pv = lag(v, 1).over(w)
    val dt = col("_tsec") - lag(col("_tsec"), 1).over(w)
    val term = when(dt.isNull, lit(null).cast("double"))
      .otherwise(dt.cast("double") * (v + pv) / 2.0)
    df.withColumn("_tsec", col("ts").cast("long"))
      .withColumn("_day", expr("_tsec DIV 86400"))
      .withColumn("_term", term)
      .groupBy((keys :+ "_day").map(col): _*)
      .agg(count(lit(1)).as("n"),
        (max(col("_tsec")) - min(col("_tsec"))).as("span_sec"),
        sum(dec(col("_term"))).cast("double").as("_area"))
      .withColumn("twa",
        when(col("span_sec") > 0L,
          round(col("_area") / col("span_sec").cast("double"), 4)))
      .withColumnRenamed("_day", "day")
      .drop("_area")
  }

  /** MACD with signal line — the canonical TWO-LAYER window composition:
    * macd = EMA(12) − EMA(26) of close (layer 1), signal = EMA(9) of the
    * macd COLUMN (layer 2 — a window over a window-derived column),
    * histogram = macd − signal. Truncated EMAs throughout, so both layers
    * stay pure lag-chain expressions and the whole thing remains exactly
    * reproducible in any engine.
    */
  def withMacd(candles: DataFrame, keys: Seq[String]): DataFrame = {
    val c = col("close")
    val macd = round(
      emaCols(keys, "ts", c, 12) - emaCols(keys, "ts", c, 26), 6)
    candles
      .withColumn("macd", macd)
      .withColumn("macd_signal", emaCols(keys, "ts", col("macd"), 9))
      .withColumn("macd_hist", round(col("macd") - col("macd_signal"), 6))
  }

  /** Rolling Pearson correlation of every symbol PAIR's aligned closes
    * over the trailing `n` bars — the cross-asset signal behind pairs
    * trading and portfolio-diversification checks.
    *
    * Alignment is an equi-join on the bar timestamp (only bars BOTH
    * symbols printed); the correlation windows partition by the pair key,
    * so thousands of pairs parallelize — never a global window. All five
    * frame sums go through the decimal round-trip; the Pearson formula is
    * one shared expression tree, null where the frame has < 2 bars or
    * either side is degenerate (zero variance).
    *
    * Output: (pair, ts_sec BIGINT, corr). The pair join is all-pairs in
    * the number of SYMBOLS (not rows) — s² pairs of aligned series; cap
    * the symbol universe upstream, as any pairs-trading screen does.
    */
  def rollingPairCorr(candles: DataFrame, symbolCol: String, n: Int): DataFrame = {
    val a = candles.select(col(symbolCol).as("sym_a"),
      col("ts").cast("long").as("ts_sec"), col("close").as("x"))
    val b = candles.select(col(symbolCol).as("sym_b"),
      col("ts").cast("long").as("ts_sec"), col("close").as("y"))
    val joined = a.join(b, "ts_sec").where(col("sym_a") < col("sym_b"))
      .withColumn("pair", concat(col("sym_a"), lit("-"), col("sym_b")))
    // partition by the TWO symbol columns, not the concat key (r14): a
    // "-" inside a symbol makes distinct pairs collide on the string
    // ("X-Y","Z" vs "X","Y-Z" → "X-Y-Z") and their series interleave in
    // one window frame; the string stays as the OUTPUT label only
    val w = Window.partitionBy(col("sym_a"), col("sym_b")).orderBy(col("ts_sec"))
      .rowsBetween(-(n - 1), 0)
    def s(c: Column): Column = sum(l4(c)).over(w).cast("double") / 10000.0
    val (x, y) = (col("x"), col("y"))
    val cnt = count(lit(1)).over(w)
    val (sx, sy, sxy, sx2, sy2) = (s(x), s(y), s(x * y), s(x * x), s(y * y))
    val d1 = cnt * sx2 - sx * sx
    val d2 = cnt * sy2 - sy * sy
    val corr = when(cnt > 1 && d1 > 0.0 && d2 > 0.0,
      round((cnt * sxy - sx * sy) / (sqrt(d1) * sqrt(d2)), 4))
      .otherwise(lit(null).cast("double"))
    joined.select(col("pair"), col("ts_sec"), corr.as("corr"))
  }

  /** Convenience: enrich a candle table (keys + ts/open/high/low/close/
    * volume) with the standard indicator set: SMA(10), EMA(10),
    * Bollinger(20), RSI(14), ATR(14), stochastic %K(14), day VWAP.
    */
  def enrich(candles: DataFrame, keys: Seq[String]): DataFrame = {
    val c = col("close")
    val (mid, up, lo) = bollingerCols(keys, "ts", c, 20)
    candles
      .withColumn("sma", smaCols(keys, "ts", c, 10))
      .withColumn("ema", emaCols(keys, "ts", c, 10))
      .withColumn("bb_mid", mid)
      .withColumn("bb_up", up)
      .withColumn("bb_lo", lo)
      .withColumn("rsi", rsiCols(keys, "ts", c, 14))
      .withColumn("atr", atrCols(keys, "ts", col("high"), col("low"), c, 14))
      .withColumn("stoch_k", stochKCols(keys, "ts", col("high"), col("low"), c, 14))
      .withColumn("vwap_day", vwapDayCols(keys, "ts", c, col("volume")))
  }
}
