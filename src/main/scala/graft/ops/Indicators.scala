package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, Metadata, StructField,
  StructType, TimestampType}

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Technical indicators over candle tables — the feature layer a
  * backtesting user of the reference lake computes on every series
  * (reference scope ends at OHLCV + OR levels; indicators are the standard
  * next step: SMA / truncated EMA / Bollinger bands / RSI / per-day VWAP).
  *
  * Scale shape: every indicator is a window function PARTITIONED BY the
  * series keys (symbol) and ordered by ts with a bounded row frame — the
  * canonical distributed time-series shape (state per partition is the
  * frame, shuffle is one exchange on the series key). Nothing here uses an
  * unpartitioned window or per-group collection. A day or a month of bars
  * is far below that scale: [[enrich]] folds on the driver behind
  * [[LocalFold]]'s gate and keeps the window plan as [[enrichDistributed]].
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
    val weights = emaWeights(n)
    val lags = (0 until n).map(k => lag(c, k).over(w))
    val num = weights.zip(lags).map { case (wt, l) =>
      when(l.isNotNull, l * lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    val den = weights.zip(lags).map { case (wt, l) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    round(num / den, 6)
  }

  /** The truncated EMA's weights w_k = α·(1-α)^k, k < n, α = 2/(n+1). */
  private def emaWeights(n: Int): Seq[Double] = {
    val alpha = 2.0 / (n + 1)
    val b = 1.0 - alpha
    Iterator.iterate(alpha)(_ * b).take(n).toSeq
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
    *
    * On the driver when the gate admits `candles` (see [[enrichLocal]]),
    * else [[enrichDistributed]]; both return one schema and one row set.
    */
  def enrich(candles: DataFrame, keys: Seq[String]): DataFrame =
    enrichLocal(candles, keys).getOrElse(enrichDistributed(candles, keys))

  private[graft] def enrichDistributed(candles: DataFrame, keys: Seq[String]): DataFrame = {
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

  /** The columns [[enrichDistributed]] appends, in order. */
  private val Appended = Seq("sma", "ema", "bb_mid", "bb_up", "bb_lo", "rsi", "atr", "stoch_k", "vwap_day")

  /** Rows above which [[enrich]] runs distributed (the pagerank and
    * madOutliers cap). */
  private val MaxLocalRows = 100000

  /** The largest |10^4 · round(x, 4)| the fold takes as an [[l4]] term:
    * 2^58, so the cast to long is exact and no frame sum (at most 20 terms)
    * reaches 2^63, where ANSI mode would raise. */
  private val MaxTerm = math.pow(2, 58)

  /** The largest |round(x, 4)| the fold takes as a [[dec]] VWAP term, far
    * below DECIMAL(28, 4)'s 10^24, so neither the cast nor a day's sum
    * (DECIMAL(38, 4), at most `MaxLocalRows` terms) overflows. */
  private val MaxDecimalTerm = 1e20

  private val Name = "[A-Za-z_][A-Za-z0-9_]*".r

  /** [[enrichDistributed]] as a driver fold, or None when the gate refuses.
    * `candles` is probed with every column in place and ts as
    * `unix_micros(ts)` through [[LocalFold.rows]], capped at
    * `MaxLocalRows`. It refuses keys that are not [[LocalFold.exactKeys]], a
    * ts that is not a TIMESTAMP, high/low/close/volume that are not DOUBLE,
    * null fields, non-finite prices or volumes, a duplicate (keys, ts) (the
    * windows' tie order is not defined), terms past `MaxTerm` or
    * `MaxDecimalTerm` (bounds below the magnitudes at which ANSI mode
    * raises), and a day whose volume sums to 0 (a division by zero); the
    * distributed path then raises where Catalyst does. So that the probe
    * and the result can name every column, it also refuses column names
    * that are not plain identifiers, that repeat or that [[enrich]] appends
    * (case-insensitively), and fields with metadata.
    */
  private def enrichLocal(candles: DataFrame, keys: Seq[String]): Option[DataFrame] = {
    val s = candles.schema
    val lower = s.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
    val plain = lower.distinct.length == lower.length && !lower.exists(Appended.contains) &&
      s.forall(f => f.metadata == Metadata.empty && Name.matches(f.name)) &&
      LocalFold.columnsAre(candles, keys,
        ("ts" -> TimestampType) +: Seq("high", "low", "close", "volume").map(_ -> DoubleType))
    if (!plain) return None
    val at = s.fieldNames.zipWithIndex.toMap
    val probe = candles.select(s.fieldNames.toSeq.map(n =>
      if (n == "ts") unix_micros(col(n)).as(n) else col(n)): _*)
    val prices = Seq("high", "low", "close", "volume").map(at)
    LocalFold.rows(probe, MaxLocalRows, r => prices.forall(i => java.lang.Double.isFinite(r.getDouble(i))))
      .flatMap { rows =>
        val ki = keys.map(at)
        val series = rows.groupBy(r => ki.map(r.get)).values.toSeq
          .map(rs => seriesLocal(rs.sortBy(_.getLong(at("ts"))), at))
        if (series.forall(_.isDefined)) Some(series.flatMap(_.get)) else None
      }
      .map { out =>
        val schema = StructType(s.map(f => if (f.name == "ts") f.copy(dataType = LongType) else f) ++
          Appended.map(StructField(_, DoubleType)))
        LocalFold.frame(candles.sparkSession, out, schema, s.map(_.dataType) ++ Appended.map(_ => DoubleType))
      }
  }

  /** Catalyst's `round(x, scale)` on a double: HALF_UP over the double's
    * shortest decimal form; NaN and ±Infinity pass through. */
  private def roundHalfUp(x: Double, scale: Int): Double =
    if (!java.lang.Double.isFinite(x)) x
    else JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue

  /** [[l4]] before its long cast. */
  private def l4Local(x: Double): Double = roundHalfUp(roundHalfUp(x, 4) * 10000.0, 0)

  /** [[dec]]: the DECIMAL(28, 4) Catalyst casts round(x, 4) to. */
  private def decLocal(x: Double): JBigDecimal =
    new JBigDecimal(java.lang.Double.toString(roundHalfUp(x, 4))).setScale(4, RoundingMode.HALF_UP)

  /** [[enrichDistributed]]'s columns over one series, its probe rows in ts
    * order (`at` gives each column's place), each row coming back with the
    * appended columns; None on a refusal named at [[enrichLocal]]. Every
    * step is the window plan's, in its order: frame sums of scaled longs,
    * the same IEEE operations on doubles, Catalyst's round and decimal casts.
    */
  private def seriesLocal(rows: Array[Row], at: Map[String, Int]): Option[Seq[Row]] = {
    val n = rows.length
    val ts = rows.map(_.getLong(at("ts")))
    def doubles(name: String) = rows.map(_.getDouble(at(name)))
    val (h, l, c, v) = (doubles("high"), doubles("low"), doubles("close"), doubles("volume"))
    // Catalyst's greatest and max keep the first of equal values
    def greatest(xs: Seq[Double]) = xs.reduce((m, x) => if (x > m) x else m)
    // the first row has no diff (its gain and loss terms are null, which a
    // zero term sums like) and a true range of high - low
    val diff = Array.tabulate(n)(i => if (i == 0) 0.0 else c(i) - c(i - 1))
    val tr = Array.tabulate(n)(i =>
      if (i == 0) h(i) - l(i)
      else greatest(Seq(h(i) - l(i), Math.abs(h(i) - c(i - 1)), Math.abs(l(i) - c(i - 1)))))
    // l4 terms before the long cast, each exact in a double under MaxTerm
    val lc = c.map(l4Local)
    val lcc = c.map(x => l4Local(x * x))
    val lgain = diff.map(x => l4Local(if (x > 0.0) x else 0.0))
    val lloss = diff.map(x => l4Local(if (x < 0.0) -x else 0.0))
    val ltr = tr.map(l4Local)
    val pv = Array.tabulate(n)(i => c(i) * v(i))
    val tooLarge = Seq(lc, lcc, lgain, lloss, ltr).exists(_.exists(q => !(Math.abs(q) <= MaxTerm))) ||
      (pv ++ v).exists(x => !(Math.abs(roundHalfUp(x, 4)) <= MaxDecimalTerm))
    if (tooLarge || (1 until n).exists(i => ts(i) == ts(i - 1))) return None
    val day = ts.map(t => Math.floorDiv(t, 1000000L) / 86400L) // CAST(ts AS LONG) DIV 86400
    def decSum(xs: Array[Double], is: Seq[Int]) = is.map(i => decLocal(xs(i))).reduce(_ add _)
    val vwap = day.indices.groupBy(i => day(i)).map { case (d, is) => d -> (decSum(pv, is), decSum(v, is)) }
    if (vwap.values.exists(_._2.signum == 0)) return None

    /** The frame sum of the `w` terms up to row i, as fsum's double. */
    def fsum(a: Array[Double], i: Int, w: Int): Double =
      (math.max(0, i - w + 1) to i).map(a(_).toLong).sum.toDouble / 10000.0
    val weights = emaWeights(10)
    Some(rows.indices.map { i =>
      val sma = roundHalfUp(fsum(lc, i, 10) / math.min(i + 1, 10), 6)
      // the lag chain, summed left to right; a missing lag adds 0.0
      val lags = weights.indices.map(k => if (i >= k) Some(c(i - k)) else None)
      val num = weights.zip(lags).map { case (w, p) => p.fold(0.0)(_ * w) }.reduce(_ + _)
      val den = weights.zip(lags).map { case (w, p) => p.fold(0.0)(_ => w) }.reduce(_ + _)
      val cnt = math.min(i + 1, 20).toLong
      val (s1, s2) = (fsum(lc, i, 20), fsum(lcc, i, 20))
      val mid = s1 / cnt
      val std =
        if (cnt <= 1) 0.0
        else {
          val variance = (s2 - s1 * s1 / cnt) / (cnt - 1)
          if (variance > 0.0) Math.sqrt(variance) else 0.0
        }
      val rsi =
        if (i == 0) null
        else {
          val (g, lo) = (fsum(lgain, i, 14), fsum(lloss, i, 14))
          if (lo == 0.0) 100.0 else roundHalfUp(100.0 - 100.0 / (1.0 + g / lo), 4)
        }
      val frame14 = math.max(0, i - 13) to i
      val hh = greatest(frame14.map(h))
      val ll = frame14.map(l).reduce((m, x) => if (x < m) x else m)
      val (dpv, dv) = vwap(day(i))
      Row.fromSeq(rows(i).toSeq ++ Seq[Any](sma, roundHalfUp(num / den, 6), roundHalfUp(mid, 6),
        roundHalfUp(mid + 2.0 * std, 6), roundHalfUp(mid - 2.0 * std, 6), rsi,
        roundHalfUp(fsum(ltr, i, 14) / frame14.length, 6),
        if (hh == ll) 50.0 else roundHalfUp((c(i) - ll) / (hh - ll) * 100.0, 4),
        roundHalfUp(dpv.doubleValue / dv.doubleValue, 6)))
    })
  }
}
