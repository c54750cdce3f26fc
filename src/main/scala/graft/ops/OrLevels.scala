package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType, StringType,
  StructField, StructType, TimestampType}

/** Named liquidity/session profiles (reference:
  * src/datalake/liquidity_profiles.py:2-8 LIQUIDITY_PROFILES_CRYPTO /
  * DEFAULT_CRYPTO_PROFILE): a profile names the session timezone, the local
  * opening-range start, and the range length in minutes. [[apply]] resolves a
  * profile into an [[OrLevels.build]] call, so DST is handled by the tz
  * database (a 09:30 America/New_York open is 14:30 UTC in winter, 13:30 UTC
  * in summer).
  */
object LiquidityProfiles {

  final case class Profile(tz: String, start: String, minutes: Int) {
    /** "HH:MM-HH:MM" local window string for [[OrLevels.build]]. The window
      * must stay inside one local day: build's in-range predicate compares
      * both bounds on the SAME session date, so a wrapped "23:58-00:03"
      * would silently match nothing — reject it instead.
      */
    def window: String = {
      val hm = OrLevels.clock(start)
      require(hm.isDefined, s"profile start must be HH:MM, got '$start'")
      val (h, m) = hm.get
      val end = h * 60 + m + minutes
      require(end <= 24 * 60,
        s"profile window $start+${minutes}m crosses midnight — not representable as an OR session")
      f"$start-${end / 60}%02d:${end % 60}%02d"
    }
  }

  val crypto: Map[String, Profile] = Map(
    "daily_open_utc" -> Profile("UTC", "00:00", 5),
    "us_equity_open" -> Profile("America/New_York", "09:30", 5),
    "asia_open" -> Profile("Asia/Tokyo", "09:00", 5),
  )

  val defaultCrypto: String = "us_equity_open"

  /** OR levels for a named profile, per symbol. */
  def apply(df: DataFrame, name: String = defaultCrypto): DataFrame = {
    val p = crypto.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown liquidity profile '$name' (have: ${crypto.keys.mkString(", ")})"))
    OrLevels.build(df, p.tz, p.window)
  }
}

/** Opening-Range levels with breakout/retest detection (reference:
  * src/datalake/levels/or_levels.py:19-64 `build_or_levels`).
  *
  * Per (symbol, local session date):
  *  - OR window = [or_start, or_end) on the LOCAL clock (tz-aware; profiles in
  *    reference src/datalake/liquidity_profiles.py:2-8), or_high/or_low = max
  *    high / min low over the window (or_levels.py:36-39);
  *  - sessions whose OR slice is empty are dropped (or_levels.py:38);
  *  - breakout = earliest bar at/after or_end with close > or_high (UP) or
  *    close < or_low (DOWN); direction = whichever comes first
  *    (or_levels.py:43-48);
  *  - retest = earliest bar at/after or_end with low <= or_high (UP) /
  *    high >= or_low (DOWN) — NOTE the reference scans from or_end, not from
  *    the break, so a "retest" can precede the break; replicated faithfully
  *    (or_levels.py:50-54). retest_price = that bar's close.
  *
  * Spark-first design: two hash aggregations keyed on (keys, session_date)
  * joined in between — no per-group iteration, everything stays in
  * whole-stage codegen. min(struct(ts, close)) gives the deterministic
  * "first row satisfying cond" (ts is unique per symbol), replacing the
  * reference's iloc[0] on the sorted frame. Scales: both shuffles key on
  * (symbol, session_date), high cardinality, no skew.
  *
  * A day or a month of bars is far below that scale: [[build]] folds on the
  * driver behind [[LocalFold]]'s gate and keeps the distributed plan as
  * [[buildDistributed]].
  */
object OrLevels {

  private val HourMinute = """(\d{1,2}):(\d{2})""".r

  /** "HH:MM" as (hour, minute), None when `s` has another form. */
  private[ops] def clock(s: String): Option[(Int, Int)] = s match {
    case HourMinute(h, m) => Some((h.toInt, m.toInt))
    case _ => None
  }

  /** The two clocks of an "HH:MM-HH:MM" OR window; anything else fails
    * loudly, naming the argument. */
  private def window(orWindow: String): ((Int, Int), (Int, Int)) = {
    val parts = orWindow.split("-", -1).toSeq.map(clock)
    require(parts.length == 2 && parts.forall(_.isDefined),
      s"orWindow must be HH:MM-HH:MM, got '$orWindow'")
    (parts(0).get, parts(1).get)
  }

  /** The `clock` time on the date of the local timestamp `local`. */
  private def at(local: Column, clock: (Int, Int)): Column =
    make_timestamp(year(local), month(local), dayofmonth(local), lit(clock._1), lit(clock._2), lit(0))

  private def inWindow(local: Column, start: (Int, Int), end: (Int, Int)): Column =
    local >= at(local, start) && local < at(local, end)

  /** Probe rows above which [[build]] runs distributed (the pagerank and
    * madOutliers cap). */
  private val MaxLocalRows = 100000

  /** OR levels per (keys, local session date). On the driver when
    * [[LocalFold.rows]] admits the probe: per bar the keys, session_date
    * (`unix_date`), or_start and or_end (`unix_micros`), the in-window and
    * at/after-end flags — all five the distributed path's own expressions —
    * and unix_micros(ts), high, low, close. It refuses null fields,
    * non-finite or -0.0 prices (Catalyst's max, min and struct order take
    * -0.0 = 0.0 and keep whichever the partition order meets first), keys
    * that are not [[LocalFold.exactKeys]], a ts that is not a TIMESTAMP and
    * prices that are not DOUBLE; then [[buildDistributed]] runs. A
    * malformed `orWindow` fails before either path.
    */
  def build(df: DataFrame, tz: String = "UTC", orWindow: String = "00:00-01:00",
            keys: Seq[String] = Seq("symbol")): DataFrame = {
    val (start, end) = window(orWindow)
    val s = df.schema
    val nk = keys.length
    val typed = LocalFold.columnsAre(df, keys,
      ("ts" -> TimestampType) +: Seq("high", "low", "close").map(_ -> DoubleType))
    def plain(x: Double) = java.lang.Double.isFinite(x) &&
      java.lang.Double.doubleToRawLongBits(x) != java.lang.Double.doubleToRawLongBits(-0.0)
    val rows = if (!typed) None else {
      val local = from_utc_timestamp(col("ts"), tz)
      val probe = df.select(keys.map(col) ++ Seq(unix_date(to_date(local)),
        unix_micros(to_utc_timestamp(at(local, start), tz)),
        unix_micros(to_utc_timestamp(at(local, end), tz)),
        inWindow(local, start, end), local >= at(local, end),
        unix_micros(col("ts")), col("high"), col("low"), col("close")): _*)
      LocalFold.rows(probe, MaxLocalRows, r => (6 to 8).forall(i => plain(r.getDouble(nk + i))))
    }
    rows match {
      case Some(bars) =>
        val schema = StructType(keys.map(s(_)) ++ Seq(
          StructField("session_date", IntegerType, s("ts").nullable),
          StructField("tz", StringType, nullable = false),
          StructField("or_start", LongType), StructField("or_end", LongType),
          StructField("or_high", DoubleType), StructField("or_low", DoubleType),
          StructField("break_dir", StringType, nullable = false),
          StructField("break_ts", LongType), StructField("retest_ts", LongType),
          StructField("retest_price", DoubleType)))
        LocalFold.frame(df.sparkSession, levelsLocal(bars, nk, tz), schema,
          keys.map(s(_).dataType) ++ Seq(DateType, StringType, TimestampType, TimestampType,
            DoubleType, DoubleType, StringType, TimestampType, TimestampType, DoubleType))
      case None => buildDistributed(df, tz, orWindow, keys)
    }
  }

  /** [[buildDistributed]] over the probe's bars (keys.., session_date,
    * or_start, or_end, in-window, after-end, ts, high, low, close): per
    * session with an OR slice, the slice's max high and min low, then for
    * each event the first after-end bar in struct order, (ts, close). */
  private def levelsLocal(bars: Array[Row], nk: Int, tz: String): Seq[Row] = {
    val (ts, high, low, close) = (nk + 5, nk + 6, nk + 7, nk + 8)
    val byTsClose = Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering)
    bars.toSeq.groupBy(r => Seq.tabulate(nk + 1)(r.get)).toSeq.flatMap { case (key, rs) =>
      val slice = rs.filter(_.getBoolean(nk + 3))
      if (slice.isEmpty) None
      else {
        val hi = slice.map(_.getDouble(high)).max
        val lo = slice.map(_.getDouble(low)).min
        val after = rs.filter(_.getBoolean(nk + 4))
        def earliest(p: Row => Boolean): Option[Row] =
          after.filter(p).minByOption(r => (r.getLong(ts), r.getDouble(close)))(byTsClose)
        val up = earliest(_.getDouble(close) > hi)
        val dn = earliest(_.getDouble(close) < lo)
        val (dir, break, retest) = (up, dn) match {
          case (Some(u), d) if d.forall(u.getLong(ts) <= _.getLong(ts)) =>
            ("UP", up, earliest(_.getDouble(low) <= hi))
          case (_, Some(_)) => ("DOWN", dn, earliest(_.getDouble(high) >= lo))
          case _ => ("NONE", None, None)
        }
        Some(Row.fromSeq(key ++ Seq(tz, rs.map(_.getLong(nk + 1)).min, rs.map(_.getLong(nk + 2)).min,
          hi, lo, dir, break.map(r => Long.box(r.getLong(ts))).orNull,
          retest.map(r => Long.box(r.getLong(ts))).orNull,
          retest.map(r => Double.box(r.getDouble(close))).orNull)))
      }
    }
  }

  private[graft] def buildDistributed(df: DataFrame, tz: String, orWindow: String,
                                      keys: Seq[String]): DataFrame = {
    val (start, end) = window(orWindow)

    val local = from_utc_timestamp(col("ts"), tz)
    val sessionKeys = keys :+ "session_date"
    val base = df
      .withColumn("session_date", to_date(local))
      .withColumn("or_start", to_utc_timestamp(at(local, start), tz))
      .withColumn("or_end", to_utc_timestamp(at(local, end), tz))
      .withColumn("_local", local)
      // base feeds three consumers (OR-range agg, after-window agg, retest
      // join); without materialization Spark recomputes the scan+bucket
      // lineage for each (observed: 8 parquet scans in one plan). Retained
      // until LRU eviction — long-lived callers should clearCache() between
      // unrelated builds (see Dedup's cache-lifecycle note).
      .cache()

    val inOr = inWindow(col("_local"), start, end)
    val after = col("_local") >= at(col("_local"), end)

    val ranges = base.groupBy(sessionKeys.map(col): _*).agg(
      min(col("or_start")).as("or_start"),
      min(col("or_end")).as("or_end"),
      max(when(inOr, col("high"))).as("or_high"),
      min(when(inOr, col("low"))).as("or_low"),
    ).where(col("or_high").isNotNull)

    val withRanges = base
      .where(after)
      .select((sessionKeys ++ Seq("ts", "close", "high", "low")).map(col): _*)
      .join(ranges.select((sessionKeys ++ Seq("or_high", "or_low")).map(col): _*), sessionKeys)

    val events = withRanges.groupBy(sessionKeys.map(col): _*).agg(
      min(when(col("close") > col("or_high"), col("ts"))).as("_up_ts"),
      min(when(col("close") < col("or_low"), col("ts"))).as("_dn_ts"),
      min(when(col("low") <= col("or_high"), struct(col("ts"), col("close")))).as("_rt_up"),
      min(when(col("high") >= col("or_low"), struct(col("ts"), col("close")))).as("_rt_dn"),
    )

    val dir = when(col("_up_ts").isNotNull && (col("_dn_ts").isNull || col("_up_ts") <= col("_dn_ts")), "UP")
      .when(col("_dn_ts").isNotNull, "DOWN")
      .otherwise("NONE")

    ranges.join(events, sessionKeys.toSeq, "left")
      .withColumn("break_dir", dir)
      .withColumn("break_ts",
        when(col("break_dir") === "UP", col("_up_ts"))
          .when(col("break_dir") === "DOWN", col("_dn_ts")))
      .withColumn("retest_ts",
        when(col("break_dir") === "UP", col("_rt_up.ts"))
          .when(col("break_dir") === "DOWN", col("_rt_dn.ts")))
      .withColumn("retest_price",
        when(col("break_dir") === "UP", col("_rt_up.close"))
          .when(col("break_dir") === "DOWN", col("_rt_dn.close")))
      .withColumn("tz", lit(tz))
      .drop("_up_ts", "_dn_ts", "_rt_up", "_rt_dn")
      .select((keys ++ Seq("session_date", "tz", "or_start", "or_end", "or_high", "or_low",
        "break_dir", "break_ts", "retest_ts", "retest_price")).map(col): _*)
  }
}
