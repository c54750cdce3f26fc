package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
      val Array(h, m) = start.split(":").map(_.toInt)
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

  /** OR levels for a named profile. */
  def apply(df: DataFrame, name: String = defaultCrypto,
            keys: Seq[String] = Seq("symbol")): DataFrame = {
    val p = crypto.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown liquidity profile '$name' (have: ${crypto.keys.mkString(", ")})"))
    OrLevels.build(df, p.tz, p.window, keys)
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
  */
object OrLevels {

  def build(df: DataFrame, tz: String = "UTC", orWindow: String = "00:00-01:00",
            keys: Seq[String] = Seq("symbol")): DataFrame = {
    val Array(startHm, endHm) = orWindow.split("-")
    def hm(s: String): (Int, Int) = { val a = s.split(":"); (a(0).toInt, a(1).toInt) }
    val (sh, sm) = hm(startHm)
    val (eh, em) = hm(endHm)

    val local = from_utc_timestamp(col("ts"), tz)
    val sessionKeys = keys :+ "session_date"
    val base = df
      .withColumn("session_date", to_date(local))
      .withColumn("or_start", to_utc_timestamp(
        make_timestamp(year(local), month(local), dayofmonth(local), lit(sh), lit(sm), lit(0)), tz))
      .withColumn("or_end", to_utc_timestamp(
        make_timestamp(year(local), month(local), dayofmonth(local), lit(eh), lit(em), lit(0)), tz))
      .withColumn("_local", local)
      // base feeds three consumers (OR-range agg, after-window agg, retest
      // join); without materialization Spark recomputes the scan+bucket
      // lineage for each (observed: 8 parquet scans in one plan). Retained
      // until LRU eviction — long-lived callers should clearCache() between
      // unrelated builds (see Dedup's cache-lifecycle note).
      .cache()

    val inOr = col("_local") >= make_timestamp(
      year(col("_local")), month(col("_local")), dayofmonth(col("_local")), lit(sh), lit(sm), lit(0)) &&
      col("_local") < make_timestamp(
        year(col("_local")), month(col("_local")), dayofmonth(col("_local")), lit(eh), lit(em), lit(0))
    val after = col("_local") >= make_timestamp(
      year(col("_local")), month(col("_local")), dayofmonth(col("_local")), lit(eh), lit(em), lit(0))

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
