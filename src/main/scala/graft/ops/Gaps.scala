package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}

/** Gap detection + range compression (reference: src/datalake/tools/gaps.py:40-68
  * `find_minute_gaps` — full minute grid minus observed ts, then walk +1min
  * adjacency into contiguous [start,end] ranges; same logic inlined at
  * ingestors/ibkr/ingest_cli.py:206-226 and tools/check_day.py:60-75).
  *
  * Spark mapping: grid = explode(sequence(...)); missing = grid LEFT ANTI JOIN
  * observed (J2/U2); islands via the classic gaps-and-islands trick — group by
  * `ts - rn * step`, a constant within each contiguous run (W5).
  *
  * Scale: the anti-join shuffles on ts (fine, AQE handles it); the islands
  * window partitions by `keys` so per-symbol runs sort independently. A
  * day of bars is far below that scale: [[minuteGaps]] and [[synthFill]]
  * fold on the driver behind [[LocalFold]]'s gate (see [[localGrid]]) and
  * keep the distributed plans as their `…Distributed` twins.
  */
object Gaps {

  /** Timestamps present in the full `stepSeconds` grid but absent from
    * df.ts, per key group. By default the grid spans [min ts, max ts] of the
    * observed data; pass `gridBounds` (like the reference's known full-day
    * grid, gaps.py:53) to catch gaps at the boundaries too — a missing FIRST
    * or LAST bar is invisible to a data-derived grid.
    */
  /** Keyed step grid spanning `gridBounds` (or each group's observed
    * [min ts, max ts]) — the ONE bounds+grid builder [[missing]] and
    * [[synthFill]] share (r14: the two copies had started to drift).
    */
  private def keyedGrid(df: DataFrame, keys: Seq[String], stepSeconds: Long,
                        gridBounds: Option[(java.sql.Timestamp, java.sql.Timestamp)]): DataFrame = {
    val bounds = gridBounds match {
      case Some((f, t)) =>
        (if (keys.isEmpty) df.sparkSession.range(1).select(lit(1).as("_one"))
         else df.select(keys.map(col): _*).distinct())
          .withColumn("_from", lit(f)).withColumn("_to", lit(t))
          .drop("_one")
      case None => df.groupBy(keys.map(col): _*)
        .agg(min(col("ts")).as("_from"), max(col("ts")).as("_to"))
    }
    bounds.select(keys.map(col) :+
      explode(sequence(col("_from"), col("_to"), expr(s"INTERVAL $stepSeconds SECONDS"))).as("ts"): _*)
  }

  def missing(df: DataFrame, keys: Seq[String], stepSeconds: Long,
              gridBounds: Option[(java.sql.Timestamp, java.sql.Timestamp)] = None): DataFrame = {
    // NULL-SAFE key equality (r14): the groupBy above KEEPS a null key
    // group, so the grid contains its slots — a plain-equality anti-join
    // would never match them and report the group's entire grid missing
    // (Fill.biFill's <=> stitch is the package convention). Aliased: the
    // grid DERIVES from df, so unqualified attributes would be ambiguous.
    val grid = keyedGrid(df, keys, stepSeconds, gridBounds).alias("_g")
    val obs = df.select((keys :+ "ts").map(col): _*).alias("_o")
    grid.join(obs,
      (keys :+ "ts").map(c => col(s"_g.$c") <=> col(s"_o.$c")).reduce(_ && _),
      "left_anti")
  }

  /** Compress a set of grid-aligned timestamps into contiguous
    * [gap_start, gap_end] ranges (inclusive), one row per island.
    */
  def islands(missingTs: DataFrame, keys: Seq[String], stepSeconds: Long): DataFrame = {
    val w = (if (keys.nonEmpty) Window.partitionBy(keys.map(col): _*) else Window.partitionBy())
      .orderBy(col("ts"))
    missingTs
      .withColumn("_island", col("ts").cast("long") - row_number().over(w) * stepSeconds)
      .groupBy((keys :+ "_island").map(col): _*)
      .agg(min(col("ts")).as("gap_start"), max(col("ts")).as("gap_end"),
        count(lit(1)).as("n_missing"))
      .drop("_island")
  }

  /** End-to-end: missing minutes compressed to ranges. On the driver when
    * [[localGrid]] admits `df`, else [[minuteGapsDistributed]]. */
  def minuteGaps(df: DataFrame, keys: Seq[String] = Nil, stepSeconds: Long = 60L,
                 gridBounds: Option[(java.sql.Timestamp, java.sql.Timestamp)] = None): DataFrame =
    localGrid(df, keys, stepSeconds, gridBounds, Nil) match {
      case Some(grid) =>
        val s = df.schema
        val schema = StructType(keys.map(s(_)) ++ Seq(StructField("gap_start", LongType),
          StructField("gap_end", LongType), StructField("n_missing", LongType, nullable = false)))
        LocalFold.frame(df.sparkSession, grid.flatMap(gapsLocal(_, keys.length, stepSeconds)), schema,
          keys.map(s(_).dataType) ++ Seq(TimestampType, TimestampType, LongType))
      case None => minuteGapsDistributed(df, keys, stepSeconds, gridBounds)
    }

  private[graft] def minuteGapsDistributed(df: DataFrame, keys: Seq[String], stepSeconds: Long,
      gridBounds: Option[(java.sql.Timestamp, java.sql.Timestamp)]): DataFrame =
    islands(missing(df, keys, stepSeconds, gridBounds), keys, stepSeconds)

  /** Rows, and grid slots, above which the day folds run distributed (the
    * pagerank and madOutliers cap). */
  private val MaxLocalRows = 100000

  /** One key group of the driver folds: its observed probe rows (keys..,
    * ts in micros, prices..) and its grid, `slots` steps from `from`. */
  private final case class Group(key: Seq[Any], rows: Array[Row], from: Long, slots: Long)

  /** The driver folds' gate and probe. `df` is probed as (keys..,
    * unix_micros(ts), prices..) through [[LocalFold.rows]] with a
    * `MaxLocalRows` cap, refusing null keys, ts or prices, non-finite
    * prices, keys that are not [[LocalFold.exactKeys]], a ts that is not a
    * TIMESTAMP, prices that are not DOUBLE and null bounds. Each group then
    * gets [[keyedGrid]]'s slots: `gridBounds` (for every observed key, or
    * once when `keys` is empty) or the group's [min ts, max ts]. A grid
    * `sequence` would reject (`from` after `to`), a non-positive step, or
    * more slots in all than the cap, refuses too.
    */
  private def localGrid(df: DataFrame, keys: Seq[String], stepSeconds: Long,
                        gridBounds: Option[(java.sql.Timestamp, java.sql.Timestamp)],
                        prices: Seq[String]): Option[Seq[Group]] = {
    val nk = keys.length
    val typed = stepSeconds > 0 && gridBounds.forall { case (f, t) => f != null && t != null } &&
      LocalFold.columnsAre(df, keys, ("ts" -> TimestampType) +: prices.map(_ -> DoubleType))
    val step = stepSeconds * 1000000L
    def slots(from: Long, to: Long) = if (from > to) -1L else (to - from) / step + 1
    (if (!typed) None
     else LocalFold.rows(df.select(keys.map(col) ++ (unix_micros(col("ts")) +: prices.map(col)): _*),
       MaxLocalRows, r => prices.indices.forall(i => java.lang.Double.isFinite(r.getDouble(nk + 1 + i)))))
    .flatMap { rows =>
      val byKey = rows.groupBy(r => Seq.tabulate(nk)(r.get)).toSeq
      val groups = gridBounds match {
        case Some((f, t)) =>
          val (from, to) = (DateTimeUtils.fromJavaTimestamp(f), DateTimeUtils.fromJavaTimestamp(t))
          val keyed = if (keys.isEmpty && byKey.isEmpty) Seq(Nil -> Array.empty[Row]) else byKey
          keyed.map { case (k, rs) => Group(k, rs, from, slots(from, to)) }
        case None => byKey.map { case (k, rs) =>
          val ts = rs.map(_.getLong(nk))
          Group(k, rs, ts.min, slots(ts.min, ts.max))
        }
      }
      if (groups.exists(_.slots < 0) || groups.map(_.slots).sum > MaxLocalRows) None
      else Some(groups)
    }
  }

  /** The grid slots of `g` with no observed bar at exactly that ts. */
  private def missingSlots(g: Group, nk: Int, stepSeconds: Long): Iterator[Long] = {
    val seen = g.rows.iterator.map(_.getLong(nk)).toSet
    Iterator.iterate(g.from)(_ + stepSeconds * 1000000L).take(g.slots.toInt).filterNot(seen)
  }

  /** [[minuteGapsDistributed]] on one group: the missing slots in ts order
    * keyed as [[islands]] keys them, `CAST(ts AS LONG) - row_number *
    * step` (the cast is a floor of the micros), one row per key. */
  private def gapsLocal(g: Group, nk: Int, stepSeconds: Long): Iterable[Row] = {
    val runs = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]
    missingSlots(g, nk, stepSeconds).zipWithIndex.foreach { case (m, i) =>
      val island = Math.floorDiv(m, 1000000L) - (i + 1L) * stepSeconds
      runs(island) = runs.get(island).fold((m, m, 1L)) { case (a, _, n) => (a, m, n + 1) }
    }
    runs.values.map { case (a, b, n) => Row.fromSeq(g.key ++ Seq(a, b, n)) }
  }

  /** Day-scoped minute gaps over one series — the reference's scan shape
    * (tools/gaps.py:51-53 find_missing_ranges_utc builds one FULL-day grid
    * per day): every UTC day between the observed min and max ts gets the
    * complete step grid, clipped to the observed bounds only at the two
    * outer ends. Unlike deriving per-day bounds from each day's own data,
    * this DOES see gaps touching midnight and entirely missing days; like
    * the reference, islands never cross midnight (per-day ranges). The grid
    * explode, anti-join, and islands window all parallelize by day.
    */
  def dayScopedMinuteGaps(minutes: DataFrame, stepSeconds: Long = 60L): DataFrame = {
    val b = minutes.agg(min(col("ts")).as("_mn"), max(col("ts")).as("_mx"))
    val days = b.select(
      explode(sequence(expr("CAST(_mn AS LONG) DIV 86400"),
        expr("CAST(_mx AS LONG) DIV 86400"))).as("day"),
      col("_mn"), col("_mx"))
    val grid = days.select(col("day"),
      explode(sequence(
        greatest(timestamp_seconds(col("day") * 86400), col("_mn")),
        least(timestamp_seconds(col("day") * 86400 + (86400 - stepSeconds)), col("_mx")),
        expr(s"INTERVAL $stepSeconds SECONDS"))).as("ts"))
    val miss = grid.join(minutes.select(col("ts")), Seq("ts"), "left_anti")
    islands(miss, Seq("day"), stepSeconds)
  }

  /** Synthetic gap fill (reference: ingestors/ibkr/ingest_cli.py:229-267
    * `_synth_fill` — missing minute price = last prior close, else next open,
    * else 0; flat OHLC bar, volume 0, is_synth=true).
    *
    * On the driver when [[localGrid]] admits `df` with its open and close
    * (and `df` has DOUBLE high, low and volume): the synthetic bars fold
    * from the probe and come back as a local relation unioned under `df`'s
    * own rows, each real row passing through with is_synth = false, as one
    * partition: the gate bounds the rows, and the stages above a fill would
    * otherwise run a task per partition of `df` plus one (the distributed
    * fill ends in an AQE-coalesced shuffle). A
    * duplicate (key, ts), which [[Fill.biFill]] rules out too, refuses;
    * otherwise [[synthFillDistributed]] runs.
    */
  def synthFill(df: DataFrame, keys: Seq[String] = Nil, stepSeconds: Long = 60L,
                gridBounds: Option[(java.sql.Timestamp, java.sql.Timestamp)] = None): DataFrame = {
    val s = df.schema
    val bar = Seq("open", "high", "low", "close", "volume")
    val local =
      if (!LocalFold.columnsAre(df, Nil, bar.map(_ -> DoubleType))) None
      else localGrid(df, keys, stepSeconds, gridBounds, Seq("open", "close"))
        .flatMap { gs =>
          val made = gs.map(fillLocal(_, keys.length, stepSeconds))
          if (made.forall(_.isDefined)) Some(made.flatMap(_.get)) else None
        }
    local match {
      case Some(synth) =>
        val joinCols = keys :+ "ts"
        val dataCols = df.columns.filterNot(joinCols.contains)
        val out = joinCols ++ dataCols ++ (if (dataCols.contains("is_synth")) Nil else Seq("is_synth"))
        // every column but is_synth is nullable on the distributed path
        // (both sides of its full outer join), so the synthetic side says so
        val schema = StructType(keys.map(s(_).copy(nullable = true)) ++
          (StructField("ts", LongType) +: bar.map(StructField(_, DoubleType))))
        val made = LocalFold.frame(df.sparkSession, synth, schema,
          keys.map(s(_).dataType) ++ (TimestampType +: bar.map(_ => DoubleType)))
        df.select(out.map(c => if (c == "is_synth") lit(false).as(c) else col(c)): _*)
          .union(made.select(out.map {
            case "is_synth" => lit(true).as("is_synth")
            case c if schema.fieldNames.contains(c) => col(c)
            case c => lit(null).cast(s(c).dataType).as(c)
          }: _*))
          .coalesce(1)
      case None => synthFillDistributed(df, keys, stepSeconds, gridBounds)
    }
  }

  /** [[synthFillDistributed]]'s synthetic bars of one group, None on a
    * duplicate ts: each missing slot takes the close of the last bar
    * before it, else the open of the first bar after it, else 0. */
  private def fillLocal(g: Group, nk: Int, stepSeconds: Long): Option[Seq[Row]] = {
    val bars = g.rows.sortBy(_.getLong(nk))
    val ts = bars.map(_.getLong(nk))
    if (ts.indices.drop(1).exists(i => ts(i) == ts(i - 1))) None
    else {
      var after = 0 // bars before the current slot
      Some(missingSlots(g, nk, stepSeconds).map { m =>
        while (after < ts.length && ts(after) < m) after += 1
        val px =
          if (after > 0) bars(after - 1).getDouble(nk + 2)
          else if (after < ts.length) bars(after).getDouble(nk + 1)
          else 0.0
        Row.fromSeq(g.key ++ Seq[Any](m, px, px, px, px, 0.0))
      }.toVector)
    }
  }

  private[graft] def synthFillDistributed(df: DataFrame, keys: Seq[String], stepSeconds: Long,
      gridBounds: Option[(java.sql.Timestamp, java.sql.Timestamp)]): DataFrame = {
    // FULL OUTER join of the step grid with the data: grid-only rows are the
    // synthetic minutes, data rows (on or off the grid) pass through — the
    // same row set as `df UNION (grid ANTI JOIN df)` but with ONE evaluation
    // of df instead of three (bounds + anti-join probe + union arm), which
    // matters because df is typically an aggregation lineage, not a scan.
    // NULL-SAFE key equality (r14, same reasoning as `missing`): with a
    // plain-equality full outer, a null-key group's real bars never meet
    // their own grid slots — every slot would emit a DUPLICATE synthetic
    // bar alongside the real one. Expression join keeps both sides' key
    // columns, so coalesce them back to one. Aliased because the grid
    // derives from df (self-join ambiguity otherwise).
    val grid = keyedGrid(df, keys, stepSeconds, gridBounds).alias("_g")
    val data = df.withColumn("_real", lit(true)).alias("_d")
    val joinCols = keys :+ "ts"
    val dataCols = df.columns.filterNot(joinCols.contains)
    val unioned = grid.join(data,
        joinCols.map(c => col(s"_g.$c") <=> col(s"_d.$c")).reduce(_ && _),
        "full_outer")
      .select(joinCols.map(c => coalesce(col(s"_g.$c"), col(s"_d.$c")).as(c)) ++
        dataCols.map(c => col(s"_d.$c")) :+ col("_d._real"): _*)
      .withColumn("_synth", col("_real").isNull)
      .drop("_real")
    // prior real close / next real open via the chunked two-phase fill —
    // no unpartitioned window even for an unkeyed single series (see Fill);
    // both directions share one pass (Fill.biFill)
    val masked = unioned
      .withColumn("_prev_close", when(!col("_synth"), col("close")))
      .withColumn("_next_open", when(!col("_synth"), col("open")))
    val filled = Fill.biFill(masked, Seq("_prev_close"), Seq("_next_open"), keys)
    filled
      .withColumn("_px", coalesce(col("_prev_close"), col("_next_open"), lit(0.0)))
      .drop("_prev_close", "_next_open")
      .withColumn("open", when(col("_synth"), col("_px")).otherwise(col("open")))
      .withColumn("high", when(col("_synth"), col("_px")).otherwise(col("high")))
      .withColumn("low", when(col("_synth"), col("_px")).otherwise(col("low")))
      .withColumn("close", when(col("_synth"), col("_px")).otherwise(col("close")))
      .withColumn("volume", when(col("_synth"), lit(0.0)).otherwise(col("volume")))
      .withColumn("is_synth", col("_synth"))
      .drop("_px", "_synth")
  }
}
