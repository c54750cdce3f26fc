package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operators over generic event streams (the driver's `events` table:
  * event_id, ts, user_id, event_type, value, props).
  *
  * `candles` adapts events into the engine's canonical OHLCV shape so the
  * candle operators (Resample / AsofJoin / OrLevels / Gaps) run on driver
  * testdata; the aggregation pattern is the same minute-bucket OHLCV the
  * reference computes over trades (reference: src/datalake/aggregates/
  * aggregate.py:28-45), with `value` as price and event count as volume.
  */
object EventOps {

  /** Bucket events into OHLCV bars of `tfSeconds`. Deterministic: events.ts
    * is unique, so min_by/max_by have no ties. Bucket label = floor (left
    * label/closed, matching Resample).
    */
  def candles(events: DataFrame, tfSeconds: Long, keys: Seq[String] = Nil): DataFrame = {
    // order by the exact ns column when present (ties impossible at ns
    // grain); the cast is a no-op for TimestampType and interprets an NTZ
    // wall clock as session-UTC (unix_micros rejects NTZ input directly)
    val ord = if (events.columns.contains("ts_ns")) col("ts_ns")
      else unix_micros(col("ts").cast("timestamp"))
    val bucket = timestamp_seconds(floor(unix_timestamp(col("ts")) / tfSeconds) * tfSeconds)
    // one-pass native aggregate: a single 7-slot buffer instead of five
    // separate aggregates (min_by + max + min + max_by + count) — see
    // graft.functions.CandleAgg
    events
      .withColumn("_bucket", bucket)
      .groupBy(("_bucket" +: keys).map(col): _*)
      .agg(graft.functions.CandleAgg.candle(ord, col("value"), lit(1.0)).as("_c"))
      .select((Seq(col("_bucket").as("ts")) ++ keys.map(col) ++ Seq(
        col("_c.open").as("open"), col("_c.high").as("high"),
        col("_c.low").as("low"), col("_c.close").as("close"),
        col("_c.volume").as("volume"))): _*)
  }

  /** Tumbling per-type event-rate table: (event_type, hour_sec, n) with
    * hour_sec = the window's left-closed epoch-second label. One map-side-
    * combined aggregate; the shape [[graft.streaming.RateStream]] twins with
    * a watermark-bounded streaming window.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type").as("event_type"),
        expr("(CAST(`ts` AS LONG) DIV 3600) * 3600").as("hour_sec"))
      .agg(count(lit(1)).as("n"))

  /** Z-score anomaly gate over a [[hourlyCounts]]-shaped table: each
    * bucket's count scored against its own type's mean/std across buckets;
    * |z| >= 2 rows survive. Variance comes from exact integer
    * sums (count, sum n, sum n² — n² through decimal so a 3e9-events hour
    * cannot overflow BIGINT under ANSI), so the doubles that reach the
    * division are identical across engines. Stats are one tiny per-type
    * aggregate broadcast back; the hourly table never shuffles twice.
    * Types with fewer than 2 buckets or zero variance have no z-score and
    * drop out (both engines take the same branch).
    */
  def rateAnomalies(hourly: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("_h"),
        sum(col("n").cast(DecimalType(28, 0))).cast("double").as("_s1"),
        sum(col("n").cast(DecimalType(20, 0)) * col("n")).cast("double").as("_s2"))
      .where(col("_h") >= 2)
      .withColumn("_mean", col("_s1") / col("_h"))
      .withColumn("_var", (col("_s2") - col("_s1") * col("_s1") / col("_h")) / (col("_h") - 1))
      .where(col("_var") > 0.0)
      .select(col("event_type").as("_et"), col("_mean"), col("_var"))
    hourly.join(broadcast(stats), col("event_type") === col("_et"))
      .withColumn("z", round((col("n") - col("_mean")) / sqrt(col("_var")), 4))
      .where(abs(col("z")) >= 2.0)
      .select(col("event_type"), col("hour_sec"), col("n"), col("z"))
  }

  /** Per-hour-of-day completeness histogram, zero-filled over the 0-23 grid
    * (reference: ingestors/ibkr/ingest_cli.py:681-686 groupby(ts.dt.hour)
    * .reindex(range(24), fill_value=0)).
    */
  def hourHistogram(events: DataFrame): DataFrame = {
    val counts = events.groupBy(hour(col("ts")).as("hour")).agg(count(lit(1)).as("n"))
    val grid = events.sparkSession.range(24).select(col("id").cast("int").as("hour"))
    grid.join(counts, Seq("hour"), "left")
      .select(col("hour"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Fixed-width numeric histogram over `valueCol`, zero-filled across all
    * `nBins` bins of width `width` starting at 0. Values outside
    * [0, nBins*width) are dropped (callers bound the domain). Output:
    * (bin, lo, n) ordered by bin — bin the 0-based index, lo its lower
    * edge. Shape: one map-side-combined aggregation to nBins rows, then a
    * broadcast-sized zero-fill join; the data never shuffles more than the
    * nBins-row partial aggregate.
    */
  def valueHistogram(df: DataFrame, valueCol: String,
                     width: Double, nBins: Int): DataFrame = {
    val counts = df
      .select(floor(col(valueCol) / width).cast("long").as("bin"))
      .where(col("bin") >= 0 && col("bin") < nBins)
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val grid = df.sparkSession.range(nBins).select(col("id").as("bin"))
    grid.join(counts, Seq("bin"), "left")
      .select(col("bin"), round(col("bin") * width, 4).as("lo"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("bin"))
  }

  /** Ordered conversion funnel: per stage, the number of users whose FIRST
    * qualifying event of stage i happened at-or-after their qualifying
    * time for stage i-1 (the standard ordered-funnel definition — doing
    * the steps out of order does not count).
    *
    * `stages` maps stage names to event types, in order. Stage times are
    * the exact integer `ts_ns`, so "at-or-after" has no precision
    * ambiguity. Output: (stage, stage_name, n_users), stage 1-based.
    *
    * Scale: one user-keyed aggregate per stage plus a broadcast-free
    * user-keyed join chain — every shuffle is on user_id (high
    * cardinality); stage count is a constant. No windows, no data-sized
    * driver state.
    */
  def conversionFunnel(events: DataFrame, stages: Seq[(String, String)]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    import events.sparkSession.implicits._
    // reach[i] = (user, first time the user completed stages 0..i in order);
    // cached because stage i+1 both joins against it and counts it (at real
    // scale, checkpoint instead). These caches are purely internal — no
    // caller can reach the intermediates — so each stage unpersists its
    // predecessor once the next stage's count has materialized, and the
    // final stage unpersists before returning (the counts are plain longs
    // by then; the returned frame holds no cached lineage).
    var reach = events.where(col("event_type") === stages.head._2)
      .groupBy(col("user_id")).agg(min(col("ts_ns")).as("_t"))
      .cache()
    var counts = Vector((1L, stages.head._1, reach.count()))
    stages.drop(1).zipWithIndex.foreach { case ((name, tpe), i) =>
      val prev = reach
      reach = events.where(col("event_type") === tpe)
        .join(prev, "user_id")
        .where(col("ts_ns") >= col("_t"))
        .groupBy(col("user_id")).agg(min(col("ts_ns")).as("_t"))
        .cache()
      counts :+= ((i + 2L, name, reach.count()))
      prev.unpersist()
    }
    reach.unpersist()
    counts.toDF("stage", "stage_name", "n_users")
  }

  /** Retention cohorts: users grouped by first-activity UTC day, with the
    * count of distinct active users at each day offset 0..7.
    * Output: (cohort_day epoch-day BIGINT, day_offset, n_active).
    *
    * Scale: first-day per user is one user-keyed aggregate; the join back
    * is user-keyed (both sides data-sized but equi-keyed, no skew beyond
    * user activity itself); the final aggregate is (cohort, offset) —
    * bounded by days², tiny. countDistinct(user) shuffles (cohort, offset,
    * user) — the unavoidable distinct at this grain.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val day = expr("CAST(`ts` AS LONG) DIV 86400")
    val firstDay = events.select(col("user_id"), day.as("_d"))
      .groupBy(col("user_id")).agg(min(col("_d")).as("cohort_day"))
    events.select(col("user_id"), day.as("_d"))
      .join(firstDay, "user_id")
      .withColumn("day_offset", col("_d") - col("cohort_day"))
      .where(col("day_offset") <= 7)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** Markov transition (bigram) counts over each user's event stream: how
    * often `from_type` is immediately followed by `to_type` within the
    * same session — the path-mining aggregate behind "what do users do
    * after X" product analytics and behavioral-feature extraction.
    *
    * Session semantics match [[sessionize]]'s gap rule without needing its
    * session ids: a pair is counted iff the two events are consecutive for
    * the user AND at most `gapSeconds` apart, which is exactly
    * "consecutive within one session" (a wider gap would have started a
    * new session, and the first event of a session has no predecessor).
    *
    * Scale: one user-keyed window (data-sized but keyed — parallelizes by
    * user like [[sessionize]]/q12) then a map-side-combined count whose
    * shuffle is bounded by |event types|² rows. Counts are exact integers,
    * so the output is oracle-portable bit-for-bit. Ordering is
    * second-grain (the same truncation the gap rule uses) with `event_id`
    * as a stable tiebreaker, so same-second events order identically in any
    * engine instead of by sub-second digits one side may not retain.
    */
  def transitions(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("_tsec"), col("event_id"))
    events
      .withColumn("_tsec", col("ts").cast("long"))
      .withColumn("_prev_ts", lag(col("_tsec"), 1).over(w))
      .withColumn("_prev_type", lag(col("event_type"), 1).over(w))
      .where(col("_prev_type").isNotNull &&
        col("_tsec") - col("_prev_ts") <= gapSeconds)
      .groupBy(col("_prev_type").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Last-touch attribution: credit each purchase event
    * to the user's most recent OTHER event within `gapSeconds` before it,
    * or to `"direct"` when none qualifies — the marketing-attribution
    * aggregate behind "which activity drives conversions".
    *
    * One user-keyed window pass: a running `last(..., ignoreNulls)` over
    * rows-before-current carries the last non-target (type, second)
    * forward; the two carried columns null out on exactly the same rows,
    * so they always describe one event. Ordering is second-grain with the
    * id tiebreak ([[transitions]]' convention). Counts and decimal-path
    * revenue per attributed type — a |types|-bounded aggregate.
    */
  def lastTouchAttribution(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("_tsec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nonTarget = col("event_type") =!= "purchase"
    events
      .withColumn("_tsec", col("ts").cast("long"))
      .withColumn("_lt_ts", last(when(nonTarget, col("_tsec")), ignoreNulls = true).over(w))
      .withColumn("_lt_ty", last(when(nonTarget, col("event_type")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("attributed",
        when(col("_lt_ty").isNull || col("_tsec") - col("_lt_ts") > gapSeconds,
          lit("direct")).otherwise(col("_lt_ty")))
      .groupBy(col("attributed"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(round(col("value"), 4).cast(org.apache.spark.sql.types.DecimalType(28, 4)))
          .cast("double").as("revenue"))
  }

  /** DAU / WAU engagement: per UTC day the distinct active users that day
    * and over the trailing 7 days, plus their stickiness ratio in integer
    * basis points — the standard engagement dashboard triple.
    *
    * Sliding DISTINCT windows can't use a plain window aggregate (distinct
    * isn't decomposable over overlapping frames), so the classic exact
    * shape: dedupe to (day, user) once, EXPLODE each pair onto the <= 7
    * future days it keeps active (bounded 7× expansion of the deduped
    * pairs — day-grain, far smaller than the event stream), and count
    * distinct per target day. Two distinct-shuffles on day-keyed pairs;
    * ratio = dau·10000 DIV wau, exact integers end to end. Days beyond
    * the observed range are clipped so WAU never counts a day the data
    * cannot see.
    *
    * Output: (day, dau, wau, stickiness_bp) for every day with activity.
    */
  def dauWau(events: DataFrame): DataFrame = {
    val du = events
      .select(expr("CAST(`ts` AS LONG) DIV 86400").as("day"), col("user_id").as("_u"))
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    // empty/all-null-ts input: max(day) is NULL — return the empty frame
    // instead of NPEing on getLong (every sibling op honors empty input)
    val maxDayRow = du.agg(max(col("day"))).head()
    if (maxDayRow.isNullAt(0)) {
      import org.apache.spark.sql.types._
      return events.sparkSession.createDataFrame(
        events.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("day", LongType), StructField("dau", LongType),
          StructField("wau", LongType), StructField("stickiness_bp", LongType))))
    }
    val maxDay = maxDayRow.getLong(0)
    val wau = du
      .withColumn("_t", explode(sequence(col("day"), least(col("day") + 6, lit(maxDay)))))
      .select(col("_t").as("day"), col("_u"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .withColumn("stickiness_bp", expr("dau * 10000 DIV wau"))
      .select(col("day"), col("dau"), col("wau"), col("stickiness_bp"))
  }

  /** Slowly-changing-dimension (SCD type 2) history from an event/CDC
    * stream: per key, compact consecutive repeats of `attrCol` away and
    * interval-ize what remains into (valid_from, valid_to, version) rows —
    * valid_to NULL on the open (current) version. The standard
    * change-stream → dimension-history build every warehouse load runs;
    * half-open [from, to) intervals, so a point-in-time lookup is
    * `valid_from <= t AND (valid_to IS NULL OR t < valid_to)` and versions
    * tile time with no gaps or overlaps by construction.
    *
    * Two passes over one key-partitioned ordering (lag to drop no-op
    * changes, lead/row_number to close intervals) — keyed windows, no
    * data-sized unpartitioned stage; ordering is second-grain with the id
    * tiebreak ([[transitions]]' convention).
    */
  def scd2History(df: DataFrame, keyCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_tsec"), col("event_id"))
    val w2 = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"), col("event_id"))
    // the change detector must be NULL-SAFE (r14): lag the attr inside a
    // struct, so "no previous row" (null struct) is distinguishable from
    // "previous attr was NULL" (struct with null field). A bare
    // `_prev.isNull || _prev =!= attr` both dropped changes TO NULL (the
    // predicate is NULL) and failed to compact consecutive NULLs — the
    // streaming face's Scala != has always been null-correct, so the two
    // faces disagreed exactly on NULL attribute versions.
    df.withColumn("_tsec", col("ts").cast("long"))
      .withColumn("_prev", lag(struct(col(attrCol).as("a")), 1).over(w))
      .where(col("_prev").isNull ||
        !(col("_prev").getField("a") <=> col(attrCol)))
      .withColumn("valid_from", col("_tsec"))
      .withColumn("valid_to", lead(col("_tsec"), 1).over(w2))
      .withColumn("version", row_number().over(w2).cast("long"))
      .select(col(keyCol), col(attrCol), col("valid_from"), col("valid_to"),
        col("version"))
  }

  /** Point-in-time (AS OF) enrichment of fact rows against an SCD2
    * dimension history ([[scd2History]]'s output shape): each fact picks
    * the dimension version VALID AT its timestamp — the leakage-safe
    * feature-store join (training labels must only see state known at
    * event time, never a later version).
    *
    * Implemented WITHOUT a range join: version-start rows union with fact
    * rows (`unionByName` null-fills each side's missing columns), then ONE
    * key-partitioned window forward-fills (attr, version) onto the facts
    * — the W2 fill shape: one Exchange+Sort, no interval explosion, no
    * unbounded-interval problem. At equal timestamps version rows sort
    * before facts (a version starting at t applies to a fact at t) and
    * among themselves by version, so a zero-width version is correctly
    * superseded — matching the half-open [valid_from, valid_to) contract.
    * Facts before the key's first version get NULL attr/version.
    *
    * `facts` needs (keyCol, tsecCol epoch-seconds LONG, payload...);
    * payload columns ride through the union untouched.
    */
  def pointInTimeJoin(facts: DataFrame, history: DataFrame, keyCol: String,
                      tsecCol: String, attrCol: String): DataFrame = {
    // ROW-ATOMIC fill (r14, the AsofJoin pattern): (attr, version) travel
    // as ONE struct — two independent ignoreNulls fills would desync them
    // when a version's attr is legitimately NULL (attr falls back to an
    // OLDER version while version advances: an (attr, version) pair that
    // never existed, serving a superseded value into training features)
    val h = history.select(col(keyCol), col("valid_from").as(tsecCol),
      struct(col(attrCol).as("a"), col("version").as("v")).as("_pit"),
      lit(0).as("_pit_src"))
    val u = facts.withColumn("_pit_src", lit(1))
      .unionByName(h, allowMissingColumns = true)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsecCol), col("_pit_src"),
        col("_pit").getField("v").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("_pit_m", last(col("_pit"), ignoreNulls = true).over(w))
      .withColumn(s"asof_$attrCol", col("_pit_m").getField("a"))
      .withColumn("asof_version", col("_pit_m").getField("v"))
      .where(col("_pit_src") === 1)
      .drop("_pit", "_pit_m", "_pit_src")
  }

  /** Top-k full session paths: each session's ordered event-type sequence
    * joined into one `a>b>c` string, counted across all sessions, the k
    * most frequent kept — the whole-journey complement to [[transitions]]'
    * bigrams ("what are the common ways through the product", not just
    * "what follows X").
    *
    * Session ids reuse [[sessionize]]'s gap logic at row grain; the path
    * string is built by sorting each session's (second, id, type) structs
    * — struct sort is lexicographic on the fields, so ordering is the
    * engine-portable (tsec, id) convention — then joining the types.
    * Per-session arrays are session-sized (HOFs here are fine: this is
    * journey-grain, not the per-row 100 TB hot path). The top-k is a
    * deterministic (n DESC, path) order + limit, so the same k paths
    * surface in any engine; counts are exact integers.
    *
    * Output: (rank 1..k, path, n).
    */
  def topPaths(events: DataFrame, gapSeconds: Long, k: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("_tsec"), col("event_id"))
    val paths = events
      .withColumn("_tsec", col("ts").cast("long"))
      .withColumn("_prev", lag(col("_tsec"), 1).over(w))
      .withColumn("_new", when(col("_prev").isNull ||
        col("_tsec") - col("_prev") > gapSeconds, 1).otherwise(0))
      .withColumn("_sid", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("_sid"))
      .agg(array_join(
        transform(
          array_sort(collect_list(
            struct(col("_tsec"), col("event_id"), col("event_type").as("_ty")))),
          x => x.getField("_ty")), ">").as("path"))
    val counted = paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
    val wr = Window.orderBy(col("n").desc, col("path")) // k rows only
    counted.withColumn("rank", row_number().over(wr).cast("long"))
      .select(col("rank"), col("path"), col("n"))
  }

  /** Next-event-prediction feature matrix: for every event, the previous
    * two event types and inter-event gaps within the user's history — the
    * lag-feature export a sequence model (or feature store) trains on,
    * with the current type as the label. Missing history is encoded
    * explicitly ('none' / -1) so the matrix is fully non-null — no NULL
    * cells to trip downstream consumers (or the gate's hasher).
    *
    * Scale shape: ONE user-keyed window sort feeds every lag column
    * (the bounded-frame `lag`s share the single Exchange+Sort); no joins,
    * no unpartitioned window, output is event-grain like the input.
    */
  def lagFeatures(events: DataFrame): DataFrame = {
    // second-grain ordering with the id tiebreak — the engine-portable
    // event order (sub-second ts precision differs per engine; seconds +
    // unique id do not), same convention as sessionize's consumers
    val base = events.select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("_tsec"), col("event_type").as("label"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("_tsec"), col("event_id"))
    val withLags = (1 to 2).foldLeft(base) { (df, i) =>
      df.withColumn(s"prev_type_$i",
          coalesce(lag(col("label"), i).over(w), lit("none")))
        .withColumn(s"gap_secs_$i",
          coalesce(col("_tsec") - lag(col("_tsec"), i).over(w), lit(-1L)))
    }
    withLags.select(col("event_id") +: col("user_id") +: col("label") +:
      (1 to 2).flatMap(i => Seq(col(s"prev_type_$i"), col(s"gap_secs_$i"))): _*)
  }

  /** Sessionization: split each user's event stream at inactivity gaps >
    * `gapSeconds` (gaps-and-islands over lag). Returns one row per
    * (user, session) with start/end/count. Scales: window partitions by
    * user — the natural shuffle key; no global sort.
    */
  def sessionize(events: DataFrame, gapSeconds: Long, userCol: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col("ts"))
    events
      .withColumn("_prev", lag(col("ts"), 1).over(w))
      .withColumn("_new", when(col("_prev").isNull ||
        col("ts").cast("long") - col("_prev").cast("long") > gapSeconds, 1).otherwise(0))
      .withColumn("session_id", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }
}
