package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Exact interpolated percentiles as a distributed plan instead of Spark's
  * `percentile()` ObjectAggregate.
  *
  * `percentile()` (Catalyst `Percentile`) collects EVERY value of a group
  * into an in-memory OpenHashMap inside the aggregation buffer — at 100 TB a
  * single group's values must fit on one executor, which is exactly the
  * collect-to-one-node shape this engine avoids everywhere else. This
  * operator computes the same number with ordinary relational pieces:
  *
  *   1. `groupBy(group, value).count()` — a hash aggregate with map-side
  *      combine; the shuffle carries one row per DISTINCT (group, value),
  *      so bounded-domain columns (quantities, prices with fixed decimals,
  *      ages, scores) compress massively before any sort.
  *   2. a per-group running sum over the distinct values (window ordered by
  *      value) assigns each value its rank interval [cum-c, cum).
  *   3. the floor/ceil ranks of position p·(n-1) are located with a
  *      conditional aggregate — no second pass over the raw data.
  *
  * Interpolation uses Spark's own `Percentile.getPercentile` formula
  * `(ceil-pos)·v_floor + (pos-floor)·v_ceil` (with the exact-rank special
  * case), so results are bit-identical to `percentile()` and keep matching
  * a DuckDB `quantile_cont` oracle after 4-decimal rounding.
  *
  * Scale note: stage 2 does NOT window by the group key alone (a group with
  * a continuous high-cardinality domain would serialize its whole distinct-
  * value table onto one reducer). Instead the running sum is the engine's
  * standard two-phase chunked prefix sum (like [[Fill]]/[[Packing]]): each
  * value is bucketed into one of `defaultParallelism` chunks of its group's
  * [min, max] value range (one group-sized bounds aggregate; bucketing is a
  * pure, monotone function of the value, so re-executions of the lineage
  * agree — unlike a sampled repartitionByRange id), within-chunk windows
  * run in parallel, and carry-ins come from a window over the tiny
  * per-(group, chunk) summary (≤ `parts` rows per group, so the group-keyed
  * window is bounded). Heavily skewed value distributions make chunks
  * uneven (parallelism degrades toward the hot range, correctness is
  * unaffected); when even the distinct-value table is too large for
  * exactness, `approx_percentile` (t-digest) with its error bound is the
  * escape hatch.
  */
object Quantiles {

  /** One row per group; for each `(p, outName)` spec an exact interpolated
    * percentile of `valueCol` named `outName`. Multiple specs share the
    * single count+cumsum pass.
    */
  def exactInterpolated(df: DataFrame, groupCols: Seq[String], valueCol: String,
                        specs: Seq[(Double, String)]): DataFrame =
    exactInterpolatedWeighted(df, groupCols, valueCol, lit(1L), specs)

  /** [[exactInterpolated]] with integer row WEIGHTS: the percentile of the
    * weight-expanded multiset (a row with weight w counts as w copies), at
    * the cost of the unweighted plan — the chunked pass already aggregates
    * duplicate values into per-value counts, so weights simply seed that
    * count with `sum(weight)` instead of `count(*)`. The canonical use is
    * token-weighted corpus statistics ("the median TOKEN lives in a
    * document of length X"), where expanding would multiply the corpus by
    * its token count. Weights must be non-negative integers for the rank
    * arithmetic to stay exact; zero-weight rows contribute nothing — they
    * are filtered with the nulls, so a group whose rows are ALL zero-weight
    * comes back with NULL percentiles via the same all-null-group restore
    * the unweighted path uses (exactly what Spark's `percentile(col, p,
    * freq)` returns for an empty aggregation buffer).
    */
  def exactInterpolatedWeighted(df: DataFrame, groupCols: Seq[String],
                                valueCol: String, weight: Column,
                                specs: Seq[(Double, String)]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty (global percentiles: group by a literal)")
    val g = groupCols.map(col)
    // percentile() ignores null values; without this filter they would
    // occupy ranks (nulls sort first in the cumsum window) and shift
    // every bracket. Zero/null weights are dropped the same way — they
    // hold no rank mass.
    val w8 = weight.cast("long")
    val nn = df.where(col(valueCol).isNotNull && w8.isNotNull && w8 > 0L)
      .withColumn("_wt", w8)
    val parts = math.max(df.sparkSession.sparkContext.defaultParallelism, 2)
    // Chunk ids must be a PURE function of the row — spark_partition_id
    // after repartitionByRange would differ between re-executions of the
    // lineage (sampling), silently dropping rows at the carry join.
    // Value-range bucketing from one group-sized bounds aggregate is
    // deterministic, monotone in value (IEEE subtraction/division by a
    // positive constant preserve order), and needs no cache. Bounds come
    // from the RAW rows (map-side combine straight to one row per group),
    // NOT from the distinct-value table: deriving them from `counts` made
    // the planner evaluate the counts aggregate a second time — AQE's
    // stage cache does not recognize the clones DeduplicateRelations makes
    // of a self-joined subtree, so every extra consumer of `counts` was a
    // full scan + shuffle re-execution, not a reuse.
    // the bounds aggregate also carries the group's TOTAL weight (_gn):
    // every ranged row then knows its group size from the same broadcast
    // join, so no unbounded-frame window is ever needed for it (with a
    // literal group that window would constant-fold to an unpartitioned
    // WindowExec — the one shape the plan audit forbids)
    val bounds = nn.groupBy(g: _*)
      .agg(min(col(valueCol).cast("double")).as("_vlo"),
        max(col(valueCol).cast("double")).as("_vhi"),
        sum(col("_wt")).as("_gn"))
      .select(groupCols.map(c => col(c).as(s"_bndk_$c")) :+ col("_vlo") :+
        col("_vhi") :+ col("_gn"): _*)
    // groups-sized right side: AQE broadcasts it; an ordinary equi-join
    // when the group domain is data-sized — never a forced broadcast
    def withChunk(dfx: DataFrame): DataFrame = {
      val width = (col("_vhi") - col("_vlo")) / parts
      dfx.join(bounds,
          groupCols.map(c => dfx(c) <=> bounds(s"_bndk_$c")).reduce(_ && _))
        .withColumn("_chunk",
          when(col("_vhi") > col("_vlo"),
            least(lit(parts - 1),
              floor((col(valueCol).cast("double") - col("_vlo")) / width)))
            .otherwise(lit(0L)).cast("long"))
        .drop("_vlo", "_vhi")
        .drop(groupCols.map(c => s"_bndk_$c"): _*)
    }
    // Per-(group, chunk) carry totals, straight from the raw rows: the sum
    // of `_c` over a chunk of the distinct-value table IS the chunk's raw
    // weight, so this map-side-combined aggregate (≤ groups × parts rows
    // out) never touches the counts pipeline. One row per chunk a group
    // touches makes the group-keyed carry window safe (over the raw
    // distinct-value table it would serialize the group — the whole
    // reason for the chunking): carry-in = running sum of earlier chunks'
    // totals; the group total rides in from bounds (_gn), never a window.
    val totals = withChunk(nn.select((g :+ col(valueCol) :+ col("_wt")): _*))
      .groupBy((g :+ col("_chunk")): _*)
      .agg(sum(col("_wt")).as("_tot"))
    val wCarry = Window.partitionBy(g: _*).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = totals
      .withColumn("_carry", coalesce(sum(col("_tot")).over(wCarry), lit(0L)))
      .select(groupCols.map(c => col(c).as(s"_ck_$c")) :+
        col("_chunk").as("_cchunk") :+ col("_carry"): _*)
    // ONE evaluation of the data-sized pipeline: distinct-value counts →
    // chunk id → carry join BEFORE the window (carry is summary-sized, so
    // AQE broadcasts it and no extra exchange lands between the window and
    // the bracket aggregate below — joining AFTER the window re-shuffled
    // the whole table onto the null-safe join keys) → within-chunk running
    // sum → global rank by adding the carry — then the bracket aggregate's
    // partial pass runs directly on the window output.
    val counts = nn
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(sum(col("_wt")).as("_c"))
    val ranged = withChunk(counts)
    val withCarry = ranged.join(carry,
      groupCols.map(c => ranged(c) <=> carry(s"_ck_$c"))
        .foldLeft(ranged("_chunk") === carry("_cchunk"))(_ && _))
    val wLoc = Window.partitionBy((g :+ col("_chunk")): _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = withCarry
      .withColumn("_loc", sum(col("_c")).over(wLoc))
      .withColumn("_cum", col("_loc") + col("_carry"))

    def pos(p: Double): Column = lit(p) * (col("_gn") - 1).cast("double")
    // value covers ranks [_cum - _c, _cum)
    def covers(rank: Column): Column =
      rank >= col("_cum") - col("_c") && rank < col("_cum")

    val aggs = specs.flatMap { case (p, nm) =>
      Seq(
        max(when(covers(floor(pos(p))), col(valueCol).cast("double"))).as(s"_vf_$nm"),
        max(when(covers(ceil(pos(p))), col(valueCol).cast("double"))).as(s"_vc_$nm"),
        max(col("_gn")).as(s"_n_$nm"))
    }
    val agged = ranked.groupBy(g: _*).agg(aggs.head, aggs.drop(1): _*)

    val result = specs.foldLeft(agged) { case (d, (p, nm)) =>
      val position = lit(p) * (col(s"_n_$nm") - 1).cast("double")
      val lo = floor(position)
      val hi = ceil(position)
      // both special cases mirror Percentile.getPercentile exactly: integral
      // rank, and floor/ceil ranks falling inside the same value's interval
      d.withColumn(nm,
        when(lo === hi || col(s"_vf_$nm") === col(s"_vc_$nm"), col(s"_vf_$nm"))
          .otherwise((hi - position) * col(s"_vf_$nm") +
            (position - lo) * col(s"_vc_$nm")))
    }.select((g ++ specs.map { case (_, nm) => col(nm) }): _*)
    // a group whose values are ALL null vanished at the null filter;
    // percentile() returns it with a NULL result — restore it (<=> join so
    // NULL group keys still match, as everywhere else in this engine).
    // Both sides descend from df, so rename the result-side keys (_rk_)
    // before joining — same discipline as _ck_/_bndk_ above; the bare
    // allGroups(c) <=> result(c) form resolved correctly but relied on
    // dataset-id disambiguation that degenerates to a trivially-true
    // predicate under innocent refactors.
    val keyed = result.select(
      groupCols.map(c => col(c).as(s"_rk_$c")) ++
        specs.map { case (_, nm) => col(nm) }: _*)
    val allGroups = df.select(g: _*).distinct()
    val joinCond = groupCols.map(c => allGroups(c) <=> keyed(s"_rk_$c")).reduce(_ && _)
    allGroups.join(keyed, joinCond, "left")
      .select(groupCols.map(allGroups(_)) ++ specs.map { case (_, nm) => keyed(nm) }: _*)
  }

  /** Approximate quantiles from a bounded decimal log-histogram — the
    * sketch twin of [[exactInterpolated]] for when even the distinct-value
    * table is data-sized (the analogue of [[Sketches.kmvDistinct]] for
    * percentiles).
    *
    * Binning keeps the TWO leading decimal digits of each (long) value
    * (HdrHistogram's idea in base 10): bucket width = 10^(digits-2), so
    * relative error within a bucket is <= 10 %. Values 0..99 get exact
    * singleton buckets; negatives land in mirrored decades. The whole
    * derivation is integer arithmetic (digit count via string length, width
    * via rpad) — no log()/pow() doubles — so an external engine running the
    * same SQL bins every value identically, bit-for-bit.
    *
    * Why it scales where the exact path can't: state per group is the
    * bucket table — at most ~90 buckets per decade crossed, <= ~1.6k for
    * the full long range, INDEPENDENT of row count or value cardinality.
    * The only data-sized operation is one hash aggregate with map-side
    * combine; the cumulative window runs over the bucket summary
    * (per-group bounded; grouped by exactly its ORDER BY column, the same
    * reduced-to-order-grain shape as Fill's carries).
    *
    * The estimate for position t = p·(n-1) interpolates uniformly inside
    * the covering bucket: lo + w·(t - cum_before)/cnt.
    */
  def histogramQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                         specs: Seq[(Double, String)]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty (global sketch: group by a literal)")
    val g = groupCols.map(col)
    // width = 10^(digits(|v|) - 2), floored at 1 — as a long comparison
    // cascade, not string length/rpad: pure branch-compare codegen in the
    // per-row hot path, same boundaries as the SQL mirror's VARCHAR-length
    // form (av < 10^k  <=>  length(av::VARCHAR) <= k for non-negative longs)
    val widthCascade = (2 to 18).foldLeft(when(col("_av") < 100L, lit(1L))) {
      (acc, d) => acc.when(col("_av") < math.pow(10, d + 1).toLong, {
        var w = 1L; (2 to d).foreach(_ => w *= 10); lit(w)
      })
    }.otherwise(lit(100000000000000000L)) // 19-digit longs: w = 10^17
    val base = df
      .where(col(valueCol).isNotNull)
      .withColumn("_av", abs(col(valueCol).cast("long")))
      .withColumn("_w", widthCascade)
      .withColumn("_alo", expr("(_av DIV _w) * _w"))
      // mirror negative values: the bucket [alo, alo+w) of |v| becomes
      // [-(alo+w), -alo) on the negative axis — ordering by _lo stays
      // rank-correct across the sign boundary
      .withColumn("_lo",
        when(col(valueCol).cast("long") < 0, -(col("_alo") + col("_w")))
          .otherwise(col("_alo")))
    val buckets = base.groupBy((g :+ col("_lo") :+ col("_w")): _*)
      .agg(count(lit(1)).as("_cnt"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("_lo"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = buckets
      .withColumn("_cb", coalesce(sum(col("_cnt")).over(wCum), lit(0L)))
      .withColumn("_n", sum(col("_cnt")).over(wAll))
    val aggs = specs.map { case (p, nm) =>
      val t = lit(p) * (col("_n") - 1).cast("double")
      val covers = col("_cb") <= t && t < (col("_cb") + col("_cnt")).cast("double")
      max(when(covers,
        col("_lo").cast("double") +
          col("_w").cast("double") * ((t - col("_cb")) / col("_cnt")))).as(nm)
    }
    cum.groupBy(g: _*).agg(aggs.head, aggs.drop(1): _*)
  }

  /** Null-safe equi-join on `keys` keeping the LEFT side's key columns:
    * groupCols may legitimately hold a NULL-keyed group (the engine-wide
    * <=> convention exactInterpolated's restore join already follows) — a
    * plain-equality join would silently drop that group from the output.
    * Aliased because the right side typically derives from the left.
    * Empty keys preserve the bare-join (cross) behavior.
    */
  private def nullSafeJoin(left: DataFrame, right: DataFrame,
                           keys: Seq[String]): DataFrame = {
    if (keys.isEmpty) return left.crossJoin(right)
    val l = left.alias("_nsl")
    val r = right.alias("_nsr")
    val rightVals = right.columns.filterNot(keys.contains)
    l.join(r, keys.map(c => col(s"_nsl.$c") <=> col(s"_nsr.$c")).reduce(_ && _))
      .select(left.columns.toSeq.map(c => col(s"_nsl.$c")) ++
        rightVals.map(c => col(s"_nsr.$c")): _*)
  }

  /** Row-count gate for force-broadcasting pinned (localCheckpointed)
    * group-grain tables: a checkpointed leaf carries no size statistics,
    * so without the hint the planner demotes the join to sort-merge and
    * shuffles the DATA side against a groups-sized table. 1M rows ≈ tens
    * of MB framed — comfortably inside broadcast budgets; genuinely
    * data-sized group domains stay un-hinted.
    */
  private val PinBroadcastRows = 1000000L

  /** Pin a groups-sized derived table: eager localCheckpoint (its lineage
    * is a multi-pass quantile pipeline every downstream consumer would
    * otherwise re-run in full) + the size-gated broadcast hint.
    */
  private def pinSmall(df: DataFrame): DataFrame = {
    // LAZY checkpoint + count (r17 — the CC-loop fusion, guide §1.2): the
    // gate's count() computes and pins every partition in ONE job; the old
    // eager-checkpoint-then-count pair paid a separate materialization job
    // per pin (two pins per madOutliers call).
    val ck = df.localCheckpoint(eager = false)
    if (ck.count() <= PinBroadcastRows) broadcast(ck) else ck
  }

  /** Robust (median / MAD) outlier report per group — the heavy-tail-safe
    * twin of mean/stddev z-scoring (q59): median and the median absolute
    * deviation are immune to the very outliers being counted, so one
    * corrupt burst cannot widen its own acceptance band. Scaled by the
    * standard 1.4826 normal-consistency constant; a value is an outlier
    * outside median ± k·1.4826·MAD.
    *
    * Portability around a knife-edge: the band edges are computed from the
    * ROUND-4 median/MAD (the same 4-dp contract q28 banks on for quantile
    * parity), then one fixed IEEE chain with the k·1.4826 product embedded
    * as a single round-trip literal — so both engines compare every value
    * against bit-identical thresholds, and the outlier COUNTS are under
    * the hash gate, not just the summary stats.
    *
    * Known limit: the values themselves are compared unrounded, so when a
    * group's MAD is 0 the band collapses to [round4(median),
    * round4(median)] and a group whose values all equal one number with
    * more than 4 decimals flags EVERY row (a single row of 2.00025 reports
    * n_outliers = 1 against a 2.0003 band). Both paths and q90's oracle
    * SQL agree on this, and MadOutliersLocalSpec pins it; changing the
    * rule changes that oracle too.
    *
    * Scale: median and MAD need only the distinct (group, value, count)
    * table. One probe builds it (one evaluation of `df`, one
    * map-side-combined aggregate, values cast to double) and
    * [[LocalFold]]'s gate admits it at most `MaxLocalRows` rows, with
    * non-null [[LocalFold.exactKeys]] and finite values; the driver then folds
    * both percentiles with [[exactInterpolated]]'s arithmetic — a few jobs
    * where the distributed plan pays ~40 at any size. Otherwise the
    * distributed twin runs unchanged: two [[exactInterpolated]] passes
    * (value, then |value−median|), each one map-side-combined aggregate
    * with no per-group value collection, two pinned groups-sized tables
    * and broadcast joins. For the 100 TB approximate path swap in
    * [[histogramQuantiles]] medians upstream.
    *
    * Output: (groupCols, n, median, mad, thr_lo, thr_hi, n_outliers).
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Double = 3.0): DataFrame = {
    requireKeys(groupCols)
    val keys = df.select(groupCols.map(col): _*).schema
    val nk = keys.length
    val hist = df.where(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(valueCol).cast("double").as("_madv"): _*)
      .agg(count(lit(1)).as("_madc"))
    val local =
      if (!keys.forall(f => LocalFold.exactKeys(f.dataType))) None
      else LocalFold.rows(hist, MaxLocalRows, r => java.lang.Double.isFinite(r.getDouble(nk)))
        .flatMap(madLocal(_, nk, k))
    local match {
      case Some(rows) =>
        val schema = StructType(keys.fields ++ Seq(
          StructField("n", LongType, nullable = false)) ++
          Seq("median", "mad", "thr_lo", "thr_hi").map(StructField(_, DoubleType)) :+
          StructField("n_outliers", LongType))
        LocalFold.frame(df.sparkSession, rows, schema, schema.map(_.dataType))
      case None => madOutliersDistributed(df, groupCols, valueCol, k)
    }
  }

  /** Distinct (group, value) rows above which [[madOutliers]] runs
    * distributed (the pagerank fold's edge cap). */
  private val MaxLocalRows = 100000

  private def requireKeys(groupCols: Seq[String]): Unit =
    require(groupCols.nonEmpty,
      "madOutliers: groupCols must be non-empty (a global report groups by a literal)")

  /** Median of a value-sorted (value, count) table with Spark's
    * `Percentile.getPercentile` arithmetic — the same floor/ceil ranks,
    * special cases and interpolation [[exactInterpolated]] runs in SQL. */
  private def medianOf(tbl: Seq[(Double, Long)]): Double = {
    val cum = tbl.scanLeft(0L)(_ + _._2).tail
    val position = 0.5 * (cum.last - 1).toDouble
    val lo = math.floor(position).toLong
    val hi = math.ceil(position).toLong
    def at(rank: Long): Double = tbl(cum.indexWhere(rank < _))._1
    val (vf, vc) = (at(lo), at(hi))
    if (lo == hi || vf == vc) vf else (hi - position) * vf + (position - lo) * vc
  }

  /** The driver fold of [[madOutliersDistributed]] over the probe's
    * (keys.., value, count) rows: the same IEEE operations in the same
    * order, round-4 as Catalyst's `round` on doubles. None (fall back)
    * when a deviation overflows, which `BigDecimal` cannot round. */
  private def madLocal(hist: Array[Row], nk: Int, k: Double): Option[Seq[Row]] = {
    val c = k * 1.4826
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sorted(vc: Seq[(Double, Long)]) = vc.sortBy(_._1)(Ordering.Double.TotalOrdering)
    val out = hist.toSeq.groupBy(r => Seq.tabulate(nk)(r.get)).toSeq.map { case (key, rs) =>
      val vc = sorted(rs.map(r => (r.getDouble(nk), r.getLong(nk + 1))))
      val med = medianOf(vc)
      val dev = sorted(vc.groupMapReduce(e => math.abs(e._1 - med))(_._2)(_ + _).toSeq)
      if (dev.last._1.isInfinite) None
      else {
        val medr = r4(med)
        val madr = r4(medianOf(dev))
        val lo = medr - c * madr
        val hi = medr + c * madr
        val nOut = vc.iterator.filter(e => e._1 < lo || e._1 > hi).map(_._2).sum
        Some(Row.fromSeq(key ++ Seq[Any](vc.iterator.map(_._2).sum, medr, madr, lo, hi, nOut)))
      }
    }
    if (out.forall(_.isDefined)) Some(out.flatten) else None
  }

  /** [[madOutliers]]' distributed path, which runs whenever the fold's
    * gate refuses; specs compare the two paths through it. */
  private[graft] def madOutliersDistributed(df: DataFrame, groupCols: Seq[String],
                                            valueCol: String, k: Double = 3.0): DataFrame = {
    requireKeys(groupCols)
    val g = groupCols.map(col)
    val c = k * 1.4826
    // r16 (guide §1.2, §3.1): med and mad are GROUP-GRAIN (one row per
    // group) but their lineages are full chunked-quantile pipelines — and
    // `dev` (df ⋈ med) is itself the input of the second quantile pass, so
    // without pinning, every internal consumer of the second pass re-ran
    // the whole FIRST pipeline (the composed plan re-evaluated the raw
    // scan many times over), and the un-hinted joins planned as
    // SortMergeJoin, shuffling the data side against a handful of rows.
    val med = pinSmall(exactInterpolated(df, groupCols, valueCol, Seq(0.5 -> "_med")))
    val dev = nullSafeJoin(
      df.select((g :+ col(valueCol)): _*).where(col(valueCol).isNotNull),
      med, groupCols)
      .withColumn("_absdev", abs(col(valueCol) - col("_med")))
    val mad = pinSmall(exactInterpolated(dev, groupCols, "_absdev", Seq(0.5 -> "_mad")))
    nullSafeJoin(dev, mad, groupCols)
      .withColumn("_medr", round(col("_med"), 4))
      .withColumn("_madr", round(col("_mad"), 4))
      .withColumn("_lo", col("_medr") - lit(c) * col("_madr"))
      .withColumn("_hi", col("_medr") + lit(c) * col("_madr"))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        min(col("_medr")).as("median"),
        min(col("_madr")).as("mad"),
        min(col("_lo")).as("thr_lo"),
        min(col("_hi")).as("thr_hi"),
        sum(when(col(valueCol) < col("_lo") || col(valueCol) > col("_hi"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** The k·1.4826 scale constant as a round-trip SQL double literal, for
    * oracle generation (same convention as `Sketches.hllNumerSql`).
    */
  def madScaleSql(k: Double): String =
    "%.17E".formatLocal(java.util.Locale.ROOT, k * 1.4826)

  /** Equal-frequency (ntile) binning report: per (group, bin) the row
    * count and the bin's [lo, hi] value range — the feature-engineering
    * discretization that makes every bin equally populated (equal-WIDTH
    * binning is `EventOps.valueHistogram`; equal frequency is what
    * monotonic-feature models and calibration curves want). Ordering is
    * (value, tieCol), so ties split deterministically and identically in
    * any engine; ntile's fill rule (first N mod k bins get the extra row)
    * is SQL-standard and engine-portable.
    *
    * Scale: one group-keyed window (no global sort) then a
    * map-side-combined aggregate to groups × bins rows. Bin EDGES come
    * out as exact min/max pass-throughs of input values — no arithmetic,
    * nothing to round.
    *
    * Output: (groupCols, bin 1..nBins, n, lo, hi).
    */
  def ntileBins(df: DataFrame, groupCols: Seq[String], valueCol: String,
                nBins: Int, tieCol: String): DataFrame = {
    require(nBins >= 2, "need nBins >= 2")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col(valueCol), col(tieCol))
    df.where(col(valueCol).isNotNull)
      .withColumn("bin", ntile(nBins).over(w).cast("long"))
      .groupBy((g :+ col("bin")): _*)
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
  }

  /** Winsorized robust statistics: clip each value to its group's
    * interpolated [lo, hi] percentile band and report raw vs winsorized
    * means — the standard outlier-robust normalization for noisy numeric
    * features (clipping, unlike trimming, keeps n constant).
    *
    * Means follow the repo's decimal-path convention (values rounded to 4,
    * summed as DECIMAL(28,4) — exact, order-independent — then one double
    * division), so they are bit-stable across engines and partitionings.
    * NULL values pass through un-clipped and are excluded from n and both
    * means (matching SQL avg semantics).
    *
    * CUTOFF GRAIN: clipping and `n_clipped` both use the REPORTED band —
    * the percentile cutoffs rounded to 4 decimals — not the raw
    * interpolated doubles. Comparing data against an unrounded
    * interpolated cutoff is a cross-engine knife edge (the round-13 sf1
    * gate caught it: a p05 falling between two EQUAL order statistics is
    * exactly that value here, but an engine interpolating as
    * (1-f)·lo + f·hi accrues a ulp and counts every value tied at the
    * cutoff as clipped — 50 rows in one group at sf1). At the r4 grain
    * both engines agree bit-for-bit (the q90/q127 cutoff discipline);
    * the means are insensitive to the band's sub-r4 placement because
    * each contribution is rounded to r4 before the decimal sum.
    *
    * Scale: the percentile pass is [[exactInterpolated]] (chunked two-phase,
    * no global window); the bands come back as a groups-sized broadcast
    * joined onto the data, and the final aggregate is map-side combined to
    * one row per group.
    *
    * Output: (groupCols, n, p_lo, p_hi, mean_raw, mean_wins, n_clipped).
    */
  def winsorizedStats(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0.0 && hi <= 1.0 && lo < hi, "need 0 <= lo < hi <= 1")
    val g = groupCols.map(col)
    val bands = exactInterpolated(df, groupCols, valueCol,
      Seq(lo -> "_plo", hi -> "_phi"))
    val v = col(valueCol)
    val bLo = round(col("_plo"), 4) // the reported band IS the clip band
    val bHi = round(col("_phi"), 4)
    val wv = when(v < bLo, bLo).when(v > bHi, bHi).otherwise(v)
    def dmean(c: Column): Column =
      round(sum(round(c, 4).cast("decimal(28,4)")).cast("double") / count(v), 6)
    nullSafeJoin(df, broadcast(bands), groupCols)
      .groupBy(g: _*)
      .agg(count(v).as("n"),
        round(min(col("_plo")), 4).as("p_lo"),
        round(min(col("_phi")), 4).as("p_hi"),
        dmean(v).as("mean_raw"),
        dmean(wv).as("mean_wins"),
        sum(when(v < bLo || v > bHi, 1L).otherwise(0L))
          .as("n_clipped"))
  }

  // ---------------------------------------------------------------------
  // Mergeable bottom-k sample quantile sketch
  // ---------------------------------------------------------------------

  /** Mergeable quantile-sketch STATE: per (group, partition) the k rows
    * with the smallest portable hash of their unique id — the
    * persisted-state twin of [[exactInterpolated]], completing the
    * incremental-maintenance pattern `Sketches.kmvState`/`kmvMerge` (q122)
    * established for cardinality: a pipeline lands one small sketch table
    * per day/shard and folds whole-range quantile ESTIMATES later without
    * rescanning history.
    *
    * The sketch is a bottom-k row sample ordered by `(hash(id), id)` — a
    * total order, since ids are unique — so it merges LOSSLESSLY: every
    * row in the global bottom-k is necessarily in its own partition's
    * bottom-k, the same top-k-of-top-k property KMV rests on. Unlike KLL /
    * t-digest the merge is therefore BIT-DETERMINISTIC (no random
    * compaction coin), which is what lets the folded estimates be
    * hash-gated against a SQL oracle. Rank error of a k-uniform sample is
    * O(1/sqrt(k)) with high probability (Vapnik–Chervonenkis sampling
    * bound) — the classical trade against KLL's O(1/k), bought for exact
    * engine-portable determinism; PropertySpec asserts the observed rank
    * error stays under the 3-sigma envelope across seeds.
    *
    * NULL values are filtered before sampling AND counting (mirroring
    * `percentile()` semantics), so `_pn` is the cell's NON-NULL row count.
    *
    * Scale: one exchange on (group, part); the rank and cell-count windows
    * share it. Output ≤ k rows per cell: (groupCols, partCol, _hv, _id,
    * _v, _pn).
    */
  def sampleQuantileState(df: DataFrame, groupCols: Seq[String],
                          partCol: String, idCol: String, valueCol: String,
                          k: Int): DataFrame = {
    require(k >= 2, "need k >= 2")
    val cell = (groupCols :+ partCol).map(col)
    val wRank = Window.partitionBy(cell: _*).orderBy(col("_hv"), col("_id"))
    val wCnt = Window.partitionBy(cell: _*)
    // null ids are dropped with null values: a NULL id hashes to a NULL
    // _hv that sorts FIRST under the ascending rank window, stealing a
    // bottom-k slot from a real row (and the id is the sample's identity —
    // a row without one has no place in an id-keyed sketch)
    df.where(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(cell ++ Seq(Sketches.longHash(col(idCol)).as("_hv"),
        col(idCol).cast("long").as("_id"), col(valueCol).as("_v")): _*)
      .withColumn("_pn", count(lit(1)).over(wCnt))
      .withColumn("_rn", row_number().over(wRank))
      .where(col("_rn") <= k)
      .drop("_rn")
  }

  /** Fold per-partition sample states to whole-range quantile estimates.
    * The re-selected global bottom-k equals the bottom-k of the raw union
    * (lossless merge, see [[sampleQuantileState]]), so the fold touches
    * only sketch rows (≤ partitions × k per group) yet returns exactly
    * what the direct single-pass form (`QuantilesRef.sampleQuantiles`
    * under src/test) computes over the raw data —
    * asserted bit-for-bit by PropertySpec at several partitionings.
    *
    * Output: (groupCols, n_total = exact non-null row count accumulated
    * from the per-cell counts, n_sampled = min(n_total, k), then one
    * column per spec — interpolated percentiles of the SAMPLE via the
    * same [[exactInterpolated]] arithmetic the exact path uses).
    */
  def sampleQuantileMerge(state: DataFrame, groupCols: Seq[String],
                          partCol: String, k: Int,
                          specs: Seq[(Double, String)]): DataFrame = {
    require(k >= 2, "need k >= 2")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("_hv"), col("_id"))
    val sample = state
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
    // each cell's _pn repeats on every retained row; a nonempty cell keeps
    // >= 1 row, so summing one _pn per cell recovers the exact total
    val totals = state.groupBy((g :+ col(partCol)): _*)
      .agg(min(col("_pn")).as("_cn"))
      .groupBy(g: _*).agg(sum(col("_cn")).as("n_total"))
    val counts = sample.groupBy(g: _*).agg(count(lit(1)).as("n_sampled"))
    val quants = exactInterpolated(sample, groupCols, "_v", specs)
    nullSafeJoin(nullSafeJoin(totals, counts, groupCols), quants, groupCols)
  }
}
