package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed forward/backward non-null fill WITHOUT a global window.
  *
  * The naive fill is `last(v, ignoreNulls) OVER (ORDER BY ts)`; with no
  * partition key Spark moves the whole series into ONE partition (the
  * "No Partition Defined" WindowExec), which serializes at scale. This is the
  * classic two-phase parallel scan instead:
  *
  *   1. fill within coarse time chunks — a window partitioned by
  *      (keys, chunk), so chunks fill in parallel;
  *   2. compute one summary row per (keys, chunk) — the chunk's last
  *      (resp. first) non-null value per column — and resolve each chunk's
  *      carry-in with a tiny window over the summaries (nearest previous /
  *      next chunk with a value), partitioned by `keys`;
  *   3. final value = coalesce(within-chunk fill, carried value).
  *
  * Output is bit-identical to the global-window fill; wall-clock scales with
  * the number of chunks. The summary frame is one row per (keys, chunk), so
  * the carry window sorts #chunks rows per key group — negligible against
  * the data scan even for decades of daily chunks.
  *
  * Execution-shape notes (these were measured, not guessed):
  *  - Backward fill is a DESC-ordered running frame, not an ascending
  *    `(currentRow, unboundedFollowing)` frame: Spark's
  *    UnboundedFollowingWindowFunctionFrame re-evaluates the aggregate from
  *    each row to the partition end — O(n²) per chunk — while the reversed
  *    running frame is O(n). Both directions share the chunk partitioning,
  *    so the desc window chains in the SAME stage as the asc one (an extra
  *    SortExec, no extra Exchange).
  *  - The carry-in is a window over the per-chunk summary, not the earlier
  *    O(#chunks²) non-equi self-join: one row per chunk, running
  *    last/first-non-null picks the nearest contributing chunk in O(#chunks).
  */
object Fill {

  /** Forward-fill `cols` (last non-null wins) ordered by the `ts` column
    * within `keys` groups. `ts` must be unique per key group (a
    * resample/grid output is). `chunkSeconds` is in `ts` cast to long
    * (seconds).
    */
  def ffill(df: DataFrame, cols: Seq[String], keys: Seq[String] = Nil,
            chunkSeconds: Long = 86400L): DataFrame =
    biFill(df, cols, Nil, keys, chunkSeconds)

  /** Backward-fill `cols` (next non-null wins) ordered by `ts`, over the
    * whole frame.
    */
  def bfill(df: DataFrame, cols: Seq[String], chunkSeconds: Long = 86400L): DataFrame =
    biFill(df, Nil, cols, Nil, chunkSeconds)

  /** Forward-fill `fcols` AND backward-fill `bcols` in one two-phase pass.
    * `ts` must be unique per key group unless a `tie` column makes (ts, tie)
    * unique, e.g. AsofJoin's side tag. With a tie column, at most ONE row
    * per equal-(keys, ts) set may carry a non-null fill value (true for
    * every as-of shape: only the ctx side is non-null, and ctx timestamps
    * are unique per key) — the phase-2 carry summaries pick the boundary
    * donor by struct min/max, which at equal ts resolves backward ties
    * toward the SMALLEST tie while the in-chunk desc traversal resolves
    * toward the largest; with a single donor per ts the two agree and the
    * global-window bit-equality holds.
    */
  def biFill(df: DataFrame, fcols: Seq[String], bcols: Seq[String],
             keys: Seq[String] = Nil,
             chunkSeconds: Long = 86400L, tie: Option[String] = None): DataFrame = {
    require(fcols.nonEmpty || bcols.nonEmpty, "no columns to fill")
    val dirs: Seq[(String, Boolean)] = fcols.map(_ -> false) ++ bcols.map(_ -> true)
    val withChunk = df.withColumn("_chunk",
      floor(col("ts").cast("long") / chunkSeconds).cast("long"))
    // tie semantics: at equal ts, SMALLER tie is the donor and is visible
    // to larger-tie rows in BOTH traversal directions (ascending for
    // forward fill, descending for backward fill) — which is exactly what
    // an as-of join needs for exact-timestamp matches in either direction.
    // Hence tie sorts ASC in the desc traversal too.
    val ordAsc = col("ts") +: tie.map(col).toSeq
    val ordDesc = col("ts").desc +: tie.map(col(_).asc).toSeq

    // phase 1: within-chunk fill (parallel across (keys, chunk)). Forward
    // cols run on the ascending order; backward cols on the fully REVERSED
    // order, where "next non-null" becomes a running last() — same stage,
    // one extra in-partition sort, no O(n²) unboundedFollowing frame.
    val partCols = (keys :+ "_chunk").map(col)
    val partAsc = Window.partitionBy(partCols: _*).orderBy(ordAsc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partDesc = Window.partitionBy(partCols: _*).orderBy(ordDesc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = dirs.foldLeft(withChunk) { case (d, (c, backward)) =>
      val frame = if (backward) partDesc else partAsc
      d.withColumn(s"_loc_$c", last(col(c), ignoreNulls = true).over(frame))
    }

    // phase 2: per-chunk boundary summaries -> carry-in per chunk.
    // summary value = the chunk's last (first) non-null per column, picked
    // with a struct max/min ordered by ts (null when the chunk has none).
    val sumAggs = dirs.map { case (c, backward) =>
      val ordFields = (col("ts").as("t") +: tie.map(t => col(t).as("t2")).toSeq) :+ col(c).as("v")
      val tagged = when(col(c).isNotNull, struct(ordFields: _*))
      (if (backward) min(tagged) else max(tagged)).as(s"_s_$c")
    }
    val summary = withChunk.groupBy((keys :+ "_chunk").map(col): _*)
      .agg(sumAggs.head, sumAggs.tail: _*)
    // nearest contributing chunk per column: a running last-non-null over
    // the summaries STRICTLY BEFORE (after, for backward) the current chunk.
    // One row per (keys, chunk), so this window is tiny; NULL key values are
    // ordinary partition values here, preserving the <=> group semantics of
    // the global-window form.
    val carryKeys = if (keys.isEmpty) Seq(lit(1).as("_g")) else keys.map(col)
    val cAsc = Window.partitionBy(carryKeys.map(c => c): _*).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cDesc = Window.partitionBy(carryKeys.map(c => c): _*).orderBy(col("_chunk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = dirs.foldLeft(summary) { case (d, (c, backward)) =>
      val frame = if (backward) cDesc else cAsc
      d.withColumn(s"_carry_$c",
        last(col(s"_s_$c"), ignoreNulls = true).over(frame).getField("v"))
    }.select(keys.map(c => col(c).as(s"_ck_$c")) ++ (col("_chunk").as("_cchunk") +:
      dirs.map { case (c, _) => col(s"_carry_$c") }): _*)

    // phase 3: stitch. carry is one row per (keys, chunk). Unkeyed, that is
    // provably tiny (#chunks rows) — force the broadcast so a planner
    // misestimate can never shuffle the data side. Keyed, cardinality grows
    // with #keys x #chunks (1M symbols x years would OOM a forced
    // broadcast), so let AQE pick broadcast vs shuffle from actual sizes.
    val carrySide = if (keys.isEmpty) broadcast(carry) else carry
    val stitchCond = keys.map(c => local(c) <=> col(s"_ck_$c"))
      .foldLeft(local("_chunk") === col("_cchunk"))(_ && _)
    val joined = local.join(carrySide, stitchCond, "left")
    dirs.foldLeft(joined) { case (d, (c, _)) =>
      d.withColumn(c, coalesce(col(s"_loc_$c"), col(s"_carry_$c")))
        .drop(s"_loc_$c", s"_carry_$c")
    }.drop("_chunk" +: "_cchunk" +: keys.map(c => s"_ck_$c"): _*)
  }
}
