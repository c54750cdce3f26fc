package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream temporal enrichment — the streaming twin of
  * [[graft.ops.RangeJoin.pointInInterval]].
  *
  * Batch range joins see both sides whole; a stream sees each side as it
  * arrives and must bound how much of the other side it retains. Structured
  * Streaming does that from the JOIN CONDITION itself: with a watermark on
  * both event-time columns and a two-sided time-range predicate, the state
  * store keeps only opener rows whose window can still match a future point
  * (point watermark < open + window) and only point rows that can still
  * match a late opener — O(arrival rate x window), never O(stream).
  *
  * The same condition-shape rules from the batch operator apply: the range
  * predicate must bound BOTH directions (`pt >= open` and `pt < open +
  * window`), otherwise Spark cannot derive a state eviction bound for one
  * side and state grows without limit — the streaming equivalent of the
  * batch cross product.
  */
object EnrichStream {

  /** Pair every point row with every opener row of the same `keys` whose
    * half-open window [openTs, openTs + windowSeconds) contains the point's
    * `ptsTs`. Both inputs must be streaming DataFrames with TIMESTAMP
    * event-time columns, each with a 1-minute watermark (late-data
    * allowance). Output carries the columns of both sides (keys once).
    *
    * The join carries the SAME chunk equi-key as the batch operator
    * ([[graft.ops.RangeJoin.pointInInterval]]): each opener explodes to the
    * (at most 2, since chunk width == window) chunks its window overlaps,
    * each point owns exactly one chunk, so every matching pair meets in one
    * chunk — no duplicate emission. Structured Streaming REQUIRES an
    * equality predicate in a stream-stream join (a pure time-range join is
    * rejected), so the chunk key is what makes the keyless form legal at
    * all; with `keys` it additionally sharpens the state-store hash
    * partitioning from (keys) to (keys, chunk). Chunk ids use integer DIV
    * on unix_micros, mirroring the batch operator's no-double-division rule.
    */
  def pointsInWindows(points: DataFrame, ptsTs: String,
                      opens: DataFrame, openTs: String,
                      windowSeconds: Long, keys: Seq[String]): DataFrame = {
    require(windowSeconds > 0, "windowSeconds must be positive")
    require(ptsTs != openTs,
      "rename one of the event-time columns: both sides in one output")
    // the join key below is materialized as a `_chunk` working column on
    // both inputs; an input already carrying one would be silently
    // overwritten and then dropped from the output
    require(!points.columns.contains("_chunk") && !opens.columns.contains("_chunk"),
      "inputs must not carry a `_chunk` column (reserved working name)")
    val cwMicros = windowSeconds * 1000000L
    val p = points.withWatermark(ptsTs, "1 minute")
      .withColumn("_chunk", expr(s"unix_micros(`$ptsTs`) DIV ${cwMicros}L"))
    val o = opens.withWatermark(openTs, "1 minute")
      .withColumn("_chunk", explode(sequence(
        expr(s"unix_micros(`$openTs`) DIV ${cwMicros}L"),
        expr(s"(unix_micros(`$openTs`) + ${cwMicros}L - 1) DIV ${cwMicros}L"))))
    val cond = ((p("_chunk") === o("_chunk")) +:
      keys.map(k => p(k) === o(k)) :+
      (p(ptsTs) >= o(openTs)) :+
      (p(ptsTs) < o(openTs) + expr(s"INTERVAL $windowSeconds SECONDS")))
      .reduce(_ && _)
    keys.foldLeft(p.join(o, cond, "inner")) { (d, k) => d.drop(o(k)) }
      .drop("_chunk")
  }
}
