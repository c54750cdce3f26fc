package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval joins without a cross product.
  *
  * Spark plans a bare `p.ts >= i.start AND p.ts < i.end` join as
  * BroadcastNestedLoopJoin (or a cartesian product when neither side
  * broadcasts) — O(|points| x |intervals|) comparisons, the first thing
  * that dies at 100 TB. This operator turns the range predicate into an
  * EQUI-join: both sides are mapped to fixed-width chunks of the join
  * dimension — each interval explodes to every chunk it overlaps, each
  * point maps to exactly ONE chunk — the join runs hash-partitioned on
  * (keys, chunk), and the original interval predicate filters residually.
  * Because a point owns a single chunk, every matching (point, interval)
  * pair meets in exactly one chunk: no duplicate emission, no distinct.
  *
  * Cost model: shuffle is data-sized on both sides (the equi-join's
  * unavoidable exchange; co-partition or broadcast upstream where
  * applicable) and the interval side inflates by its mean span in chunks.
  * Pick `chunkWidth` on the order of the TYPICAL interval length: intervals
  * then span <= 2 chunks (inflation ~2x) while each chunk's point bucket
  * stays narrow. A pathological chunk — one that most intervals overlap —
  * concentrates a reducer exactly like any hot equi-join key; the standard
  * mitigations ([[Skew.saltedJoin]] on the chunk key, or AQE skew-join over
  * the same plan) apply unchanged because the join IS an equi-join.
  *
  * Chunk ids use integer `DIV`, never double division: at nanosecond
  * magnitudes (~1.7e18) a double has too few mantissa bits to place a value
  * in its chunk exactly, and one misassigned boundary row would silently
  * drop a match.
  */
object RangeJoin {

  /** Join `points` (numeric column `ptCol`) to `intervals` rows whose
    * half-open range [`startCol`, `endCol`) contains the point, optionally
    * also matching equi-`keys` present on both sides. Output: one row per
    * (point, containing interval) with the columns of both inputs (minus
    * the internal chunk id). All three range columns must be the same
    * numeric unit (e.g. epoch nanos); values must be non-negative
    * (DIV truncates toward zero, not floor).
    */
  def pointInInterval(points: DataFrame, ptCol: String,
                      intervals: DataFrame, startCol: String, endCol: String,
                      chunkWidth: Long, keys: Seq[String] = Nil): DataFrame = {
    require(chunkWidth > 0, "chunkWidth must be positive")
    // every chunk the interval overlaps: [start DIV w, (end-1) DIV w]
    // (end exclusive, so the last contained value is end-1)
    val iv = intervals
      .withColumn("_chunk", explode(sequence(
        expr(s"`$startCol` DIV ${chunkWidth}L"),
        expr(s"(`$endCol` - 1) DIV ${chunkWidth}L"))))
      .where(col(startCol) < col(endCol)) // empty intervals match nothing
    val pt = points.withColumn("_chunk", expr(s"`$ptCol` DIV ${chunkWidth}L"))
    pt.join(iv, keys :+ "_chunk")
      .where(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop("_chunk")
  }

  /** Interval-overlap join: pairs of (left interval, right interval) whose
    * half-open ranges have a NONEMPTY intersection — aStart < bEnd AND
    * bStart < aEnd, restricted to non-empty intervals. (For non-empty
    * intervals that inequality IS nonempty intersection; an empty [s, s)
    * interval is the empty set and overlaps nothing, so it is dropped —
    * note the bare inequality alone would call an empty interval strictly
    * inside another "overlapping".) Same chunked equi-join shape as
    * [[pointInInterval]], except BOTH sides explode to their overlapped
    * chunks; a pair can now meet in several chunks, so the pair is kept
    * only where the overlap's first chunk equals the join chunk —
    * uniqueness by arithmetic, not a distinct.
    */
  def intervalOverlap(left: DataFrame, lStart: String, lEnd: String,
                      right: DataFrame, rStart: String, rEnd: String,
                      chunkWidth: Long): DataFrame = {
    require(chunkWidth > 0, "chunkWidth must be positive")
    def chunked(df: DataFrame, s: String, e: String): DataFrame = df
      .withColumn("_chunk", explode(sequence(
        expr(s"`$s` DIV ${chunkWidth}L"),
        expr(s"(`$e` - 1) DIV ${chunkWidth}L"))))
      .where(col(s) < col(e))
    val a = chunked(left, lStart, lEnd)
    val b = chunked(right, rStart, rEnd)
    // the overlap's first chunk: both intervals contain it, so both sides
    // exploded a row for it — the pair's unique meeting point
    val overlapStartChunk =
      expr(s"greatest(`$lStart`, `$rStart`) DIV ${chunkWidth}L")
    a.join(b, Seq("_chunk"))
      .where(col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
        col("_chunk") === overlapStartChunk)
      .drop("_chunk")
  }
}
