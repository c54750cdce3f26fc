package graft.ops

import graft.functions.ZOrderBits
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional file-layout clustering (the lakehouse OPTIMIZE
  * ZORDER): rewrite a table so rows close in SEVERAL columns land in the
  * same files.
  *
  * Why it matters at 100 TB: parquet scans prune on per-file / per-row-group
  * min/max statistics. A table sorted by (a, b) prunes perfectly on `a` but
  * not at all on `b` — every file's b-range spans the whole domain. Sorting
  * by the Morton interleave of (a, b) bounds EACH file in a small rectangle
  * of (a, b) space, so a predicate on either column (or a box on both)
  * skips most files without any index structure. This composes with the
  * engine's pushdown discipline: the same `PushedFilters` that reach the
  * scan now actually eliminate I/O.
  *
  * Normalization: Z-order needs both inputs in [0, 2^31). `normalize`
  * range-scales a numeric column given its (min, max) bounds — callers pass
  * bounds they know (partition ranges, schema domains) or take them from
  * one tiny min/max aggregate, which is O(data) map-side work and one
  * 1-row result, never a shuffle of the data itself.
  */
object Layout {

  /** Range-normalize `c` from [lo, hi] to [0, 2^bits): a pure per-row
    * expression. Values outside the bounds clamp to the edges (stats stay
    * correct — clamping only affects placement, never query results).
    */
  def normalize(c: Column, lo: Double, hi: Double, bits: Int = 31): Column = {
    require(bits > 0 && bits <= 31, "bits must be in 1..31")
    require(hi > lo, "hi must exceed lo")
    val cells = (1L << bits) - 1
    val scaled = (c.cast("double") - lo) / (hi - lo) * cells
    least(lit(cells), greatest(lit(0L), round(scaled, 0).cast("long")))
  }

  /** The Z-address of two normalized [0, 2^31) coordinates. */
  def zorder(a: Column, b: Column): Column = ZOrderBits.zorder(a, b)

  /** Per-dimension coordinate resolution for an N-way Z-address
    * ([[zorderN]]): 31 bits for 2 dims, 15 for 3-4, 7 for 5-8. The budget
    * halves per tree level so every intermediate interleave fits the 2-way
    * kernel's 31-bit operand window and the final address stays positive
    * in 63 bits. Even 7 bits = 128 cells/dim is far above any realistic
    * file count, so the per-FILE bounding-box property is unaffected.
    */
  def bitsForDims(n: Int): Int = {
    require(n >= 2 && n <= 8, "zorderN supports 2-8 dimensions")
    val levels = 32 - Integer.numberOfLeadingZeros(n - 1) // ceil(log2 n)
    31 >> (levels - 1)
  }

  /** N-dimensional Z-address composed from the 2-way magic-mask kernel as a
    * balanced binary tree. The tree must interleave EQUAL bit widths at
    * every level — passing an odd dimension up unchanged would park its
    * bits in the low positions of the final address, where they never
    * influence file placement (verified the hard way: the 3-dim naive tree
    * leaves the odd dimension completely unbounded per partition). So the
    * dimension list is zero-padded to the next power of two first; with the
    * pairing (d0,d2)(d1,d3)… the result is exactly the Morton interleave
    * bit 4i → d0_i, 4i+1 → d1_i, 4i+2 → d2_i, … with zero dims contributing
    * permanent 0 bits (wasted positions, not wrong ones). Inputs must be
    * normalized to [0, 2^bitsForDims(n)) ([[normalize]] with that bits).
    */
  def zorderN(cols: Seq[Column]): Column = {
    require(cols.size >= 2 && cols.size <= 8, "zorderN supports 2-8 dimensions")
    val p = Integer.highestOneBit(cols.size * 2 - 1) // next power of two
    var level: Seq[Column] = cols ++ Seq.fill(p - cols.size)(lit(0L))
    while (level.size > 1) {
      val half = level.size / 2
      // pair element i with i+half: keeps original dims in ascending bit
      // significance within each interleaved level (Morton order)
      level = (0 until half).map(i => ZOrderBits.zorder(level(i), level(i + half)))
    }
    level.head
  }

  /** Cluster `df` for writing: range-repartition then sort within
    * partitions by the Z-address of (colA, colB), each normalized by its
    * given bounds. Downstream `.write.parquet` then produces one file per
    * partition whose (colA, colB) bounding box is small — the property the
    * scan pruner exploits. Bounds are caller-supplied so the plan stays a
    * single pass; get them from `df.agg(min, max)` when unknown.
    */
  def zorderedBy(df: DataFrame, colA: String, aLo: Double, aHi: Double,
                 colB: String, bLo: Double, bHi: Double,
                 partitions: Int): DataFrame = {
    val z = zorder(normalize(col(colA), aLo, aHi), normalize(col(colB), bLo, bHi))
    df.withColumn("_z", z)
      .repartitionByRange(partitions, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Partition count sized from the input, not caller magic: the optimizer's
    * `sizeInBytes` estimate (for parquet scans: file bytes scaled by the
    * filter/projection selectivity already in the plan) divided by the target
    * on-disk file size. Driver-side plan inspection only — no job runs. The
    * estimate is of INPUT bytes; re-encoded zstd parquet output is usually
    * smaller, so the derived count leans toward files under `targetFileBytes`
    * rather than over — the right side to miss on (row-group pruning still
    * works; oversized files straddle more query boxes).
    */
  def partitionsFor(df: DataFrame, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Plans with no computable stats report spark.sql.defaultSizeInBytes
    // (Long.MaxValue by default) — a sentinel, not an estimate. Sizing from
    // it would saturate the cap and request a ~1M-partition range shuffle,
    // so fall back to the cluster's parallelism instead.
    val unknown = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (est >= unknown)
      math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    else
      ((est + targetFileBytes - 1) / targetFileBytes)
        .max(BigInt(1)).min(BigInt(1 << 20)).toInt
  }

  /** [[zorderedBy]] with the partition count derived from data size
    * ([[partitionsFor]]) instead of a caller-supplied constant. 128 MiB
    * default target matches the usual parquet file-size sweet spot.
    */
  def zorderedBy(df: DataFrame, colA: String, aLo: Double, aHi: Double,
                 colB: String, bLo: Double, bHi: Double,
                 targetFileBytes: Long = 128L << 20): DataFrame =
    zorderedBy(df, colA, aLo, aHi, colB, bLo, bHi,
      partitionsFor(df, targetFileBytes))

  /** N-dimensional [[zorderedBy]]: cluster by the [[zorderN]] address of
    * `dims` = (column, lo, hi) triples, partition count from
    * [[partitionsFor]]. The 2-column overload remains the common case;
    * this is the OPTIMIZE ZORDER BY (a, b, c, ...) form.
    */
  def zorderedByDims(df: DataFrame, dims: Seq[(String, Double, Double)],
                     targetFileBytes: Long = 128L << 20): DataFrame = {
    val bits = bitsForDims(dims.size)
    val z = zorderN(dims.map { case (c, lo, hi) => normalize(col(c), lo, hi, bits) })
    df.withColumn("_z", z)
      .repartitionByRange(partitionsFor(df, targetFileBytes), col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

}
