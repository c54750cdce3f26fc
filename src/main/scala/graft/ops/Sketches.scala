package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.ShiftLeft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Probabilistic sketches for 100 TB pipelines: KMV distinct-count,
  * count-min frequency, and a bloom membership filter.
  *
  * At scale the exact forms of these questions are expensive or impossible
  * to co-locate: `count(DISTINCT user)` shuffles every distinct key,
  * per-key frequency tables are data-sized, and "is this shingle in the
  * eval set" needs the whole eval-set on every executor. Each sketch here
  * compresses the answer into a bounded structure (k values, depth×width
  * cells, m bits) that map-side-combines or broadcasts for free.
  *
  * All hashing is the same portable polynomial/multiplicative arithmetic
  * used across graft (mod P = 1e9+7, see [[Dedup.P]]) — never
  * engine-internal xxhash64 — so every estimate is bit-reproducible in any
  * engine, including the DuckDB oracle: the estimates themselves are under
  * the hard correctness gate, not just "close enough".
  *
  * Scale design:
  *  - KMV: one distinct on (group, hash) then a per-group top-k window that
  *    plans as WindowGroupLimit — every map task pre-trims to its local
  *    k smallest hashes before the shuffle, so the shuffle carries
  *    O(groups × k), not O(distinct values).
  *  - count-min: the only shuffle is keyed on (row, cell) — at most
  *    4 × width distinct keys, so map-side combine collapses each
  *    partition's contribution to a bounded partial no matter how many
  *    input rows (or how skewed the keys). The finished sketch is
  *    4 × width rows and broadcasts for estimate joins.
  *  - bloom: the bit array is fixed-size (BloomBits), built with one bounded
  *    aggregation (bit_or over ≤ BloomBits/64 word rows) and carried to the
  *    probe side as a literal array inside codegen — membership tests are
  *    pure per-row expression work, no join, no shuffle.
  */
object Sketches {

  val P: Long = Dedup.P

  /** Portable 64-bit-safe hash of a long key into [0, P). Same shape as
    * [[Corpus.idHash]]: mod-P FIRST so the multiply cannot overflow.
    */
  def longHash(c: Column, a: Long = 2654435761L, b: Long = 11L): Column =
    (pmod(c.cast("long"), lit(P)) * a + b) % P

  /** Deterministic per-row mixing constants, shared with MinHash/LSH so the
    * oracle SQL can be generated from the same values.
    */
  def mixConsts(k: Int): Seq[(Long, Long)] = Dedup.mixConsts(k)

  // ---------------------------------------------------------------------
  // KMV (k-minimum-values) distinct-count estimate
  // ---------------------------------------------------------------------

  /** Per-group distinct-count estimate from the k smallest hash values.
    *
    * If a group has fewer than k distinct hashes the estimate is the exact
    * distinct count (the sketch has seen everything); otherwise the
    * classic KMV estimator (k-1) * P / kth_min — integer division on
    * integer-exact inputs, so the output is bit-identical across engines.
    *
    * Output: (groupCol, n_seen = min(count, k), kth = max retained hash,
    * est_distinct). One distinct-shuffle on (group, hash) and one
    * WindowGroupLimit-pruned top-k — the final shuffle carries only
    * O(groups × k) rows.
    */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("_hv"))
    // NULL values carry no identity to count — countDistinct ignores them,
    // and so does every sketch here. Without the filter a NULL hash sorts
    // FIRST under the ascending top-k window (stealing a sketch slot and
    // inflating n_seen by a value that does not exist); the streaming twin
    // would outright crash its non-nullable encoder field.
    df.where(col(valueCol).isNotNull)
      .select(col(groupCol), longHash(col(valueCol)).as("_hv"))
      .distinct()
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_seen"), max(col("_hv")).as("kth"))
      .select(col(groupCol), col("n_seen"), col("kth"),
        when(col("n_seen") < k, col("n_seen"))
          .otherwise(expr(s"${(k - 1).toLong * P}L DIV kth"))
          .as("est_distinct"))
  }

  /** Mergeable KMV sketch TABLE: the k smallest distinct value-hashes per
    * (group, partition) — the stored form of [[kmvDistinct]], one row per
    * retained hash (≤ k per cell). This is the shape an incremental
    * pipeline persists per day/shard and folds later, instead of
    * rescanning history.
    */
  def kmvState(df: DataFrame, groupCol: String, partCol: String,
               valueCol: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val w = Window.partitionBy(col(groupCol), col(partCol)).orderBy(col("_hv"))
    df.where(col(valueCol).isNotNull) // see kmvDistinct's null contract
      .select(col(groupCol), col(partCol), longHash(col(valueCol)).as("_hv"))
      .distinct()
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select(col(groupCol), col(partCol), col("_hv"))
  }

  /** Fold per-partition KMV states to group-level estimates. BIT-IDENTICAL
    * to [[kmvDistinct]] over the raw union, by construction: every hash in
    * the global k smallest is necessarily in its own partition's k
    * smallest, so re-selecting the k smallest of the union of partition
    * sketches loses nothing — the lossless-merge property that makes KMV a
    * real sketch rather than a sample. The fold touches only sketch rows
    * (≤ partitions × k per group), never the raw data.
    */
  def kmvMerge(state: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("_hv"))
    state.select(col(groupCol), col("_hv"))
      .distinct() // the same hash survives in many partition sketches
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_seen"), max(col("_hv")).as("kth"))
      .select(col(groupCol), col("n_seen"), col("kth"),
        when(col("n_seen") < k, col("n_seen"))
          .otherwise(expr(s"${(k - 1).toLong * P}L DIV kth"))
          .as("est_distinct"))
  }

  // ---------------------------------------------------------------------
  // HyperLogLog distinct-count estimate
  // ---------------------------------------------------------------------

  /** HLL precision: m = 2^10 registers, read by the batch and streaming
    * faces and by the oracle's [[hllNumerSql]].
    */
  private[graft] val HllP = 10

  /** Per-group HyperLogLog distinct-count estimate (Flajolet, Fusy,
    * Gandouet & Meunier 2007) — the register-merge complement to
    * [[kmvDistinct]].
    *
    * KMV still needs one distinct-shuffle on (group, hash); HLL needs no
    * distinct pass at all. Registers are MAX-aggregates, so duplicates are
    * absorbed by map-side combine and the one shuffle carries at most
    * groups × m register partials regardless of input size or key skew —
    * and per-partition sketches merge by element-wise max without
    * rescanning, which is what makes HLL the standard 100 TB distinct
    * counter (and why [[graft.streaming.SketchStream]]-style incremental
    * maintenance is free: state = m bytes per group).
    *
    * Portable arithmetic — the estimate is under the hard oracle gate, not
    * "close enough". HLL needs geometric bit statistics, which the shared
    * affine [[longHash]] alone cannot supply (an affine image of
    * sequential keys is an arithmetic progression mod P — KMV's order
    * statistics survive that; leading-zero counts do not), and [0, P) is
    * not a power-of-two domain (P ≈ 0.93·2^30), which alone biases the raw
    * estimator high by ~7%. So, all in exact int64 arithmetic on BOTH
    * engines:
    *  1. h = [[longHash]](v) ∈ [0, P);
    *  2. g = (h·h mod P · a + b) mod P — one NON-LINEAR (squaring) mix;
    *     max intermediate (P-1)·a ≈ 2.7e18 < 2^63;
    *  3. g2 = (g << 33) div P ∈ [0, 2^33) — exact multiply-shift rescale
    *     onto a full power-of-two domain (g·2^33 ≤ 8.6e18 < 2^63);
    *  4. bucket = g2 mod m; suffix = g2 div m ∈ [0, 2^w), w = 33 - HllP;
    *     rho = (leading zeros of the w-bit suffix) + 1
    *         = (w+1) - length(bin(suffix)), EXACT via the binary-string
    *     length — never log2, whose last ulp differs across libm builds.
    * The indicator sum Z = Σ 2^(-M_j) is carried as the exact integer
    * z_scaled = Σ 2^(K - M_j) (K = w + 1; bounded by m·2^K = 2^34, fits a
    * long), so the only floating-point op in the estimator is ONE
    * correctly-rounded IEEE division (+ exact floor) — bit-identical in
    * any IEEE-754 engine, the DuckDB oracle included. Measured error on
    * sequential-id workloads: 0.3–6% for n ≥ 2.5m, right at the
    * 1.04/sqrt(m) ≈ 3.3% theoretical standard error.
    *
    * Deliberately NO small-range (linear-counting) correction: it needs
    * ln(), which is not bit-portable, and below ~2.5m distinct values
    * [[kmvDistinct]] is simply EXACT (n_seen < k) — use that instead.
    * Alpha is the standard m ≥ 128 constant 0.7213 / (1 + 1.079/m).
    *
    * Output: (groupCol, n_buckets_hit, z_scaled, est_distinct).
    */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val m = 1 << HllP
    val w = 33 - HllP
    val kMax = w + 1
    // see kmvDistinct's null contract: a NULL value would register a
    // phantom NULL bucket (counted in n_buckets_hit, absent from _zhit),
    // skewing the estimate for a value that does not exist
    df.where(col(valueCol).isNotNull)
      .select(col(groupCol), longHash(col(valueCol)).as("_h"))
      .select(col(groupCol),
        expr(s"shiftleft((_h * _h % ${P}L * 2654435761L + 11L) % ${P}L, 33)" +
          s" DIV ${P}L").as("_g"))
      .select(col(groupCol), (col("_g") % m).as("_bkt"),
        shiftright(col("_g"), HllP).as("_sfx"))
      .withColumn("_rho",
        when(col("_sfx") === 0L, lit(kMax))
          .otherwise(lit(kMax) - length(bin(col("_sfx")))))
      .groupBy(col(groupCol), col("_bkt"))
      .agg(max(col("_rho")).as("_reg"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_buckets_hit"),
        sum(shl1(lit(kMax) - col("_reg"))).as("_zhit"))
      .withColumn("z_scaled",
        col("_zhit") + (lit(m.toLong) - col("n_buckets_hit")) * lit(1L << kMax))
      .select(col(groupCol), col("n_buckets_hit"), col("z_scaled"),
        floor(lit(hllNumer) / col("z_scaled")).cast("long").as("est_distinct"))
  }

  /** The constant numerator alpha_m · m² · 2^K of the HLL estimator, as a
    * double built with a FIXED chain of correctly-rounded IEEE ops so the
    * oracle can reproduce it bit-for-bit from its %.17E rendering (see
    * [[hllNumerSql]]).
    */
  def hllNumer: Double = {
    val m = 1 << HllP
    0.7213 / (1.0 + 1.079 / m) * m.toDouble * m.toDouble *
      (1L << (33 - HllP + 1)).toDouble
  }

  /** SQL double literal (E-notation, 17 significant digits — guaranteed
    * round-trip) of [[hllNumer]] for oracle generation.
    */
  def hllNumerSql: String =
    "%.17E".formatLocal(java.util.Locale.ROOT, hllNumer)

  // ---------------------------------------------------------------------
  // KMV set-overlap (intersection / Jaccard) estimate
  // ---------------------------------------------------------------------

  /** Pairwise set-overlap estimates between every two groups' distinct
    * value sets, from the same k-minimum-values sketches [[kmvDistinct]]
    * keeps — the theta-sketch set-operation pattern (Dasgupta et al.,
    * "Theta-Sketch Framework", 2016) on KMV state: "how many users do
    * event types A and B share" without ever joining the raw sets.
    *
    * Estimator: merge two groups' sketches and re-truncate to the k
    * smallest — lossless for KMV, so this IS the union's sketch; its kth
    * value theta gives est_union = (k-1)·P/theta, and the fraction rho =
    * n_common/k of union-sketch members present in BOTH input sketches is
    * an unbiased Jaccard estimate, so est_intersection = n_common ·
    * est_union / k (floored integer arithmetic end to end — the estimates
    * are hash-gate portable). When the union sketch holds fewer than k
    * hashes both inputs were exhaustive and every output is EXACT —
    * same contract as [[kmvDistinct]]'s small-side exactness.
    *
    * Scale: one distinct-shuffle on (group, hash) — the only data-sized
    * stage, shared with [[kmvDistinct]]; per-group top-k plans as
    * WindowGroupLimit so the sketch table is O(groups × k) rows. The pair
    * stage (group-pair generation + merged re-rank) touches only sketch
    * rows: O(groups² × k), documented like the pair-correlation join —
    * thousands of groups are fine, data size is irrelevant to it.
    *
    * Output: (g1, g2 [g1 < g2], n_union_seen, theta, n_common,
    * est_union, est_intersection) per unordered group pair.
    */
  def kmvOverlap(df: DataFrame, groupCol: String, valueCol: String,
                 k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val w = Window.partitionBy(col("_g")).orderBy(col("_hv"))
    val sk = df.where(col(valueCol).isNotNull) // kmvDistinct's null contract
      .select(col(groupCol).cast("string").as("_g"),
        longHash(col(valueCol)).as("_hv"))
      .distinct()
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .drop("_rn")
    val groups = sk.select(col("_g")).distinct()
    // unordered group pairs — a groups²-bounded cartesian, never data-sized
    val pairs = groups.select(col("_g").as("g1"))
      .crossJoin(groups.select(col("_g").as("g2")))
      .where(col("g1") < col("g2"))
    val side1 = pairs.join(sk.withColumnRenamed("_g", "g1"), Seq("g1"))
      .select(col("g1"), col("g2"), col("_hv"), lit(1).as("_s1"), lit(0).as("_s2"))
    val side2 = pairs.join(sk.withColumnRenamed("_g", "g2"), Seq("g2"))
      .select(col("g1"), col("g2"), col("_hv"), lit(0).as("_s1"), lit(1).as("_s2"))
    val wp = Window.partitionBy(col("g1"), col("g2")).orderBy(col("_hv"))
    side1.union(side2)
      .groupBy(col("g1"), col("g2"), col("_hv"))
      .agg(max(col("_s1")).as("_in1"), max(col("_s2")).as("_in2"))
      .withColumn("_rn", row_number().over(wp))
      .where(col("_rn") <= k)
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_union_seen"), max(col("_hv")).as("theta"),
        sum(col("_in1") * col("_in2")).cast("long").as("n_common"))
      .withColumn("est_union",
        when(col("n_union_seen") < k, col("n_union_seen"))
          .otherwise(expr(s"${(k - 1).toLong * P}L DIV theta")))
      .withColumn("est_intersection",
        when(col("n_union_seen") < k, col("n_common"))
          .otherwise(expr(s"n_common * est_union DIV ${k}L")))
  }

  // ---------------------------------------------------------------------
  // Count-min frequency sketch
  // ---------------------------------------------------------------------

  /** Hash rows of the batch count-min sketch. */
  private[graft] val CmsDepth = 4

  /** Cell index of a key under hash row i: ((key mod P)·a_i + b_i) mod P
    * mod width.
    */
  private[graft] def cellOf(key: Column, a: Long, b: Long, width: Int): Column =
    longHash(key, a, b) % width

  /** Build a count-min sketch over a long key column. Output:
    * (row, cell, cnt) with at most 4 × width rows. The groupBy key
    * space is bounded, so map-side combine caps every partition's shuffle
    * contribution at 4 × width partial counts regardless of input
    * size or key skew — this is the whole point of the sketch at 100 TB.
    */
  def countMinSketch(df: DataFrame, keyCol: String, width: Int = 1024): DataFrame = {
    require(width >= 2, "need width >= 2")
    val rows = mixConsts(CmsDepth).zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("row"), cellOf(col(keyCol), a, b, width).as("cell"))
    }
    // NULL keys hash to NULL cells — unprobeable rows that only bloat the
    // sketch (kmvDistinct's null contract: no identity, nothing to count)
    df.where(col(keyCol).isNotNull)
      .select(explode(array(rows: _*)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate frequencies for `keys` (a one-column DataFrame of long
    * keys) against a built sketch: est(key) = min over rows of the key's
    * cell counter (the classic upward-biased count-min estimate). The
    * sketch is at most 4 × width rows, so it broadcasts; the probe
    * never shuffles the keys.
    */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                       width: Int = 1024): DataFrame = {
    val rows = mixConsts(CmsDepth).zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("row"), cellOf(col(keyCol), a, b, width).as("cell"))
    }
    // same NULL contract as the build side: a NULL key has no identity —
    // emitting it as (NULL, est_count = 0) would read as a real estimate
    keys.where(col(keyCol).isNotNull)
      .select(col(keyCol), explode(array(rows: _*)).as("rc"))
      .select(col(keyCol), col("rc.row").as("row"), col("rc.cell").as("cell"))
      .join(broadcast(sketch), Seq("row", "cell"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /** Convenience: build the sketch over `df` and estimate every key in
    * `keys` in one call.
    */
  def countMinFrequencies(df: DataFrame, keyCol: String, keys: DataFrame,
                          width: Int = 1024): DataFrame =
    countMinEstimate(countMinSketch(df, keyCol, width), keys, keyCol, width)

  // ---------------------------------------------------------------------
  // Bloom membership filter
  // ---------------------------------------------------------------------

  /** Bit positions of a hash value under the j-th bloom hash — derived
    * from the ONE portable hash ([[longHash]], like [[cellOf]]) so a
    * future change to its overflow-safety arithmetic reaches the bloom
    * paths too instead of silently diverging the bit positions.
    */
  private def bloomPos(h: Column, a: Long, b: Long): Column =
    longHash(h, a, b) % BloomBits

  /** 1L << bits with a COLUMN shift amount (the public `shiftleft` only
    * takes a constant Int shift).
    */
  private def shl1(bits: Column): Column =
    GraftColumnBridge.toColumn(ShiftLeft(
      GraftColumnBridge.toExpression(lit(1L)),
      GraftColumnBridge.toExpression(bits.cast("int"))))

  /** Build the bloom bit array (as BloomBits/64 longs) from a column of long
    * hash values. The aggregation output is bounded by the FIXED word
    * keyspace (BloomBits/64 rows — 1024 longs for 64 Kbit), so the
    * `collect()` is safe at any input scale, same argument as the bounded
    * bucket collect in [[Dedup]].
    */
  def bloomBits(items: DataFrame, hashCol: String): Array[Long] = {
    val words = new Array[Long](BloomBits / 64)
    val positions = mixConsts(BloomHashes).map { case (a, b) =>
      bloomPos(col(hashCol), a, b)
    }
    // a NULL hash yields a NULL position/word, and the driver-side
    // getInt(0) below would NPE on it — nulls set no bits
    items.where(col(hashCol).isNotNull)
      .select(explode(array(positions: _*)).as("p"))
      .select(shiftright(col("p"), 6).cast("int").as("w"),
        shl1(col("p") % 64).as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("bits"))
      .collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Membership predicate: all BloomHashes bloom bits set for hash column `h`.
    * The bit array rides into codegen as a literal array — element_at +
    * mask tests, no join, no shuffle, no UDF.
    */
  def bloomContains(bits: Array[Long])(h: Column): Column = {
    val arr = lit(bits)
    mixConsts(BloomHashes).map { case (a, b) =>
      val p = bloomPos(h, a, b)
      (element_at(arr, shiftright(p, 6).cast("int") + 1)
        .bitwiseAND(shl1(p % 64)) =!= 0L)
    }.reduce(_ && _)
  }

  /** Shared decontamination prelude: the benchmark's distinct word
    * 3-shingle set and its bloom bit array — ONE construction for the batch
    * ([[bloomDecontaminate]]) and streaming
    * (`DocumentStream.decontaminated`) faces, so a change to shingle
    * normalization or the hash cannot silently diverge their q61 parity.
    */
  def benchmarkBloom(benchmark: DataFrame, textCol: String): (DataFrame, Array[Long]) = {
    val bsh = benchmark
      .select(explode(graft.functions.TextFunctions.wordShingles(col(textCol), Dedup.ShingleWords))
        .as("shingle"))
      .distinct()
      .cache() // feeds the eager bloomBits collect AND the caller's verify
               // join — without it the shingle-distinct plan runs twice
    (bsh, bloomBits(
      bsh.select(Dedup.shingleHash(col("shingle")).as("h")), "h"))
  }

  /** Bloom size and hash count of the benchmark filter, shared by the
    * batch ([[bloomDecontaminate]]) and streaming
    * (`DocumentStream.decontaminated`) faces.
    */
  private[graft] val BloomBits = 65536
  private[graft] val BloomHashes = 4

  /** Bloom-accelerated decontamination: same exact output as
    * [[Corpus.decontaminate]] (per-doc count of distinct eval-set word
    * 3-shingle overlaps) but the corpus side is pre-filtered by a bloom
    * built from the benchmark's shingle hashes BEFORE the verifying join.
    * Bloom filters have no false negatives, so the verify join sees every
    * true overlap and the result is exact — the sketch only prunes work.
    *
    * At 100 TB this is the shape that matters: the bit array (BloomBits/8
    * bytes, 8 KiB) goes to every task as a literal, and only the tiny
    * surviving fraction of corpus shingles pays the broadcast-join probe.
    * With a large eval suite the full shingle set may be too big to
    * broadcast comfortably — the bloom stays fixed-size no matter what.
    */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    val (bsh, bits) = benchmarkBloom(benchmark, textCol)
    Dedup.shingles(corpus, idCol, textCol, Dedup.ShingleWords)
      .where(bloomContains(bits)(Dedup.shingleHash(col("shingle"))))
      .join(broadcast(bsh), "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }
}
