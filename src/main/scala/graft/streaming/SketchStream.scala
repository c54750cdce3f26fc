package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming KMV distinct-count — the streaming twin of the batch
  * `Sketches.kmvDistinct` (q63).
  *
  * Exact streaming `count(DISTINCT value)` per group needs O(distinct)
  * state, which is unbounded on an infinite stream. The KMV sketch merges
  * LOSSLESSLY under union — the k smallest hashes of a union are contained
  * in the union of each side's k smallest — so per-group state is a fixed
  * k longs no matter how long the stream runs, and the streaming estimate
  * after processing a bounded input is BIT-IDENTICAL to the batch
  * operator's (asserted by the parity spec): same portable hash, same
  * integer-exact estimator.
  *
  * Shape: `mapGroupsWithState` in Update mode — every micro-batch emits
  * each touched group's current (n_seen, kth, est_distinct) row, so the
  * sink always holds the latest estimate per group (the monitoring use
  * case: "distinct users per event type, live"). State never times out:
  * it is O(groups × k) forever, which is the sketch's contract; callers
  * tracking windowed cardinality should bucket the group key by window
  * start instead, letting each window's sketch age out of the sink.
  */
object SketchStream {

  val P: Long = graft.ops.Sketches.P

  case class Keyed(group: String, hv: Long)

  /** Sorted ascending, at most k entries. */
  case class KmvState(hashes: Array[Long])

  case class KmvEstimate(group: String, n_seen: Long, kth: Long,
                         est_distinct: Long)

  /** events(groupCol, valueCol: long) -> per-micro-batch updated KMV
    * estimates. Same hash and estimator as the batch op.
    */
  def kmvDistinct(events: DataFrame, groupCol: String, valueCol: String,
                  k: Int): Dataset[KmvEstimate] = {
    require(k >= 2, "KMV needs k >= 2")
    import events.sparkSession.implicits._
    events
      // NULL values count nothing (the batch twin's contract); unfiltered
      // they would also null the non-nullable encoder field below
      .where(org.apache.spark.sql.functions.col(valueCol).isNotNull)
      // hash via the batch twin's Column (Sketches.longHash), not a
      // re-typed SQL string: the whole stream-vs-batch bit-parity contract
      // rests on the constants matching, so there must be ONE definition
      .select(org.apache.spark.sql.functions.col(groupCol).cast("string").as("group"),
        graft.ops.Sketches.longHash(org.apache.spark.sql.functions.col(valueCol)).as("hv"))
      .as[Keyed]
      .groupByKey(_.group)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(stateFn(k))
  }

  private def stateFn(k: Int)(
      group: String, rows: Iterator[Keyed],
      state: GroupState[KmvState]): KmvEstimate = {
    val prev = state.getOption.map(_.hashes).getOrElse(Array.empty[Long])
    // merge = distinct union, keep the k smallest (lossless for KMV)
    val merged = (prev ++ rows.map(_.hv)).distinct
    java.util.Arrays.sort(merged)
    val kept = merged.take(k)
    state.update(KmvState(kept))
    val nSeen = kept.length.toLong
    val est =
      if (nSeen < k) nSeen
      else (k - 1).toLong * P / kept.last // exact integer DIV, same as batch
    KmvEstimate(group, nSeen, kept.last, est)
  }

  // -------------------------------------------------------------------
  // Streaming HyperLogLog
  // -------------------------------------------------------------------

  /** m max-registers, one byte each (rho <= 24 at any supported p). */
  case class HllState(regs: Array[Byte])

  case class HllEstimate(group: String, n_buckets_hit: Long, z_scaled: Long,
                         est_distinct: Long)

  /** Streaming HyperLogLog distinct-count — the streaming twin of the batch
    * `Sketches.hllDistinct` (q80), as [[kmvDistinct]] is of q63.
    *
    * Registers merge by element-wise MAX, the canonical mergeable-sketch
    * state: per-group state is m = 2^p bytes FOREVER (1 KiB at p=10),
    * duplicates across micro-batches are absorbed for free, and the final
    * estimate over a bounded input is BIT-IDENTICAL to the batch
    * operator's (asserted by the parity spec). The hash chain runs through
    * the same Catalyst expressions as batch up to the rescaled g2; bucket /
    * rho / register / Z are exact integer JVM arithmetic that mirrors the
    * batch formulas term for term, and the only float op is the same one
    * IEEE division.
    */
  def hllDistinct(events: DataFrame, groupCol: String, valueCol: String,
                  p: Int = 10): Dataset[HllEstimate] = {
    require(p >= 7 && p <= 14, "need 7 <= p <= 14 (alpha assumes m >= 128)")
    import events.sparkSession.implicits._
    events
      // NULL values count nothing — the batch twin's contract (see
      // kmvDistinct above)
      .where(org.apache.spark.sql.functions.col(valueCol).isNotNull)
      // first-level hash shared with the batch twin (one definition — see
      // kmvDistinct); the second-level remix string mirrors Sketches'
      // hllDistinct remix verbatim
      .select(org.apache.spark.sql.functions.col(groupCol).cast("string").as("group"),
        graft.ops.Sketches.longHash(org.apache.spark.sql.functions.col(valueCol)).as("_h"))
      .selectExpr("group",
        s"shiftleft((_h * _h % ${P}L * 2654435761L + 11L) % ${P}L, 33)" +
          s" DIV ${P}L AS hv")
      .as[Keyed]
      .groupByKey(_.group)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(hllStateFn(p))
  }

  private def hllStateFn(p: Int)(
      group: String, rows: Iterator[Keyed],
      state: GroupState[HllState]): HllEstimate = {
    val m = 1 << p
    val kMax = 33 - p + 1
    val regs = state.getOption.map(_.regs).getOrElse(new Array[Byte](m))
    rows.foreach { r =>
      val g = r.hv
      val bkt = (g % m).toInt
      val sfx = g >>> p
      // batch: rho = kMax for an all-zero suffix, else
      // kMax - length(bin(sfx)); bitlength of a positive long is
      // 64 - numberOfLeadingZeros
      val rho =
        if (sfx == 0L) kMax
        else kMax - (64 - java.lang.Long.numberOfLeadingZeros(sfx))
      if (rho > regs(bkt)) regs(bkt) = rho.toByte
    }
    state.update(HllState(regs))
    var hit = 0L
    var z = 0L
    var i = 0
    while (i < m) {
      val r = regs(i)
      if (r == 0) z += 1L << kMax // never-hit bucket: 2^kMax, as batch
      else { hit += 1; z += 1L << (kMax - r) }
      i += 1
    }
    val est = math.floor(graft.ops.Sketches.hllNumer(p) / z).toLong
    HllEstimate(group, hit, z, est)
  }

  // -------------------------------------------------------------------
  // Streaming count-min
  // -------------------------------------------------------------------

  /** Streaming count-min sketch — the streaming twin of the batch
    * `Sketches.countMinSketch` (q64), and deliberately the SIMPLEST twin
    * in this file: a count-min sketch IS a streaming aggregation with
    * bounded state. Each event maps to `depth` (row, cell) coordinates
    * through the same portable hash family as batch; `groupBy(row,
    * cell).count()` in Update mode maintains the counters incrementally
    * with state bounded by depth × width cells FOREVER, no custom
    * `mapGroupsWithState` needed. Counter cells are exact integers, so
    * the final cells over a bounded input are BIT-IDENTICAL to the batch
    * sketch's (asserted by the parity spec) — and any cell's point
    * estimate (min over rows) therefore matches too.
    */
  def countMin(events: DataFrame, keyCol: String,
               depth: Int = 4, width: Int = 1024): DataFrame = {
    // same guard as the batch twin (Sketches.countMinSketch): width < 2
    // makes cellOf a modulo-by-zero/one (all-null or single-cell sketch)
    // and depth < 1 an empty explode that drops every event — both
    // silently, so fail loudly instead
    require(depth >= 1 && width >= 2, "need depth >= 1 and width >= 2")
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Sketches.mixConsts(depth).zipWithIndex.map {
      case ((a, b), i) =>
        struct(lit(i).as("row"),
          graft.ops.Sketches.cellOf(col(keyCol), a, b, width).as("cell"))
    }
    // NULL keys set no cells, mirroring the batch twin's filter
    // (Sketches.countMinSketch — "unprobeable rows that only bloat the
    // sketch"): without it cellOf(NULL) lands depth phantom NULL-cell
    // rows per null event and the documented bit-parity breaks
    events.where(col(keyCol).isNotNull)
      .select(explode(array(rows: _*)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  // -------------------------------------------------------------------
  // Streaming bottom-k sample quantile sketch
  // -------------------------------------------------------------------

  case class QKeyed(group: String, hv: Long, id: Long, v: Double)

  /** Parallel arrays sorted by (hv, id), at most k entries, plus the exact
    * running non-null row count — the same state a persisted
    * `Quantiles.sampleQuantileState` row-set carries per cell.
    */
  case class SampleState(hv: Array[Long], id: Array[Long], v: Array[Double],
                         nTotal: Long)

  case class SampleEstimate(group: String, n_total: Long, n_sampled: Long,
                            p50: Double, p90: Double, p99: Double)

  /** Streaming bottom-k sample quantile sketch — the streaming twin of the
    * batch `Quantiles.sampleQuantileState` sketch (q131), as
    * [[kmvDistinct]] is of q63. The sample merges LOSSLESSLY (the global
    * bottom-k by the total (hash, id) order is contained in the union of
    * per-batch bottom-ks),
    * so per-group state is a fixed k (hash, id, value) triple array plus
    * one count FOREVER, and the final estimates over a bounded input are
    * BIT-IDENTICAL to the batch operator's (asserted by the parity spec):
    * same portable hash, same total order, same interpolation arithmetic
    * (Spark `Percentile.getPercentile`'s formula, which exactInterpolated
    * is already bit-equal to).
    *
    * events(groupCol, idCol: long unique, valueCol: double) -> per-batch
    * updated (n_total, n_sampled, p50, p90, p99) rows in Update mode.
    */
  def sampleQuantiles(events: DataFrame, groupCol: String, idCol: String,
                      valueCol: String, k: Int): Dataset[SampleEstimate] = {
    require(k >= 2, "need k >= 2")
    import events.sparkSession.implicits._
    events
      // null ids too: a NULL id has a NULL hash — it cannot hold a sample
      // slot (and would null the encoder's non-nullable hv/id fields)
      .where(org.apache.spark.sql.functions.col(valueCol).isNotNull &&
        org.apache.spark.sql.functions.col(idCol).isNotNull)
      // hash via the batch twin's Column — one definition (see kmvDistinct)
      .select(org.apache.spark.sql.functions.col(groupCol).cast("string").as("group"),
        graft.ops.Sketches.longHash(org.apache.spark.sql.functions.col(idCol)).as("hv"),
        org.apache.spark.sql.functions.col(idCol).cast("long").as("id"),
        org.apache.spark.sql.functions.col(valueCol).cast("double").as("v"))
      .as[QKeyed]
      .groupByKey(_.group)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(sampleStateFn(k))
  }

  private def sampleStateFn(k: Int)(
      group: String, rows: Iterator[QKeyed],
      state: GroupState[SampleState]): SampleEstimate = {
    val prev = state.getOption.getOrElse(
      SampleState(Array.empty, Array.empty, Array.empty, 0L))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    while (i < prev.hv.length) {
      buf += ((prev.hv(i), prev.id(i), prev.v(i))); i += 1
    }
    var added = 0L
    rows.foreach { r => buf += ((r.hv, r.id, r.v)); added += 1L }
    // ids are unique, so (hv, id) is a total order and bottom-k-of-union
    // == bottom-k of everything seen (the lossless-merge property)
    val kept = buf.sortBy(t => (t._1, t._2)).take(k)
    val st = SampleState(kept.map(_._1).toArray, kept.map(_._2).toArray,
      kept.map(_._3).toArray, prev.nTotal + added)
    state.update(st)
    val vs = st.v.sorted
    def pct(p: Double): Double = {
      // Spark Percentile.getPercentile's interpolation, term for term
      val pos = p * (vs.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) vs(lo) else (hi - pos) * vs(lo) + (pos - lo) * vs(hi)
    }
    SampleEstimate(group, st.nTotal, vs.length.toLong,
      pct(0.5), pct(0.9), pct(0.99))
  }
}
