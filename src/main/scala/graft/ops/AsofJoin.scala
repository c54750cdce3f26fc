package graft.ops

import graft.core.Timeframe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — the reference's flagship MTF operator
  * (reference: src/datalake/read/api.py:76-88 `join_mtf_exec_ctx` /
  * src/datalake/read/mtf.py:15-27 `join_asof_multi`, both `pd.merge_asof(...,
  * direction="backward")`): for each left (exec) row, attach the LATEST right
  * (context) row with right.ts <= left.ts, equal timestamps included.
  *
  * Implementation (a) of SURVEY §2.4 J1: union-tag + window-fill.
  *  - union exec rows with ctx rows, ctx value columns null on the exec side;
  *  - sort by (ts, side) with ctx rows FIRST at equal ts so a tie is visible
  *    to the exec row (merge_asof backward includes exact matches —
  *    SURVEY §7.5 item 5);
  *  - last(ctxCol, ignoreNulls) over unboundedPreceding..currentRow;
  *  - keep exec rows.
  *
  * Scale: one shuffle (the window sort), partitioned by `partitionCols`
  * (symbol/source), so a 1000-executor cluster processes symbols
  * independently; no broadcast or skew concern because per-symbol data is
  * time-ordered and bounded per day. When partitionCols is empty the window
  * is a single sorted partition — fine for tests, documented as non-scalable.
  *
  * A cheaper grid-aligned variant is [[bucketJoin]] (implementation (b)):
  * when both sides sit on aligned tf grids, the as-of parent of an exec row
  * is just the ctx bar at floor(ts, ctxTf) — an equi-join, broadcastable when
  * ctx is small (it is: ctx is coarser by construction).
  */
object AsofJoin {

  /** General backward as-of join. `right` value columns (everything except
    * `on` and `partitionCols`) are appended to `left`; suffix them before
    * calling if names collide.
    *
    * This is the one-window plan: a single sorted partition per key. A hot
    * key (one dominant symbol, or an unkeyed single series) pins one
    * reducer; for that input call [[directed]] with `direction =
    * "backward"` and a `chunk`, whose two-phase chunked fill splits the
    * series into per-chunk partitions plus a tiny carry join. Results are
    * identical (CandleOpsSpec).
    */
  def backward(left: DataFrame, right: DataFrame, on: String = "ts",
               partitionCols: Seq[String] = Nil): DataFrame = {
    val rightVals = right.columns.toSeq.filterNot(c => c == on || partitionCols.contains(c))
    val leftCols = left.columns.toSeq
    require(rightVals.intersect(leftCols).isEmpty,
      s"column collision: ${rightVals.intersect(leftCols).mkString(",")}")
    require(!(leftCols ++ rightVals).exists(Set("_asof", "_side")),
      "_asof/_side are reserved by the as-of join")
    if (rightVals.isEmpty) return left

    // ROW-ATOMIC fill (r14): the matched right row travels as ONE struct —
    // a struct is non-null whenever the ROW exists, even when its fields
    // are null, so a null value inside the matched row is served as that
    // row's null (the pd.merge_asof / DuckDB ASOF JOIN contract).
    // Per-column independent fills would instead reach back through it to
    // an OLDER row's non-null value, stitching a row that never existed.
    val lSchema = left.schema
    val asofType = right.select(struct(rightVals.map(col): _*).as("_asof"))
      .schema("_asof").dataType
    val leftSide = left.withColumn("_side", lit(1))
      .withColumn("_asof", lit(null).cast(asofType))
    val rightSide = leftCols.filterNot(c => c == on || partitionCols.contains(c))
      .foldLeft(right.withColumn("_side", lit(0))
        .withColumn("_asof", struct(rightVals.map(col): _*))
        .drop(rightVals: _*)) { (d, c) =>
        d.withColumn(c, lit(null).cast(lSchema(c).dataType))
      }
    val unioned = leftSide.unionByName(rightSide)
    val w = (if (partitionCols.nonEmpty) Window.partitionBy(partitionCols.map(col): _*)
             else Window.partitionBy())
      .orderBy(col(on).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("_asof", last(col("_asof"), ignoreNulls = true).over(w))
    rightVals.foldLeft(filled.where(col("_side") === 1)) { (d, c) =>
      d.withColumn(c, col("_asof").getField(c))
    }.drop("_asof", "_side")
  }

  /** Grid-aligned as-of equi-join (J1-b): valid when ctx rows sit exactly on
    * the ctxTf grid (the output of [[Resample.ohlcv]] does). Joins on
    * floor(left.ts / ctxTf), which Catalyst plans as a broadcast hash join
    * when ctx is small — no sort, no big shuffle.
    */
  def bucketJoin(left: DataFrame, right: DataFrame, ctxTf: Timeframe): DataFrame = {
    // same API safety as backward()/directed(): collisions error HERE, not
    // as an AMBIGUOUS_REFERENCE at the caller's next select
    val collide = right.columns.toSeq.filterNot(_ == "ts").intersect(left.columns.toSeq)
    require(collide.isEmpty, s"column collision: ${collide.mkString(",")}")
    val l = left.withColumn("_bkt", Resample.bucket("ts", ctxTf))
    val r = right.withColumnRenamed("ts", "_bkt")
    l.join(broadcast(r), Seq("_bkt"), "left").drop("_bkt")
  }

  /** Directional as-of join with an optional match tolerance — the full
    * pandas `merge_asof(direction=..., tolerance=...)` surface (the
    * reference only ever uses backward, api.py:76-88; forward/nearest round
    * out the family for users of the wider pandas contract).
    *
    *  - `backward`: latest right with right.ts <= left.ts (== [[backward]])
    *  - `forward`:  earliest right with right.ts >= left.ts
    *  - `nearest`:  whichever of the two is closer; exact ties prefer the
    *    backward match (documented, deterministic)
    *  - `tolerance` (units of `ts` cast to long): matches farther than this
    *    yield nulls for that row — the row itself is kept (left-join shape)
    *
    * One pass for ALL directions: union-tag both sides, then [[Fill.biFill]]
    * forward-fills the previous ctx ROW and backward-fills the next — each
    * as one struct (matched ts + values), so tolerance and nearest-selection
    * are pure per-row expression work afterwards and always row-atomic.
    *
    * `chunk` is in `ts`-CAST-LONG units: the 86400 default assumes a
    * seconds-grained column (TimestampType casts to epoch seconds). For a
    * raw ns column pass an ns-scaled chunk (a day = 86400L·10⁹) — the
    * default would otherwise split a day of ns data into ~10⁹ chunks and
    * the phase-2 carry summary becomes data-sized, reintroducing exactly
    * the collapse Fill exists to avoid.
    */
  def directed(left: DataFrame, right: DataFrame,
               partitionCols: Seq[String] = Nil, direction: String = "backward",
               tolerance: Option[Long] = None, chunk: Long = 86400L): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val rightVals = right.columns.toSeq.filterNot(c => c == "ts" || partitionCols.contains(c))
    val leftCols = left.columns.toSeq
    require(rightVals.intersect(leftCols).isEmpty,
      s"column collision: ${rightVals.intersect(leftCols).mkString(",")}")
    require(!(leftCols ++ rightVals).exists(Set("_p", "_n", "_side", "_mts")),
      "_p/_n/_side/_mts are reserved by the as-of join")
    val needP = direction != "forward"
    val needN = direction != "backward"

    // ROW-ATOMIC match per direction (r14, see backward()): the candidate
    // right row travels as ONE struct — its matched timestamp in field
    // _mts plus every value column — so the tolerance check and the served
    // values always come from the SAME row. The previous per-column fills
    // could pass the tolerance on the matched ts while serving a value
    // filled through that row's null from a row beyond the tolerance.
    val rowStruct = struct(col("ts").as("_mts") +: rightVals.map(col): _*)
    val rowType = right.select(rowStruct.as("_x")).schema("_x").dataType
    val dirCols = (if (needP) Seq("_p") else Nil) ++ (if (needN) Seq("_n") else Nil)
    val leftSide = dirCols.foldLeft(left.withColumn("_side", lit(1))) { (d, c) =>
      d.withColumn(c, lit(null).cast(rowType))
    }
    val rightSide = leftCols.filterNot(c => c == "ts" || partitionCols.contains(c))
      .foldLeft(dirCols.foldLeft(right.withColumn("_side", lit(0))) { (d, c) =>
        d.withColumn(c, rowStruct)
      }.drop(rightVals: _*)) { (d, c) =>
        d.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
    val unioned = leftSide.unionByName(rightSide)
    val filled = Fill.biFill(unioned,
      if (needP) Seq("_p") else Nil, if (needN) Seq("_n") else Nil,
      partitionCols, chunk, tie = Some("_side"))
    val execRows = filled.where(col("_side") === 1)

    val lts = col("ts").cast("long")
    val pTs = col("_p").getField("_mts").cast("long")
    val nTs = col("_n").getField("_mts").cast("long")
    def ok(m: org.apache.spark.sql.Column, dist: org.apache.spark.sql.Column) =
      m.isNotNull && tolerance.fold(lit(true))(t => dist <= t)
    val pOk = if (needP) ok(col("_p"), lts - pTs) else lit(false)
    val nOk = if (needN) ok(col("_n"), nTs - lts) else lit(false)
    val usePrev = direction match {
      case "backward" => pOk
      case "forward" => lit(false)
      case "nearest" => pOk && (!nOk || (lts - pTs) <= (nTs - lts))
    }
    val rSchema = right.schema
    val out = rightVals.foldLeft(execRows) { (d, c) =>
      val nullV = lit(null).cast(rSchema(c).dataType)
      val v =
        if (!needN) when(pOk, col("_p").getField(c)).otherwise(nullV)
        else if (!needP) when(nOk, col("_n").getField(c)).otherwise(nullV)
        else when(usePrev, col("_p").getField(c))
          .otherwise(when(nOk, col("_n").getField(c)).otherwise(nullV))
      d.withColumn(c, v)
    }
    out.drop("_side").drop(dirCols: _*)
  }

  /** Multi-timeframe join (reference: src/datalake/read/api.py:80-87 loop):
    * joins each (tfCode -> ctx frame) onto exec in ascending-minutes order
    * (reference: mtf.py:5,20 TF_ORDER), suffixing ctx value columns with
    * `_{tf}`. `closeOnly` keeps just close (reference: api.py:76
    * suffix_close_only).
    */
  def mtf(exec: DataFrame, ctx: Map[String, DataFrame], closeOnly: Boolean = false,
          partitionCols: Seq[String] = Nil): DataFrame = {
    val ordered = ctx.toSeq.sortBy { case (tf, _) => Timeframe(tf).minutes }
    ordered.foldLeft(exec) { case (acc, (tfCode, df)) =>
      val valCols = if (closeOnly) Seq("close") else Seq("open", "high", "low", "close", "volume")
      val projected = df.select((partitionCols :+ "ts").map(col) ++
        valCols.map(c => col(c).as(s"${c}_$tfCode")): _*)
      backward(acc, projected, "ts", partitionCols)
    }
  }
}
