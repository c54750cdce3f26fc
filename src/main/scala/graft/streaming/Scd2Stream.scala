package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SCD2 history building — the streaming twin of the batch
  * `EventOps.scd2History` (q93): maintain each key's dimension history as
  * changes arrive, emitting a version row the moment the NEXT change
  * closes it.
  *
  * Batch interval-izes with lag/lead windows because it sees the whole
  * change stream; a stream keeps exactly what lead() needs as state: the
  * OPEN version (attr, valid_from, version counter) per key — O(keys)
  * forever. A batch's events fold in (tsec, id) order (arrival order
  * within a micro-batch is not time order); consecutive repeats compact
  * away exactly as in batch; a genuine change emits the closed version in
  * Append mode, so the sink accretes the immutable history while the open
  * version lives only in state (readable any time via the final-state
  * surface below).
  *
  * With micro-batches delivered in time order — the parity spec's setup,
  * and what a watermarked source provides — closed-version rows plus the
  * per-key open state are EXACTLY the batch operator's output.
  */
object Scd2Stream {

  case class Change(key: Long, id: Long, attr: String, ts: Timestamp)

  /** The open (unclosed) version for a key. (An earlier revision also
    * carried the last change id; it was never read by the fold — dead
    * state bloating every checkpointed row — and is gone. Note for
    * operators resuming a pre-change checkpoint: the state encoder schema
    * changed, so restart from a fresh checkpoint.)
    */
  case class OpenVersion(attr: String, valid_from: Long, version: Long)

  case class VersionRow(key: Long, attr: String, valid_from: Long,
                        valid_to: Option[Long], version: Long)

  /** changes(key, id, attr, ts) -> stream of CLOSED version rows. */
  def history(changes: DataFrame): Dataset[VersionRow] = {
    import changes.sparkSession.implicits._
    changes.selectExpr("key", "id", "attr", "ts").as[Change]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        stateFn)
  }

  private def stateFn(key: Long, rows: Iterator[Change],
                      state: GroupState[OpenVersion]): Iterator[VersionRow] = {
    val sorted = rows.map(c => (c.ts.getTime / 1000L, c.id, c.attr)).toArray
      .sortBy(c => (c._1, c._2))
    val out = Vector.newBuilder[VersionRow]
    var open = state.getOption
    sorted.foreach { case (tsec, _, attr) =>
      open match {
        // LATE-ARRIVAL GUARD: a change older than the open version's start
        // arrived in a LATER micro-batch (a watermark bounds lateness, it
        // does not reorder cross-batch arrivals). The already-emitted
        // history cannot be restated through an append sink, and closing
        // the open version at the stale timestamp would emit an INVERTED
        // interval (valid_to < valid_from); drop the stale change instead —
        // the documented contract is in-order-per-key effective history,
        // with the batch operator as the reconciler for late data.
        case Some(o) if tsec < o.valid_from => ()
        case Some(o) if o.attr == attr => () // consecutive repeat: compacted
        case Some(o) =>
          out += VersionRow(key, o.attr, o.valid_from, Some(tsec), o.version)
          open = Some(OpenVersion(attr, tsec, o.version + 1))
        case None =>
          open = Some(OpenVersion(attr, tsec, 1L))
      }
    }
    open.foreach(state.update)
    out.result().iterator
  }

  /** Closed rows + reconstructed open versions (valid_to NULL) = the full
    * batch-equivalent history; the parity surface used by the spec.
    *
    * Open versions derive from the streamed CLOSED rows plus two scalar
    * probes of the bounded input (a BATCH frame of the same rows): the
    * open attr is the key's last change's attr; its valid_from is where
    * the last closed version ended (closed intervals tile), or the key's
    * first tsec when nothing ever closed; its version is the last closed
    * version + 1.
    */
  def withOpenVersions(closed: DataFrame, changesBatch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val closedAgg = closed.groupBy(col("key"))
      .agg(max(col("version")).as("_vmax"), max(col("valid_to")).as("_vt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(col("_tsec").desc, col("id").desc)
    val openRows = changesBatch
      .withColumn("_tsec", col("ts").cast("long"))
      .withColumn("_t0", min(col("_tsec")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("key"))))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .join(closedAgg, Seq("key"), "left")
      .select(col("key"), col("attr"),
        coalesce(col("_vt"), col("_t0")).as("valid_from"),
        lit(null).cast("long").as("valid_to"),
        (coalesce(col("_vmax"), lit(0L)) + 1L).as("version"))
    closed.select(col("key"), col("attr"), col("valid_from"),
        col("valid_to"), col("version"))
      .unionByName(openRows)
  }
}
