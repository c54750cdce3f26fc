package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batch-parity drains of the streaming faces: each runs its face to
  * completion over a bounded input through [[StreamRun.toCompletion]] and
  * reduces the sink to the face's final state, which the specs compare with
  * the batch operator.
  */
object StreamDrains {
  import DedupStream.{anchorCandidates, simhashBuckets}
  import Scd2Stream.history
  import SketchStream.{countMin, hllDistinct, kmvDistinct, sampleQuantiles}
  import TransitionStream.{attributions, transitions}

  /** Run the stream to completion over a bounded input and return the
    * distinct emitted candidates — the batch-parity surface used by the
    * spec (a pair can emit from several shared buckets, exactly like the
    * batch op before ITS distinct).
    */
  def anchorCandidatesFinal(docs: DataFrame, idCol: String, textCol: String,
                            queryName: String,
                            bits: Int = graft.ops.Dedup.DefaultSimhashBits): DataFrame =
    StreamRun.toCompletion(anchorCandidates(docs, idCol, textCol, bits),
      "update", queryName).distinct()

  /** Run the stream to completion over a bounded input and return the
    * final registry — the batch-parity surface used by the spec. A
    * bucket's count strictly grows across its update emissions, so the
    * final entry per bucket is simply the max-count row.
    */
  def bucketsFinal(docs: DataFrame, idCol: String, textCol: String,
                   queryName: String,
                   bits: Int = graft.ops.Dedup.DefaultSimhashBits): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("chunk"), col("v"))
      .orderBy(col("n_docs").desc)
    StreamRun.toCompletion(simhashBuckets(docs, idCol, textCol, bits),
        "update", queryName)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Run the stream to completion over a bounded input and return the
    * CLOSED version rows — what the streaming operator itself emits.
    */
  def historyFinal(changes: DataFrame, queryName: String): DataFrame =
    StreamRun.toCompletion(history(changes), "append", queryName)

  /** Run the stream to completion over a bounded input and return the final
    * HLL estimate per group — the batch-parity surface used by the spec.
    */
  def hllFinal(events: DataFrame, groupCol: String, valueCol: String,
               queryName: String): DataFrame = {
    // Registers only grow, so across a group's update rows n_buckets_hit
    // only grows and z_scaled only shrinks — the final state is the row
    // with (max hit, min z), no sink ordering assumed.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("group"))
      .orderBy(col("n_buckets_hit").desc, col("z_scaled").asc)
    StreamRun.toCompletion(hllDistinct(events, groupCol, valueCol),
        "update", queryName)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Run the stream to completion over a bounded input and return the
    * final sketch cells — the batch-parity surface used by the spec.
    */
  def countMinFinal(events: DataFrame, keyCol: String,
                    width: Int, queryName: String): DataFrame = {
    // Update mode re-emits a cell's row whenever its count grows; the
    // final value per cell is simply the max count ever emitted
    import org.apache.spark.sql.functions._
    StreamRun.toCompletion(countMin(events, keyCol, width),
        "update", queryName)
      .groupBy(col("row"), col("cell"))
      .agg(max(col("cnt")).as("cnt"))
  }

  /** Run the stream to completion over a bounded input and return the
    * final estimates per group — the batch-parity surface used by the
    * spec. n_total strictly grows across a group's update emissions, so
    * the final row per group is the max-n_total row.
    */
  def sampleQuantilesFinal(events: DataFrame, groupCol: String, idCol: String,
                           valueCol: String, k: Int,
                           queryName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("group")).orderBy(col("n_total").desc)
    StreamRun.toCompletion(sampleQuantiles(events, groupCol, idCol, valueCol, k),
        "update", queryName)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Run the stream to completion over a bounded input and return the final
    * estimate per group — the batch-parity surface used by the spec.
    */
  def kmvFinal(events: DataFrame, groupCol: String, valueCol: String,
               k: Int, queryName: String): DataFrame = {
    // Update mode appends a row per (micro-batch, group). The final state
    // per group is identified by the VALUES, not sink order: n_seen only
    // grows as the stream progresses, and at equal n_seen the kth hash
    // only shrinks (smaller hashes displace larger ones).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("group"))
      .orderBy(col("n_seen").desc, col("kth").asc)
    StreamRun.toCompletion(kmvDistinct(events, groupCol, valueCol, k),
        "update", queryName)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Run the attribution stream to completion over a bounded input and
    * return (attributed, n_conversions, revenue) — q92's aggregate shape,
    * the batch-parity surface used by the spec.
    */
  def attributionsFinal(events: DataFrame, queryName: String): DataFrame = {
    import org.apache.spark.sql.functions._
    StreamRun.toCompletion(attributions(events),
        "append", queryName)
      .groupBy(col("attributed"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(round(col("value"), 4)
          .cast(org.apache.spark.sql.types.DecimalType(28, 4)))
          .cast("double").as("revenue"))
  }

  /** Run the stream to completion over a bounded input and return the
    * final (from_type, to_type, n) counts — the batch-parity surface used
    * by the spec.
    */
  def transitionsFinal(events: DataFrame, queryName: String): DataFrame = {
    import org.apache.spark.sql.functions._
    StreamRun.toCompletion(transitions(events), "append", queryName)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }
}
