package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the q59 rate-anomaly pipeline's stateful half:
  * tumbling-window per-type event counts ([[graft.ops.EventOps.hourlyCounts]])
  * as a watermark-bounded streaming aggregation.
  *
  * Split of responsibilities, deliberately: the windowed COUNT is the part
  * that needs streaming state (open windows per type — O(types × windows
  * inside the watermark horizon), evicted as the watermark passes), while
  * the z-score GATE needs every window of every type and is therefore a
  * batch pass over the finished hourly sink (or a `foreachBatch` on top of
  * it) — `EventOps.rateAnomalies` runs unchanged on this stream's output,
  * which is how StreamingOracleSpec closes the loop against oracled q59.
  *
  * Append mode: a window row is emitted exactly once, when the watermark
  * passes its end — so the sink is an immutable, dedup-free hourly table.
  */
object RateStream {

  /** (event_type, hour_sec, n) per closed tumbling window. `hour_sec` is
    * the window's left-closed epoch-second label, matching the batch
    * operator's integer-DIV bucket exactly FOR POST-EPOCH timestamps (all
    * the engine's corpora): at negative epoch seconds `window()` FLOORS
    * (an event at −5 s lands in the window starting −3600) while integer
    * DIV truncates toward zero (bucket 0), so the two faces would bucket
    * pre-1970 events differently. Pre-epoch event times are out of
    * contract here — assert/filter upstream if a corpus can carry them.
    */
  def hourlyCounts(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(col("event_type").as("event_type"),
        window(col("ts"), "3600 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        unix_timestamp(col("window.start")).as("hour_sec"), col("n"))
}
