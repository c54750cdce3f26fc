package graft.streaming

import graft.ops.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus-drift monitor — the live face of
  * [[graft.ops.Corpus.sliceDivergence]] (q113): does the distribution of
  * what is arriving NOW still look like the reference corpus the quality
  * gates were tuned on? The deploy pattern mirrors the perplexity gate:
  * the reference distribution is a FROZEN offline artifact, the stream is
  * scored against it continuously, per event-time window.
  *
  * Split of responsibilities (same as [[RateStream]]): the windowed TERM
  * COUNT is the part that needs streaming state, and that state is bounded
  * by construction — every term outside the reference vocabulary collapses
  * into one OOV bucket before the aggregation, so an open window holds at
  * most vocab+1 rows no matter what the stream contains (an unbounded
  * per-window vocabulary would otherwise be attacker-sized state). The KL
  * itself needs a window's FULL term vector and is a batch pass over the
  * finished sink ([[klByWindow]]), shared verbatim by the batch twin —
  * which is how StreamingOracleSpec closes stream-vs-batch parity.
  *
  * Append mode: a (window, term) row is emitted exactly once, when the
  * watermark passes the window's end.
  */
object DriftStream {

  /** The OOV bucket label, "\\u0001oov" (the \\u0001 is written as an
    * escape below precisely so reviewers can SEE it): sorts below every
    * printable term and
    * cannot collide with whitespace-tokenizer output (tokens never contain
    * control chars unless the raw text does — and the reference vocab is
    * top-k by count, so a pathological control-char "term" would have to
    * out-count real words to collide).
    *
    * COMPATIBILITY BREAK (round 13): this label was plain `"oov"` before
    * round 13 — a user-visible output value. Persisted drift outputs and
    * downstream consumers keyed on the old label will not match rows
    * written after the upgrade, and RESUMING A PRE-ROUND-13 DRIFTSTREAM
    * CHECKPOINT IS UNSUPPORTED: a window open at the upgrade boundary
    * emits BOTH labels (pre-restart partial counts under the old label,
    * post-restart ones under the new), silently splitting the OOV bucket.
    * Drain the stream (close all windows) before upgrading, or map the
    * legacy label on read: `when(col("term") === "oov", lit(OovTerm))`.
    */
  val OovTerm = "\u0001oov"

  /** Frozen reference distribution: global top-`vocab` terms by
    * (count desc, term asc) with their counts — a TakeOrdered over the
    * vocab-grain count table, same deterministic cut as q113.
    */
  def reference(docs: DataFrame, textCol: String, vocab: Int): DataFrame =
    docs.select(explode(TextAnalysis.words(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c_ref"))
      .orderBy(col("c_ref").desc, col("term")).limit(vocab)

  /** Streaming (or batch — the plan is mode-agnostic) hourly term counts
    * of `docs(ts, text)` against a static reference: (win_sec, term, c)
    * with off-vocab terms collapsed to [[OovTerm]] BEFORE the stateful
    * aggregation. The
    * reference joins as a broadcast stream-static hash join, so the
    * stream side never shuffles except for the windowed aggregation
    * itself.
    */
  def termCounts(docs: DataFrame, ref: DataFrame,
                 delay: String = "30 minutes"): DataFrame = {
    val tagged = (if (docs.isStreaming) docs.withWatermark("ts", delay) else docs)
      .select(col("ts"), explode(TextAnalysis.words(col("text"))).as("_t"))
      .join(broadcast(ref.select(col("term").as("_rt"))),
        col("_t") === col("_rt"), "left")
      .select(col("ts"), coalesce(col("_rt"), lit(OovTerm)).as("term"))
    tagged
      .groupBy(window(col("ts"), "1 hour"), col("term"))
      .agg(count(lit(1)).as("c"))
      .select(unix_timestamp(col("window.start")).as("win_sec"),
        col("term"), col("c"))
  }

  /** Batch drift gate over finalized counts, shared by both faces:
    * KL(window ‖ reference) with add-one smoothing over the vocab+1 cells
    * (the reference's OOV cell has count 0). Contributions are rounded to
    * 7 decimals and DECIMAL-summed — the q113 convention, so the number is
    * partition- and engine-portable.
    *
    * Output per window: (win_sec, n_tokens, kl r7). The report grain IS
    * the term grain (7): the decimal sum is exact at 7 decimals, so
    * re-rounding it there discards nothing and cannot hit a half-way case
    * — while one final round to a COARSER grain can land exactly on a
    * .5 boundary of the exact sum, where engines legitimately disagree
    * (measured at sf0.1: a window's contribution sum was exactly
    * 0.0040785; Spark's HALF_UP on the shortest decimal repr said
    * 0.004079, DuckDB's binary-double round said 0.004078).
    */
  def klByWindow(counts: DataFrame, ref: DataFrame): DataFrame = {
    val spark = ref.sparkSession
    val cells = ref.select(col("term"), col("c_ref"))
      .unionByName(spark.range(1).select(lit(OovTerm).as("term"),
        lit(0L).as("c_ref")))
    val v = cells.count().toDouble // vocab+1, a bounded artifact constant
    val nRef = cells.agg(sum(col("c_ref")).as("_nr"))
    val windows = counts.select(col("win_sec")).distinct()
    val grid = windows.crossJoin(broadcast(cells))
      .join(counts.select(col("win_sec").as("_ws"), col("term").as("_wt"),
          col("c")),
        col("win_sec") === col("_ws") && col("term") === col("_wt"), "left")
      .select(col("win_sec"), col("term"), col("c_ref"),
        coalesce(col("c"), lit(0L)).as("_cw"))
    val nW = grid.groupBy(col("win_sec")).agg(sum(col("_cw")).as("_nw"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 7)
    grid.join(nW, "win_sec").crossJoin(broadcast(nRef))
      .withColumn("_pw", (col("_cw") + 1.0) / (col("_nw") + lit(v)))
      .withColumn("_pr", (col("c_ref") + 1.0) / (col("_nr") + lit(v)))
      .groupBy(col("win_sec"))
      .agg(max(col("_nw")).as("n_tokens"),
        round(sum(round(col("_pw") * log(col("_pw") / col("_pr")), 7).cast(dec))
          .cast("double"), 7).as("kl"))
  }
}
