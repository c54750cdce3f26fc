package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training batches: assign ordered documents to
  * fixed token-budget packs (context windows). The pack id of a document is
  * `floor(start_offset / budget)` where start_offset is the running token
  * total BEFORE the document — the standard streaming packer (documents may
  * straddle a budget boundary; the budget bounds each pack's START offsets,
  * and the trainer's collator handles the straddle).
  *
  * The running total is a distributed PREFIX SUM, not a global window: like
  * [[Fill]], the scan splits into coarse `orderCol` chunks —
  *
  *   1. within-chunk running totals (window per (keys, chunk), parallel);
  *   2. per-chunk totals (one hash aggregate);
  *   3. each chunk's carry-in = sum of all PRIOR chunks' totals, resolved
  *      with a summary self-join + aggregation (O(#chunks²) tiny rows per
  *      key group — no window over the summaries either, so the whole-plan
  *      "no unpartitioned WindowExec" invariant holds even unkeyed);
  *   4. prefix = within-chunk total + carry.
  *
  * Output is bit-identical to `sum() OVER (ORDER BY ... ROWS UNBOUNDED
  * PRECEDING)` for integer weights (long addition is associative).
  */
object Packing {

  /** Adds `cum_<weightCol>` (inclusive prefix sum of `weightCol` per `keys`
    * group ordered by `orderCol`) and `pack_id`
    * (= (cum - weight) DIV budget). `orderCol` must be unique per key group;
    * `chunkSize` is in units of `orderCol` cast to long.
    */
  def packByBudget(df: DataFrame, keys: Seq[String], orderCol: String,
                   weightCol: String, budget: Long,
                   chunkSize: Long = 100000L): DataFrame = {
    val cum = prefixSum(df, keys, orderCol, weightCol, chunkSize)
    // DIV: exact long integer division (a double `/` would lose precision
    // once cumulative totals pass 2^53)
    cum.withColumn("pack_id",
      expr(s"(cum_$weightCol - CAST($weightCol AS BIGINT)) DIV $budget"))
  }

  /** Distributed inclusive prefix sum of `weightCol` as `cum_<weightCol>`. */
  def prefixSum(df: DataFrame, keys: Seq[String], orderCol: String,
                weightCol: String, chunkSize: Long = 100000L): DataFrame = {
    val outCol = s"cum_$weightCol"
    val withChunk = df.withColumn("_chunk",
      floor(col(orderCol).cast("long") / chunkSize).cast("long"))

    // phase 1: within-chunk running totals, parallel across (keys, chunk)
    val w = Window.partitionBy((keys :+ "_chunk").map(col): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withChunk.withColumn("_loc", sum(col(weightCol).cast("long")).over(w))

    // phase 2: chunk totals — cached: one tiny row per (keys, chunk), read
    // by BOTH sides of the carry self-join below (lifecycle: see Dedup's
    // cache note)
    val totals = withChunk.groupBy((keys :+ "_chunk").map(col): _*)
      .agg(sum(col(weightCol).cast("long")).as("_tot"))
      .cache()

    // phase 3: carry-in per chunk = sum of prior chunks' totals (summary
    // self-join + aggregate; <=> matches NULL key values as real groups)
    val src = totals.select(
      keys.map(c => col(c).as(s"_bk_$c")) :+
        col("_chunk").as("_bchunk") :+ col("_tot").as("_btot"): _*)
    val tgt = totals.select((keys :+ "_chunk").map(col): _*)
    val cond = keys.map(c => tgt(c) <=> src(s"_bk_$c"))
      .foldLeft(src("_bchunk") < tgt("_chunk"))(_ && _)
    val carry = tgt.join(src, cond, "left")
      .groupBy((keys :+ "_chunk").map(col): _*)
      .agg(coalesce(sum(col("_btot")), lit(0L)).as("_carry"))
      .select(keys.map(c => col(c).as(s"_ck_$c")) :+
        col("_chunk").as("_cchunk") :+ col("_carry"): _*)

    // phase 4: stitch (carry is one row per (keys, chunk) — tiny; forced
    // broadcast when unkeyed, AQE-decided when keyed, as in Fill)
    val carrySide = if (keys.isEmpty) broadcast(carry) else carry
    val stitchCond = keys.map(c => local(c) <=> col(s"_ck_$c"))
      .foldLeft(local("_chunk") === col("_cchunk"))(_ && _)
    local.join(carrySide, stitchCond, "left")
      .withColumn(outCol, col("_loc") + coalesce(col("_carry"), lit(0L)))
      .drop("_loc", "_carry", "_chunk", "_cchunk")
      .drop(keys.map(c => s"_ck_$c"): _*)
  }

  /** Length-bucketed batching report — the dynamic-batching layout of
    * training-export pipelines (fairseq/HF-style): documents are grouped
    * into token-length buckets of `bucketWidth`, ordered by (length, id)
    * within their bucket, and cut into batches of `batchSize`; per bucket
    * the report gives the padding waste a collator would pay (each batch
    * pads to its own max length). Choosing `bucketWidth` is the accuracy/
    * shuffle-grain tradeoff this report exists to measure.
    *
    * Rank-within-bucket is two-phase like [[prefixSum]], with the LENGTH
    * value as the natural chunk: within-chunk windows partition by
    * (bucket, length) and order by id (parallel across lengths), and
    * carry-ins come from a window over the (bucket, length)-grain count
    * summary — per bucket at most `bucketWidth` rows, so the bucket-keyed
    * window is bounded by a constant, never data-sized.
    *
    * Output per bucket: (bucket, n_docs, n_batches, sum_tokens,
    * padding_tokens, fill_ratio r6).
    */
  def lengthBatches(docs: DataFrame, idCol: String, textCol: String,
                    bucketWidth: Long = 32L, batchSize: Long = 16L): DataFrame = {
    require(bucketWidth >= 1L && batchSize >= 1L, "bucketWidth and batchSize must be >= 1")
    val base = docs.select(col(idCol).as("_id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("_len"))
      .withColumn("bucket", expr(s"_len DIV $bucketWidth"))
    val wLoc = Window.partitionBy(col("bucket"), col("_len")).orderBy(col("_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("_loc", sum(lit(1L)).over(wLoc))
    // per-(bucket, length) doc counts straight from the raw rows (the
    // Quantiles lesson: deriving summaries from a shared subtree re-executes
    // it — aggregate the raw side instead, both passes map-side combined)
    val totals = base.groupBy(col("bucket"), col("_len")).agg(count(lit(1)).as("_tot"))
    val wCarry = Window.partitionBy(col("bucket")).orderBy(col("_len"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = totals
      .withColumn("_carry", coalesce(sum(col("_tot")).over(wCarry), lit(0L)))
      .select(col("bucket").as("_cb"), col("_len").as("_cl"), col("_carry"))
    val ranked = local.join(carry,
        col("bucket") === col("_cb") && col("_len") === col("_cl"))
      .withColumn("_rk", col("_loc") + col("_carry"))
      .withColumn("_batch", expr(s"(_rk - 1) DIV $batchSize"))
    val perBatch = ranked.groupBy(col("bucket"), col("_batch"))
      .agg(count(lit(1)).as("_n"), max(col("_len")).as("_mx"),
        sum(col("_len")).as("_s"))
    perBatch.groupBy(col("bucket"))
      .agg(sum(col("_n")).as("n_docs"),
        count(lit(1)).as("n_batches"),
        sum(col("_s")).as("sum_tokens"),
        sum(col("_mx") * col("_n") - col("_s")).as("padding_tokens"))
      .withColumn("fill_ratio", round(col("sum_tokens").cast("double") /
        (col("sum_tokens") + col("padding_tokens")).cast("double"), 6))
  }
}
