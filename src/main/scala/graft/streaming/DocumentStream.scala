package graft.streaming

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming face of the training-data pipeline ops: a live document feed
  * -> watermarked exact dedup -> quality/language annotation -> near-dup
  * signature, ready to land for downstream batch LSH.
  *
  * Scale design:
  *  - exact dedup uses `dropDuplicatesWithinWatermark` on the content hash:
  *    dedup state is bounded by the watermark horizon instead of growing
  *    forever (a plain streaming dropDuplicates keys state on every hash
  *    ever seen — fatal at sustained ingest);
  *  - annotation (quality, language, token stats) is pure column expression
  *    work — stateless, shuffle-free, whole-stage codegen;
  *  - the 32-bit SimHash signature (Dedup.simhash's default) is computed
  *    inline by the native [[graft.functions.SimHash]] kernel, so batch
  *    near-dup candidate generation can run directly over the landed
  *    signature column via [[graft.ops.Dedup.simhashCandidatesFromSignatures]]
  *    — no text re-read, no re-signing.
  *
  * Cross-watermark duplicates are the batch layer's job (exact dedup q07 /
  * LSH candidates over the landed table) — same split as the candle lake's
  * "streaming appends, idempotent batch repair" model.
  */
object DocumentStream {

  /** docs(ts, doc_id, text) -> deduped, annotated, quality-filtered stream.
    * Event-time column `ts` drives a 10-minute watermark. Signatures are
    * `Dedup.DefaultSimhashBits` wide, the width the downstream batch
    * blocking uses (see `Dedup.simhashCandidatesFromSignatures`).
    */
  def cleaned(docs: DataFrame, minQuality: Double = 0.3): DataFrame = {
    docs
      .withWatermark("ts", "10 minutes")
      .withColumn("text_hash", md5(col("text")))
      .dropDuplicatesWithinWatermark("text_hash")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("quality_score", TextAnalysis.qualityScore(col("text")))
      .withColumn("lang_guess", TextAnalysis.langId(col("text")))
      .withColumn("simhash", Dedup.simhash(col("text"), Dedup.DefaultSimhashBits))
      .where(col("quality_score") >= minQuality)
  }

  /** Streaming twin of [[graft.ops.Sketches.bloomDecontaminate]] (q61):
    * flag documents overlapping a FROZEN benchmark suite as they arrive.
    * The bloom bit array (8 KiB) rides into every task as a
    * literal inside codegen — most shingles die there with zero join — and
    * only survivors pay the stream-static broadcast probe against the
    * exact benchmark shingle set, so the confirmed overlap counts carry NO
    * bloom false positives. State is the watermark-bounded per-(window,
    * doc) count — same bound as [[scored]]; the benchmark artifact is
    * static by contract (a new eval suite = a new stream, exactly how
    * decontamination gates deploy).
    *
    * docs(ts, doc_id, text) -> (doc_id, n_overlap), one row per
    * CONTAMINATED doc finalized when the watermark passes its window
    * (clean documents emit nothing, like the batch op).
    */
  def decontaminated(docs: DataFrame, benchmark: DataFrame,
                     watermark: String = "10 minutes"): DataFrame = {
    import graft.ops.Sketches
    // shared prelude with the batch face — one definition of the benchmark
    // artifact (Sketches.benchmarkBloom), so q61 parity holds by
    // construction
    val (bsh, bits) = Sketches.benchmarkBloom(benchmark, "text")
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"),
        explode(graft.functions.TextFunctions.wordShingles(col("text"), Dedup.ShingleWords))
          .as("shingle"))
      .where(Sketches.bloomContains(bits)(
        Dedup.shingleHash(col("shingle"))))
      .join(broadcast(bsh), Seq("shingle"))
      .groupBy(window(col("ts"), "10 minutes"), col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("doc_id"), col("n_overlap"))
  }

  /** Streaming twin of [[graft.ops.Corpus.perplexityScore]]: score a
    * document stream against a STATIC unigram LM (trained offline —
    * [[graft.ops.Corpus.unigramLm]] — exactly how perplexity gates deploy:
    * the model is a frozen artifact, the corpus arrives continuously).
    *
    * docs(ts, doc_id, text) -> (doc_id, n_tokens, nll), one row per doc
    * finalized when the watermark passes its window. Per-token cost is a
    * stream-static broadcast hash join; state is the watermark-bounded
    * per-(window, doc) running (count, sum logp) — no stream-side shuffle
    * beyond the per-doc aggregation, mirroring the batch shape.
    */
  def scored(docs: DataFrame, lm: DataFrame, oovLogp: Double,
             watermark: String = "10 minutes"): DataFrame = {
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"),
        explode(TextAnalysis.words(col("text"))).as("w"))
      .join(broadcast(lm), Seq("w"), "left")
      .select(col("ts"), col("doc_id"),
        coalesce(col("logp"), lit(oovLogp)).as("logp"))
      .groupBy(window(col("ts"), "10 minutes"), col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(-avg(col("logp")), 6).as("nll"))
      .select(col("doc_id"), col("n_tokens"), col("nll"))
  }
}
