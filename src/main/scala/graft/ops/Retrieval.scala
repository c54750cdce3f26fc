package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over a `documents` table: BM25 scoring against an
  * inverted index, and the vocabulary-coverage curve used to size training
  * tokenizers.
  *
  * The reference engine has no search operator; this is part of the
  * training-data extension surface (corpus curation pipelines routinely
  * rank documents against probe queries for eval-set construction and
  * nearest-neighbour text retrieval without embeddings).
  *
  * 100 TB shape: the corpus side is touched exactly twice — one data-sized
  * shuffle to build (doc, term, tf) postings and its per-doc length rollup —
  * and everything downstream of the postings filter is query-term-sized:
  * the probe-term list and per-term document frequencies broadcast, so
  * scoring is a map-side join over only the postings of query terms (the
  * classic inverted-index probe), never a corpus-sized join. Top-k per
  * query plans as WindowGroupLimit: each task keeps k rows per query before
  * the final, output-sized exchange.
  */
object Retrieval {

  /** BM25 parameters, shared by [[bm25TopK]] and its oracle SQL
    * [[bm25ContribSql]] so the two cannot drift.
    */
  private val K1 = 1.2
  private val B = 0.75

  /** BM25 top-k documents per query.
    *
    * `queries` is a small literal list (query_id, terms). Scores use the
    * standard Robertson/Sparck-Jones BM25 with k1 = 1.2, b = 0.75:
    *   idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    * Per-term contributions are rounded to 6 decimals and summed as
    * DECIMAL(38,6) so the reduction is exact and order-independent — the
    * total is bit-identical across engines and partitionings. The score is
    * reported AT the contribution grain (6): the sum is exact there, so
    * re-rounding discards nothing and has no half-way case, while a
    * coarser final round (the old r4) hits an exact .xxxx5 boundary for
    * ~1 in 100 scores, where Spark's decimal-string HALF_UP and a
    * binary-double-rounding engine legitimately disagree (the q117 lesson).
    *
    * Output: (query_id, rank, doc_id, score), rank 1-based by
    * (score DESC, doc_id) within each query, rank <= 10, over the
    * (doc_id, text) columns of `docs`.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(String, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // doc length from the SAME tokenization (sum of term frequencies), so
    // empty/degenerate documents are measured exactly as they were indexed.
    // CARRIED as a doc-partitioned window column on the tf table itself
    // (r16, guide §1.2/§2.4): the old separate doc-grain `dl` table cost a
    // full tokenize+aggregate re-evaluation AND a doc-keyed join onto the
    // contributions — the window shares tf's pipeline and rides into the
    // postings for free (frame = one doc's terms, never data-sized).
    val tfdl = tf.withColumn("dl",
      sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
    // N and avgdl as a one-row broadcast; the long sum is exact, the single
    // division is the only float born here. Computed from a direct per-doc
    // token count (r17, guide §1.2): per-doc dl = count of exploded terms =
    // sum of that doc's tf values, bit-identically — so this branch skips
    // the old (id, term) groupBy + doc-partitioned window + distinct chain
    // (three exchanges and a sort) for one map-side-combined groupBy(id).
    // Still the same TWO tokenize passes (postings + stats): pinning the
    // corpus-sized tf table to make it one pass is a data-sized
    // materialization, deliberately avoided.
    val nrow = docs
      .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qdf = queries.flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
      .toDF("query_id", "term")
    // inverted-index probe: only postings of query terms survive this join.
    // Lazily pinned (r16): dfreq and the contribution join both consume it,
    // and each would otherwise re-run the whole tokenize pipeline; the pin
    // is query-term-sized (postings of the probe terms only), and the first
    // consumer materializes it — no extra job. Four full tokenize passes
    // (dl, nrow, dfreq, contrib) become two (postings, nrow).
    val post = tfdl.join(broadcast(qdf.select(col("term")).distinct()), "term")
      .localCheckpoint(eager = false)
    // document frequency per probe term — over the FULL corpus (post is
    // filtered by term only), but the result is query-term-sized
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = broadcast(qdf).join(post, "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nrow))
      .withColumn("contrib", round(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(K1 + 1.0)) /
          (col("tf") + lit(K1) *
            (lit(1.0 - B) + lit(B) * col("dl").cast("double") / col("avgdl"))), 6))
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib").cast("decimal(38,6)")).cast("double"), 6)
        .as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** SQL fragments for [[bm25TopK]]'s score expression, generated from the
    * SAME Scala doubles the DataFrame plan uses (Double.toString round-trips
    * exactly, so the literals parse to identical bits in DuckDB).
    */
  val bm25ContribSql: String =
    s"round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * " +
      s"(tf * ${K1 + 1.0}) / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl)), 6)"

  /** Vocabulary coverage curve over word bigrams: for each probe vocabulary
    * size v, the fraction of all bigram OCCURRENCES covered by the top-v
    * bigrams (by occurrence count, ties broken by text). This is the curve
    * used to pick tokenizer vocab sizes / decide merge budgets.
    *
    * Scale: bigram counting is one data-sized shuffle to a vocab-sized
    * table; the top-`maxVocab` cut is a TakeOrdered (per-partition top-k,
    * no global sort), and the rank/cumsum windows run on the LIMIT-bounded
    * result only — the unpartitioned window is capped at `maxVocab` rows by
    * construction (the plan-audit's limit-bounded exemption).
    *
    * Output: (vocab_size, covered, total, coverage) — one row per probe
    * size, where covered = occurrences of the top-`vocab_size` bigrams.
    * A probe size beyond the corpus's distinct-bigram count emits
    * (probe, total, total, 1.0) — the whole vocabulary is covered (r15
    * lockstep fix; such probes were silently omitted before, so "one row
    * per probe" held only for small probes).
    */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    sizes: Seq[Int], maxVocab: Int = 20000): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(s => s > 0 && s <= maxVocab),
      s"probe sizes must be in [1, $maxVocab]")
    // occurrence (not per-doc-distinct) bigrams: lead window PARTITIONED BY
    // doc — bounded by document length, parallel across docs
    val toks = docs.select(col(idCol),
      posexplode(TextAnalysis.words(col(textCol))).as(Seq("pos", "w")))
    val wd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val grams = toks.withColumn("w2", lead(col("w"), 1).over(wd))
      .where(col("w2").isNotNull)
      .select(concat_ws(" ", col("w"), col("w2")).as("gram"))
    val counts = grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val top = counts.orderBy(col("cnt").desc, col("gram")).limit(maxVocab)
    val w = Window.orderBy(col("cnt").desc, col("gram"))
    val ranked = top
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val probes = sizes.distinct.sorted.map(_.toLong)
    // LEFT join the probe list to the ranked cut: a probe past the
    // distinct-bigram count has no rank row and coalesces to full
    // coverage. Both sides are tiny (|probes| and <= maxVocab rows), so
    // this is a broadcast join over a LIMIT-bounded input — no new
    // data-sized work.
    import docs.sparkSession.implicits._
    val probeDf = probes.toDF("vocab_size")
    probeDf
      .join(broadcast(ranked.where(col("rank").isin(probes: _*))),
        col("vocab_size") === col("rank"), "left")
      .crossJoin(broadcast(total))
      // an empty corpus (no bigram at all) has no meaningful coverage row:
      // keep the pre-r15 empty output rather than emitting null rows
      .where(col("total").isNotNull)
      .select(col("vocab_size"),
        coalesce(col("cum"), col("total")).as("covered"),
        col("total"),
        round(coalesce(col("cum"), col("total")).cast("double") / col("total"),
          6).as("coverage"))
  }
}
