package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: benchmark
  * decontamination, deterministic sampling/rebalancing, TF-IDF term
  * weighting, and sharded shuffle export.
  *
  * Everything here is deterministic by construction — selection and
  * ordering derive from portable integer hashes of stable ids, never from
  * `rand()` or partition order — so a re-run (or a different cluster size)
  * produces byte-identical curated corpora. The hash is the affine map
  * h(id) = ((id mod P)*A + b) mod P used by [[Dedup.mixConsts]]; reducing
  * the id mod P FIRST keeps the product under 2^63 for ANY 64-bit id
  * ((P-1)*A ≈ 2.7e18 < Long.MaxValue), so the expression is safe under
  * Spark's ANSI overflow checks and runs unchanged in any engine (the
  * DuckDB oracle included, where BIGINT overflow also errors). For ids
  * already below P (every test table) the reduction is the identity.
  *
  * Scale shapes:
  *  - decontamination joins the corpus' shingles against the BENCHMARK
  *    side, which is small by definition (an eval set, not a second
  *    corpus) — the join broadcasts, so the 100 TB side never shuffles;
  *  - sampling/rebalance/export are per-row hash arithmetic plus either a
  *    per-stratum top-k window (map-side WindowGroupLimit) or a pre-agg of
  *    one row per stratum (broadcast back) — no data-sized shuffle;
  *  - TF-IDF shuffles once for term frequencies (keyed by (doc, term), the
  *    natural high-cardinality key) and aggregates the document-frequency
  *    table from the tf rows, which is vocabulary-sized, not corpus-sized.
  */
object Corpus {

  private val P = 1000000007L

  /** Portable deterministic id hash: ((id mod P)*A + b) mod P. `A` is the
    * Knuth multiplicative constant; vary `b` to draw independent streams.
    * pmod keeps negative ids non-negative before the multiply.
    */
  def idHash(id: Column, b: Long): Column =
    (pmod(id, lit(P)) * 2654435761L + b) % P

  /** Documents of `corpus` sharing at least one word 3-gram with
    * `benchmark` (the eval set being protected), with the count of distinct
    * overlapping shingles — the standard n-gram-overlap decontamination
    * signal. Output: (idCol, n_overlap >= 1 rows only).
    *
    * The benchmark's distinct-shingle set is broadcast: decontamination is
    * always "huge corpus vs small eval suite", so the corpus side joins
    * map-side without a shuffle, and the per-doc count aggregates on idCol.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val csh = Dedup.shingles(corpus, idCol, textCol, Dedup.ShingleWords)
    val bsh = benchmark
      .select(explode(graft.functions.TextFunctions.wordShingles(col(textCol),
        Dedup.ShingleWords)).as("shingle"))
      .distinct()
    csh.join(broadcast(bsh), "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Keep only corpus documents with NO word 3-gram overlap against the
    * benchmark (the filter form of [[decontaminate]]).
    */
  def decontaminated(corpus: DataFrame, benchmark: DataFrame,
                     idCol: String, textCol: String): DataFrame =
    corpus.join(decontaminate(corpus, benchmark, idCol, textCol),
      Seq(idCol), "left_anti")

  /** Graded contamination report: for every corpus document WITH AT LEAST
    * ONE word 3-shingle (including the clean ones [[decontaminate]] omits),
    * the distinct-shingle count, the eval-set overlap count, and the
    * contamination rate in integer basis points (n_overlap · 10000 ÷
    * n_shingles, floor division — exact across engines, no floating
    * point). Documents shorter than 3 words produce no shingle evidence
    * and are ABSENT from the report (their rate would be 0/0); a consumer
    * joining on it should treat absence as "no evidence", i.e. 0 bps —
    * they cannot be contaminated at this width. The boolean decontamination
    * filter drops a doc over a single 3-gram hit; pipelines that instead
    * threshold on the RATE (e.g. quarantine > 500 bps) need this graded
    * form.
    *
    * Same scale shape as [[decontaminate]]: the eval-set shingle set is
    * broadcast, the corpus side never shuffles data-sized rows — the only
    * aggregates are keyed on the doc id. The shingle projection is cached
    * because it feeds both aggregates; lifecycle follows the [[Dedup]]
    * convention (long-lived services `clearCache()` between jobs).
    */
  def contaminationRate(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    // cached: feeds the two aggregates below
    val csh = Dedup.shingles(corpus, idCol, textCol, Dedup.ShingleWords).cache()
    val bsh = benchmark
      .select(explode(graft.functions.TextFunctions.wordShingles(col(textCol), Dedup.ShingleWords))
        .as("shingle"))
      .distinct()
    val totals = csh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val overlap = csh.join(broadcast(bsh), "shingle")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    totals.join(overlap, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contamination_bps",
        expr("(n_overlap * 10000) DIV n_shingles"))
  }

  /** Deterministic stratified sample: the `k` documents per stratum with
    * the smallest id hash (ties broken by id). row_number() <= k plans as
    * WindowGroupLimit — every map task pre-trims to its local top-k per
    * stratum before the shuffle. Output adds `rn` (1-based rank within the
    * stratum).
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       k: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(idHash(col(idCol), 11L), col(idCol))
    // null ids are dropped (the sampleQuantileState convention): a NULL id
    // hashes to a NULL rank key that sorts FIRST, stealing top-k slots from
    // real rows — nondeterministically when several NULL-id rows tie
    df.where(col(idCol).isNotNull)
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Deterministic weighted priority sample: the `k` rows per stratum with
    * the SMALLEST priority u / w, where u = (id hash mod 1e6) + 1 ∈
    * [1, 1e6] and w = `weightCol` (> 0). Higher-weight rows draw
    * stochastically smaller priorities, so selection probability rises
    * with weight — the division-only surrogate for Efraimidis–Spirakis
    * exponential keys (-ln(U)/w), chosen because IEEE division is
    * correctly rounded and therefore bit-identical in every engine (the
    * DuckDB oracle included), while ln's last ulp is not portable across
    * libm builds. The same row set survives on every run, cluster size,
    * and partitioning; ties break by id. This is the "sample documents
    * proportional to quality/length" stage of corpus curation, with
    * reproducibility as a hard property.
    *
    * Scale: priorities are pure per-row expression work and the
    * per-stratum top-k plans as WindowGroupLimit — every map task pre-trims
    * to its local k before the one bounded shuffle, exactly like
    * [[stratifiedSample]]. Merge-friendly: the k smallest priorities
    * globally are the k smallest of any union of partition-wise top-k sets,
    * so partial samples combine without rescanning.
    *
    * Output: every input column + (priority, rn), rn = 1..k per stratum.
    */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
                     weightCol: String, k: Int): DataFrame = {
    val u = pmod(idHash(col(idCol), 37L), lit(1000000L)) + lit(1L)
    // priority defined ONLY for w > 0 (the documented precondition): a
    // bare division let a NULL weight sort first under asc-nulls-first
    // and a negative weight produce a negative (always-winning) priority —
    // one bad row silently hijacked the whole sample. NULL priority +
    // nulls-LAST ordering means non-positive/NULL weights are simply
    // never selected.
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("priority").asc_nulls_last, col(idCol))
    df.withColumn("priority", when(col(weightCol).cast("double") > 0,
        u.cast("double") / col(weightCol).cast("double")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k && col("priority").isNotNull)
  }

  /** Per-stratum feature scaling for model-ready exports: every row gets
    * its percent rank (rank−1)/(n−1) under a deterministic (value, id)
    * order and its min-max position (v−min)/(max−min) — the two standard
    * normalizations, emitted together so a trainer can pick either
    * without a second pass. Ranks are integer window arithmetic and each
    * scale is ONE IEEE division of engine-identical inputs, so the scaled
    * features are hash-gated bit-for-bit; degenerate strata (n = 1 or
    * constant value) yield NULL rather than 0/0.
    *
    * Scale: one stratum-keyed window (rank) sharing its Exchange with the
    * min/max/count window aggregates — keyed, no global sort; output is
    * row-sized by design (it IS the export).
    *
    * Output: every input column + (pct_rank, minmax).
    */
  def featureScale(df: DataFrame, stratumCol: String, valueCol: String,
                   idCol: String): DataFrame = {
    val ws = Window.partitionBy(col(stratumCol))
    val wo = ws.orderBy(col(valueCol), col(idCol))
    df.where(col(valueCol).isNotNull)
      .withColumn("_rk", row_number().over(wo).cast("long"))
      .withColumn("_n", count(lit(1)).over(ws))
      .withColumn("_mn", min(col(valueCol)).over(ws))
      .withColumn("_mx", max(col(valueCol)).over(ws))
      .withColumn("pct_rank",
        when(col("_n") > 1L,
          round((col("_rk") - 1L).cast("double") / (col("_n") - 1L).cast("double"), 6)))
      .withColumn("minmax",
        when(col("_mx") > col("_mn"),
          round((col(valueCol) - col("_mn")) / (col("_mx") - col("_mn")), 6)))
      .drop("_rk", "_n", "_mn", "_mx")
  }

  /** The hash-Bernoulli survival predicate shared by [[rebalance]] and
    * [[rebalanced]]: keep a row iff its id hash lands in the first
    * floor(rate*1e6) of 1e6 buckets. Factored so the stats report and the
    * data filter can never drift apart.
    */
  private def keepRow(idCol: String, rate: Column, hashSeed: Long): Column =
    pmod(idHash(col(idCol), hashSeed), lit(1000000L)) < floor(rate * 1000000.0)

  /** The thinned corpus itself (the filter form of [[rebalance]]): every
    * input column, restricted to the rows the rebalance keeps. Strata join
    * null-safely (`<=>`), so a NULL stratum is thinned like any other
    * rather than silently dropped.
    */
  def rebalanced(df: DataFrame, stratumCol: String, idCol: String,
                 target: Double): DataFrame = {
    val before = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_before"))
      .withColumnRenamed(stratumCol, "_stratum")
    val rate = least(lit(1.0), lit(target) / col("n_before"))
    df.join(broadcast(before), col(stratumCol) <=> col("_stratum"))
      .where(keepRow(idCol, rate, 17L))
      .drop("_stratum", "n_before")
  }

  /** Rebalance strata to ~`target` documents each by deterministic
    * hash-Bernoulli thinning: stratum with n docs keeps each doc with
    * probability min(1, target/n), selected by hash bucket — so the SAME
    * documents survive on every run and every cluster. Returns one row per
    * stratum: (stratumCol, n_before, n_after). NULL strata are counted and
    * thinned like any other (null-safe joins throughout); use
    * [[rebalanced]] for the surviving rows themselves.
    *
    * This is the language/domain-rebalancing stage of corpus curation
    * (downsample over-represented strata). Shape: one row per stratum
    * aggregated, broadcast back onto the data for the thinning filter.
    */
  def rebalance(df: DataFrame, stratumCol: String, idCol: String,
                target: Double): DataFrame = {
    val before = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_before"))
    val kept = rebalanced(df, stratumCol, idCol, target)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("n_after"))
      .withColumnRenamed(stratumCol, "_stratum")
    before.join(kept, col(stratumCol) <=> col("_stratum"), "left")
      .select(col(stratumCol), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
  }

  /** Temperature-flattened mixture sampling — the standard training-mix
    * reweighting (multinomial sampling with weights w_s = n_s^0.5, the
    * classic sqrt temperature that flattens the stratum distribution
    * toward uniform). Stratum s with n_s documents is
    * kept at rate min(1, T * w_s / (W * n_s)) where W = sum of all w_s and
    * `totalTarget` T is the desired total sample size. Selection is the
    * same hash-Bernoulli predicate as [[rebalanced]], so the SAME rows
    * survive on every run and cluster layout.
    *
    * Cross-engine parity: the weight uses sqrt (IEEE-exact in every engine,
    * unlike libm pow which may differ at the last ulp); per-stratum weights
    * are rounded to 6 decimals and W is summed as DECIMAL so the total is
    * independent of stratum iteration order.
    *
    * Shape: two tiny aggregates (one row per stratum, then one row total)
    * broadcast back onto the data — the corpus-sized side never shuffles.
    */
  def temperatureSampled(df: DataFrame, stratumCol: String, idCol: String,
                         totalTarget: Double): DataFrame = {
    val strata = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_before"))
      .withColumn("_w",
        round(sqrt(col("n_before")), 6).cast(org.apache.spark.sql.types.DecimalType(28, 6)))
    val tot = strata.agg(sum(col("_w")).as("_totW"))
    val rates = strata.crossJoin(broadcast(tot))
      .select(col(stratumCol).as("_stratum"),
        least(lit(1.0), lit(totalTarget) * col("_w").cast("double") /
          (col("_totW").cast("double") * col("n_before"))).as("_rate"))
    df.join(broadcast(rates), col(stratumCol) <=> col("_stratum"))
      .where(keepRow(idCol, col("_rate"), 29L))
      .drop("_stratum", "_rate")
  }

  /** Stats form of [[temperatureSampled]]: one row per stratum,
    * (stratumCol, n_before, n_after). Derived from the SAME predicate.
    */
  def temperatureSample(df: DataFrame, stratumCol: String, idCol: String,
                        totalTarget: Double): DataFrame = {
    val before = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_before"))
    val kept = temperatureSampled(df, stratumCol, idCol, totalTarget)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("n_after"))
      .withColumnRenamed(stratumCol, "_stratum")
    before.join(kept, col(stratumCol) <=> col("_stratum"), "left")
      .select(col(stratumCol), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
  }

  /** Per-document top-`k` TF-IDF terms. tf = term occurrences in the doc
    * (whitespace tokens, lowercased); df = number of documents containing
    * the term; score = round(tf * (ln((N+1)/(df+1)) + 1), 4) — the
    * smoothed-idf variant that keeps corpus-ubiquitous terms finite.
    * Output: (idCol, rank, term, tfidf), rank 1..k by (score desc, term).
    *
    * Shuffle budget: ONE data-sized exchange (tf keyed on (doc, term));
    * df aggregates the tf rows (vocabulary-sized) and joins back —
    * broadcast at realistic vocabulary sizes, AQE's call otherwise; N is a
    * one-row broadcast. The rank filter plans as WindowGroupLimit.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 3): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 4))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tfidf"))
  }

  /** Deterministic sharded shuffle for training export: shard =
    * id-hash mod `shards`, position = rank of an INDEPENDENT id hash
    * within the shard. Together they define a reproducible global shuffle
    * order ((shard, pos) lexicographic) with no global sort: each shard
    * ranks independently — the exact layout of a sharded training-data
    * export, where readers consume shards in parallel.
    */
  def shuffledExport(df: DataFrame, idCol: String, shards: Int = 16): DataFrame = {
    // null ids dropped: they'd all land in shard NULL with a
    // nondeterministic within-shard order (see stratifiedSample)
    val withShard = df.where(col(idCol).isNotNull)
      .withColumn("shard", pmod(idHash(col(idCol), 7L), lit(shards.toLong)))
    // independent multiplier (xxhash prime2) for the within-shard order —
    // an affine shift of the shard hash would correlate pos with shard, and
    // a multiplier below P would not wrap the modulus for small ids,
    // leaving the "shuffle" monotone in id. Same mod-P-first reduction as
    // idHash: (P-1)*2246822519 ≈ 2.2e18 stays below Long.MaxValue.
    val w = Window.partitionBy(col("shard"))
      .orderBy((pmod(col(idCol), lit(P)) * 2246822519L + 13L) % P, col(idCol))
    withShard.withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Unigram-LM negative log-likelihood per document — the CCNet/Gopher
    * style perplexity quality gate, with the LM trained on the corpus
    * itself. Probabilities are add-one smoothed over the vocabulary of
    * words with ≥ `minCount` occurrences; rarer words share one OOV
    * probability:  p(w) = (c(w)+1)/(N+V+1)  in-vocab,  1/(N+V+1)  OOV,
    * where N = total token occurrences and V = kept vocabulary size.
    * Score = -mean ln p(w_i) over the document's tokens (lower = more
    * typical of the corpus; exp(score) is the perplexity).
    *
    * Scale shape: token counting is one map-side-combined shuffle whose
    * reduce side is VOCABULARY-sized, not corpus-sized; the trained LM is
    * vocab-bounded (minCount prunes the long tail — raise it, or top-V
    * cap, at larger corpora) and joins back as a broadcast hash join plus
    * two 1-row broadcast scalars (N, V), so the corpus side never
    * shuffles for scoring; per-doc aggregation is the single data-sized
    * shuffle, keyed by the document id.
    *
    * Output: (idCol, n_tokens, nll) — nll rounded to 6 decimals, the
    * repo's convention for log/ratio doubles under the hash gate.
    */
  def perplexityScore(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5L): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextAnalysis.words(col(textCol))).as("w"))
    val (lm, oov) = lmParts(docs, textCol, minCount)
    tok.join(broadcast(lm), Seq("w"), "left")
      .crossJoin(broadcast(oov))
      .select(col(idCol), coalesce(col("logp"), col("oov_logp")).as("logp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), round(-avg(col("logp")), 6).as("nll"))
  }

  /** LM construction shared by the batch scorer and the exported artifact:
    * (kept-vocab (w, logp) rows, 1-row OOV log-prob). Pure plan, no action.
    */
  private def lmParts(docs: DataFrame, textCol: String,
                      minCount: Long): (DataFrame, DataFrame) = {
    val cnt = docs.select(explode(TextAnalysis.words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // N counts ALL occurrences (OOV mass included); V only kept words.
    val totals = cnt.agg(
      sum(col("c")).as("n_tok"),
      sum(when(col("c") >= minCount, 1L).otherwise(0L)).as("v"))
    val lm = cnt.where(col("c") >= minCount)
      .crossJoin(broadcast(totals))
      .select(col("w"),
        log((col("c") + lit(1.0)) / (col("n_tok") + col("v") + lit(1.0))).as("logp"))
    val oov = totals
      .select(log(lit(1.0) / (col("n_tok") + col("v") + lit(1.0))).as("oov_logp"))
    (lm, oov)
  }

  /** The trained unigram LM as a reusable STATIC artifact — (word, logp)
    * rows for the vocabulary of words with >= 5 occurrences plus the
    * shared OOV log-probability.
    * This is what an online/streaming scorer loads: train offline on the
    * corpus snapshot, broadcast-join the stream against it
    * ([[graft.streaming.DocumentStream.scored]]). The OOV scalar is one
    * bounded driver action (a 1-row first(), same class as the repo's
    * other documented bounded collects).
    */
  def unigramLm(docs: DataFrame, textCol: String): (DataFrame, Double) = {
    val (lm, oov) = lmParts(docs, textCol, 5L)
    (lm, oov.first().getDouble(0))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much more likely its tokens are under a TARGET-domain
    * unigram LM than under the raw-corpus LM —
    * log_ratio(d) = mean_w [ ln p_target(w) − ln p_raw(w) ] — then select
    * the top-weighted documents to shift the training mixture toward the
    * target. Both LMs are add-one smoothed over the SAME vocabulary (raw
    * words with ≥ `minCount` occurrences; the target's counts drop onto
    * it, 0 where absent) so the ratio is well-defined everywhere, OOV
    * included.
    *
    * Scale shape: identical to [[perplexityScore]] — two vocab-grain count
    * aggregations (the target side is small by definition), a broadcast
    * LM join + 1-row totals, and ONE data-sized shuffle for the per-doc
    * mean. Selection composes the limit-bounded top-k pattern.
    *
    * Output: (idCol, n_tokens, log_ratio r6) — positive = target-like.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, minCount: Long = 5L): DataFrame = {
    val rawTok = raw.select(col(idCol),
      explode(TextAnalysis.words(col(textCol))).as("w"))
    val rawCnt = rawTok.groupBy(col("w")).agg(count(lit(1)).as("c_r"))
    val tgtCnt = target.select(explode(TextAnalysis.words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_t"))
    val vocab = rawCnt.where(col("c_r") >= minCount)
      .join(tgtCnt, Seq("w"), "left")
      .select(col("w"), col("c_r"), coalesce(col("c_t"), lit(0L)).as("c_t"))
    // N on each side counts ALL of that side's occurrences (OOV mass
    // included); V is the one shared vocabulary size.
    val tot = rawCnt.agg(sum(col("c_r")).as("n_r"),
        sum(when(col("c_r") >= minCount, 1L).otherwise(0L)).as("v"))
      .crossJoin(tgtCnt.agg(sum(col("c_t")).as("n_t")))
    val lm = vocab.crossJoin(broadcast(tot))
      .select(col("w"),
        (log((col("c_t") + lit(1.0)) / (col("n_t") + col("v") + lit(1.0))) -
         log((col("c_r") + lit(1.0)) / (col("n_r") + col("v") + lit(1.0)))).as("lr"))
    val oov = tot.select(
      (log(lit(1.0) / (col("n_t") + col("v") + lit(1.0))) -
       log(lit(1.0) / (col("n_r") + col("v") + lit(1.0)))).as("oov_lr"))
    rawTok.join(broadcast(lm), Seq("w"), "left")
      .crossJoin(broadcast(oov))
      .select(col(idCol), coalesce(col("lr"), col("oov_lr")).as("lr"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("lr")), 6).as("log_ratio"))
  }

  /** Domain-mixture reweighting: given a domain column and a target share
    * per domain (uniform by default), compute the sampling weight that
    * moves the corpus' token mixture toward the target —
    * weight = min(target_share / actual_share, 5), the cap
    * acknowledging that up-sampling a tiny domain beyond a few epochs
    * repeats data rather than adding it. This is the mixture step of
    * DoReMi/Pile-style training-data recipes.
    *
    * Scale shape: one vocabulary-free aggregation to domain grain (#domains
    * rows — map-side combined), then arithmetic against a 1-row broadcast
    * total. The corpus is scanned once; nothing data-sized shuffles.
    *
    * Output per domain: n_docs, n_tokens, share (r6), weight (r6),
    * eff_tokens = n_tokens*weight (r6 — the weight's grain: an integer
    * multiple of an r6-grid value rounded coarser can land on a decimal
    * half-way point where engines disagree, the q117 class; at the
    * weight's own grain the round is effectively the identity).
    */
  def mixtureWeights(docs: DataFrame, domainCol: String, textCol: String): DataFrame = {
    val perDomain = docs
      .select(col(domainCol), TextAnalysis.tokenCount(col(textCol)).as("_nt"))
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
    val totals = perDomain.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_domains"))
    perDomain.crossJoin(broadcast(totals))
      .withColumn("share", round(col("n_tokens") / col("tot_tokens"), 6))
      .withColumn("weight",
        round(least((col("tot_tokens") / col("n_domains")) / col("n_tokens"),
          lit(5.0)), 6))
      .withColumn("eff_tokens", round(col("n_tokens") * col("weight"), 6))
      .select(col(domainCol), col("n_docs"), col("n_tokens"),
        col("share"), col("weight"), col("eff_tokens"))
  }

  /** Export integrity manifest: one row per shard of [[shuffledExport]]'s
    * layout with counts, token totals, and an ORDER-INSENSITIVE content
    * checksum — sum of per-document content fingerprints mod P, so any
    * dropped, duplicated, or corrupted document changes the shard's
    * checksum while re-partitioning/re-ordering cannot. The check a
    * training job runs against the manifest before touching a shard, and
    * the writer re-runs after. Everything is integer-exact (fingerprints
    * are mod-P longs; the sum is carried exactly and reduced mod P), so
    * the manifest is engine-portable bit for bit.
    *
    * Scale shape: per-row hash arithmetic + one map-side-combined
    * aggregate to shard grain. No window, no join, no data-sized shuffle.
    */
  def exportManifest(docs: DataFrame, idCol: String, textCol: String,
                     shards: Int = 16): DataFrame = {
    val assigned = docs.select(col(idCol),
      pmod(idHash(col(idCol), 7L), lit(shards.toLong)).as("shard"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("_nt"),
      TextAnalysis.fingerprint(col(textCol)).as("_fp"))
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        // DECIMAL(38) carry: a long sum of mod-P fingerprints overflows
        // (ANSI error) past ~1e9 docs per shard; 38 digits hold any real
        // corpus exactly, and DuckDB's HUGEINT sum matches
        (sum(col("_fp").cast(org.apache.spark.sql.types.DecimalType(38, 0))) % P)
          .cast("long").as("checksum"))
  }

  /** Corpus drift report: per value of `sliceCol`, the KL and JS
    * divergences between that slice's unigram distribution and the REST of
    * the corpus, over a fixed top-`vocab` term set — the distribution-level
    * companion to row-level snapshot diffing: "did this source/shard/crawl
    * drift?", "which mixture slice no longer looks like the rest?".
    *
    * Determinism/portability: the vocabulary is the global top-`vocab`
    * terms by (count desc, term asc) — a total order, so both engines cut
    * the same set. Probabilities are add-one smoothed over that closed
    * vocabulary, p = (c+1)/(n+V), from exact BIGINT counts; each term's
    * divergence contribution is rounded to 7 decimals and summed as
    * DECIMAL (exact, order-independent), the repo's convention for
    * log-bearing doubles under the hash gate (same as q102's LM scores).
    *
    * Scale shape: ONE data-sized shuffle (tokenize → (slice, term) counts,
    * map-side combined). Everything after is vocabulary- or slice-grain:
    * the top-V cut is a TakeOrdered (no global sort), the slice×V grid is
    * a cross join of two bounded aggregates, and the final reduction is
    * slices rows. The rest-of-corpus counts come from vocab-grain totals
    * minus the slice's own — the corpus is never scanned twice.
    *
    * Output per slice: (sliceCol, n_tokens, kl_slice_rest, kl_rest_slice,
    * js), divergences r7 (the term grain — see the dsum7 note).
    */
  def sliceDivergence(docs: DataFrame, sliceCol: String, textCol: String,
                      vocab: Int = 500): DataFrame = {
    val tok = docs.select(col(sliceCol),
      explode(TextAnalysis.words(col(textCol))).as("_w"))
    val perSlice = tok.groupBy(col(sliceCol), col("_w"))
      .agg(count(lit(1)).as("_c"))
    val termTot = perSlice.groupBy(col("_w")).agg(sum(col("_c")).as("_ct"))
    // global top-V cut: TakeOrdered over the vocab-grain table
    val topv = termTot.orderBy(col("_ct").desc, col("_w")).limit(vocab)
      .select(col("_w").as("_vw"), col("_ct"))
    // rename the distinct-slices key: `slices` DERIVES from `perSlice`, so
    // joining slices(sliceCol) to perSlice(sliceCol) hands Spark two
    // references with the SAME attribute id and leaves disambiguation to
    // the analyzer's DeduplicateRelations heuristic (it resolved correctly
    // but logged the "trivially true equals predicate" WARN on every run,
    // and the heuristic has shifted between Spark versions). The alias
    // makes the join key unambiguous by construction — the repo's standard
    // self-join shape (Eval.scala, Packing.scala).
    val slices = perSlice.select(col(sliceCol).as("_slice")).distinct()
    // dense slice × vocab grid (both sides bounded), observed counts in
    val grid = slices.crossJoin(broadcast(topv))
      .join(perSlice,
        col("_slice") <=> perSlice(sliceCol) && col("_vw") === perSlice("_w"),
        "left")
      .select(col("_slice").as(sliceCol), col("_vw"), col("_ct"),
        coalesce(col("_c"), lit(0L)).as("_cs"))
    val nS = grid.groupBy(col(sliceCol)).agg(sum(col("_cs")).as("_ns"),
      sum(col("_ct")).as("_ntot"))
    val v = lit(vocab.toDouble)
    val withN = grid.join(nS, Seq(sliceCol))
      .withColumn("_cr", col("_ct") - col("_cs"))
      .withColumn("_nr", col("_ntot") - col("_ns"))
      .withColumn("_pa", (col("_cs") + 1.0) / (col("_ns") + v))
      .withColumn("_pb", (col("_cr") + 1.0) / (col("_nr") + v))
      .withColumn("_pm", (col("_pa") + col("_pb")) / 2.0)
    // report at the TERM grain (7), never coarser: the decimal sum is
    // exact at 7 decimals, so round-7 discards nothing and has no half-way
    // case — a final round-6 can land exactly on a .5 boundary of the
    // exact sum, where Spark (HALF_UP on the shortest decimal repr) and a
    // binary-double-rounding engine legitimately disagree (observed on
    // q117's twin at sf0.1: sum exactly 0.0040785)
    def dsum7(c: Column): Column =
      round(sum(round(c, 7).cast(org.apache.spark.sql.types.DecimalType(38, 7)))
        .cast("double"), 7)
    withN.groupBy(col(sliceCol))
      .agg(max(col("_ns")).as("n_tokens"),
        dsum7(col("_pa") * log(col("_pa") / col("_pb"))).as("kl_slice_rest"),
        dsum7(col("_pb") * log(col("_pb") / col("_pa"))).as("kl_rest_slice"),
        dsum7(lit(0.5) * (col("_pa") * log(col("_pa") / col("_pm")) +
          col("_pb") * log(col("_pb") / col("_pm")))).as("js"))
  }

  /** Chi-square salient terms: the top-`k` terms most over-represented in
    * each class (language, source, label) against the rest of the corpus —
    * the classic keyword-salience / domain-signature statistic, and the
    * feature-selection step of quality-classifier pipelines.
    *
    * For term w and class s the 2×2 contingency is a = count(w in s),
    * b = count(w elsewhere), c = other tokens in s, d = other tokens
    * elsewhere; chi2 = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)). The whole
    * chain runs in DOUBLE with one fixed association mirrored by the SQL
    * oracle: every product of counts ≤ 2^53 is exact, the square rounds
    * identically under IEEE, so round(chi2, 4) is engine-portable. Only
    * over-represented terms are reported (ad > bc — chi2 alone is
    * two-sided), with a floor of 5 on a to keep rare-term noise out.
    *
    * Scale shape: identical to [[sliceDivergence]] — one data-sized
    * (class, term) count shuffle, vocab-grain totals joined back (AQE
    * broadcasts realistic vocabularies), and a per-class top-k that plans
    * as WindowGroupLimit. No slice×vocab grid is needed: a term absent
    * from a class has a = 0 and can never rank.
    *
    * Output: (classCol, rank 1..k, term, chi2 r4) by (chi2 desc, term).
    */
  def chiSquareTerms(docs: DataFrame, classCol: String, textCol: String,
                     k: Int = 10): DataFrame = {
    val tok = docs.select(col(classCol),
      explode(TextAnalysis.words(col(textCol))).as("term"))
    val byClass = tok.groupBy(col(classCol), col("term"))
      .agg(count(lit(1)).as("_a"))
    val byTerm = byClass.groupBy(col("term")).agg(sum(col("_a")).as("_w"))
    val bySlice = byClass.groupBy(col(classCol)).agg(sum(col("_a")).as("_s"))
    val total = byClass.agg(sum(col("_a")).as("_n"))
    val joined = byClass
      .join(byTerm, "term")
      .join(bySlice, Seq(classCol))
      .crossJoin(broadcast(total))
      .withColumn("_b", (col("_w") - col("_a")).cast("double"))
      .withColumn("_c", (col("_s") - col("_a")).cast("double"))
      .withColumn("_d",
        (col("_n") - col("_w") - col("_s") + col("_a")).cast("double"))
      .withColumn("_ad", col("_a").cast("double") * col("_d"))
      .withColumn("_bc", col("_b") * col("_c"))
    val den = (col("_w").cast("double") * (col("_n") - col("_w")).cast("double")) *
      (col("_s").cast("double") * (col("_n") - col("_s")).cast("double"))
    val scored = joined
      .where(col("_a") >= 5L && col("_ad") > col("_bc") && den > 0.0)
      .withColumn("chi2", round(
        (col("_n").cast("double") * ((col("_ad") - col("_bc")) * (col("_ad") - col("_bc")))) / den,
        4))
    val w = Window.partitionBy(col(classCol))
      .orderBy(col("chi2").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(classCol), col("rank"), col("term"), col("chi2"))
  }
}
