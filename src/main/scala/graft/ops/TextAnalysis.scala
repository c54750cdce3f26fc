package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a `documents`
  * table (doc_id, text, lang, source, n_chars).
  *
  * All functions are pure `org.apache.spark.sql.functions` compositions —
  * no UDFs — so they stay inside whole-stage codegen and scale as flat
  * per-row scalar work (the ideal 100 TB shape: no shuffle at all until an
  * aggregation is requested).
  */
object TextAnalysis {

  /** The regex-`\s` character set, as a trim alphabet. `trim(c, WsChars)`
    * strips exactly the characters Java-regex `\s` matches (space, \t, \n,
    * VT, \f, \r) from both ends — the same class the `"\\s+"` split
    * separates on, so tokenization can no longer manufacture a trailing
    * empty token from `\n`/`\t`-padded text (a real r14 defect: the phantom
    * "" term entered LM, tf-idf, chi² and drift vocabularies). The DuckDB
    * oracles trim the identical alphabet (`SparkEntry.wsTrimSql`).
    */
  val WsChars: String = " \t\n\u000B\f\r"

  /** `\s`-aware both-ends trim (see [[WsChars]]). */
  def wsTrim(c: Column): Column = trim(c, WsChars)

  /** True when the text contains any non-whitespace character — the
    * nonempty-document predicate every filter below shares.
    */
  def nonEmpty(c: Column): Column = length(wsTrim(c)) > 0

  /** Whitespace tokenization of `\s`-trimmed, lowercased text.
    *
    * CONTRACT (mirrored bit-for-bit by every DuckDB oracle): Spark's
    * split of an EMPTY string returns `[""]`, so a document with no
    * non-whitespace characters contributes ONE empty-string "token" to
    * anything built on this (unigram LMs, tf-idf, chi², drift
    * vocabularies) and counts as a 1-token doc — filter with [[nonEmpty]]
    * when "" tokens are unwanted. Since r15 the trim is `\s`-aware
    * ([[WsChars]]), so interior tokens are never empty and trailing
    * whitespace of any kind adds no token. Note
    * [[graft.functions.TextFunctions]]' tokenCount native kernel shares
    * this tokenizer via `TextKernels.tokenize`.
    */
  def words(text: Column): Column = split(wsTrim(lower(text)), "\\s+")

  /** One-pass native per-document statistics struct (n_tokens,
    * mean_word_len, punct_ratio, stopword_ratio, lang_* marker hits) — the
    * compiled kernel behind every function below. Its interpreted HOF twins
    * (`TextAnalysisRef.*Hof` under src/test: CodegenFallback lambdas, one
    * array scan per statistic) are the executable specs TextOpsSpec pins it
    * equal to.
    */
  def stats(text: Column): Column = graft.functions.TextFunctions.textStats(text)

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = stats(text).getField("n_tokens")

  /** A BPE-ish subword proxy: count of word-boundary + non-alnum splits,
    * approximating tokenizer token counts without a vocab (deterministic,
    * engine-portable).
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"), w => length(wsTrim(w)) > 0))

  /** Punctuation-character ratio. */
  def punctRatio(text: Column): Column = stats(text).getField("punct_ratio")

  /** Ratio of stopword tokens (tiny fixed English list — heuristic quality
    * signal, same spirit as length/punct/stopword scoring in web-scale
    * pipelines).
    */
  val stopwords: Seq[String] = graft.functions.TextKernels.stopwords.toSeq.sorted

  def stopwordRatio(text: Column): Column = stats(text).getField("stopword_ratio")

  def meanWordLen(text: Column): Column = stats(text).getField("mean_word_len")

  /** Composite quality score in [0,1]: long enough, words not degenerate,
    * not punctuation-soup. Thresholds are heuristic; the value is the
    * deterministic, portable arithmetic.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val wordScore = when(meanWordLen(text).between(2.0, 12.0), lit(1.0)).otherwise(lit(0.5))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    round((lenScore + wordScore + punctScore) / 3.0, 4)
  }

  /** Marker-word language-ID heuristic: count hits against per-language
    * marker lists, pick the argmax with a fixed precedence order
    * (en > es > de > fr > zh > unknown) so ties are deterministic.
    */
  val langMarkers: Seq[(String, Seq[String])] =
    graft.functions.TextKernels.langMarkers.map { case (l, m) => l -> m.toSeq.sorted }

  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, _) => lang -> stats(text).getField(s"lang_$lang") }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = greatest(scores.map(_._2): _*)
    // first language (in precedence order) reaching the max, if max > 0
    scores.foldLeft(when(best <= 0, lit("unknown"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("unknown"))
  }

  /** Order-sensitive polynomial rolling hash of the text's characters:
    * h = (h*31 + codepoint(c)) mod 1e9+7. Portable: the same arithmetic is
    * expressible in any engine (the DuckDB oracle uses list_reduce), unlike
    * xxhash64/md5-of-engine internals. Used as the document fingerprint.
    */
  def fingerprint(text: Column): Column = graft.functions.TextFunctions.polyHash(text)

  /** PII redaction patterns, applied in order (email first so its digits
    * are gone before the digit-run pattern sees them). Regexes stay inside
    * the portable common subset of Java regex and RE2 — no lookaround, no
    * backreferences — so the same pattern string drives both the engine and
    * a DuckDB/RE2 oracle, and the scrub is a flat codegen'd per-row
    * `regexp_replace` chain: zero shuffle at any scale.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "[0-9]{8,}" -> "<NUM>")

  /** Mask emails, phone-shaped numbers, and long digit runs. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    }

  /** Count of PII matches a scrub would redact (pre-scrub). */
  def piiCount(text: Column): Column =
    piiPatterns.map { case (re, repl) =>
      // count each pattern on the text as the scrub chain sees it: with the
      // EARLIER patterns already applied, so an email's digits are not
      // double-counted as a digit run
      regexp_count(
        piiPatterns.takeWhile(_._1 != re).foldLeft(text) { case (c, (r, rp)) =>
          regexp_replace(c, r, rp)
        }, lit(re))
    }.reduce(_ + _)

  /** Top-`k` word bigrams per group by DOCUMENT frequency (each doc counts
    * a bigram once — [[graft.functions.WordShingles]] emits per-doc
    * distinct shingles). The rank filter is `row_number <= k`, which Spark
    * plans with WindowGroupLimit: every map task keeps only its local top-k
    * per group before the shuffle, so the exchange carries O(groups·k) rows
    * per task, not the full vocabulary.
    */
  def topNgrams(docs: DataFrame, groupCol: String, textCol: String,
                k: Int = 5): DataFrame = {
    val df = docs.select(col(groupCol),
      explode(graft.functions.TextFunctions.wordShingles(col(textCol), 2)).as("ngram"))
      .groupBy(col(groupCol), col("ngram"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("df").desc, col("ngram"))
    df.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Repetition filters in the style published web-corpus pipelines use
    * (duplicate-fraction and top-n-gram-share rules à la Gopher/RefinedWeb):
    * a document dominated by one repeated phrase carries little training
    * signal. `dupWordFraction` is pure collection-expression work (no
    * shuffle); the top-n-gram share needs per-doc NON-distinct n-gram
    * counts, so it is relational — tokens explode, bigrams via a lead
    * window PARTITIONED BY doc (bounded by document length, parallel across
    * docs), one count aggregate, one deterministic top-1 pick.
    */
  def dupWordFraction(text: Column): Column = {
    val ws = words(text)
    when(size(ws) > 0,
      lit(1.0) - size(array_distinct(ws)).cast("double") / size(ws))
      .otherwise(lit(0.0))
  }

  /** Per doc: the most frequent word bigram (ties broken by bigram text,
    * ascending), its count, and its share of the doc's bigram occurrences.
    * Docs with fewer than 2 words have no bigram and are omitted.
    */
  def topNgramShare(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val grams = toks.withColumn("w2", lead(col("w"), 1).over(w))
      .where(col("w2").isNotNull)
      .select(col(idCol), concat_ws(" ", col("w"), col("w2")).as("ngram"))
    val counts = grams.groupBy(col(idCol), col("ngram"))
      .agg(count(lit(1)).as("ngram_count"))
    val rank = Window.partitionBy(col(idCol))
      .orderBy(col("ngram_count").desc, col("ngram"))
    counts
      .withColumn("_rn", row_number().over(rank))
      .withColumn("_tot", sum(col("ngram_count")).over(Window.partitionBy(col(idCol))))
      .where(col("_rn") === 1)
      .select(col(idCol), col("ngram").as("top_ngram"),
        col("ngram_count").as("top_count"),
        round(col("ngram_count").cast("double") / col("_tot"), 4).as("top_share"))
  }

  /** Deterministic hash-based dataset split (train/val/test) — the standard
    * leakage-safe way to partition a corpus: the assignment depends only on
    * the document's content fingerprint, so it is stable across runs,
    * cluster sizes, and re-shuffles, and near-identical documents land via
    * their own hash (use near-dup clustering upstream when exact-hash
    * stability is not enough). Buckets 80/10/10. Pure per-row arithmetic;
    * no shuffle.
    */
  def datasetSplit(text: Column): Column = {
    val bucket = pmod(fingerprint(text), lit(100L))
    when(bucket < 80, lit("train"))
      .when(bucket < 90, lit("val"))
      .otherwise(lit("test"))
  }

  /** Split each document into overlapping token-window chunks — the
    * standard long-document preprocessing step before tokenization/packing.
    * Windows start every (maxTokens - overlap) tokens and take up to
    * `maxTokens` tokens; the final window is the ragged remainder. Output:
    * one row per chunk with (idCol, chunk_id, n_tokens, chunk_text),
    * chunk_id 0-based. Documents with zero tokens produce zero chunks.
    *
    * A start `s > 0` with `s + overlap >= len` would yield a chunk fully
    * CONTAINED in its predecessor (the previous window already reaches
    * `s - step + maxTokens = s + overlap >= len`) — duplicate training
    * text, the exact failure a dedup pipeline exists to prevent. Such
    * trailing starts are suppressed (r15 lockstep fix; the DuckDB oracle
    * filters the identical predicate). Suppressed starts are always a
    * SUFFIX of the start sequence, so surviving chunk_ids stay contiguous.
    *
    * Pure per-row expression work (split + sequence + posexplode + slice):
    * no shuffle, no UDF; chunk explosion is the only data growth
    * (x len/(maxTokens-overlap) rows, each bounded by maxTokens tokens).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val step = maxTokens - overlap
    docs
      // the whitespace tokenizer maps "" to [""] (one empty token), so
      // blank docs need their own explicit exclusion
      .where(nonEmpty(col(textCol)))
      .select(col(idCol), words(col(textCol)).as("_w"))
      .where(size(col("_w")) > 0)
      .select(col(idCol), col("_w"),
        posexplode(sequence(lit(0), size(col("_w")) - 1, lit(step))))
      // containment suppression: keep s = 0 (a short doc's only chunk) and
      // every start that contributes at least one token past the previous
      // window's end
      .where(col("col") === 0 || col("col") + lit(overlap) < size(col("_w")))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        slice(col("_w"), col("col") + 1, lit(maxTokens)).as("_c"))
      .select(col(idCol), col("chunk_id"),
        size(col("_c")).cast("long").as("n_tokens"),
        array_join(col("_c"), " ").as("chunk_text"))
  }

  /** Quality-filter funnel: how many documents survive each stage of the
    * standard hygiene cascade, CUMULATIVELY — the observability report a
    * curation pipeline publishes per snapshot so a filter regression (one
    * stage suddenly eating the corpus) is visible at a glance.
    *
    * Stages: total → nonempty → ≥ 10 tokens → punctuation ratio ≤ 0.1 →
    * duplicate-word fraction ≤ 0.3 → quality score ≥ 0.5. Thresholds
    * compare the same round-4 values the profile queries export, so the
    * funnel is bit-consistent with them.
    *
    * One pass, one 1-row aggregate (conditional sums), exploded to a
    * 6-row report — no shuffle of document rows at any width.
    */
  def filterFunnel(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val c1 = nonEmpty(t)
    val c2 = c1 && tokenCount(t) >= 10
    val c3 = c2 && round(punctRatio(t), 4) <= 0.1
    val c4 = c3 && round(dupWordFraction(t), 4) <= 0.3
    val c5 = c4 && qualityScore(t) >= 0.5
    def n(c: String): Column = sum(col(c).cast("long"))
    val names = Seq("total", "nonempty", "min_tokens", "low_punct",
      "low_dup_words", "min_quality")
    docs
      // one projection computes every cascade flag, so codegen
      // subexpression elimination evaluates the TextStats/words kernels
      // once per row — not once per stage condition
      .select(c1.as("c1"), c2.as("c2"), c3.as("c3"), c4.as("c4"), c5.as("c5"))
      .agg(count(lit(1)).as("n0"), n("c1").as("n1"), n("c2").as("n2"),
        n("c3").as("n3"), n("c4").as("n4"), n("c5").as("n5"))
      .select(explode(array(names.zipWithIndex.map { case (nm, i) =>
        struct(lit(i.toLong).as("stage"), lit(nm).as("stage_name"),
          col(s"n$i").as("n_pass"))
      }: _*)).as("s"))
      .select(col("s.stage"), col("s.stage_name"), col("s.n_pass"))
  }

  /** Convenience: full per-document profile of the `text` column. */
  def profile(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs
      .withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("mean_word_len", round(meanWordLen(t), 4))
      .withColumn("punct_ratio", round(punctRatio(t), 4))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 4))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("lang_guess", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** PMI word-association mining (the co-occurrence statistic behind
    * word2vec-era embeddings and collocation extraction): unordered
    * within-window pairs (each token with its next 3 neighbors,
    * self-pairs excluded), scored by pointwise mutual information
    * pmi = ln p(x,y) − ln p(x) − ln p(y), computed as a sum of logs so no
    * intermediate product can overflow at any corpus size.
    *
    * Scale shape: pair GENERATION is pure per-row array-expression work
    * (transform + slice + flatten — no self-join, the ×window blowup is a
    * bounded constant); the pair-grain aggregate is the one data-sized
    * shuffle (map-side combined, vocabulary²-bounded above); unigram
    * counts reduce to vocab grain; N/P normalizers are 1-row broadcasts;
    * selection is the limit-bounded top-k pattern.
    */
  def pmiPairs(docs: DataFrame, textCol: String,
               minPairCount: Long = 5L, k: Int = 30): DataFrame = {
    val toks = docs.select(words(col(textCol)).as("l"))
    val pairs = toks.select(explode(flatten(
        transform(col("l"), (w, i) =>
          transform(slice(col("l"), i + lit(2), lit(3)),
            w2 => struct(least(w, w2).as("a"), greatest(w, w2).as("b"))))))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(col("a") =!= col("b"))
    val pc = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_xy"))
    val uc = docs.select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = uc.agg(sum(col("c")).as("n_tok"))
      .crossJoin(pc.agg(sum(col("c_xy")).as("n_pairs")))
    val ua = uc.select(col("w").as("a"), col("c").as("c_a"))
    val ub = uc.select(col("w").as("b"), col("c").as("c_b"))
    val scored = pc.where(col("c_xy") >= minPairCount)
      .join(ua, "a").join(ub, "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("c_xy"),
        round(log(col("c_xy").cast("double")) - log(col("n_pairs").cast("double")) -
          (log(col("c_a").cast("double")) - log(col("n_tok").cast("double"))) -
          (log(col("c_b").cast("double")) - log(col("n_tok").cast("double"))), 6)
          .as("pmi"))
    val top = scored.orderBy(col("pmi").desc, col("a"), col("b")).limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("a"), col("b"))).cast("long"))
      .select(col("rank"), col("a"), col("b"), col("c_xy"), col("pmi"))
  }
}
