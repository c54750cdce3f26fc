package graft

import graft.core.Timeframe
import graft.lake.{Aggregates, LakeProvider, LakeReader, LakeWriter}
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Determinism conventions shared by every query and its DuckDB oracle:
  *  - timestamps leave the engine as epoch-second BIGINTs (`secs`), sidestepping
  *    parquet ns-vs-us precision differences between Spark and DuckDB;
  *  - sums over doubles go through DECIMAL(18,4) of per-row rounded terms
  *    (`dsum`) so the result is independent of partitioning / summation order;
  *  - every result is fully ordered by its leading output columns;
  *  - integer outputs are LongType (DuckDB aggregates return BIGINT).
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(s, dir) else s.read.parquet(s"$dir/$name.parquet")

  /** The events table has shipped with three different parquet `ts`
    * physical types across testdata generations — TIMESTAMP(NANOS) (read as
    * raw longs via legacy mode, since the vectorized reader rejects nanos),
    * TIMESTAMP(MICROS) UTC-adjusted (TimestampType), and TIMESTAMP(MICROS)
    * without timezone (TimestampNTZType, which `unix_micros` rejects — an
    * NTZ wall clock is interpreted as UTC via a session-UTC cast, matching
    * how DuckDB's `epoch()` treats the same column). All three normalize to
    * BOTH `ts_ns` (exact nanos, for ordering/tiebreaks — matches DuckDB's
    * ordering bit-for-bit) and `ts` (µs TimestampType for the
    * time-bucket/window ops; floor truncation preserves whole-second bucket
    * and range semantics).
    */
  private def loadEvents(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    // `_ts_raw` aliases the PHYSICAL parquet column untouched: predicates
    // built on it (eventsTsRange) reach the scan as PushedFilters, which a
    // predicate on the derived ts/ts_ns never can — at 100 TB the range
    // scan must skip row groups, not read-then-filter.
    val asNs = raw.schema("ts").dataType.typeName match {
      case "long" =>
        raw.withColumn("_ts_raw", col("ts")).withColumnRenamed("ts", "ts_ns")
      case "timestamp_ntz" =>
        raw.withColumn("_ts_raw", col("ts"))
          .withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * 1000L)
      case _ =>
        raw.withColumn("_ts_raw", col("ts"))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
    asNs.withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
  }

  /** Half-open [from, to) range predicate on the events table that pushes
    * down to the parquet scan in EVERY testdata generation: the comparison
    * targets `_ts_raw` (the physical column) with a literal of its own
    * type — nanos long, NTZ wall clock (read as UTC, the same convention
    * as loadEvents), or UTC-adjusted timestamp. Whole-second ISO bounds
    * are exactly representable in all three, so the predicate is exactly
    * equivalent to the ts_ns form.
    */
  private def eventsTsRange(ev: DataFrame, fromIso: String, toIso: String): Column = {
    val f = java.time.Instant.parse(fromIso)
    val t = java.time.Instant.parse(toIso)
    ev.schema("_ts_raw").dataType.typeName match {
      case "long" =>
        col("_ts_raw") >= lit(f.getEpochSecond * 1000000000L) &&
          col("_ts_raw") < lit(t.getEpochSecond * 1000000000L)
      case "timestamp_ntz" =>
        col("_ts_raw") >= lit(java.time.LocalDateTime.ofInstant(f, java.time.ZoneOffset.UTC)) &&
          col("_ts_raw") < lit(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
      case _ =>
        col("_ts_raw") >= lit(java.sql.Timestamp.from(f)) &&
          col("_ts_raw") < lit(java.sql.Timestamp.from(t))
    }
  }

  /** Public form of the events loader for the CLI and demos. */
  def loadEventsFor(s: SparkSession, dir: String): DataFrame = loadEvents(s, dir)

  private def secs(c: Column): Column = c.cast("long")

  /** Order-insensitive exact sum of a double expression: round each term to 4
    * decimals (bit-identical in Spark and DuckDB — same IEEE double ops), sum
    * as decimal (exact), return double.
    */
  private def dsum(c: Column): Column =
    sum(round(c, 4).cast(DecimalType(28, 4))).cast("double")

  /** events -> M1 OHLCV candles (value = price, count = volume). */
  private def m1Candles(s: SparkSession, dir: String): DataFrame =
    EventOps.candles(tbl(s, dir, "events"), 60L)

  /** Scratch lake root for a physical-write query: tmpdir/<prefix>_<dir
    * sanitized>_p<pid>. The pid suffix keeps concurrent runs over the same
    * dir from racing each other's delete/write/read cycle — but it also
    * means each JVM leaves a tree behind, and those accumulate (a bench
    * session was measured at 60 stale trees). So before creating this run's
    * root, delete siblings whose embedded pid is no longer alive: precise —
    * never touches a live run, always reclaims dead ones.
    */
  private def scratchRoot(s: SparkSession, prefix: String, dir: String): String = {
    val tmp = sys.props("java.io.tmpdir")
    val base = s"${prefix}_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_p"
    val root = s"$tmp/$base${ProcessHandle.current().pid()}"
    try {
      val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(s.sessionState.newHadoopConf())
      val stale = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/$base*"))
      if (stale != null) stale.foreach { st =>
        val pid = st.getPath.getName.stripPrefix(base)
        val dead = pid.forall(_.isDigit) && pid.nonEmpty &&
          ProcessHandle.of(pid.toLong).map[Boolean](_ => false).orElse(true)
        if (dead) fs.delete(st.getPath, true)
      }
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    } catch { case _: Throwable => () }
    root
  }

  /** Run INDEPENDENT physical-write stages of a pipeline query concurrently
    * (optimization guide §2.6 "overlap independent jobs"): Spark's scheduler
    * runs several jobs at once inside one application — stages that touch
    * disjoint output trees and share no read-after-write dependency were
    * only sequential because the driver code called them sequentially, so
    * the second stage's tasks back-fill executors the first stage's tail
    * leaves idle. The pool is per-call (thread-locals like job descriptions
    * are inherited from this thread at pool-spawn time); failures propagate
    * to the caller.
    */
  private def inParallel(stages: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(stages.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        stages.map(st => scala.concurrent.Future(st())).toSeq),
      scala.concurrent.duration.Duration.Inf): Unit
    finally pool.shutdown()
  }

  /** Flagship query on sf=0.001 — the reference's MTF as-of join
    * (SURVEY §2.4 J1) over event-derived candles; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_asof_mtf")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  /** Probe queries for q109 — shared by the Spark plan and the generated
    * oracle SQL so both sides score literally the same term sets.
    */
  private val bm25Queries: Seq[(String, Seq[String])] = Seq(
    "hash_join" -> Seq("hash", "join", "merge"),
    "scan_filter" -> Seq("scan", "filter", "column"),
    "stream_window" -> Seq("stream", "window", "batch"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BM25 top-10 retrieval against the corpus inverted index: probe terms
    // broadcast, postings filtered to query terms before any scoring, df
    // over the full corpus, DECIMAL-exact score reduction, WindowGroupLimit
    // top-k (graft.ops.Retrieval.bm25TopK)
    "q109_bm25_topk" -> ((s, dir) => {
      Retrieval.bm25TopK(tbl(s, dir, "documents"), bm25Queries)
        .orderBy(col("query_id"), col("rank"))
    }),

    // weighted PageRank over the session transition graph (q84's edges):
    // 6 power-iteration rounds with dangling-mass redistribution, every
    // reduction DECIMAL-exact — the stationary distribution itself is
    // hash-gated (graft.ops.Graph.pagerank over EventOps.transitions).
    // 6 rounds, not 10: each round is driver-synchronous (~0.35 s at any
    // corpus size — the type-grain graph is tiny), the oracle unrolls the
    // same count, and the bench budget is the binding constraint (PLANS.md
    // round 11); the operator itself takes iters as a dial.
    "q110_pagerank" -> ((s, dir) => {
      val edges = EventOps.transitions(tbl(s, dir, "events"))
      Graph.pagerank(edges, "from_type", "to_type", "n", iters = 6)
        .orderBy(col("node"))
    }),

    // winsorized robust stats per event_type: exact interpolated p05/p95
    // band (two-phase chunked quantiles), values clipped to it, raw vs
    // winsorized decimal-path means (graft.ops.Quantiles.winsorizedStats)
    "q111_winsorize" -> ((s, dir) => {
      Quantiles.winsorizedStats(tbl(s, dir, "events"), Seq("event_type"),
          "value", lo = 0.05, hi = 0.95)
        .orderBy(col("event_type"))
    }),

    // tokenizer-sizing coverage curve: occurrence-counted word bigrams,
    // TakeOrdered top-2500 cut, limit-bounded rank/cumsum windows only,
    // coverage fraction at probe vocab sizes
    // (graft.ops.Retrieval.vocabCoverage)
    "q112_vocab_coverage" -> ((s, dir) => {
      Retrieval.vocabCoverage(tbl(s, dir, "documents"), "doc_id", "text",
        sizes = Seq(10, 100, 500, 1000, 2500), maxVocab = 2500)
        .orderBy(col("vocab_size"))
    }),

    // corpus drift per source: KL/JS between each slice's unigram
    // distribution and the rest of the corpus over a deterministic top-500
    // vocabulary; one data-sized shuffle, contributions decimal-summed
    // (graft.ops.Corpus.sliceDivergence)
    "q113_kl_drift" -> ((s, dir) => {
      Corpus.sliceDivergence(tbl(s, dir, "documents"), "source", "text",
          vocab = 500)
        .orderBy(col("source"))
    }),

    // chi-square salient terms per language: 2x2 token contingency vs the
    // rest of the corpus, one fixed double chain, per-class top-10 as
    // WindowGroupLimit (graft.ops.Corpus.chiSquareTerms)
    "q114_chi2_terms" -> ((s, dir) => {
      Corpus.chiSquareTerms(tbl(s, dir, "documents"), "lang", "text",
          k = 10)
        .orderBy(col("lang"), col("rank"))
    }),

    // exact per-source ROC AUC of the quality score predicting lang='en':
    // integer Mann-Whitney rank-sum with midranks, chunked two-phase
    // cumsum, ONE final division (graft.ops.Eval.groupedAuc)
    "q115_grouped_auc" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("score", round(TextAnalysis.qualityScore(col("text")), 4))
        .withColumn("is_en", col("lang") === "en")
      Eval.groupedAuc(d, Seq("source"), "score", "is_en")
        .orderBy(col("source"))
    }),

    // reliability-diagram calibration table + Brier score per source for
    // the same forecast (graft.ops.Eval.calibration)
    "q116_calibration" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("score", round(TextAnalysis.qualityScore(col("text")), 4))
        .withColumn("is_en", col("lang") === "en")
      Eval.calibration(d, Seq("source"), "score", "is_en")
        .orderBy(col("source"), col("bin"))
    }),

    // export integrity manifest: per-shard counts, token totals, and an
    // order-insensitive mod-P content checksum over q44's shard layout —
    // the pre-flight check a training job runs before consuming a shard
    // (graft.ops.Corpus.exportManifest)
    // mergeable bottom-k sample quantile sketch: per-(event_type, day)
    // persisted sample states folded to whole-range p50/p90/p99 estimates
    // WITHOUT rescanning history — the quantile twin of q122's KMV fold;
    // the fold is lossless (bottom-k of bottom-ks), so the oracle is the
    // direct global bottom-k sample (graft.ops.Quantiles.sampleQuantile*)
    "q131_sample_quantile_sketch" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("day", expr("ts_ns DIV 1000000000 DIV 86400"))
      val st = Quantiles.sampleQuantileState(ev, Seq("event_type"), "day",
        "event_id", "value", k = 256)
      Quantiles.sampleQuantileMerge(st, Seq("event_type"), "day", k = 256,
          Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))
        .select(col("event_type"), col("n_total"), col("n_sampled"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
          round(col("p99"), 4).as("p99"))
        .orderBy(col("event_type"))
    }),

    // SimHash bucket registry: per blocking bucket (12-bit chunks at the
    // r16 wide default) the min-id anchor and population — the standing
    // candidate-routing state an incremental near-dup pipeline persists
    // (keyspace-bounded: <= 4*2^12 = 16384 rows forever), and the batch
    // twin the streaming DedupStream face is parity-gated against
    // (graft.ops.Dedup.simhashBucketRegistry)
    "q132_simhash_buckets" -> ((s, dir) => {
      Dedup.simhashBucketRegistry(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("chunk"), col("v"))
    }),

    // 48-bit wide-signature SimHash near-dup pairs with 12-bit chunk
    // blocking — the corpus-scale twin of q27, exact ≤3-hamming over the
    // wide 48-bit signature. Round 13: the wide path generates candidates
    // via the two-half multi-index (MIH) join — same exact output (this
    // oracle pins it), candidate growth ~n²/2^24 instead of ~n²/2^12
    // (measured exp 0.66 vs 1.02 over sf0.1→sf1; crossover ≈ 5·10⁴ docs,
    // so the bench-scale run pays ~0.5 s for the decade-up sanity)
    "q133_simhash_wide_pairs" -> ((s, dir) => {
      Dedup.simhashCandidates(tbl(s, dir, "documents"), "doc_id", "text", bits = 48)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // EXACT edit-distance entity join via PassJoin segment indexing —
    // unlike q97's same-length blocking this finds insert/delete shifts
    // too, with completeness by pigeonhole instead of a blocking heuristic
    // (graft.ops.Dedup.fuzzyPairsSegmented). Gate input is a deterministic
    // quarter of the registry: TPC-H supplier names share a 15-char
    // constant prefix, so EVERY pair is a near-match (4950/4950 at
    // sf0.01) and the all-pairs-similar corpus costs bench seconds without
    // testing anything the subset doesn't — the operator's scaling story
    // is measured in PLANS.md round 10 (5x faster than q97's blocking at
    // sf1 with a strictly stronger contract).
    "q134_fuzzy_join_exact" -> ((s, dir) => {
      Dedup.fuzzyPairsSegmented(
          tbl(s, dir, "supplier").where(col("s_suppkey") % 4 === 0),
          "s_suppkey", "s_name", maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // anchor-candidate routing over the standing bucket registry: each doc
    // verified against at most its 4 bucket anchors — the O(1)/doc lookup
    // an incremental ingest serves, vs q27's all-pairs-in-bucket batch
    // pass; DedupStream.anchorCandidates is the live twin
    // (graft.ops.Dedup.simhashAnchorCandidates)
    "q135_simhash_anchor_candidates" -> ((s, dir) => {
      Dedup.simhashAnchorCandidates(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("anchor_id"))
    }),

    // cross-registry entity link: the TWO-TABLE PassJoin form — left
    // quarter of the registry linked against a disjoint right quarter,
    // single-direction index/probe complete by the pigeonhole lemma
    // (graft.ops.Dedup.fuzzyJoinSegmented)
    "q136_fuzzy_link" -> ((s, dir) => {
      val sup = tbl(s, dir, "supplier")
      Dedup.fuzzyJoinSegmented(
          sup.where(col("s_suppkey") % 4 === 0), "s_suppkey", "s_name",
          sup.where(col("s_suppkey") % 4 === 1), "s_suppkey", "s_name",
          maxDist = 2)
        .orderBy(col("id_l"), col("id_r"))
    }),

    // incremental-ingest routing: day-2 documents dispositioned against
    // the PERSISTED day-1 anchor registry — sign + one broadcast probe of
    // a keyspace-bounded (<=16384-row) artifact, the day-1 corpus never re-read
    // (graft.ops.Dedup.simhashBucketRegistrySigs + simhashRoute)
    "q137_incremental_route" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val reg = Dedup.simhashBucketRegistrySigs(
        docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text")
      Dedup.simhashRoute(docs.where(col("doc_id") % 3 === 0), "doc_id",
          "text", reg)
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL cluster maintenance — fold == rebuild: day-2 verified
    // pairs folded into the persisted day-1 component table
    // (graft.ops.Dedup.incrementalClusters) must equal the from-scratch
    // connected-components rebuild on the unioned corpus bit-for-bit,
    // which is exactly what the recursive-CTE oracle computes. Input is a
    // deterministic HALF corpus (cost note at q16); within it day-1 =
    // doc_id % 4 == 0, day-2 = % 4 == 2. One LSH+verify pass derives all
    // pairs, split by day membership — the fold itself never re-reads
    // day-1 edges, only the (id, label) table + the new day's pairs.
    "q138_incremental_clusters" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").where(col("doc_id") % 2 === 0)
      val pairs = Dedup.verifiedNearDups(docs, "doc_id", "text", threshold = 0.1)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint() // feeds both day splits; lineage = the whole
                           // LSH+verify pipeline, must not run twice
      val day1Pairs = pairs
        .where(col("id_a") % 4 === 0 && col("id_b") % 4 === 0)
      val newPairs = pairs
        .where(col("id_a") % 4 === 2 || col("id_b") % 4 === 2)
      val comps1 = Dedup.connectedComponents(
        docs.where(col("doc_id") % 4 === 0).select(col("doc_id").as("id")),
        day1Pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      Dedup.incrementalClusters(comps1, newPairs,
          Some(docs.where(col("doc_id") % 4 === 2)))
        .orderBy(col("doc_id"))
    }),

    // multi-day incremental-dedup CAPSTONE — the incremental twin of q100:
    // day-1 BUILD persists the standing state (simhash anchor registry +
    // minhash-verified component table) to real parquet; day-2 INCREMENT
    // reads it back and never re-reads the day-1 corpus — simhashRoute
    // against the keyspace-bounded (≤16384-row) registry, exact-Jaccard verify of the routed
    // (doc, anchor) candidates only, incrementalClusters fold, compaction
    // report. The oracle recomputes the same chain from scratch in DuckDB
    // (registry routing semantics = q137's oracle, pair verify = q16's,
    // components = q40's recursive CTE, rollup = q58's), so every stage's
    // semantics are pinned end-to-end through the PERSISTED state.
    "q139_incremental_capstone" -> ((s, dir) => {
      val root = scratchRoot(s, "q139_state", dir)
      // deterministic HALF corpus (q16's cost note): the chain's value is
      // the persisted-state composition, which a half corpus exercises
      // identically at ~1/4 the LSH-pair cost
      val docs = tbl(s, dir, "documents").where(col("doc_id") % 2 === 0)
      val day1 = docs.where(col("doc_id") % 3 =!= 0)
      val day2 = docs.where(col("doc_id") % 3 === 0)
      // ---- day-1 build: persist registry + components ----
      // the two standing-state artifacts derive independently from day1 and
      // land in disjoint directories — overlap their builds (guide §2.6);
      // the day-2 increment below reads both back
      inParallel(
        () => Dedup.simhashBucketRegistrySigs(day1, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$root/registry"),
        () => Dedup.nearDupClusters(day1, "doc_id", "text", threshold = 0.1)
          .select(col("doc_id"), col("cluster_id"))
          .write.mode("overwrite").parquet(s"$root/components"))
      // ---- day-2 increment: route -> verify -> fold -> report ----
      val reg = s.read.parquet(s"$root/registry")
      val comps = s.read.parquet(s"$root/components")
      val routed = Dedup.simhashRoute(day2, "doc_id", "text", reg)
        .where(col("is_dup") === 1L)
        .select(col("doc_id"), col("best_anchor"))
      // shared verify stage (graft.ops.Dedup.verifyRoutedPairs) — ONE
      // definition of "verified" across this gate and Cli dedup-ingest,
      // with the empty-shingle guard matching the oracle's inner joins
      val newPairs = Dedup.verifyRoutedPairs(routed, docs, docs,
        "doc_id", "text", threshold = 0.1)
      val folded = Dedup.incrementalClusters(comps, newPairs,
        Some(day2.select(col("doc_id"))))
      folded.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("cluster_size"))
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"),
          coalesce(sum(when(!col("is_canonical"), col("n_chars"))), lit(0L))
            .cast("long").as("chars_removed"))
        .orderBy(col("cluster_size"))
    }),

    "q130_export_manifest" -> ((s, dir) => {
      Corpus.exportManifest(tbl(s, dir, "documents"), "doc_id", "text",
          shards = 16)
        .orderBy(col("shard"))
    }),

    // q129_lsh_quality FOLDED round 12 (bench budget; the round-11 verdict
    // names it the sanctioned fold candidate): it composed two still-oracled
    // gates (q16 exact ground truth, q17 minhash candidates) into a
    // precision/recall scorecard; the composition is pinned in
    // IncrementalDedupSpec (ex-q129), same discipline as q56/q58/q120.

    // join-key skew diagnosis: per-key count distribution of lineitem's
    // part key — cardinality, heaviest key, exact p50/p90/p99 via the
    // chunked quantile pass over the KEY-GRAIN table, and max/p50 as the
    // salt-or-not ratio (graft.ops.Skew.keyStats)
    "q128_key_skew" -> ((s, dir) => {
      Skew.keyStats(tbl(s, dir, "lineitem"), Seq("l_partkey"))
    }),

    // RFM user segmentation with DISTRIBUTED quintile binning: a global
    // ntile would be one data-sized unpartitioned window (the invariant
    // this engine forbids), so the quintile EDGES come from one stacked
    // exact-quantile pass (3 metrics in one chunked pipeline, group =
    // metric) broadcast back as literal comparisons — branch-compare
    // binning, the same pattern as the histogram sketch
    "q127_rfm_segments" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val per = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(col("ts_ns")).as("_last"), count(lit(1)).as("frequency"),
          round(dsum(col("value")), 4).as("monetary"))
      val mx = per.agg(max(col("_last")).as("_mx"))
      val rfm = per.crossJoin(broadcast(mx))
        .withColumn("recency_days", expr("(_mx - _last) DIV 86400000000000"))
        .drop("_last", "_mx")
      val stacked = rfm.select(explode(array(
        struct(lit("r").as("metric"), col("recency_days").cast("double").as("v")),
        struct(lit("f").as("metric"), col("frequency").cast("double").as("v")),
        struct(lit("m").as("metric"), col("monetary").as("v")))).as("s"))
        .select(col("s.metric").as("metric"), col("s.v").as("v"))
      val edges = Quantiles.exactInterpolated(stacked, Seq("metric"), "v",
          Seq(0.2 -> "e1", 0.4 -> "e2", 0.6 -> "e3", 0.8 -> "e4"))
        .select(col("metric"),
          round(col("e1"), 4).as("e1"), round(col("e2"), 4).as("e2"),
          round(col("e3"), 4).as("e3"), round(col("e4"), 4).as("e4"))
      val wide = edges.groupBy()
        .pivot("metric", Seq("r", "f", "m"))
        .agg(max(col("e1")).as("1"), max(col("e2")).as("2"),
          max(col("e3")).as("3"), max(col("e4")).as("4"))
      def quint(v: Column, p: String): Column =
        (lit(1) + (1 to 4).map(i =>
          when(v > col(s"${p}_$i"), 1).otherwise(0)).reduce(_ + _)).cast("long")
      rfm.crossJoin(broadcast(wide))
        .withColumn("r_q", quint(col("recency_days").cast("double"), "r"))
        .withColumn("f_q", quint(col("frequency").cast("double"), "f"))
        .withColumn("m_q", quint(col("monetary"), "m"))
        .withColumn("segment",
          concat(col("r_q"), lit("-"), col("f_q"), lit("-"), col("m_q")))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary"), col("r_q"), col("f_q"), col("m_q"), col("segment"))
        .orderBy(col("user_id"))
    }),

    // q126_lang_confusion FOLDED round 12 (bench budget; sanctioned fold
    // candidate): the confusion matrix shares q09's oracled langId
    // derivation end to end — only the (true, guess) pivot was new, and
    // that composition is pinned in IncrementalDedupSpec (ex-q126).

    // whole-table NDV profile from ONE stacked pass of HLL sketches — the
    // 100 TB twin of q70's exact countDistinct profile (register state per
    // column, no distinct shuffle); strings hash through the portable
    // polynomial fingerprint, doubles through an explicit floor(+0.5) long
    // mapping (cast rounding differs between engines); exact NDV rides
    // along for error inspection, as in q80
    "q125_profile_sketch" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val cols: Seq[(String, Column)] = Seq(
        "event_id" -> col("event_id").cast("long"),
        "user_id" -> col("user_id").cast("long"),
        "event_type" -> TextAnalysis.fingerprint(col("event_type")),
        "value" -> floor(round(col("value"), 4) * 10000.0 + 0.5).cast("long"))
      val stacked = ev.select(explode(array(cols.map { case (n, c) =>
          struct(lit(n).as("col_name"), c.as("v")) }: _*)).as("s"))
        .select(col("s.col_name").as("col_name"), col("s.v").as("v"))
      val est = Sketches.hllDistinct(stacked, "col_name", "v")
      val exact = stacked.groupBy(col("col_name"))
        .agg(countDistinct(col("v")).as("exact_distinct"))
      est.join(exact, "col_name").orderBy(col("col_name"))
    }),

    // incremental materialized-aggregate maintenance through REAL files:
    // M1 upsert + full M5 materialize, then a correction upsert followed by
    // refreshMonths on JUST the touched (year, month) — the provider's
    // read-else-compute path must serve the refreshed aggregate equal to a
    // full recompute from the corrected base
    // (graft.lake.Aggregates.refreshMonths, graft.lake.LakeProvider.loadTf)
    "q124_incremental_agg" -> ((s, dir) => {
      val root = scratchRoot(s, "q124_lake", dir)
      def t(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      val candles = EventOps.candles(ev, 60L, Seq("symbol"))
        .withColumn("source", lit("evt"))
        .withColumn("timeframe", lit("M1"))
        .cache() // feeds the base write, the materialize, and the correction
      // data-tree upsert and M5 materialize touch DISJOINT trees and both
      // read only the cached candle batch — overlap them (guide §2.6); the
      // correction upsert below still waits on both (it rewrites data cells
      // and refreshMonths later reads them)
      inParallel(
        () => LakeWriter.upsert(s, root, candles),
        () => Aggregates.materialize(s, root, candles.drop("timeframe"), Timeframe.M5))
      LakeWriter.upsert(s, root,
        candles
          .where(col("ts") >= lit(t("2024-01-12T00:00:00Z")) &&
            col("ts") < lit(t("2024-01-15T00:00:00Z")))
          .withColumn("close", col("close") + 1000.0))
      Aggregates.refreshMonths(s, root, Timeframe.M5, Seq((2024, 1)))
      new LakeProvider(s, root, source = "evt")
        .loadTf("U1", "M5", Some(t("2024-01-01T00:00:00Z")), Some(t("2024-02-01T00:00:00Z")))
        .select(secs(col("ts")).as("ts_sec"), col("open"), col("high"),
          col("low"), col("close"), col("volume"))
        .orderBy(col("ts_sec"))
    }),

    // token-weighted length percentiles: "the median TOKEN lives in a doc
    // of length X" — the weighted exact-quantile pass at the unweighted
    // plan's cost, vs an explicitly weight-expanded quantile_cont oracle
    // (graft.ops.Quantiles.exactInterpolatedWeighted)
    "q123_weighted_quantiles" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      val q = Quantiles.exactInterpolatedWeighted(d, Seq("lang"), "n_tok",
        col("n_tok"), Seq(0.5 -> "p50", 0.9 -> "p90"))
      val tot = d.groupBy(col("lang")).agg(sum(col("n_tok")).as("total_tokens"))
      q.join(tot, "lang")
        .select(col("lang"), col("total_tokens"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"))
        .orderBy(col("lang"))
    }),

    // mergeable-sketch fold: per-day KMV states (k smallest distinct
    // hashes, the persisted incremental form) folded to whole-range
    // estimates — bit-identical to the direct single-pass sketch, which is
    // exactly what the oracle recomputes (graft.ops.Sketches.kmvState/Merge)
    "q122_kmv_merge" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("day", expr("ts_ns DIV 1000000000 DIV 86400"))
      val state = Sketches.kmvState(ev, "event_type", "day", "user_id", k = 64)
      Sketches.kmvMerge(state, "event_type", k = 64)
        .orderBy(col("event_type"))
    }),

    // lambda read through REAL files: batch lake tree + streaming append
    // directory (the landed-but-not-yet-folded foreachBatch sink), unified
    // with stream-beats-batch precedence on the candle key — fresh bars
    // visible immediately, restated bars shadow their batch copies exactly
    // as the eventual upsert fold will (graft.lake.LakeReader.readUnified)
    "q121_lambda_read" -> ((s, dir) => {
      val root = scratchRoot(s, "q121_lake", dir)
      val streamDir = s"$root/stream_append"
      def t(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      val candles = EventOps.candles(ev, 60L, Seq("symbol"))
        .withColumn("source", lit("evt"))
        .withColumn("timeframe", lit("M1"))
        .cache() // feeds the history write, both append slices, and nothing else
      // streaming appends: fresh bars past the horizon + one restated day
      val appends = candles
        .where(col("ts") >= lit(t("2024-01-20T00:00:00Z")) &&
          col("ts") < lit(t("2024-01-25T00:00:00Z")))
        .unionByName(candles
          .where(col("ts") >= lit(t("2024-01-15T00:00:00Z")) &&
            col("ts") < lit(t("2024-01-16T00:00:00Z")))
          .withColumn("close", col("close") + 500.0))
      // history upsert (batch tree) and the append-directory write land in
      // DISJOINT directories from the same cached candle batch — overlap
      // them (guide §2.6); readUnified below waits on both
      inParallel(
        () => LakeWriter.upsert(s, root,
          candles.where(col("ts") < lit(t("2024-01-20T00:00:00Z")))),
        () => appends.write.mode("overwrite").parquet(streamDir))
      LakeReader.readUnified(s, root, streamDir, "evt", "U1", "M1",
          Some(t("2024-01-10T00:00:00Z")), Some(t("2024-01-25T00:00:00Z")))
        .select(secs(col("ts")).as("ts_sec"), col("open"), col("high"),
          col("low"), col("close"), col("volume"))
        .orderBy(col("ts_sec"))
    }),

    // hash-bucketed A/B readout: two-proportion z on user-grain
    // high-value-purchase conversion (plain purchase is degenerate in the
    // testdata: every user converts -> zero pooled variance), arms
    // assigned by the deterministic user-id hash
    // (graft.ops.Eval.abTest)
    "q119_ab_test" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "control").otherwise("treatment"))
      Eval.abTest(ev, "user_id", "arm",
        col("event_type") === "purchase" && col("value") > 90.0,
        control = "control")
    }),

    // length-bucketed batching report: dynamic-batching padding waste per
    // token-length bucket, rank-within-bucket via the bounded two-phase
    // shape (graft.ops.Packing.lengthBatches)
    "q118_length_batches" -> ((s, dir) => {
      Packing.lengthBatches(tbl(s, dir, "documents"), "doc_id", "text",
          bucketWidth = 32L, batchSize = 16L)
        .orderBy(col("bucket"))
    }),

    // windowed corpus-drift gate (the DriftStream batch twin): documents
    // on a deterministic doc_id-minute clock, per-hour KL against the
    // frozen top-200 reference distribution; off-vocab terms collapse to
    // the OOV bucket BEFORE aggregation (streaming-state-bounded shape)
    "q117_drift_windows" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val withTs = docs.withColumn("ts",
        timestamp_seconds(lit(1704067200L) + col("doc_id") * 60L))
      val ref = graft.streaming.DriftStream.reference(docs, "text", vocab = 200)
      val counts = graft.streaming.DriftStream.termCounts(withTs, ref)
      graft.streaming.DriftStream.klByWindow(counts, ref)
        .orderBy(col("win_sec"))
    }),

    // A1/A7-style pricing summary (scan + hash agg; partial agg map-side)
    "q01_pricing_summary" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(dsum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // P1 half-open range filter [from, to) — the reference's global read contract.
    // The predicate targets the RAW ts_ns column (not the derived timestamp)
    // so it pushes down to parquet row-group stats — at 100 TB that is the
    // difference between pruning row groups and scanning them all.
    "q02_range_filter" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      ev.where(eventsTsRange(ev, "2024-01-10T00:00:00Z", "2024-01-20T00:00:00Z"))
        .select(col("event_id"), secs(col("ts")).as("ts_sec"), col("event_type"),
          col("value"))
        .orderBy(col("event_id"))
    }),

    // A1 OHLCV resample M1 -> M5 (graft.ops.Resample)
    "q03_resample_m5" -> ((s, dir) => {
      val m5 = Resample.ohlcv(m1Candles(s, dir), Timeframe.M5)
      m5.select(secs(col("ts")).as("ts_sec"), col("open"), col("high"), col("low"),
          col("close"), col("volume"))
        .orderBy(col("ts_sec"))
    }),

    // J1 backward as-of join: M5 context onto M1 exec grain (graft.ops.AsofJoin).
    // Uses the grid-aligned bucketJoin plan (J1-b): ctx derives from exec, so
    // every exec row's M5 bucket has a ctx bar and the as-of parent IS the
    // bucket bar — an equi-join Catalyst plans as a broadcast hash join with
    // no global-sort window (the round-1 plan was a single-partition
    // WindowExec). backward()/directed() remain the general paths for
    // unaligned ctx (CandleOpsSpec proves all three agree).
    "q04_asof_mtf" -> ((s, dir) => {
      // NOT cached despite feeding both the exec side and the M5 resample:
      // measured like q19, the block-manager materialize+read of the
      // data-sized candle frame costs ~1.6 s/run at sf0.1 while the candle
      // agg it saves recomputes in ~0.25 s/scan (q53's sessionize cache is
      // the counter-example that genuinely pays — see PLANS.md)
      val m1 = m1Candles(s, dir)
      val m5 = Resample.ohlcv(m1, Timeframe.M5)
      val joined = AsofJoin.bucketJoin(
        m1.select(col("ts"), col("close")),
        m5.select(col("ts"), col("close").as("close_m5")),
        Timeframe.M5)
      joined.select(secs(col("ts")).as("ts_sec"), col("close"), col("close_m5"))
        .orderBy(col("ts_sec"))
    }),

    // J2+W5 minute-gap detection compressed to islands (graft.ops.Gaps).
    // Day-scoped like the reference (tools/gaps.py find_missing_ranges_utc
    // builds one FULL-day grid per day): full per-day grids clipped only at
    // the observed outer bounds, so midnight-touching gaps and whole missing
    // days are detected; islands split at midnight (reference per-day
    // ranges) and every stage parallelizes by day — no unpartitioned window.
    "q05_gap_islands" -> ((s, dir) => {
      val minutes = tbl(s, dir, "events")
        .select(timestamp_seconds(floor(unix_timestamp(col("ts")) / 60) * 60).as("ts"))
        .distinct()
      Gaps.dayScopedMinuteGaps(minutes)
        .select(secs(col("gap_start")).as("gap_start_sec"),
          secs(col("gap_end")).as("gap_end_sec"), col("n_missing"))
        .orderBy(col("gap_start_sec"))
    }),

    // A4/A5/W3/P5 opening-range levels with break/retest (graft.ops.OrLevels)
    "q06_or_levels" -> ((s, dir) => {
      val m1 = m1Candles(s, dir).withColumn("symbol", lit("EVENTS"))
      OrLevels.build(m1, "UTC", "00:00-01:00")
        .select(date_format(col("session_date"), "yyyy-MM-dd").as("session_date"),
          col("or_high"), col("or_low"), col("break_dir"),
          secs(col("break_ts")).as("break_ts_sec"),
          secs(col("retest_ts")).as("retest_ts_sec"),
          col("retest_price"))
        .orderBy(col("session_date"))
    }),

    // exact dedup by content hash (graft.ops — training-data pipeline)
    "q07_dedup_exact" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("text_hash"))
    }),

    // W1/W3-style ranking: top-2 orders per customer
    "q10_topk_per_customer" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 2)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // A6 per-hour completeness histogram, zero-filled 0-23 (graft.ops.EventOps)
    "q11_hour_histogram" -> ((s, dir) => {
      EventOps.hourHistogram(tbl(s, dir, "events"))
        .select(col("hour").cast("long").as("hour"), col("n"))
        .orderBy(col("hour"))
    }),

    // sessionization: inactivity-gap islands per user (graft.ops.EventOps)
    "q12_sessionize" -> ((s, dir) => {
      EventOps.sessionize(tbl(s, dir, "events"), 1800L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), max(col("n_events")).as("max_session_events"),
          sum(col("n_events")).as("n_events_total"))
        .orderBy(col("user_id"))
    }),

    // text-analysis profile: token counts, quality, fingerprint (graft.ops.TextAnalysis)
    "q08_text_stats" -> ((s, dir) => {
      val t = col("text")
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
        round(TextAnalysis.meanWordLen(t), 4).as("mean_word_len"),
        round(TextAnalysis.punctRatio(t), 4).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(t), 4).as("stopword_ratio"),
        TextAnalysis.qualityScore(t).as("quality_score"),
        TextAnalysis.fingerprint(t).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // marker-based language-ID heuristic (graft.ops.TextAnalysis)
    "q09_lang_id" -> ((s, dir) => {
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        col("lang"),
        (TextAnalysis.langId(col("text")) === col("lang")).as("hit"))
        .orderBy(col("doc_id"))
    }),

    // exact brute-force cosine top-10 for 5 query vectors (graft.ops.Similarity)
    "q14_sim_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.topKJoin(emb.where(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // exact embedding near-dup pairs, cosine >= 0.35 (graft.ops.Similarity)
    "q15_embedding_near_dup" -> ((s, dir) => {
      Similarity.nearDupPairs(tbl(s, dir, "embeddings"), "vec_id", "embedding", 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // exact n-gram Jaccard near-dup pairs via inverted-index join
    // (graft.ops.Dedup). Gate input is a deterministic HALF corpus (the
    // q134 pattern): this is a declared-exact all-pairs ground-truth
    // contract whose pair cost is quadratic by definition — the half
    // tests the same semantics at ~1/4 the bench cost, and the full-size
    // scaling story is measured in the PLANS.md round-10 probe (the LSH
    // twins q17/q36 are the operators that run full-size at scale).
    "q16_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(
          tbl(s, dir, "documents").where(col("doc_id") % 2 === 0),
          "doc_id", "text", 0.1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash+LSH near-dup candidates, k=16 sigs in 4 bands (graft.ops.Dedup)
    "q17_minhash_candidates" -> ((s, dir) => {
      Dedup.minhashCandidates(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash signatures at the wide 48-bit pipeline default (graft.ops
    // .Dedup; r16 — the oracle mirrors the h2 remix for bits past 29)
    "q18_simhash" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // W6 synthetic gap fill: prior close, else next open, else 0 (graft.ops.Gaps).
    // Unkeyed is now scale-safe: the fill is Fill.ffill/bfill's two-phase
    // chunked scan (day-chunk windows + tiny carry join), not a global window.
    "q19_synth_fill" -> ((s, dir) => {
      // deliberately NOT cached: synthFill consumes its input three times
      // (bounds + both fill phases), but the candle agg is two cheap
      // shuffles — measured at sf0.1, recomputing costs ~0.25 s/scan while
      // the cache materialize+read path costs ~1 s extra (block-manager
      // write + read of a data-sized frame). Cache only when the input
      // lineage is expensive relative to its size.
      Gaps.synthFill(m1Candles(s, dir))
        .select(secs(col("ts")).as("ts_sec"), col("open"), col("close"),
          col("volume"), col("is_synth"))
        .orderBy(col("ts_sec"))
    }),

    // W2 forward-filled resample: empty M5 buckets inherit prior OHLC
    // (graft.ops.Resample; fill via the chunked scan — see q19's note).
    "q20_ffill_resample" -> ((s, dir) => {
      Resample.ohlcvFfill(m1Candles(s, dir), Timeframe.M5)
        .select(secs(col("ts")).as("ts_sec"), col("open"), col("high"), col("low"),
          col("close"), col("volume"))
        .orderBy(col("ts_sec"))
    }),

    // K1/J3 keep-last upsert semantics: new batch wins on key collision
    "q21_upsert_keep_last" -> ((s, dir) => {
      val ev = tbl(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
      val oldB = ev.withColumn("_prec", lit(0))
      val newB = ev.where(pmod(col("event_id"), lit(10)) === 0)
        .withColumn("value", col("value") + 1000.0).withColumn("_prec", lit(1))
      val w = Window.partitionBy(col("event_id")).orderBy(col("_prec").desc)
      oldB.unionByName(newB)
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select(col("event_id"), secs(col("ts")).as("ts_sec"), col("value"))
        .orderBy(col("event_id"))
    }),

    // U2/J2 relational anti join: customers with no high-value orders
    "q22_customers_no_orders" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders").where(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // REAL-codec multimodal gate: deterministic 24bpp BMP blobs (actual
    // BITMAPFILEHEADER + padded bottom-up BGR pixel array, built by
    // Multimodal.BmpCodec.encode from doc_id-derived dimensions/pixels)
    // decoded back by the real header-parsing BmpCodec.decode in a
    // partition-preserving mapPartitions pass. The decode features are
    // POSITION-WEIGHTED channel sums — sum (1 + x + y·w)·channel mod P —
    // so a decoder that mishandles row padding, the bottom-up row order,
    // or BGR channel order fails the gate; the oracle recomputes the
    // same sums from the pixel-function arithmetic directly, never
    // parsing bytes (and a golden hand-built byte fixture in
    // PipelineOpsSpec breaks any encode/decode-symmetric bug).
    // StubCodec (q23) remains for arbitrary-bytes shape tests.
    "q140_bmp_decode" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 1 + (id % 7).toInt
            val h = 1 + (id % 4).toInt
            val bytes = Multimodal.BmpCodec.encode(w, h, (x, y) => (
              ((id * 31 + x * 7 + y * 13) % 256).toInt,
              ((id * 17 + x * 11 + y * 5) % 256).toInt,
              ((id * 29 + x * 3 + y * 19) % 256).toInt))
            (id, bytes)
          }
        }.toDF("id", "media")
      Multimodal.extractBmpFeatures(media).toDF()
        .orderBy(col("id"))
    }),

    // PngCodec gate (r15 — closes the last un-oracled first-class
    // component): engine-encoded real PNG bytes (DEFLATE, CRC32, filtered
    // scanlines) distributed across partitions, decoded back by the
    // hand-rolled codec; the oracle recomputes the position-weighted
    // channel sums from the pixel arithmetic directly and never parses
    // bytes. n_bytes is EXCLUDED from the output on purpose — PNG length
    // is Deflater-dependent, not arithmetic (q140's BMP gate covers the
    // byte-length contract). Pixel constants differ from q140's so a
    // copy-paste cross-wire of the two fixtures cannot pass both gates.
    "q141_png_decode" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 1 + (id % 9).toInt
            val h = 1 + (id % 5).toInt
            val bytes = Multimodal.PngCodec.encode(w, h, (x, y) => (
              ((id * 37 + x * 5 + y * 11) % 256).toInt,
              ((id * 41 + x * 3 + y * 17) % 256).toInt,
              ((id * 13 + x * 19 + y * 29) % 256).toInt))
            (id, bytes)
          }
        }.toDF("id", "media")
      Multimodal.extractPngFeatures(media).toDF()
        .select(col("id"), col("width"), col("height"), col("color_type"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy(col("id"))
    }),

    // ImageIoCodec gate (r15): MIXED-format binary column — BMP for even
    // ids, PNG for odd — decoded in ONE format-sniffing stage
    // (Multimodal.extractImageFeatures / javax.imageio). The oracle's sums
    // are format-INDEPENDENT (same pixel arithmetic either branch), so a
    // sniffing failure, a BGR/RGB crosswire, or a row-order bug in either
    // underlying reader fails the hash. Lossless formats only: JPEG stays
    // spec-gated (determinism within a JDK, tolerance bands) by
    // ImageIoCodecSpec.
    "q142_imageio_decode" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 1 + (id % 6).toInt
            val h = 1 + (id % 3).toInt
            val pixel = (x: Int, y: Int) => (
              ((id * 23 + x * 13 + y * 7) % 256).toInt,
              ((id * 43 + x * 29 + y * 3) % 256).toInt,
              ((id * 19 + x * 5 + y * 23) % 256).toInt)
            val bytes =
              if (id % 2 == 0) Multimodal.BmpCodec.encode(w, h, pixel)
              else Multimodal.PngCodec.encode(w, h, pixel)
            (id, bytes)
          }
        }.toDF("id", "media")
      Multimodal.extractImageFeatures(media).toDF()
        .withColumn("format",
          when(col("id") % 2 === 0, lit("bmp")).otherwise(lit("png")))
        .select(col("id"), col("format"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy(col("id"))
    }),

    // Third lossless lane through the SAME sniffing stage (r16): BMP, PNG,
    // and GIF (palette-based, hand-rolled GifCodec encoder — the literal-
    // code LZW recipe) mixed by id%3, all decoded by ImageIO with no
    // format branch in the oracle's sums. A palette mixup, an LZW bit-order
    // bug, or a color-table misread in ANY of the three lanes fails the
    // hash. JPEG stays determinism-band-only by nature (ImageIoCodecSpec).
    "q143_gif_decode" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 1 + (id % 8).toInt
            val h = 1 + (id % 4).toInt
            val pixel = (x: Int, y: Int) => (
              ((id * 31 + x * 7 + y * 3) % 256).toInt,
              ((id * 11 + x * 17 + y * 13) % 256).toInt,
              ((id * 47 + x * 9 + y * 21) % 256).toInt)
            val bytes = (id % 3) match {
              case 0 => Multimodal.BmpCodec.encode(w, h, pixel)
              case 1 => Multimodal.PngCodec.encode(w, h, pixel)
              case _ => Multimodal.GifCodec.encode(w, h, pixel)
            }
            (id, bytes)
          }
        }.toDF("id", "media")
      Multimodal.extractImageFeatures(media).toDF()
        .withColumn("format",
          when(col("id") % 3 === 0, lit("bmp"))
            .when(col("id") % 3 === 1, lit("png"))
            .otherwise(lit("gif")))
        .select(col("id"), col("format"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy(col("id"))
    }),

    // IVF-PQ ANN (r16): the composed IVFADC architecture — q34's IVF cell
    // routing over q94's PQ-encoded code table, exact re-rank of only the
    // k survivors. The ADC scan side carries (cell, 4 codes) and never
    // vectors; the cell equi-join prunes it 16x per query
    // (graft.ops.Similarity.ivfPqTopK).
    "q144_ivfpq_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb.where(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ index persistence E2E (r16): BUILD on the first ids, APPEND
    // the rest against the frozen quantizers, QUERY through the real files.
    // Identical by construction to q144's inline form — the id-seeded
    // quantizers come from the smallest ids, which live in the build half —
    // so the SAME oracle hash gates the whole build/append/query protocol
    // (graft.ops.AnnIndex; meta-last commit, codes-only inverted file).
    "q145_ann_index" -> ((s, dir) => {
      val root = scratchRoot(s, "q145_ann", dir)
      val emb = tbl(s, dir, "embeddings")
      AnnIndex.build(emb.where(col("vec_id") < 100), "vec_id", "embedding", root)
      AnnIndex.append(emb.where(col("vec_id") >= 100), "vec_id", "embedding",
        root, batchId = "day2")
      AnnIndex.query(emb.where(col("vec_id") < 5), emb, "vec_id", "embedding",
          root, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // multimodal plumbing: stubbed decode over binary media columns
    // (rows-only check: the codec stub's outputs are pinned by unit tests)
    "q23_multimodal_features" -> ((s, dir) => {
      val media = tbl(s, dir, "documents")
        .select(col("doc_id").as("id"), lit("img").as("format"),
          col("text").cast("binary").as("media"))
      Multimodal.extractFeatures(media, dim = 8).toDF()
        .select(col("id"), col("n_bytes"), col("width"), col("height"), col("checksum"))
        .orderBy(col("id"))
    }),

    // rollup aggregation: revenue at (flag, status), (flag), and grand-total
    // grains. NOT `.rollup` on the fact table — that plans an Expand that
    // triples every input row before aggregation (3x scan+agg work at any
    // scale). Instead: aggregate the finest grain once, then rollup the
    // tiny grouped intermediate, re-aggregating the EXACT decimal partials
    // (decimal addition is associative, so the two-phase sum is
    // bit-identical to the one-phase rollup; the double cast happens last).
    "q24_rollup_revenue" -> ((s, dir) => {
      val base = tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .cast(DecimalType(28, 4))).as("_rev"),
          count(lit(1)).as("n"))
      base.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_rev")).cast("double").as("revenue"), sum(col("n")).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // event-time range frame: per-user trailing 10-minute moving average
    "q25_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
        .rangeBetween(-600L, 0L)
      tbl(s, dir, "events")
        .withColumn("ts_sec", secs(col("ts")))
        .withColumn("mavg", round(avg(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("ts_sec"), col("mavg"))
        .orderBy(col("event_id"))
    }),

    // J1 partitioned as-of: each event joined to the user's latest purchase
    // (join on exact ns so second-level ties match the ns-precision oracle)
    "q26_asof_per_user" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val exec = ev.select(col("event_id"), col("user_id"), col("ts_ns"), col("value"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"), col("value").as("last_purchase_value"))
      AsofJoin.backward(exec, purchases, on = "ts_ns", partitionCols = Seq("user_id"))
        .select(col("event_id"), col("user_id"),
          expr("ts_ns DIV 1000000000").as("ts_sec"),
          col("value"), col("last_purchase_value"))
        .orderBy(col("event_id"))
    }),

    // SimHash near-dup candidates: 8-bit chunk blocking + hamming verify.
    // Quarter-corpus gate (q16's note): kept as the oracle-parity contract
    // for the legacy 32-bit blocking (bits PINNED — the library default is
    // 48 since r16); q133's wide 48-bit form is the full-scale path and
    // the round-10 probe measured both.
    "q27_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashCandidates(
          tbl(s, dir, "documents").where(col("doc_id") % 4 === 0),
          "doc_id", "text", bits = 32)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // exact interpolated percentiles per group, as a DISTRIBUTED plan
    // (graft.ops.Quantiles — count+cumsum+bracket, not percentile()'s
    // collect-all-values ObjectAggregate; same numbers as DuckDB
    // quantile_cont, see Quantiles scaladoc)
    "q28_quantiles" -> ((s, dir) => {
      // NOT stacked (r16 A/B): folding both metrics into one exploded
      // (metric, value) quantile pass — the q127 shape — measured WORSE
      // here (2.36 -> 3.21 s at sf0.1): explode doubles the rows through
      // every pass of the shared pipeline and adds a struct per row, which
      // costs more than the second pipeline it saves on lineitem's narrow
      // numeric columns. Two independent single-metric passes it stays.
      val li = tbl(s, dir, "lineitem")
      val price = Quantiles.exactInterpolated(li, Seq("l_returnflag"),
        "l_extendedprice", Seq(0.5 -> "p50", 0.9 -> "p90"))
      val qty = Quantiles.exactInterpolated(li, Seq("l_returnflag"),
        "l_quantity", Seq(0.25 -> "qty_p25"))
      price.join(qty, "l_returnflag")
        .select(col("l_returnflag"), round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"), round(col("qty_p25"), 4).as("qty_p25"))
        .orderBy(col("l_returnflag"))
    }),

    // set intersection: users who both purchased and hit errors
    "q29_intersect_users" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val purchasers = ev.where(col("event_type") === "purchase").select(col("user_id")).distinct()
      val erroring = ev.where(col("event_type") === "error").select(col("user_id")).distinct()
      purchasers.intersect(erroring).orderBy(col("user_id"))
    }),

    // semi join: orders containing at least one deeply discounted line
    "q30_semi_join" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val deep = tbl(s, dir, "lineitem").where(col("l_discount") >= 0.09)
        .select(col("l_orderkey").as("o_orderkey"))
      o.join(deep, Seq("o_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // multi-symbol keyed pipeline at bench scale: 100 synthetic symbols
    // (user_id % 100) through the keyed candle agg -> keyed M5 resample ->
    // keyed grid + chunked forward-fill. This is the plan shape that
    // parallelizes across symbols on a cluster; q20 is its single-series twin.
    "q31_ffill_multi_symbol" -> ((s, dir) => {
      val ev = tbl(s, dir, "events").withColumn("symbol", pmod(col("user_id"), lit(100L)))
      val m1 = EventOps.candles(ev, 60L, keys = Seq("symbol"))
      Resample.ohlcvFfill(m1, Timeframe.M5, keys = Seq("symbol"))
        .select(col("symbol"), secs(col("ts")).as("ts_sec"), col("open"), col("high"),
          col("low"), col("close"), col("volume"))
        .orderBy(col("symbol"), col("ts_sec"))
    }),

    // multi-join star query: revenue per market segment (broadcast dims)
    "q13_segment_revenue" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val o = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("c_mktsegment"))
    }),

    // PII redaction (graft.ops.TextAnalysis.scrubPii): flat per-row
    // regexp_replace chain, zero shuffle. The contact blob is synthesized
    // deterministically from the customer table (the synthetic corpus
    // contains no PII-shaped strings to scrub).
    "q32_pii_scrub" -> ((s, dir) => {
      val blob = concat(col("c_name"),
        lit(" <user"), col("c_custkey").cast("string"), lit("@example.com> call 555-867-"),
        lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"),
        lit(" acct "), (col("c_custkey") * 1000003L + 12345678L).cast("string"))
      tbl(s, dir, "customer")
        .select(col("c_custkey"), blob.as("_blob"))
        .select(col("c_custkey"),
          TextAnalysis.scrubPii(col("_blob")).as("scrubbed"),
          TextAnalysis.piiCount(col("_blob")).cast("long").as("n_pii"))
        .orderBy(col("c_custkey"))
    }),

    // vocabulary mining: top-5 bigrams per language by document frequency
    // (graft.ops.TextAnalysis.topNgrams — WindowGroupLimit pushdown keeps
    // the shuffle at O(groups*k) rows per map task, not the vocabulary)
    "q33_top_ngrams" -> ((s, dir) => {
      TextAnalysis.topNgrams(tbl(s, dir, "documents"), "lang", "text", k = 5)
        .orderBy(col("lang"), col("rank"))
    }),

    // IVF ANN top-k — the scale path for q14's exact scan, now under the
    // same oracle: deterministic centroid seeding (lowest ids), cell
    // assignment by cosine, probe only the query's cell
    "q34_ivf_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 5), emb, "vec_id", "embedding",
          k = 10, nCentroids = 16)
        .orderBy(col("query_id"), col("rank"))
    }),

    // leakage-safe deterministic train/val/test split by content
    // fingerprint (graft.ops.TextAnalysis.datasetSplit), profiled per split
    "q35_dataset_split" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .withColumn("split", TextAnalysis.datasetSplit(col("text")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"))
        .orderBy(col("split"))
    }),

    // the canonical dedup composition: LSH candidates -> exact Jaccard
    // verify on candidates only (graft.ops.Dedup.verifiedNearDups)
    "q36_verified_near_dups" -> ((s, dir) => {
      Dedup.verifiedNearDups(tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // dedup endgame: verified near-dup pairs -> connected components ->
    // canonical selection (graft.ops.Dedup.nearDupClusters; min-label
    // propagation, deterministic smallest-id cluster labels)
    "q40_dedup_clusters" -> ((s, dir) => {
      Dedup.nearDupClusters(tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.1)
        .orderBy(col("doc_id"))
    }),

    // repetition quality filters (Gopher/RefinedWeb-style): duplicate-word
    // fraction + top-bigram share per doc (graft.ops.TextAnalysis)
    "q39_repetition" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val top = TextAnalysis.topNgramShare(docs, "doc_id", "text")
      docs.select(col("doc_id"),
          round(TextAnalysis.dupWordFraction(col("text")), 4).as("dup_word_frac"))
        .join(top, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // sequence packing: assign ordered docs to 2048-token context-window
    // packs per language (graft.ops.Packing — distributed two-phase prefix
    // sum, no global window; the training-batch packer)
    "q38_sequence_pack" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      Packing.packByBudget(d, Seq("lang"), "doc_id", "n_tokens", budget = 2048L,
          chunkSize = 500L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_n_tokens"), col("pack_id"))
        .orderBy(col("doc_id"))
    }),

    // corpus observability report: per-language doc/token totals, source
    // diversity, mean quality — native TextStats kernel per row, then one
    // hash aggregate (the pipeline-health numbers every ingest run reports)
    "q37_corpus_stats" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("source")).as("n_sources"),
          round(dsum(col("q")) / count(lit(1)), 4).as("mean_quality"))
        .orderBy(col("lang"))
    }),

    // benchmark decontamination: distinct 3-gram overlap of every corpus
    // doc against the eval split (doc_id % 10 == 0); eval shingle set is
    // broadcast, so the corpus side never shuffles (graft.ops.Corpus)
    "q41_decontaminate" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Corpus.decontaminate(
          d.where(pmod(col("doc_id"), lit(10L)) =!= 0),
          d.where(pmod(col("doc_id"), lit(10L)) === 0),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // deterministic stratified sample: 20 docs per language by portable
    // id-hash order — WindowGroupLimit pre-trims map-side (graft.ops.Corpus)
    "q42_stratified_sample" -> ((s, dir) => {
      Corpus.stratifiedSample(tbl(s, dir, "documents"), "lang", "doc_id", k = 20)
        .select(col("lang"), col("rn"), col("doc_id"))
        .orderBy(col("lang"), col("rn"))
    }),

    // per-doc top-3 TF-IDF terms: one data-sized shuffle (tf), vocab-sized
    // df join, WindowGroupLimit rank filter (graft.ops.Corpus)
    "q43_tfidf_topk" -> ((s, dir) => {
      Corpus.tfidfTopK(tbl(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // sharded shuffle export: reproducible (shard, pos) training layout,
    // per-shard ranks, no global sort (graft.ops.Corpus)
    "q44_shuffled_export" -> ((s, dir) => {
      Corpus.shuffledExport(tbl(s, dir, "documents"), "doc_id", shards = 16)
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy(col("shard"), col("pos"))
    }),

    // language rebalancing: hash-Bernoulli thinning to ~50 docs/lang,
    // stratum stats broadcast back onto the data (graft.ops.Corpus)
    "q45_rebalance" -> ((s, dir) => {
      Corpus.rebalance(tbl(s, dir, "documents"), "lang", "doc_id", target = 50.0)
        .orderBy(col("lang"))
    }),

    // temperature mixture sampling: w = sqrt(n) flattens the language mix
    // toward uniform; rates from two tiny broadcast aggregates, the corpus
    // side never shuffles (graft.ops.Corpus)
    "q46_temperature_mix" -> ((s, dir) => {
      Corpus.temperatureSample(tbl(s, dir, "documents"), "lang", "doc_id",
          totalTarget = 200.0)
        .orderBy(col("lang"))
    }),

    // zero-filled fixed-width value histogram: nBins-row map-combined
    // aggregate + broadcast grid join (graft.ops.EventOps)
    "q47_value_histogram" -> ((s, dir) =>
      EventOps.valueHistogram(tbl(s, dir, "events"), "value",
        width = 25.0, nBins = 20)),

    // hot-key-safe equi-join via explicit salting: per-user purchase spend
    // replicated across 8 salts, the event side salted by row hash; result
    // equals the plain join bit-for-bit (graft.ops.Skew)
    "q48_salted_join" -> ((s, dir) => {
      val e = tbl(s, dir, "events")
      val spend = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value"), 4).cast(DecimalType(28, 4))).as("spend"))
      Skew.saltedJoin(e, spend, Seq("user_id"), factor = 8)
        .select(col("event_id"), col("user_id"),
          round(col("value") / col("spend").cast("double"), 6).as("share"))
        .orderBy(col("event_id"))
    }),

    // point-in-interval range join WITHOUT a cross product: 1h windows
    // after each high-value purchase, turned into an equi-join on the hour
    // chunk + residual range filter (graft.ops.RangeJoin)
    "q49_range_join" -> ((s, dir) => {
      val e = tbl(s, dir, "events")
      val pts = e.select(col("event_id"), col("ts_ns"))
      val iv = e.where(col("event_type") === "purchase" && col("value") > 220.0)
        .select(col("event_id").as("interval_id"), col("ts_ns").as("start_ns"),
          (col("ts_ns") + 3600000000000L).as("end_ns"))
      RangeJoin.pointInInterval(pts, "ts_ns", iv, "start_ns", "end_ns",
          chunkWidth = 3600000000000L)
        .groupBy(col("interval_id"))
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy(col("interval_id"))
    }),

    // per-language length-quantile curation: drop each language's shortest
    // quartile. Cutoffs come from the distributed exact-quantile plan (one
    // row per lang) and broadcast back onto the corpus — integer n_chars
    // with quarter fractions keeps the interpolated cutoff exactly dyadic,
    // so the filter boundary is bit-identical across engines
    // (graft.ops.Quantiles)
    "q51_length_filter" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val cut = Quantiles.exactInterpolated(d, Seq("lang"), "n_chars",
          Seq(0.25 -> "cutoff"))
        .withColumnRenamed("lang", "_lang") // cut shares d's lineage: disambiguate
      d.join(broadcast(cut), col("lang") === col("_lang")).drop("_lang")
        .where(col("n_chars").cast("double") >= col("cutoff"))
        .groupBy(col("lang"))
        .agg(min(col("cutoff")).as("cutoff"), count(lit(1)).as("n_kept"))
        .orderBy(col("lang"))
    }),

    // Z-order clustered scan: events re-laid-out on the Morton curve of
    // (time, value), then a 2-D box predicate — the layout must preserve
    // every row (the pruning win itself shows in per-file stats, not in
    // results) (graft.ops.Layout)
    "q52_zorder_scan" -> ((s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("event_id"), secs(col("ts")).as("ts_sec"), col("value"))
      // partition count derived from data size (64 KiB target at bench SF
      // keeps tens of files so the per-file box property is real; at
      // production scale the 128 MiB default applies)
      val clustered = Layout.zorderedBy(e, "ts_sec", 1704067200.0, 1706659200.0,
        "value", 0.0, 500.0, targetFileBytes = 64L << 10)
      clustered
        .where(col("ts_sec") >= 1704844800L && col("ts_sec") < 1705449600L &&
          col("value") >= 100.0 && col("value") < 200.0)
        .orderBy(col("event_id"))
    }),

    // concurrent-session analysis: sessionize per user, then count
    // overlapping session pairs across users via the chunked interval-
    // overlap join — an equi-join on hour chunks, never the O(n^2)
    // inequality self-join (graft.ops.EventOps + graft.ops.RangeJoin)
    "q53_session_overlap" -> ((s, dir) => {
      val sess = EventOps.sessionize(tbl(s, dir, "events"), 1800L)
        .select(col("user_id"), secs(col("session_start")).as("s"),
          (secs(col("session_end")) + 1L).as("e"))
        .cache() // feeds both sides of the self-join: pay the sessionize
                 // shuffle + per-user window once, not twice
      val a = sess.select(col("user_id").as("u_a"), col("s").as("s_a"), col("e").as("e_a"))
      val b = sess.select(col("user_id").as("u_b"), col("s").as("s_b"), col("e").as("e_b"))
      RangeJoin.intervalOverlap(a, "s_a", "e_a", b, "s_b", "e_b", chunkWidth = 3600L)
        .where(col("u_a") < col("u_b"))
        .groupBy(col("u_a"), col("u_b")).agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("u_a"), col("u_b"))
    }),

    // long-document chunking: overlapping 60-token windows every 50 tokens,
    // pure per-row expression work (split/sequence/posexplode/slice);
    // chunks verified by token count + portable polyhash checksum
    // (graft.ops.TextAnalysis)
    "q54_doc_chunks" -> ((s, dir) => {
      TextAnalysis.chunkDocuments(tbl(s, dir, "documents"), "doc_id", "text",
          maxTokens = 60, overlap = 10)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          TextAnalysis.fingerprint(col("chunk_text")).as("checksum"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // revenue pivot (priority x status): groupBy().pivot() with explicit
    // status values — conditional aggregation, one shuffle, no Expand of
    // the fact table
    "q50_pivot_revenue" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0.0)).as("rev_f"),
          coalesce(col("O"), lit(0.0)).as("rev_o"),
          coalesce(col("P"), lit(0.0)).as("rev_p"))
        .orderBy(col("o_orderpriority"))
    }),

    // end-to-end lake roundtrip (S1-S5 + K1 + P1 + W1 under the oracle gate):
    // events -> symbol-keyed M1 candles -> LakeWriter.upsert (initial load),
    // then a revised batch upserted on top (merge-dedupe keep-last), then
    // LakeReader.readRange's half-open partition-pruned scan over the tree
    // that was actually written. The oracle recomputes the same merge
    // semantics directly over events, so what this verifies is the physical
    // write+read path itself (reference: src/datalake/read/api.py:12-74
    // read_range_df — the reference's single most-used entry point)
    "q55_lake_roundtrip" -> ((s, dir) => {
      val root = scratchRoot(s, "q55_lake", dir)
      def t(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      val candles = EventOps.candles(ev, 60L, Seq("symbol"))
        .withColumn("source", lit("evt"))
        .withColumn("timeframe", lit("M1"))
        .cache() // feeds both the initial load and the revision batch
      LakeWriter.upsert(s, root, candles)
      LakeWriter.upsert(s, root,
        candles
          .where(col("ts") >= lit(t("2024-01-12T00:00:00Z")) &&
            col("ts") < lit(t("2024-01-18T00:00:00Z")))
          .withColumn("close", col("close") + 1000.0))
      LakeReader.readRange(s, root, "evt", "U1", "M1",
          Some(t("2024-01-05T00:00:00Z")), Some(t("2024-01-25T00:00:00Z")))
        .select(secs(col("ts")).as("ts_sec"), col("open"), col("high"),
          col("low"), col("close"), col("volume"))
        .orderBy(col("ts_sec"))
    }),

    // event-rate anomaly detection: hourly counts per event type scored
    // against the type's own mean/std (z-score). Variance comes from exact
    // integer sums (count, sum n, sum n^2 in decimal — n^2 through decimal
    // so a 3e9-events hour cannot overflow BIGINT under ANSI), so the
    // doubles that reach the division are identical across engines. Stats
    // are one tiny per-type aggregate broadcast back; the hourly table
    // never shuffles twice
    "q59_rate_anomaly" -> ((s, dir) => {
      EventOps.rateAnomalies(EventOps.hourlyCounts(tbl(s, dir, "events")))
        .orderBy(col("event_type"), col("hour_sec"))
    }),

    // embedding-space QC: per-label centroid + intra-class cohesion
    // (mean/min cosine to own centroid) — flags mislabeled or collapsed
    // classes before training (graft.ops.Similarity.labelCentroidStats)
    "q57_label_centroids" -> ((s, dir) => {
      Similarity.labelCentroidStats(tbl(s, dir, "embeddings"), "embedding", "label")
        .orderBy(col("label"))
    }),

    // span-level exact-substring duplication (Lee et al.-style signal):
    // 20-token windows every 10 tokens, fingerprinted; per doc the window
    // count, cross-document duplicated windows, and first-occurrence-owned
    // windows (graft.ops.Dedup.duplicateSpans)
    "q60_duplicate_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // bloom-accelerated decontamination: fixed-size bit array built from
    // the eval split's shingle hashes pre-filters the corpus side before
    // the exact verifying join — no false negatives, so the output is
    // exactly Corpus.decontaminate's (graft.ops.Sketches.bloomDecontaminate)
    "q61_bloom_decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Sketches.bloomDecontaminate(
          docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // graded contamination: per corpus doc the distinct-shingle count,
    // eval overlap count, and rate in integer basis points — the
    // threshold-not-boolean form of q41 (graft.ops.Corpus.contaminationRate)
    "q62_contamination_rate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Corpus.contaminationRate(
          docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // KMV distinct-count sketch: distinct users per event type estimated
    // from the 64 smallest portable hashes — integer-exact estimator, so
    // the ESTIMATE itself is under the oracle gate
    // (graft.ops.Sketches.kmvDistinct)
    "q63_kmv_distinct" -> ((s, dir) => {
      Sketches.kmvDistinct(tbl(s, dir, "events"), "event_type", "user_id",
          k = 64)
        .orderBy(col("event_type"))
    }),

    // technical indicators over per-symbol M5 candles: SMA(10), truncated
    // EMA(10), Bollinger(20, 2sigma), RSI(14), per-day VWAP — the feature
    // layer every backtesting user computes next; all windows partitioned
    // by symbol (graft.ops.Indicators)
    "q72_indicators" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      Indicators.enrich(EventOps.candles(ev, 300L, Seq("symbol")), Seq("symbol"))
        .select(col("symbol"), secs(col("ts")).as("ts_sec"), col("close"),
          col("sma"), col("ema"), col("bb_mid"), col("bb_up"), col("bb_lo"),
          col("rsi"), col("atr"), col("stoch_k"), col("vwap_day"))
        .orderBy(col("symbol"), col("ts_sec"))
    }),

    // equity-curve metrics per symbol: on-balance volume, running close
    // high, drawdown from the high — unbounded frames partitioned by
    // symbol (graft.ops.Indicators.cumulative)
    "q75_drawdown_obv" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      Indicators.cumulative(EventOps.candles(ev, 300L, Seq("symbol")), Seq("symbol"))
        .select(col("symbol"), secs(col("ts")).as("ts_sec"), col("close"),
          col("obv"), col("run_max"), col("drawdown"))
        .orderBy(col("symbol"), col("ts_sec"))
    }),

    // directional as-of with tolerance (the full pandas merge_asof surface;
    // the reference uses backward only): per-symbol M1 execs pick the
    // NEAREST M5 context close within 120 s (ties prefer backward), plus an
    // untolerated FORWARD join — both through one union-tag + biFill pass
    // per join, no data-sized unpartitioned window
    // (graft.ops.AsofJoin.directed)
    // HyperLogLog distinct-count per event_type (graft.ops.Sketches
    // .hllDistinct — the register-merge sketch: NO distinct pass, the one
    // shuffle carries at most groups x 1024 register partials however big
    // or skewed the input; partial sketches max-merge without rescanning).
    // Reported beside the exact distinct so the estimate error is visible
    // in the artifact, like q63/q77. All sketch arithmetic is
    // integer-exact except one correctly-rounded IEEE division, so the
    // ESTIMATE itself is under the hash gate.
    "q80_hll_distinct" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      Sketches.hllDistinct(ev, "event_type", "user_id")
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_distinct")), "event_type")
        .orderBy(col("event_type"))
    }),

    // deterministic weighted priority sampling: 20 docs per language with
    // selection probability rising in n_chars (graft.ops.Corpus
    // .weightedSample — u/w priorities, WindowGroupLimit top-k per
    // stratum; the quality/length-weighted corpus-sampling stage with
    // bit-reproducibility as a hard property)
    "q81_weighted_sample" -> ((s, dir) => {
      Corpus.weightedSample(
          tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "lang", "doc_id", "n_chars", k = 20)
        .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"),
          col("priority"))
        .orderBy(col("lang"), col("rn"))
    }),

    // KMV set-overlap: estimated shared-user count (and union size) for
    // every event-type pair from the SAME k-min sketches q63 keeps — the
    // theta-sketch set-operation pattern; the raw sets are never joined,
    // the pair stage touches O(groups^2 x k) sketch rows only. Exact
    // intersection reported beside the estimate, like q63/q77/q80
    // (graft.ops.Sketches.kmvOverlap)
    "q82_kmv_overlap" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val du = ev.select(col("event_type").cast("string").as("g"),
        col("user_id").as("v")).distinct()
      val exact = du.withColumnRenamed("g", "g1")
        .join(du.withColumnRenamed("g", "g2"), Seq("v"))
        .where(col("g1") < col("g2"))
        .groupBy("g1", "g2").agg(count(lit(1)).as("exact_intersection"))
      Sketches.kmvOverlap(ev, "event_type", "user_id", k = 512)
        .join(exact, Seq("g1", "g2"), "left")
        .withColumn("exact_intersection",
          coalesce(col("exact_intersection"), lit(0L)))
        .orderBy(col("g1"), col("g2"))
    }),

    // schema-on-read JSON extraction + payload-health report: per
    // event_type stats over props.$.k with corrupt/absent accounting —
    // expression-only Catalyst JSON (get_json_object + try_cast inside
    // codegen), no UDF, map-side-combined aggregate
    // (graft.ops.JsonOps.fieldStats)
    "q83_json_extract" -> ((s, dir) => {
      JsonOps.fieldStats(tbl(s, dir, "events"), "props", "$.k", "event_type")
        .orderBy(col("event_type"))
    }),

    // Markov path mining: event-type transition counts within sessions
    // (same 1800 s gap rule as q12) — "what do users do after X";
    // user-keyed window then a |types|^2-bounded count
    // (graft.ops.EventOps.transitions)
    "q84_session_paths" -> ((s, dir) => {
      EventOps.transitions(tbl(s, dir, "events"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // per-group OLS drift: value-over-time slope/intercept per event_type
    // — ONE windowless aggregation over the five OLS sums (exact-integer
    // x sums after min-centering, decimal-round-trip y sums, fixed IEEE
    // closing chain: the FIT ITSELF is hash-gated)
    // (graft.ops.Regression.linearTrend)
    "q85_linear_trend" -> ((s, dir) => {
      Regression.linearTrend(
          tbl(s, dir, "events").withColumn("ts_sec", col("ts").cast("long")),
          "event_type", "ts_sec", "value")
        .orderBy(col("event_type"))
    }),

    // top-10 whole-session journeys: ordered event-type sequences per q12
    // session, counted and ranked — the full-path complement to q84's
    // bigrams (graft.ops.EventOps.topPaths)
    "q101_top_paths" -> ((s, dir) => {
      EventOps.topPaths(tbl(s, dir, "events"), gapSeconds = 1800L, k = 10)
        .orderBy(col("rank"))
    }),

    // Unigram-LM perplexity quality gate (CCNet/Gopher-style): train the
    // add-one-smoothed LM on the corpus itself (vocab minCount=5), score
    // every document by mean -ln p(token), flag keeps under a fixed nll
    // threshold. LM join is broadcast; the corpus side shuffles once
    // (per-doc agg) — see Corpus.perplexityScore scaladoc for the shape.
    "q102_perplexity_filter" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Corpus.perplexityScore(docs, "doc_id", "text", minCount = 5L)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("keep",
          when(col("nll") <= lit(3.407), 1L).otherwise(0L))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("nll"),
          col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Snapshot diff between two dataset versions (ops.Diff): v1 drops
    // event_id%7==0, v2 drops %5==0 and bumps value on %3==0 — the diff
    // must classify exactly the added/removed/changed keys. One
    // co-partitioned full-outer equi-join; emits only the delta rows.
    "q103_snapshot_diff" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val v1 = ev.where(col("event_id") % 7 =!= 0)
        .select(col("event_id"), col("event_type"), col("value"))
      val v2 = ev.where(col("event_id") % 5 =!= 0)
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 3 === 0, col("value") + 1.0)
            .otherwise(col("value")).as("value"))
      // added/removed rows have NULL on one side — format the doubles to
      // VARCHAR with an explicit 'null' sentinel (q70's lesson: never hand
      // the gate's hasher a nullable DOUBLE column).
      Diff.snapshotDiff(v1, v2, Seq("event_id"), Seq("event_type", "value"))
        .where(col("status") =!= "unchanged")
        .select(col("event_id"), col("status"),
          coalesce(format_string("%.6f", col("old_value")), lit("null"))
            .as("old_value"),
          coalesce(format_string("%.6f", col("new_value")), lit("null"))
            .as("new_value"))
        .orderBy(col("event_id"))
    }),

    // Domain-mixture reweighting (DoReMi/Pile-style recipe step): per-lang
    // token shares vs a uniform target, capped up-sampling weight, and the
    // post-reweight effective token budget. Domain-grain agg + 1-row
    // broadcast total; the corpus never shuffles.
    "q104_mixture_weights" -> ((s, dir) => {
      Corpus.mixtureWeights(tbl(s, dir, "documents"), "lang", "text")
        .orderBy(col("lang"))
    }),

    // Next-event-prediction lag features (EventOps.lagFeatures): per event,
    // the previous 2 types + inter-event gaps in the user's history, with
    // explicit missing-history encoding ('none'/-1) — one user-keyed
    // window sort shared by all four lag columns.
    "q106_lag_features" -> ((s, dir) => {
      EventOps.lagFeatures(tbl(s, dir, "events"))
        .orderBy(col("event_id"))
    }),

    // Point-in-time enrichment (EventOps.pointInTimeJoin): each event
    // joined to the SCD2 state (q93's history) valid 10 minutes BEFORE it
    // — the leakage-safe feature-store join, as a union + keyed
    // forward-fill instead of a range join. Pre-history facts encode
    // explicitly ('none'/-1).
    "q108_pit_enrich" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val hist = EventOps.scd2History(ev, "user_id", "event_type")
      val facts = ev.select(col("event_id"), col("user_id"),
        (col("ts").cast("long") - 600L).as("asof_tsec"), col("event_type"))
      EventOps.pointInTimeJoin(facts, hist, "user_id", "asof_tsec", "event_type")
        .select(col("event_id"), col("user_id"), col("event_type"),
          coalesce(col("asof_event_type"), lit("none")).as("state_10m_ago"),
          coalesce(col("asof_version"), lit(-1L)).as("state_version"))
        .orderBy(col("event_id"))
    }),

    // PMI collocation mining (TextAnalysis.pmiPairs): top word associations
    // by pointwise mutual information over within-window co-occurrence —
    // pair generation is per-row array expressions, no self-join.
    "q107_pmi_pairs" -> ((s, dir) => {
      TextAnalysis.pmiPairs(tbl(s, dir, "documents"), "text", minPairCount = 5L, k = 30)
        .orderBy(col("rank"))
    }),

    // DSIR importance resampling (Corpus.importanceWeights): rank the raw
    // corpus by target-vs-raw unigram log-likelihood ratio (target = the
    // zh slice) and keep the top 50 — limit-bounded rank window, the q101
    // top-k pattern.
    "q105_importance_resample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val scored = Corpus
        .importanceWeights(docs, docs.where(col("lang") === "zh"),
          "doc_id", "text", minCount = 5L)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      scored.orderBy(col("log_ratio").desc, col("doc_id")).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("log_ratio").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("lang"), col("n_tokens"),
          col("log_ratio"))
        .orderBy(col("rank"))
    }),

    // CAPSTONE: the end-to-end training-data pipeline as ONE gated chain —
    // eval split -> hygiene filter (native TextStats token count) ->
    // exact dedup keep-min-id -> n-gram decontamination vs the eval set
    // (broadcast) -> deterministic stratified sample (WindowGroupLimit)
    // -> per-language manifest. Every stage is an already-oracled operator
    // (q08/q07/q41/q42 lineages); this gates their COMPOSITION.
    "q100_training_pipeline" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val eval = docs.where(col("doc_id") % 10 === 0)
      val train = docs.where(col("doc_id") % 10 =!= 0)
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .where(col("n_tokens") >= 20)
      val wd = Window.partitionBy(col("_fp")).orderBy(col("doc_id"))
      val deduped = train.withColumn("_fp", md5(col("text")))
        .withColumn("_rn", row_number().over(wd))
        .where(col("_rn") === 1).drop("_fp", "_rn")
      val clean = Corpus.decontaminated(deduped, eval, "doc_id", "text")
      Corpus.stratifiedSample(clean, "lang", "doc_id", k = 50)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    // referential-integrity audit: orphan-FK counts across the TPC-H
    // relationships plus one deliberately cross-dataset check (events
    // users vs customer keys) that fails — one anti-join per declared
    // relation, relationships-sized report (graft.ops.Qc.fkAudit)
    "q99_fk_audit" -> ((s, dir) => {
      Qc.fkAudit(Seq(
          ("lineitem_orders", tbl(s, dir, "lineitem"), "l_orderkey",
            tbl(s, dir, "orders"), "o_orderkey"),
          ("lineitem_part", tbl(s, dir, "lineitem"), "l_partkey",
            tbl(s, dir, "part"), "p_partkey"),
          ("lineitem_supplier", tbl(s, dir, "lineitem"), "l_suppkey",
            tbl(s, dir, "supplier"), "s_suppkey"),
          ("orders_customer", tbl(s, dir, "orders"), "o_custkey",
            tbl(s, dir, "customer"), "c_custkey"),
          ("events_customer", tbl(s, dir, "events"), "user_id",
            tbl(s, dir, "customer"), "c_custkey")))
        .orderBy(col("relation"))
    }),

    // DAU/WAU engagement with stickiness: sliding 7-day distinct users —
    // dedupe to (day, user) once, explode onto the <= 7 future days each
    // pair keeps active (bounded day-grain expansion), distinct-count per
    // target day; exact integer basis-point ratio
    // (graft.ops.EventOps.dauWau)
    "q98_dau_wau" -> ((s, dir) => {
      EventOps.dauWau(tbl(s, dir, "events")).orderBy(col("day"))
    }),

    // blocked fuzzy-match join: supplier names within edit distance 2
    // (entity resolution exact keys miss) — length blocking + thresholded
    // banded-DP levenshtein, exact integer distances under the gate
    // (graft.ops.Dedup.fuzzyPairs)
    // Quarter-registry gate (disjoint from q134's quarter): TPC-H supplier
    // names are all near-matches of each other, so the full registry is
    // pair-quadratic without testing anything the subset doesn't — q134's
    // PassJoin is the full-scale exact path (PLANS.md round-10 probe).
    "q97_fuzzy_match" -> ((s, dir) => {
      Dedup.fuzzyPairs(
          tbl(s, dir, "supplier").where(col("s_suppkey") % 4 === 2),
          "s_suppkey", "s_name", maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // unpivot/melt to long format (the inverse of q50's pivot): OHLC
    // columns -> (field, value) rows via stack() — pure per-row expression
    // expansion, no shuffle beyond the candle aggregation; the tall shape
    // feature stores and plotting layers consume
    "q96_melt_ohlc" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      EventOps.candles(ev, 3600L, Seq("symbol"))
        .select(col("symbol"), secs(col("ts")).as("ts_sec"),
          expr("stack(4, 'open', open, 'high', high, 'low', low, 'close', close)")
            .as(Seq("field", "value")))
        .orderBy(col("symbol"), col("ts_sec"), col("field"))
    }),

    // model-ready feature scaling: percent-rank + min-max of value per
    // event_type, deterministic (value, event_id) rank order — one keyed
    // window pass, both scales one IEEE division each so the features
    // are hash-gated (graft.ops.Corpus.featureScale)
    "q95_feature_scale" -> ((s, dir) => {
      Corpus.featureScale(
          tbl(s, dir, "events")
            .select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value", "event_id")
        .select(col("event_id"), col("event_type"), col("value"),
          col("pct_rank"), col("minmax"))
        .orderBy(col("event_id"))
    }),

    // product-quantization ANN (Jegou et al. 2011): vectors encoded as 4
    // subspace codes (64x compression at dim=64), queries scan CODES via
    // per-subspace ADC distance tables — never full vectors; codebooks =
    // id-seeded sub-slices (kmeans refines); approximate AND exact
    // distances both hash-gated (graft.ops.Similarity.pqTopK)
    "q94_pq_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.pqTopK(emb.where(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // SCD2 dimension history from the event stream: per user, consecutive
    // event_type repeats compacted away, remainder interval-ized into
    // half-open (valid_from, valid_to) versions, open version NULL —
    // the CDC -> warehouse-history build; keyed windows only
    // (graft.ops.EventOps.scd2History)
    "q93_scd2" -> ((s, dir) => {
      EventOps.scd2History(tbl(s, dir, "events"), "user_id", "event_type")
        .orderBy(col("user_id"), col("version"))
    }),

    // last-touch attribution: each purchase credited to the user's most
    // recent other event within 30 min (else "direct") — one user-keyed
    // running last(ignoreNulls) window, |types|-bounded aggregate
    // (graft.ops.EventOps.lastTouchAttribution)
    "q92_attribution" -> ((s, dir) => {
      EventOps.lastTouchAttribution(tbl(s, dir, "events"))
        .orderBy(col("attributed"))
    }),

    // equal-frequency feature binning: 10 ntile bins of value per
    // event_type with exact [lo, hi] edges — the discretization stage of
    // feature pipelines; group-keyed window, (value, event_id) tiebreak
    // (graft.ops.Quantiles.ntileBins)
    "q91_ntile_bins" -> ((s, dir) => {
      Quantiles.ntileBins(tbl(s, dir, "events"), Seq("event_type"),
          "value", nBins = 10, tieCol = "event_id")
        .orderBy(col("event_type"), col("bin"))
    }),

    // robust outlier detection: median/MAD bands per event_type (heavy-
    // tail-safe twin of q59's mean/var z-score) — two exact-quantile
    // passes, round-stabilized band edges so the outlier COUNTS are
    // hash-gated (graft.ops.Quantiles.madOutliers)
    "q90_mad_outliers" -> ((s, dir) => {
      Quantiles.madOutliers(tbl(s, dir, "events"), Seq("event_type"),
          "value", k = 3.0)
        .orderBy(col("event_type"))
    }),

    // bucketed co-located fact-to-fact join UNDER THE HARD GATE: both
    // per-user aggregates are physically written bucketed by user_id
    // (external tables on the q55-style scratch root), then joined with
    // NO exchange on either side — the 100 TB fact-join layout invariant
    // as an oracled query, not just a spec assertion (the write is eager
    // per run, like q55's upserts; PipelineSpec pins the shuffle-free
    // plan property) (graft.lake.Bucketing)
    "q89_bucketed_join" -> ((s, dir) => {
      val root = scratchRoot(s, "q89_bkt", dir)
      val ev = tbl(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(round(col("value"), 4).cast(DecimalType(28, 4)))
            .cast("double").as("purchase_value"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"))
      graft.lake.Bucketing.writeBucketed(purchases, "q89_purch", Seq("user_id"),
        8, Seq("user_id"), Some(s"$root/purch"))
      graft.lake.Bucketing.writeBucketed(clicks, "q89_clicks", Seq("user_id"),
        8, Seq("user_id"), Some(s"$root/clicks"))
      graft.lake.Bucketing.coLocatedJoin(s, "q89_purch", "q89_clicks",
          Seq("user_id"))
        .select(col("user_id"), col("n_purchases"), col("purchase_value"),
          col("n_clicks"))
        .orderBy(col("user_id"))
    }),

    // full CUBE with grouping_id: revenue across every subset of
    // (status, priority) in ONE pass over the aggregated intermediate
    // (pre-aggregate to the finest grain first, like q24's rollup — the
    // expansion multiplies group rows, never fact rows); gid bitmask
    // distinguishes subtotal NULLs from data NULLs
    "q88_cube_revenue" -> ((s, dir) => {
      val base = tbl(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(round(col("o_totalprice"), 4).cast(DecimalType(28, 4))).as("_rev"),
          count(lit(1)).as("n"))
      base.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"),
          sum(col("_rev")).cast("double").as("revenue"), sum(col("n")).as("n"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
          col("revenue"), col("n"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // prefix-filtered exact Jaccard join (SSJoin/AllPairs prefix
    // completeness theorem): only each doc's rarest
    // |r| - ceil(t|r|) + 1 shingles enter the pair join — the common
    // wide-posting shingles drop out of the index first — then exact
    // verification on candidates only; output bit-identical to the full
    // inverted-index join at the same threshold
    // (graft.ops.Dedup.prefixJaccardPairs)
    // Half-corpus gate (q16's note): the bit-for-bit equality with the
    // full inverted-index join at the same threshold is what's contracted,
    // and it holds on any corpus; prefix filtering's join-size advantage
    // at full scale is measured in PLANS.md.
    "q87_prefix_jaccard" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(
          tbl(s, dir, "documents").where(col("doc_id") % 2 === 0),
          "doc_id", "text", 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // time-weighted average per symbol/day by trapezoidal integration
    // over irregular observation times (plain AVG over-weights tick
    // bursts) — (symbol, day)-keyed window + decimal-path integral, one
    // IEEE closing division (graft.ops.Indicators.twa)
    "q86_twap" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      Indicators.twa(ev, Seq("symbol"))
        .orderBy(col("symbol"), col("day"))
    }),

    "q79_asof_directed" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      val m1 = EventOps.candles(ev, 60L, Seq("symbol"))
        .select(col("symbol"), col("ts"), col("close").as("m1_close"))
      // both directed joins probe the SAME M5 series — pin it lazily (r16)
      // so the events-table candle aggregation runs once, not once per
      // join side (the pin is candle-grain, the first join materializes it)
      val m5 = EventOps.candles(ev, 300L, Seq("symbol"))
        .select(col("symbol"), col("ts"), col("close"))
        .localCheckpoint(eager = false)
      val near = AsofJoin.directed(m1,
        m5.select(col("symbol"), col("ts"), col("close").as("close_near")),
        partitionCols = Seq("symbol"), direction = "nearest", tolerance = Some(120L))
      val both = AsofJoin.directed(near,
        m5.select(col("symbol"), col("ts"), col("close").as("close_fwd")),
        partitionCols = Seq("symbol"), direction = "forward")
      both.select(col("symbol"), secs(col("ts")).as("ts_sec"), col("m1_close"),
          col("close_near"), col("close_fwd"))
        .orderBy(col("symbol"), col("ts_sec"))
    }),

    // multi-column (3-D) Z-order clustering: the OPTIMIZE ZORDER BY
    // (ts, value, user) form — balanced-tree composition of the 2-way
    // magic-mask kernel (graft.ops.Layout.zorderN), box predicate on all
    // three dims. The oracle checks values are preserved through the
    // physical rewrite, like q52; the layout property itself is pinned by
    // LayoutSpec's per-partition bounding-box assertions
    "q78_zorder_multi" -> ((s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("event_id"), secs(col("ts")).as("ts_sec"), col("value"),
          col("user_id"))
      val clustered = Layout.zorderedByDims(e, Seq(
          ("ts_sec", 1704067200.0, 1706659200.0),
          ("value", 0.0, 500.0),
          ("user_id", 0.0, 1000.0)),
        targetFileBytes = 64L << 10)
      clustered
        .where(col("ts_sec") >= 1704844800L && col("ts_sec") < 1705449600L &&
          col("value") >= 100.0 && col("value") < 200.0 &&
          col("user_id") >= 100L && col("user_id") < 600L)
        .orderBy(col("event_id"))
    }),

    // approximate quantiles from the bounded decimal log-histogram sketch
    // (graft.ops.Quantiles.histogramQuantiles — the 100 TB twin of q28's
    // exact path, like q63's KMV vs exact distinct), reported side-by-side
    // with the exact interpolated percentiles so the estimate bound is
    // visible in the artifact itself
    "q77_hist_quantiles" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val est = Quantiles.histogramQuantiles(d, Seq("lang"), "n_chars",
        Seq(0.5 -> "p50_est", 0.9 -> "p90_est", 0.99 -> "p99_est"))
      val exact = Quantiles.exactInterpolated(d, Seq("lang"), "n_chars",
        Seq(0.5 -> "p50_exact", 0.9 -> "p90_exact", 0.99 -> "p99_exact"))
      est.join(exact, "lang")
        .select(col("lang"),
          round(col("p50_est"), 4).as("p50_est"),
          round(col("p50_exact"), 4).as("p50_exact"),
          round(col("p90_est"), 4).as("p90_est"),
          round(col("p90_exact"), 4).as("p90_exact"),
          round(col("p99_est"), 4).as("p99_est"),
          round(col("p99_exact"), 4).as("p99_exact"))
        .orderBy(col("lang"))
    }),

    // end-to-end repair pipeline (the reference's repair_day orchestration,
    // commands/repair_day.py:6-70, as ONE oracle-gated flow): build M1
    // candles from events, deterministically damage them (every 37th minute
    // dropped), upsert the damaged series into a scratch lake, read it back,
    // detect+fill the grid gaps from the lake's OWN data (Gaps.synthFill —
    // prior real close, else next real open, else 0; volume 0,
    // is_synth=true), upsert the fill batch on top, and read the repaired
    // series back out. The oracle recomputes damage+fill directly over
    // events, so a green hash proves detect -> refill -> merge-upsert ->
    // partitioned re-read as one chain, not just the pieces.
    // UpsertCore's pre-write materialization is load-bearing here: the fill
    // batch's lineage reads the very files the second upsert overwrites.
    "q76_repair_day" -> ((s, dir) => {
      val root = scratchRoot(s, "q76_repair", dir)
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      val damaged = EventOps.candles(ev, 60L, Seq("symbol"))
        .withColumn("source", lit("evt"))
        .withColumn("timeframe", lit("M1"))
        .where(expr("((CAST(ts AS LONG) DIV 60) % 37) != 5"))
      LakeWriter.upsert(s, root, damaged)
      val stored = LakeReader.readRange(s, root, "evt", "U1", "M1", None, None)
      val fillBatch = Gaps.synthFill(
          stored.select(col("ts"), col("open"), col("high"), col("low"),
            col("close"), col("volume")), Nil, 60L)
        .where(col("is_synth"))
        .withColumn("symbol", lit("U1"))
        .withColumn("source", lit("evt"))
        .withColumn("timeframe", lit("M1"))
      LakeWriter.upsert(s, root, fillBatch)
      LakeReader.readRange(s, root, "evt", "U1", "M1", None, None)
        .select(secs(col("ts")).as("ts_sec"), col("open"), col("high"),
          col("low"), col("close"), col("volume"),
          coalesce(col("is_synth"), lit(false)).as("is_synth"))
        .orderBy(col("ts_sec"))
    }),

    // rolling 20-bar Pearson correlation of every symbol pair's aligned
    // M5 closes — pairs-trading / diversification analytics; windows
    // partition by pair (graft.ops.Indicators.rollingPairCorr)
    "q74_rolling_corr" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      Indicators.rollingPairCorr(EventOps.candles(ev, 300L, Seq("symbol")), "symbol", n = 20)
        .orderBy(col("pair"), col("ts_sec"))
    }),

    // MACD(12,26,9) over per-symbol M5 candles: the two-layer window
    // composition (signal = EMA over the macd column, itself a window
    // product) — truncated EMAs keep both layers engine-reproducible
    // (graft.ops.Indicators.withMacd)
    "q73_macd" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .withColumn("symbol", concat(lit("U"), (col("user_id") % 3).cast("string")))
      Indicators.withMacd(EventOps.candles(ev, 300L, Seq("symbol")), Seq("symbol"))
        .select(col("symbol"), secs(col("ts")).as("ts_sec"), col("close"),
          col("macd"), col("macd_signal"), col("macd_hist"))
        .orderBy(col("symbol"), col("ts_sec"))
    }),

    // Deequ-style per-column data profile over events: rows, nulls, exact
    // distincts, numeric min/max — the per-ingest drift snapshot
    // (graft.ops.Qc.columnProfile). The API keeps min/max numeric; THIS
    // query stringifies them ('%.6f', NULL -> 'null') because r07's gate
    // hash-mismatched on the NULL-double cells of the non-numeric
    // event_type row despite value-identical output — C-style printf on
    // both sides leaves the comparator nothing float-shaped to disagree on.
    "q70_data_profile" -> ((s, dir) => {
      Qc.columnProfile(tbl(s, dir, "events"),
          Seq("event_id", "user_id", "event_type", "value"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"),
          coalesce(format_string("%.6f", col("min_num")), lit("null")).as("min_num"),
          coalesce(format_string("%.6f", col("max_num")), lit("null")).as("max_num"))
        .orderBy(col("column_name"))
    }),

    // constraint-suite verification over events (Deequ's check shape):
    // named row-wise predicates -> (check, n_violations, passed), nulls
    // count as violations; includes a deliberately failing range check so
    // the violation path is exercised (graft.ops.Qc.checkConstraints)
    "q71_constraint_checks" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      Qc.checkConstraints(ev, Seq(
          "event_id_nonnull" -> col("event_id").isNotNull,
          "user_id_nonnegative" -> (col("user_id") >= 0L),
          "event_type_in_domain" ->
            col("event_type").isin("click", "error", "purchase", "signup", "view"),
          "value_in_range" -> (col("value") >= 0.0 && col("value") < 1000.0),
          "value_below_200" -> (col("value") < 200.0)))
        .orderBy(col("check_name"))
    }),

    // ordered conversion funnel: users completing view -> click ->
    // purchase IN ORDER (first qualifying event per stage at-or-after the
    // previous stage's time, exact ns timestamps)
    // (graft.ops.EventOps.conversionFunnel)
    "q68_conversion_funnel" -> ((s, dir) => {
      EventOps.conversionFunnel(tbl(s, dir, "events"),
          Seq("view" -> "view", "click_after_view" -> "click",
            "purchase_after_click" -> "purchase"))
        .orderBy(col("stage"))
    }),

    // retention cohorts: users by first-activity UTC day x day offset 0-7,
    // distinct active users per cell (graft.ops.EventOps.retentionCohorts)
    "q69_retention_cohorts" -> ((s, dir) => {
      EventOps.retentionCohorts(tbl(s, dir, "events"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // hard-negative mining: per anchor (vec_id < 10) the 3 most-similar
    // vectors with a DIFFERENT label — the contrastive-training data-prep
    // op; declared-exact all-pairs, IVF/LSH twin is the scale path
    // (graft.ops.Similarity.hardNegatives)
    "q67_hard_negatives" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.hardNegatives(emb.where(col("vec_id") < 10), emb,
          "vec_id", "embedding", "label", k = 3)
        .orderBy(col("anchor_id"), col("rank"))
    }),

    // quality-filter funnel: cumulative survivor counts through the
    // hygiene cascade (nonempty -> tokens -> punctuation -> repetition ->
    // quality) — the per-snapshot observability report of a curation
    // pipeline (graft.ops.TextAnalysis.filterFunnel)
    "q66_filter_funnel" -> ((s, dir) => {
      TextAnalysis.filterFunnel(tbl(s, dir, "documents"), "text")
        .orderBy(col("stage"))
    }),

    // Lloyd's k-means over embeddings (k=8, 2 iterations, deterministic
    // smallest-id seeding): per-cluster size + inertia — the clustering
    // primitive behind SemDeDup-style curation; centroids are driver-side
    // literals so assignment is pure codegen expression work
    // (graft.ops.Similarity.kmeans/kmeansReport)
    "q65_kmeans" -> ((s, dir) => {
      Similarity.kmeansReport(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .orderBy(col("cluster"))
    }),

    // count-min frequency sketch: per-user event-count estimates for the
    // first 100 users from a 4x1024 sketch, joined against the exact
    // counts so the upward-bias invariant est >= exact is in the artifact
    // (graft.ops.Sketches.countMinSketch/countMinEstimate)
    "q64_countmin_freq" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sketch = Sketches.countMinSketch(ev, "user_id", width = 1024)
      val keys = ev.select(col("user_id")).where(col("user_id") < 100).distinct()
      val exact = ev.where(col("user_id") < 100)
        .groupBy(col("user_id")).agg(count(lit(1)).as("exact_count"))
      Sketches.countMinEstimate(sketch, keys, "user_id", width = 1024)
        .join(exact, "user_id")
        .select(col("user_id"), col("est_count"), col("exact_count"))
        .orderBy(col("user_id"))
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = {
    val m1Sql =
      """SELECT (floor(epoch(ts)/60)*60)::BIGINT AS ts_sec,
        | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        | arg_max(value, ts) AS close, count(*)::DOUBLE AS volume
        |FROM events GROUP BY 1""".stripMargin
    val m5Sql =
      s"""SELECT (ts_sec//300)*300 AS ts_sec,
         | arg_min(open, ts_sec) AS open, max(high) AS high, min(low) AS low,
         | arg_max(close, ts_sec) AS close, sum(volume) AS volume
         |FROM ($m1Sql) m1 GROUP BY 1""".stripMargin
    // portable polynomial char hash (matches TextAnalysis.fingerprint exactly)
    def fpSql(c: String): String =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($c,''), c->ascii(c)::BIGINT)), (a,b)->(a*31+b)%1000000007)"
    // the regex-\s trim alphabet (space \t \n VT \f \r) as a DuckDB trim()
    // character set — bit-identical to TextAnalysis.WsChars (a trim ALPHABET
    // is regex-dialect-free, unlike \s itself: RE2 omits VT, Java includes
    // it). r15 lockstep fix: both engines' tokenizers \s-trim before the
    // split, so \n/\t-padded text no longer manufactures a trailing ""
    // token into LM/tf-idf/chi2/drift vocabularies.
    val wsTrimSql = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
    def wsTrim(c: String): String = s"trim($c, $wsTrimSql)"
    def nonEmptySql(c: String): String = s"len(${wsTrim(c)}) > 0"
    // ONE tokenizer/shingle CTE source, parameterized by the corpus-subset
    // predicate: the full-corpus form plus the deterministic subset twins
    // the declared-exact ground-truth gates run on (q16/q87/q138/q139
    // half corpus, q27 quarter — the q134 pattern: an all-pairs-exact
    // contract tests the same semantics on a subset at a fraction of the
    // quadratic pair cost, keeping the suite inside the driver's bench
    // budget on a slow host phase; full-size scaling lives in the PLANS.md
    // probes). Generated from one template so a tokenizer change can never
    // drift the subset oracles from the full one.
    def wsSqlWhere(where: String) =
      s"""SELECT doc_id, text, lang, string_split_regex(${wsTrim("lower(text)")},'\\s+') AS l FROM documents$where"""
    def shingleSqlWhere(where: String) =
      s"""WITH ws AS (${wsSqlWhere(where)}),
         | tok AS (SELECT doc_id, unnest(l) AS w, unnest(generate_series(1,len(l))) AS pos FROM ws),
         | sh0 AS (SELECT doc_id, w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS shingle,
         |                lead(w,2) OVER win AS w2 FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
         |SELECT DISTINCT doc_id, shingle FROM sh0 WHERE w2 IS NOT NULL""".stripMargin
    val wsSql = wsSqlWhere("")
    val shingleSql = shingleSqlWhere("")
    val wsSqlQ = wsSqlWhere(" WHERE doc_id % 4 = 0")
    val wsSqlH = wsSqlWhere(" WHERE doc_id % 2 = 0")
    val shingleSqlH = shingleSqlWhere(" WHERE doc_id % 2 = 0")
    val deconSql =
      s"""WITH sh AS ($shingleSql),
         | ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
         | tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0)
         |SELECT tr.doc_id, count(*)::BIGINT AS n_overlap
         |FROM tr JOIN ev USING (shingle)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    // count-min cell formulas, generated from the SAME mixing constants the
    // engine uses (graft.ops.Sketches.mixConsts) so sketch parity is by
    // construction, not by copied literals
    def cmCellSql(src: String): String =
      graft.ops.Sketches.mixConsts(4).zipWithIndex.map { case ((a, b), i) =>
        s"SELECT user_id, $i AS rw, ((user_id % 1000000007 + 1000000007) % 1000000007 * $a + $b) % 1000000007 % 1024 AS cell FROM $src"
      }.mkString(" UNION ALL ")
    // truncated-EMA lag-chain SQL, generated from the SAME weights
    // graft.ops.Indicators.emaCols computes (Double.toString round-trips
    // exactly, so the literals parse to identical bits in DuckDB)
    def emaChainSql(c: String, n: Int, over: String): (String, String) = {
      val alpha = 2.0 / (n + 1)
      val ws = Iterator.iterate(alpha)(_ * (1.0 - alpha)).take(n).toSeq
      val num = ws.zipWithIndex.map { case (w, k) =>
        s"CASE WHEN lag($c, $k) OVER $over IS NOT NULL THEN lag($c, $k) OVER $over * $w ELSE 0.0 END"
      }.mkString(" + ")
      val den = ws.zipWithIndex.map { case (w, k) =>
        s"CASE WHEN lag($c, $k) OVER $over IS NOT NULL THEN $w ELSE 0.0 END"
      }.mkString(" + ")
      (num, den)
    }
    val meanWlSql = "CASE WHEN len(l)>0 THEN list_sum(list_transform(l, w->length(w)))::DOUBLE/len(l) ELSE 0 END"
    val punctSql = "CASE WHEN length(text)>0 THEN length(regexp_replace(text,'[^.!?,;:]','','g'))::DOUBLE/length(text) ELSE 0 END"
    val cosSql = "round(list_dot_product(a.v,b.v)/(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v))),6)"
    // MinHash-LSH candidates -> exact Jaccard verification (>= 0.1), the
    // pair table shared by q36 (raw) and q56 (per-source-pair rollup)
    val verifiedPairsSql =
      s"""WITH sh AS ($shingleSql),
         | h AS (SELECT doc_id, ${fpSql("shingle")} AS hv FROM sh),
         | sig AS (SELECT doc_id, t.i AS i,
         |          min((hv*(2*t.i+3) + ((1442695040888963407%1000000007)*(t.i+1))%1000000007) % 1000000007) AS m
         |         FROM h, range(0,16) t(i) GROUP BY 1,2),
         | band AS (SELECT doc_id, (i//4)::INT AS band,
         |           list_reduce(list_prepend(0::BIGINT, list(m ORDER BY i)), (a,b)->(a*31 + b%1000000007)%1000000007) AS band_sig
         |          FROM sig GROUP BY 1,2),
         | pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |           FROM band a JOIN band b USING (band, band_sig) WHERE a.doc_id < b.doc_id),
         | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         | inter AS (SELECT p.id_a, p.id_b, count(*) AS inter
         |           FROM pairs p JOIN sh a ON a.doc_id = p.id_a
         |                        JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
         |           GROUP BY 1,2),
         | j AS (SELECT id_a, id_b, inter,
         |        round(inter::DOUBLE/(sa.sz+sb.sz-inter), 4) AS jaccard
         |       FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, inter, jaccard FROM j WHERE jaccard >= 0.1""".stripMargin
    // LSH+verify edges -> recursive-CTE connected components -> cluster
    // labels, shared by q40 (raw) and q58 (compaction rollup)
    val clustersSql =
      s"""WITH RECURSIVE sh AS ($shingleSql),
         | h AS (SELECT doc_id, ${fpSql("shingle")} AS hv FROM sh),
         | sig AS (SELECT doc_id, t.i AS i,
         |          min((hv*(2*t.i+3) + ((1442695040888963407%1000000007)*(t.i+1))%1000000007) % 1000000007) AS m
         |         FROM h, range(0,16) t(i) GROUP BY 1,2),
         | band AS (SELECT doc_id, (i//4)::INT AS band,
         |           list_reduce(list_prepend(0::BIGINT, list(m ORDER BY i)), (a,b)->(a*31 + b%1000000007)%1000000007) AS band_sig
         |          FROM sig GROUP BY 1,2),
         | pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |           FROM band a JOIN band b USING (band, band_sig) WHERE a.doc_id < b.doc_id),
         | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         | inter AS (SELECT p.id_a, p.id_b, count(*) AS inter
         |           FROM pairs p JOIN sh a ON a.doc_id = p.id_a
         |                        JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
         |           GROUP BY 1,2),
         | edges AS (SELECT id_a AS a, id_b AS b FROM inter
         |           JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |           WHERE round(inter::DOUBLE/(sa.sz+sb.sz-inter), 4) >= 0.1),
         | sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
         | reach(node, r) AS (
         |   SELECT doc_id, doc_id FROM documents
         |   UNION
         |   SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node),
         | comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT doc_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         | doc_id = cluster_id AS is_canonical
         |FROM comp""".stripMargin
    val base = Map(
      // BM25: tokenize exactly as q43, probe-term postings only, per-term
      // contributions rounded-6 and DECIMAL-summed; the score expression is
      // generated from the same k1/b doubles the Spark plan uses
      "q109_bm25_topk" -> {
        val qvals = bm25Queries
          .flatMap { case (qid, ts) => ts.distinct.map(t => s"('$qid','$t')") }
          .mkString(", ")
        s"""WITH q(query_id, term) AS (VALUES $qvals),
           | ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS term FROM ws),
           | tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
           | dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
           | n AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
           | post AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM q) qt USING (term)),
           | dfq AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
           | sc AS (SELECT q.query_id, p.doc_id, ${graft.ops.Retrieval.bm25ContribSql} AS contrib
           |        FROM q JOIN post p USING (term) JOIN dfq USING (term)
           |        JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN n),
           | agg AS (SELECT query_id, doc_id,
           |          round(sum(CAST(contrib AS DECIMAL(38,6)))::DOUBLE, 6) AS score
           |         FROM sc GROUP BY 1, 2),
           | r AS (SELECT query_id, doc_id, score,
           |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           |       FROM agg)
           |SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
      },
      // PageRank: q84's edge derivation feeding unrolled power-iteration
      // CTEs generated from the same damping/iteration constants
      "q110_pagerank" -> {
        val edgesSql =
          """WITH x AS (SELECT user_id, event_id, event_type, floor(epoch(ts))::BIGINT AS tsec FROM events),
            | l AS (SELECT user_id, event_type, tsec,
            |         lag(tsec) OVER w AS ptsec, lag(event_type) OVER w AS ptype
            |       FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id))
            |SELECT ptype AS src, event_type AS dst, count(*)::BIGINT AS w
            |FROM l WHERE ptype IS NOT NULL AND tsec - ptsec <= 1800 GROUP BY 1, 2""".stripMargin
        graft.ops.Graph.pagerankSql(edgesSql, iters = 6)
      },
      "q111_winsorize" ->
        """WITH b AS (SELECT event_type, value FROM events),
          | q AS (SELECT event_type, round(quantile_cont(value, 0.05), 4) AS plo,
          |         round(quantile_cont(value, 0.95), 4) AS phi
          |       FROM b GROUP BY 1),
          | j AS (SELECT b.event_type, value, plo, phi,
          |        CASE WHEN value < plo THEN plo
          |             WHEN value > phi THEN phi ELSE value END AS wv
          |       FROM b JOIN q USING (event_type))
          |SELECT event_type, count(value)::BIGINT AS n,
          | min(plo) AS p_lo, min(phi) AS p_hi,
          | round(sum(CAST(round(value, 4) AS DECIMAL(28,4)))::DOUBLE / count(value), 6) AS mean_raw,
          | round(sum(CAST(round(wv, 4) AS DECIMAL(28,4)))::DOUBLE / count(value), 6) AS mean_wins,
          | sum(CASE WHEN value < plo OR value > phi THEN 1 ELSE 0 END)::BIGINT AS n_clipped
          |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
      "q112_vocab_coverage" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w, unnest(generate_series(1, len(l))) AS pos FROM ws),
           | g0 AS (SELECT doc_id, w || ' ' || lead(w,1) OVER win AS gram, lead(w,1) OVER win AS w1
           |        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
           | g AS (SELECT gram FROM g0 WHERE w1 IS NOT NULL),
           | c AS (SELECT gram, count(*)::BIGINT AS cnt FROM g GROUP BY 1),
           | t AS (SELECT sum(cnt)::BIGINT AS total FROM c),
           | top AS (SELECT gram, cnt FROM c ORDER BY cnt DESC, gram LIMIT 2500),
           | r AS (SELECT gram, cnt,
           |        row_number() OVER (ORDER BY cnt DESC, gram) AS rank,
           |        sum(cnt) OVER (ORDER BY cnt DESC, gram
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |       FROM top),
           | p AS (SELECT unnest([10, 100, 500, 1000, 2500])::BIGINT AS vocab_size)
           |SELECT p.vocab_size, coalesce(cum, total)::BIGINT AS covered, total,
           | round(coalesce(cum, total)::DOUBLE / total, 6) AS coverage
           |FROM p LEFT JOIN r ON r.rank = p.vocab_size CROSS JOIN t
           |WHERE total IS NOT NULL
           |ORDER BY 1""".stripMargin,
      // KL/JS drift: same tokenizer, same deterministic top-500 vocab cut,
      // same add-one smoothing and decimal-summed r7 contributions
      "q113_kl_drift" ->
        s"""WITH tok AS (SELECT source, unnest(l) AS w
           |         FROM (SELECT d.source, string_split_regex(${wsTrim("lower(d.text)")},'\\s+') AS l
           |               FROM documents d) x),
           | ps AS (SELECT source, w, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
           | tt AS (SELECT w, sum(c)::BIGINT AS ct FROM ps GROUP BY 1),
           | topv AS (SELECT w, ct FROM tt ORDER BY ct DESC, w LIMIT 500),
           | sl AS (SELECT DISTINCT source FROM ps),
           | grid AS (SELECT sl.source, topv.w, topv.ct, coalesce(ps.c, 0)::BIGINT AS cs
           |          FROM sl CROSS JOIN topv
           |          LEFT JOIN ps ON ps.source = sl.source AND ps.w = topv.w),
           | ns AS (SELECT source, sum(cs)::BIGINT AS nsv, sum(ct)::BIGINT AS ntot
           |        FROM grid GROUP BY 1),
           | p AS (SELECT g.source, nsv,
           |        (cs + 1.0) / (nsv + 500.0) AS pa,
           |        ((ct - cs) + 1.0) / ((ntot - nsv) + 500.0) AS pb
           |       FROM grid g JOIN ns USING (source)),
           | q AS (SELECT source, nsv, pa, pb, (pa + pb) / 2.0 AS pm FROM p)
           |SELECT source, max(nsv)::BIGINT AS n_tokens,
           | round(sum(CAST(round(pa * ln(pa / pb), 7) AS DECIMAL(38,7)))::DOUBLE, 7) AS kl_slice_rest,
           | round(sum(CAST(round(pb * ln(pb / pa), 7) AS DECIMAL(38,7)))::DOUBLE, 7) AS kl_rest_slice,
           | round(sum(CAST(round(0.5 * (pa * ln(pa / pm) + pb * ln(pb / pm)), 7) AS DECIMAL(38,7)))::DOUBLE, 7) AS js
           |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
      // chi-square: identical contingency and one fixed double chain
      "q114_chi2_terms" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT lang, unnest(l) AS term FROM ws),
           | bc AS (SELECT lang, term, count(*)::BIGINT AS a FROM tok GROUP BY 1, 2),
           | bt AS (SELECT term, sum(a)::BIGINT AS tw FROM bc GROUP BY 1),
           | bs AS (SELECT lang, sum(a)::BIGINT AS ts FROM bc GROUP BY 1),
           | nn AS (SELECT sum(a)::BIGINT AS n FROM bc),
           | j AS (SELECT bc.lang, bc.term, a, tw, ts, nn.n,
           |        a::DOUBLE * (nn.n - tw - ts + a)::DOUBLE AS ad,
           |        (tw - a)::DOUBLE * (ts - a)::DOUBLE AS bcx,
           |        (tw::DOUBLE * (nn.n - tw)::DOUBLE) * (ts::DOUBLE * (nn.n - ts)::DOUBLE) AS den
           |       FROM bc JOIN bt USING (term) JOIN bs USING (lang) CROSS JOIN nn),
           | sc AS (SELECT lang, term,
           |         round((n::DOUBLE * ((ad - bcx) * (ad - bcx))) / den, 4) AS chi2
           |        FROM j WHERE a >= 5 AND ad > bcx AND den > 0),
           | r AS (SELECT lang, term, chi2,
           |        row_number() OVER (PARTITION BY lang ORDER BY chi2 DESC, term) AS rank
           |       FROM sc)
           |SELECT lang, rank::BIGINT AS rank, term, chi2 FROM r
           |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,
      // exact AUC: same score rounding, same doubled midrank integers, one
      // final division; windows only over score-grain aggregates
      "q115_grouped_auc" -> {
        val scoreSql =
          s"""round((least(length(text)::DOUBLE/200.0, 1.0)
             |   + CASE WHEN ($meanWlSql) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END
             |   + 1.0 - least(($punctSql)*5.0, 1.0))/3.0, 4)""".stripMargin
        s"""WITH ws AS ($wsSql),
           | sc AS (SELECT ws.doc_id, d.source, (ws.lang = 'en') AS is_en,
           |         $scoreSql AS score
           |        FROM ws JOIN (SELECT doc_id, source FROM documents) d ON ws.doc_id = d.doc_id),
           | g AS (SELECT source, score, count(*)::BIGINT AS c,
           |         sum(CASE WHEN is_en THEN 1 ELSE 0 END)::BIGINT AS p
           |       FROM sc GROUP BY 1, 2),
           | r AS (SELECT source, score, c, p,
           |        coalesce(sum(c) OVER (PARTITION BY source ORDER BY score
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
           |       FROM g),
           | a AS (SELECT source, sum(p)::BIGINT AS n_pos,
           |         (sum(c) - sum(p))::BIGINT AS n_neg,
           |         sum(p * (2*cum0 + c + 1))::BIGINT AS r2s
           |       FROM r GROUP BY 1)
           |SELECT source, n_pos, n_neg,
           | CASE WHEN n_pos > 0 AND n_neg > 0
           |   THEN round((r2s - n_pos*(n_pos+1))::DOUBLE / (2*n_pos*n_neg)::DOUBLE, 6)
           | END AS auc
           |FROM a ORDER BY 1""".stripMargin
      },
      // calibration: same bin clamp, decimal-exact cell sums, Brier from
      // the same r6-rounded squared errors
      "q116_calibration" -> {
        val scoreSql =
          s"""round((least(length(text)::DOUBLE/200.0, 1.0)
             |   + CASE WHEN ($meanWlSql) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END
             |   + 1.0 - least(($punctSql)*5.0, 1.0))/3.0, 4)""".stripMargin
        s"""WITH ws AS ($wsSql),
           | sc AS (SELECT ws.doc_id, d.source,
           |         CASE WHEN ws.lang = 'en' THEN 1 ELSE 0 END AS lbl,
           |         $scoreSql AS score
           |        FROM ws JOIN (SELECT doc_id, source FROM documents) d ON ws.doc_id = d.doc_id),
           | cells AS (SELECT source,
           |            least(9, greatest(0, floor(score * 10)))::BIGINT AS bin,
           |            count(*)::BIGINT AS n,
           |            sum(CAST(round(score, 6) AS DECIMAL(38,6))) AS ssum,
           |            sum(lbl)::BIGINT AS npos,
           |            sum(CAST(round((score - lbl) * (score - lbl), 6) AS DECIMAL(38,6))) AS sqe
           |           FROM sc GROUP BY 1, 2)
           |SELECT source, bin, n,
           | round(ssum::DOUBLE / n, 6) AS mean_score,
           | round(npos::DOUBLE / n, 6) AS frac_pos,
           | round((sum(sqe) OVER (PARTITION BY source))::DOUBLE /
           |       (sum(n) OVER (PARTITION BY source)), 6) AS brier
           |FROM cells ORDER BY 1, 2""".stripMargin
      },
      // A/B: same unit-grain collapse and one fixed z chain
      "q119_ab_test" ->
        """WITH u AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm,
          |        user_id,
          |        max(CASE WHEN event_type = 'purchase' AND value > 90.0 THEN 1 ELSE 0 END)::BIGINT AS cv
          |       FROM events GROUP BY 1, 2),
          | a AS (SELECT arm, count(*)::BIGINT AS n, sum(cv)::BIGINT AS c FROM u GROUP BY 1),
          | x AS (SELECT cc.arm AS arm_control, tt.arm AS arm_treatment,
          |        cc.n AS n_c, tt.n AS n_t, cc.c AS conv_c, tt.c AS conv_t
          |       FROM (SELECT * FROM a WHERE arm = 'control') cc
          |       CROSS JOIN (SELECT * FROM a WHERE arm <> 'control') tt)
          |SELECT arm_control, arm_treatment, n_c, n_t, conv_c, conv_t,
          | round(conv_c::DOUBLE / n_c::DOUBLE, 6) AS rate_c,
          | round(conv_t::DOUBLE / n_t::DOUBLE, 6) AS rate_t,
          | round(conv_t::DOUBLE / n_t::DOUBLE - conv_c::DOUBLE / n_c::DOUBLE, 6) AS lift,
          | round((conv_t::DOUBLE / n_t::DOUBLE - conv_c::DOUBLE / n_c::DOUBLE) /
          |   sqrt(((conv_c + conv_t)::DOUBLE / (n_c + n_t)::DOUBLE) *
          |        (1.0 - (conv_c + conv_t)::DOUBLE / (n_c + n_t)::DOUBLE) *
          |        (1.0 / n_c::DOUBLE + 1.0 / n_t::DOUBLE)), 4) AS z
          |FROM x""".stripMargin,
      // bucketed batching: same (length, id) rank order, same integer
      // batch cut and padding arithmetic
      "q118_length_batches" ->
        s"""WITH ws AS ($wsSql),
           | d AS (SELECT doc_id, len(l)::BIGINT AS ln FROM ws),
           | b AS (SELECT doc_id, ln, ln // 32 AS bucket,
           |        row_number() OVER (PARTITION BY (ln // 32) ORDER BY ln, doc_id) AS rk
           |       FROM d),
           | pb AS (SELECT bucket, (rk - 1) // 16 AS batch, count(*)::BIGINT AS n,
           |         max(ln) AS mx, sum(ln)::BIGINT AS s
           |        FROM b GROUP BY 1, 2)
           |SELECT bucket, sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_batches,
           | sum(s)::BIGINT AS sum_tokens, sum(mx*n - s)::BIGINT AS padding_tokens,
           | round(sum(s)::DOUBLE / (sum(s) + sum(mx*n - s))::DOUBLE, 6) AS fill_ratio
           |FROM pb GROUP BY 1 ORDER BY 1""".stripMargin,
      // windowed KL drift: same tokenizer, same top-200 cut, same OOV
      // collapse (chr(1)-prefixed bucket), same add-one smoothing and r7
      // decimal-summed contributions
      "q117_drift_windows" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS t FROM ws),
           | refc AS (SELECT t AS term, count(*)::BIGINT AS cr FROM tok
           |          GROUP BY 1 ORDER BY cr DESC, term LIMIT 200),
           | cells AS (SELECT term, cr FROM refc
           |           UNION ALL SELECT chr(1) || 'oov', 0::BIGINT),
           | vn AS (SELECT count(*)::BIGINT AS v, sum(cr)::BIGINT AS nr FROM cells),
           | tok2 AS (SELECT ((1704067200 + tok.doc_id * 60) // 3600) * 3600 AS win_sec,
           |           coalesce(r.term, chr(1) || 'oov') AS term
           |          FROM tok LEFT JOIN refc r ON tok.t = r.term),
           | wc AS (SELECT win_sec, term, count(*)::BIGINT AS c FROM tok2 GROUP BY 1, 2),
           | wins AS (SELECT DISTINCT win_sec FROM wc),
           | grid AS (SELECT wins.win_sec, cells.term, cells.cr,
           |           coalesce(wc.c, 0)::BIGINT AS cw
           |          FROM wins CROSS JOIN cells
           |          LEFT JOIN wc ON wc.win_sec = wins.win_sec AND wc.term = cells.term),
           | nw AS (SELECT win_sec, sum(cw)::BIGINT AS nwv FROM grid GROUP BY 1)
           |SELECT g.win_sec, max(nwv)::BIGINT AS n_tokens,
           | round(sum(CAST(round(((cw + 1.0)/(nwv + v)) *
           |   ln(((cw + 1.0)/(nwv + v)) / ((cr + 1.0)/(nr + v))), 7)
           |   AS DECIMAL(38,7)))::DOUBLE, 7) AS kl
           |FROM grid g JOIN nw USING (win_sec) CROSS JOIN vn
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q08_text_stats" ->
        s"""WITH ws AS ($wsSql)
           |SELECT doc_id, len(l)::BIGINT AS n_tokens,
           | round($meanWlSql, 4) AS mean_word_len,
           | round($punctSql, 4) AS punct_ratio,
           | round(CASE WHEN len(l)>0 THEN len(list_filter(l, w->list_contains(['the','a','an','and','of','to','in','is','it','for'], w)))::DOUBLE/len(l) ELSE 0 END, 4) AS stopword_ratio,
           | round((least(length(text)::DOUBLE/200.0, 1.0)
           |   + CASE WHEN ($meanWlSql) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END
           |   + 1.0 - least(($punctSql)*5.0, 1.0))/3.0, 4) AS quality_score,
           | ${fpSql("text")} AS fingerprint
           |FROM ws ORDER BY doc_id""".stripMargin,
      // export manifest: q44's shard hash, whitespace token counts, mod-P
      // fingerprint checksum
      "q130_export_manifest" ->
        s"""WITH ws AS ($wsSql),
           | h AS (SELECT ws.doc_id,
           |        ((ws.doc_id % 1000000007 + 1000000007) % 1000000007*2654435761 + 7) % 1000000007 % 16 AS shard,
           |        len(l)::BIGINT AS nt,
           |        ${fpSql("text")} AS fp
           |       FROM ws)
           |SELECT shard::BIGINT AS shard, count(*)::BIGINT AS n_docs,
           | sum(nt)::BIGINT AS n_tokens,
           | (sum(fp) % 1000000007)::BIGINT AS checksum
           |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
      // LSH quality: exact (q16) and candidate (q17) CTE chains composed,
      // counts + one fixed ratio chain
      "q128_key_skew" ->
        """WITH c AS (SELECT l_partkey, count(*)::BIGINT AS n FROM lineitem GROUP BY 1)
          |SELECT count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS n_rows,
          | max(n)::BIGINT AS max_count,
          | round(quantile_cont(n, 0.5), 4) AS p50,
          | round(quantile_cont(n, 0.9), 4) AS p90,
          | round(quantile_cont(n, 0.99), 4) AS p99,
          | round(max(n)::DOUBLE / round(quantile_cont(n, 0.5), 4), 4) AS skew_ratio
          |FROM c""".stripMargin,
      // RFM: same decimal-path monetary, same r4 quantile edges, same
      // branch-compare binning
      "q127_rfm_segments" ->
        """WITH p AS (SELECT user_id, max(epoch_ns(ts))::BIGINT AS last_ns,
          |        count(*)::BIGINT AS frequency,
          |        round(sum(CAST(round(value, 4) AS DECIMAL(28,4)))::DOUBLE, 4) AS monetary
          |       FROM events WHERE event_type = 'purchase' GROUP BY 1),
          | mx AS (SELECT max(last_ns) AS mxn FROM p),
          | rf AS (SELECT user_id, (mxn - last_ns) // 86400000000000 AS recency_days,
          |         frequency, monetary FROM p CROSS JOIN mx),
          | e AS (SELECT
          |   round(quantile_cont(recency_days, 0.2), 4) AS r_1, round(quantile_cont(recency_days, 0.4), 4) AS r_2,
          |   round(quantile_cont(recency_days, 0.6), 4) AS r_3, round(quantile_cont(recency_days, 0.8), 4) AS r_4,
          |   round(quantile_cont(frequency, 0.2), 4) AS f_1, round(quantile_cont(frequency, 0.4), 4) AS f_2,
          |   round(quantile_cont(frequency, 0.6), 4) AS f_3, round(quantile_cont(frequency, 0.8), 4) AS f_4,
          |   round(quantile_cont(monetary, 0.2), 4) AS m_1, round(quantile_cont(monetary, 0.4), 4) AS m_2,
          |   round(quantile_cont(monetary, 0.6), 4) AS m_3, round(quantile_cont(monetary, 0.8), 4) AS m_4
          |  FROM rf),
          | q AS (SELECT user_id, recency_days, frequency, monetary,
          |   (1 + (recency_days > r_1)::INT + (recency_days > r_2)::INT
          |      + (recency_days > r_3)::INT + (recency_days > r_4)::INT)::BIGINT AS r_q,
          |   (1 + (frequency > f_1)::INT + (frequency > f_2)::INT
          |      + (frequency > f_3)::INT + (frequency > f_4)::INT)::BIGINT AS f_q,
          |   (1 + (monetary > m_1)::INT + (monetary > m_2)::INT
          |      + (monetary > m_3)::INT + (monetary > m_4)::INT)::BIGINT AS m_q
          |  FROM rf CROSS JOIN e)
          |SELECT user_id, recency_days, frequency, monetary, r_q, f_q, m_q,
          | r_q::VARCHAR || '-' || f_q::VARCHAR || '-' || m_q::VARCHAR AS segment
          |FROM q ORDER BY user_id""".stripMargin,
      // confusion matrix over the SAME guess CTE as q09
      "q09_lang_id" ->
        s"""WITH ws AS ($wsSql),
           | sc AS (SELECT doc_id, lang,
           |   len(list_filter(l, w->list_contains(['the','and','of','is','a'], w))) AS s_en,
           |   len(list_filter(l, w->list_contains(['el','la','los','que','y'], w))) AS s_es,
           |   len(list_filter(l, w->list_contains(['der','die','das','und','ist'], w))) AS s_de,
           |   len(list_filter(l, w->list_contains(['le','la','les','et','est'], w))) AS s_fr,
           |   len(list_filter(l, w->list_contains(['的','是','了','在','和'], w))) AS s_zh
           |  FROM ws),
           | g AS (SELECT doc_id, lang, CASE
           |   WHEN greatest(s_en,s_es,s_de,s_fr,s_zh) <= 0 THEN 'unknown'
           |   WHEN s_en = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'en'
           |   WHEN s_es = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'es'
           |   WHEN s_de = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'de'
           |   WHEN s_fr = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'fr'
           |   WHEN s_zh = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'zh'
           |   ELSE 'unknown' END AS lang_guess FROM sc)
           |SELECT doc_id, lang_guess, lang, lang_guess = lang AS hit
           |FROM g ORDER BY doc_id""".stripMargin,
      "q14_sim_topk" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           | s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
           |       FROM e a JOIN e b ON a.vec_id <> b.vec_id WHERE a.vec_id < 5),
           | r AS (SELECT query_id, neighbor_id, cosine,
           |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
           |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin,
      "q15_embedding_near_dup" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           | s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosSql AS cosine
           |       FROM e a JOIN e b ON a.vec_id < b.vec_id)
           |SELECT id_a, id_b, cosine FROM s WHERE cosine >= 0.35 ORDER BY id_a, id_b""".stripMargin,
      "q16_jaccard_pairs" ->
        s"""WITH sh AS ($shingleSqlH),
           | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
           | inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |           FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1,2),
           | j AS (SELECT id_a, id_b, inter,
           |        round(inter::DOUBLE/(sa.sz+sb.sz-inter), 4) AS jaccard
           |       FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
           |SELECT id_a, id_b, inter, jaccard FROM j WHERE jaccard >= 0.1 ORDER BY id_a, id_b""".stripMargin,
      "q101_top_paths" ->
        """WITH x AS (SELECT user_id, event_id, event_type,
          |        floor(epoch(ts))::BIGINT AS tsec FROM events),
          | y AS (SELECT user_id, event_id, event_type, tsec,
          |        CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > 1800
          |             THEN 1 ELSE 0 END AS new_s
          |       FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
          | z AS (SELECT user_id, event_id, event_type, tsec,
          |        sum(new_s) OVER (PARTITION BY user_id ORDER BY tsec, event_id
          |          ROWS UNBOUNDED PRECEDING) AS sid
          |       FROM y),
          | p AS (SELECT user_id, sid,
          |        string_agg(event_type, '>' ORDER BY tsec, event_id) AS path
          |       FROM z GROUP BY 1, 2),
          | c AS (SELECT path, count(*)::BIGINT AS n FROM p GROUP BY 1
          |       ORDER BY n DESC, path LIMIT 10)
          |SELECT row_number() OVER (ORDER BY n DESC, path)::BIGINT AS rank, path, n
          |FROM c ORDER BY rank""".stripMargin,
      "q102_perplexity_filter" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | cnt AS (SELECT w, count(*)::BIGINT AS c FROM tok GROUP BY 1),
           | tot AS (SELECT sum(c)::BIGINT AS n_tok,
           |         sum(CASE WHEN c >= 5 THEN 1 ELSE 0 END)::BIGINT AS v FROM cnt),
           | lm AS (SELECT w, ln((c + 1.0) / (n_tok + v + 1.0)) AS logp
           |        FROM cnt, tot WHERE c >= 5),
           | sc AS (SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
           |         round(-avg(coalesce(lm.logp,
           |           (SELECT ln(1.0 / (n_tok + v + 1.0)) FROM tot))), 6) AS nll
           |        FROM tok t LEFT JOIN lm ON t.w = lm.w GROUP BY t.doc_id)
           |SELECT s.doc_id, d.lang, s.n_tokens, s.nll,
           | (CASE WHEN s.nll <= 3.407 THEN 1 ELSE 0 END)::BIGINT AS keep
           |FROM sc s JOIN documents d ON s.doc_id = d.doc_id
           |ORDER BY s.doc_id""".stripMargin,
      "q103_snapshot_diff" ->
        """WITH v1 AS (SELECT event_id, event_type, value FROM events
          |            WHERE event_id % 7 <> 0),
          | v2 AS (SELECT event_id, event_type,
          |         CASE WHEN event_id % 3 = 0 THEN value + 1.0 ELSE value END AS value
          |        FROM events WHERE event_id % 5 <> 0),
          | j AS (SELECT coalesce(v1.event_id, v2.event_id) AS event_id,
          |        CASE WHEN v1.event_id IS NULL THEN 'added'
          |             WHEN v2.event_id IS NULL THEN 'removed'
          |             WHEN (v1.event_type IS DISTINCT FROM v2.event_type)
          |               OR (v1.value IS DISTINCT FROM v2.value) THEN 'changed'
          |             ELSE 'unchanged' END AS status,
          |        v1.value AS old_value, v2.value AS new_value
          |       FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id)
          |SELECT event_id, status,
          | coalesce(printf('%.6f', old_value), 'null') AS old_value,
          | coalesce(printf('%.6f', new_value), 'null') AS new_value
          |FROM j WHERE status <> 'unchanged' ORDER BY event_id""".stripMargin,
      "q104_mixture_weights" ->
        s"""WITH ws AS ($wsSql),
           | pd AS (SELECT lang, count(*)::BIGINT AS n_docs,
           |         sum(len(l))::BIGINT AS n_tokens FROM ws GROUP BY 1),
           | tot AS (SELECT sum(n_tokens)::BIGINT AS tot_tokens,
           |         count(*)::BIGINT AS n_domains FROM pd)
           |SELECT lang, n_docs, n_tokens,
           | round(n_tokens / tot_tokens, 6) AS share,
           | round(least((tot_tokens / n_domains) / n_tokens, 5.0), 6) AS weight,
           | round(n_tokens * round(least((tot_tokens / n_domains) / n_tokens, 5.0), 6), 6) AS eff_tokens
           |FROM pd, tot ORDER BY lang""".stripMargin,
      "q106_lag_features" ->
        """WITH x AS (SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS tsec,
          |        event_type AS label FROM events),
          | f AS (SELECT event_id, user_id, label,
          |        coalesce(lag(label, 1) OVER w, 'none') AS prev_type_1,
          |        coalesce(tsec - lag(tsec, 1) OVER w, -1)::BIGINT AS gap_secs_1,
          |        coalesce(lag(label, 2) OVER w, 'none') AS prev_type_2,
          |        coalesce(tsec - lag(tsec, 2) OVER w, -1)::BIGINT AS gap_secs_2
          |       FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id))
          |SELECT event_id, user_id, label, prev_type_1, gap_secs_1,
          | prev_type_2, gap_secs_2
          |FROM f ORDER BY event_id""".stripMargin,
      "q108_pit_enrich" ->
        """WITH x AS (SELECT user_id, event_id, event_type,
          |        floor(epoch(ts))::BIGINT AS tsec FROM events),
          | c AS (SELECT user_id, event_id, event_type, tsec,
          |        lag(event_type) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS prev
          |       FROM x),
          | f AS (SELECT user_id, event_id, event_type, tsec FROM c
          |       WHERE prev IS NULL OR prev <> event_type),
          | v AS (SELECT user_id, event_type, tsec AS valid_from,
          |        lead(tsec) OVER w AS valid_to,
          |        row_number() OVER w AS version
          |       FROM f WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
          | j AS (SELECT e.event_id, e.user_id, e.event_type,
          |        h.event_type AS asof_type, h.version
          |       FROM x e LEFT JOIN v h ON e.user_id = h.user_id
          |        AND e.tsec - 600 >= h.valid_from
          |        AND (h.valid_to IS NULL OR e.tsec - 600 < h.valid_to))
          |SELECT event_id, user_id, event_type,
          | coalesce(asof_type, 'none') AS state_10m_ago,
          | coalesce(version, -1)::BIGINT AS state_version
          |FROM j ORDER BY event_id""".stripMargin,
      "q107_pmi_pairs" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w,
           |         unnest(generate_series(1, len(l))) AS pos FROM ws),
           | pr AS (SELECT least(t1.w, t2.w) AS a, greatest(t1.w, t2.w) AS b
           |        FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id
           |         AND t2.pos BETWEEN t1.pos + 1 AND t1.pos + 3
           |        WHERE t1.w <> t2.w),
           | pc AS (SELECT a, b, count(*)::BIGINT AS c_xy FROM pr GROUP BY 1, 2),
           | uc AS (SELECT w, count(*)::BIGINT AS c FROM tok GROUP BY 1),
           | tot AS (SELECT (SELECT sum(c) FROM uc)::BIGINT AS n_tok,
           |         (SELECT sum(c_xy) FROM pc)::BIGINT AS n_pairs),
           | sc AS (SELECT a, b, c_xy,
           |         round(ln(c_xy::DOUBLE) - ln(n_pairs::DOUBLE)
           |           - (ln(ua.c::DOUBLE) - ln(n_tok::DOUBLE))
           |           - (ln(ub.c::DOUBLE) - ln(n_tok::DOUBLE)), 6) AS pmi
           |        FROM pc JOIN uc ua ON pc.a = ua.w
           |        JOIN uc ub ON pc.b = ub.w, tot
           |        WHERE c_xy >= 5),
           | top AS (SELECT a, b, c_xy, pmi FROM sc
           |         ORDER BY pmi DESC, a, b LIMIT 30)
           |SELECT row_number() OVER (ORDER BY pmi DESC, a, b)::BIGINT AS rank,
           | a, b, c_xy, pmi FROM top ORDER BY rank""".stripMargin,
      "q105_importance_resample" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | rc AS (SELECT w, count(*)::BIGINT AS c_r FROM tok GROUP BY 1),
           | tc AS (SELECT t.w, count(*)::BIGINT AS c_t FROM tok t
           |        JOIN documents d ON t.doc_id = d.doc_id
           |        WHERE d.lang = 'zh' GROUP BY 1),
           | voc AS (SELECT rc.w, c_r, coalesce(c_t, 0) AS c_t
           |         FROM rc LEFT JOIN tc ON rc.w = tc.w WHERE c_r >= 5),
           | tot AS (SELECT (SELECT sum(c_r) FROM rc)::BIGINT AS n_r,
           |         (SELECT count(*) FROM voc)::BIGINT AS v,
           |         (SELECT sum(c_t) FROM tc)::BIGINT AS n_t),
           | lm AS (SELECT w,
           |         ln((c_t + 1.0) / (n_t + v + 1.0)) - ln((c_r + 1.0) / (n_r + v + 1.0)) AS lr
           |        FROM voc, tot),
           | sc AS (SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
           |         round(avg(coalesce(lm.lr,
           |           (SELECT ln(1.0 / (n_t + v + 1.0)) - ln(1.0 / (n_r + v + 1.0)) FROM tot))), 6) AS log_ratio
           |        FROM tok t LEFT JOIN lm ON t.w = lm.w GROUP BY 1),
           | top AS (SELECT doc_id, n_tokens, log_ratio FROM sc
           |         ORDER BY log_ratio DESC, doc_id LIMIT 50)
           |SELECT row_number() OVER (ORDER BY t.log_ratio DESC, t.doc_id)::BIGINT AS rank,
           | t.doc_id, d.lang, t.n_tokens, t.log_ratio
           |FROM top t JOIN documents d ON t.doc_id = d.doc_id
           |ORDER BY rank""".stripMargin,
      "q100_training_pipeline" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, len(l)::BIGINT AS n_tokens FROM ws),
           | sh AS ($shingleSql),
           | ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
           | hyg AS (SELECT d.doc_id, d.lang, d.n_chars, d.text, tok.n_tokens
           |         FROM documents d JOIN tok ON d.doc_id = tok.doc_id
           |         WHERE d.doc_id % 10 <> 0 AND tok.n_tokens >= 20),
           | ded AS (SELECT * FROM (
           |          SELECT h.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |          FROM hyg h) WHERE rn = 1),
           | dirty AS (SELECT DISTINCT tr.doc_id FROM sh tr JOIN ev USING (shingle)
           |           WHERE tr.doc_id % 10 <> 0),
           | clean AS (SELECT ded.* FROM ded ANTI JOIN dirty ON ded.doc_id = dirty.doc_id),
           | samp AS (SELECT * FROM (
           |          SELECT c.*, row_number() OVER (PARTITION BY lang
           |            ORDER BY ((doc_id % 1000000007 + 1000000007) % 1000000007*2654435761 + 11) % 1000000007, doc_id) AS srn
           |          FROM clean c) WHERE srn <= 50)
           |SELECT lang, count(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS sum_tokens,
           | SUM(n_chars)::BIGINT AS sum_chars, min(doc_id) AS min_id, max(doc_id) AS max_id
           |FROM samp GROUP BY 1 ORDER BY 1""".stripMargin,
      "q99_fk_audit" ->
        """WITH r AS (
          | SELECT 'lineitem_orders' AS relation,
          |  (SELECT count(*) FROM lineitem)::BIGINT AS n_child,
          |  (SELECT count(*) FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey)::BIGINT AS n_orphans
          | UNION ALL SELECT 'lineitem_part',
          |  (SELECT count(*) FROM lineitem),
          |  (SELECT count(*) FROM lineitem ANTI JOIN part ON l_partkey = p_partkey)
          | UNION ALL SELECT 'lineitem_supplier',
          |  (SELECT count(*) FROM lineitem),
          |  (SELECT count(*) FROM lineitem ANTI JOIN supplier ON l_suppkey = s_suppkey)
          | UNION ALL SELECT 'orders_customer',
          |  (SELECT count(*) FROM orders),
          |  (SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey)
          | UNION ALL SELECT 'events_customer',
          |  (SELECT count(*) FROM events),
          |  (SELECT count(*) FROM events ANTI JOIN customer ON user_id = c_custkey))
          |SELECT relation, n_child, n_orphans, n_orphans = 0 AS passed
          |FROM r ORDER BY relation""".stripMargin,
      "q98_dau_wau" ->
        """WITH du AS (SELECT DISTINCT floor(epoch(ts))::BIGINT // 86400 AS day, user_id
          |       FROM events),
          | dau AS (SELECT day, count(*)::BIGINT AS dau FROM du GROUP BY 1),
          | mx AS (SELECT max(day) AS m FROM du),
          | ex AS (SELECT t.t AS day, du.user_id
          |        FROM du, mx, unnest(generate_series(du.day, least(du.day + 6, mx.m))) t(t)),
          | wau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS wau FROM ex GROUP BY 1)
          |SELECT dau.day, dau, wau, (dau * 10000 // wau)::BIGINT AS stickiness_bp
          |FROM dau JOIN wau ON dau.day = wau.day ORDER BY 1""".stripMargin,
      "q97_fuzzy_match" ->
        """WITH s AS (SELECT s_suppkey AS id, s_name AS n, length(s_name) AS blk
          |       FROM supplier WHERE s_suppkey % 4 = 2)
          |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.n, b.n)::BIGINT AS dist
          |FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id
          |WHERE levenshtein(a.n, b.n) <= 2
          |ORDER BY id_a, id_b""".stripMargin,
      "q96_melt_ohlc" ->
        """WITH c AS (SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
          |        (floor(epoch(ts)/3600)*3600)::BIGINT AS ts_sec,
          |        arg_min(value, ts) AS open, max(value) AS high,
          |        min(value) AS low, arg_max(value, ts) AS close
          |       FROM events GROUP BY 1, 2)
          |SELECT symbol, ts_sec, field, value FROM (
          | SELECT symbol, ts_sec, 'open' AS field, open AS value FROM c
          | UNION ALL SELECT symbol, ts_sec, 'high', high FROM c
          | UNION ALL SELECT symbol, ts_sec, 'low', low FROM c
          | UNION ALL SELECT symbol, ts_sec, 'close', close FROM c)
          |ORDER BY symbol, ts_sec, field""".stripMargin,
      "q95_feature_scale" ->
        """WITH x AS (SELECT event_id, event_type, value FROM events
          |       WHERE value IS NOT NULL),
          | w AS (SELECT event_id, event_type, value,
          |        row_number() OVER (PARTITION BY event_type ORDER BY value, event_id)::BIGINT AS rk,
          |        count(*) OVER (PARTITION BY event_type)::BIGINT AS n,
          |        min(value) OVER (PARTITION BY event_type) AS mn,
          |        max(value) OVER (PARTITION BY event_type) AS mx
          |       FROM x)
          |SELECT event_id, event_type, value,
          | CASE WHEN n > 1 THEN round((rk - 1)::DOUBLE / (n - 1)::DOUBLE, 6) END AS pct_rank,
          | CASE WHEN mx > mn THEN round((value - mn) / (mx - mn), 6) END AS minmax
          |FROM w ORDER BY event_id""".stripMargin,
      "q94_pq_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          | vs AS (SELECT vec_id, t.mi, list_slice(v, t.mi*16+1, t.mi*16+16) AS sv
          |        FROM e, range(0,4) t(mi)),
          | cb0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16),
          | cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v FROM cb0),
          | cbn AS (SELECT c, t.mi, list_slice(v, t.mi*16+1, t.mi*16+16) AS cv
          |         FROM cb, range(0,4) t(mi)),
          | ds AS (SELECT vs.vec_id, vs.mi, cbn.c,
          |         list_dot_product(vs.sv, vs.sv) - 2*list_dot_product(vs.sv, cbn.cv)
          |           + list_dot_product(cbn.cv, cbn.cv) AS d
          |        FROM vs JOIN cbn ON vs.mi = cbn.mi),
          | code AS (SELECT vec_id, mi, c FROM (
          |           SELECT vec_id, mi, c,
          |            row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, c) AS rn
          |           FROM ds) WHERE rn = 1),
          | ad AS (SELECT qd.vec_id AS query_id, cx.vec_id AS neighbor_id,
          |         list_reduce(list_prepend(0.0, list(qd.d ORDER BY qd.mi)), (a,b) -> a + b) AS adr
          |        FROM code cx JOIN ds qd ON qd.mi = cx.mi AND qd.c = cx.c
          |        WHERE qd.vec_id < 5 AND qd.vec_id <> cx.vec_id
          |        GROUP BY 1, 2),
          | ex AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |         list_dot_product(a.v,a.v) - 2*list_dot_product(a.v,b.v)
          |           + list_dot_product(b.v,b.v) AS xd
          |        FROM e a JOIN e b ON a.vec_id <> b.vec_id WHERE a.vec_id < 5),
          | r AS (SELECT ad.query_id, ad.neighbor_id, round(adr, 6) AS adist,
          |        round(ex.xd, 6) AS exact_d2,
          |        row_number() OVER (PARTITION BY ad.query_id
          |          ORDER BY round(adr, 6), ad.neighbor_id) AS rank
          |       FROM ad JOIN ex ON ad.query_id = ex.query_id
          |         AND ad.neighbor_id = ex.neighbor_id)
          |SELECT query_id, rank::BIGINT AS rank, neighbor_id, adist, exact_d2
          |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      "q93_scd2" ->
        """WITH x AS (SELECT user_id, event_id, event_type,
          |        floor(epoch(ts))::BIGINT AS tsec FROM events),
          | c AS (SELECT user_id, event_id, event_type, tsec,
          |        lag(event_type) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS prev
          |       FROM x),
          | f AS (SELECT user_id, event_id, event_type, tsec FROM c
          |       WHERE prev IS NULL OR prev <> event_type),
          | v AS (SELECT user_id, event_type, tsec AS valid_from,
          |        lead(tsec) OVER w AS valid_to,
          |        row_number() OVER w AS version
          |       FROM f WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id))
          |SELECT user_id, event_type, valid_from, valid_to, version::BIGINT AS version
          |FROM v ORDER BY user_id, version""".stripMargin,
      "q92_attribution" ->
        """WITH x AS (SELECT user_id, event_id, event_type, value,
          |        floor(epoch(ts))::BIGINT AS tsec FROM events),
          | l AS (SELECT user_id, event_id, event_type, value, tsec,
          |        last_value(CASE WHEN event_type <> 'purchase' THEN tsec END IGNORE NULLS)
          |          OVER w AS lt_ts,
          |        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
          |          OVER w AS lt_ty
          |       FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          | p AS (SELECT CASE WHEN lt_ty IS NULL OR tsec - lt_ts > 1800
          |               THEN 'direct' ELSE lt_ty END AS attributed, value
          |       FROM l WHERE event_type = 'purchase')
          |SELECT attributed, count(*)::BIGINT AS n_conversions,
          | SUM(CAST(round(value, 4) AS DECIMAL(28,4)))::DOUBLE AS revenue
          |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
      "q91_ntile_bins" ->
        """WITH b AS (SELECT event_type, value,
          |        ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id)::BIGINT AS bin
          |       FROM events WHERE value IS NOT NULL)
          |SELECT event_type, bin, count(*)::BIGINT AS n,
          | min(value) AS lo, max(value) AS hi
          |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q90_mad_outliers" ->
        s"""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
          |       FROM events WHERE value IS NOT NULL GROUP BY 1),
          | dev AS (SELECT e.event_type, e.value, med.med,
          |          abs(e.value - med.med) AS absdev
          |         FROM events e JOIN med ON e.event_type = med.event_type
          |         WHERE e.value IS NOT NULL),
          | mad AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad
          |         FROM dev GROUP BY 1),
          | b AS (SELECT dev.event_type, dev.value,
          |        round(dev.med, 4) AS medr, round(mad.mad, 4) AS madr
          |       FROM dev JOIN mad ON dev.event_type = mad.event_type)
          |SELECT event_type, count(*)::BIGINT AS n,
          | min(medr) AS median, min(madr) AS mad,
          | min(medr - ${Quantiles.madScaleSql(3.0)} * madr) AS thr_lo,
          | min(medr + ${Quantiles.madScaleSql(3.0)} * madr) AS thr_hi,
          | SUM(CASE WHEN value < medr - ${Quantiles.madScaleSql(3.0)} * madr
          |           OR value > medr + ${Quantiles.madScaleSql(3.0)} * madr
          |          THEN 1 ELSE 0 END)::BIGINT AS n_outliers
          |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
      "q89_bucketed_join" ->
        """WITH p AS (SELECT user_id, count(*)::BIGINT AS n_purchases,
          |        SUM(CAST(round(value, 4) AS DECIMAL(28,4)))::DOUBLE AS purchase_value
          |       FROM events WHERE event_type = 'purchase' GROUP BY 1),
          | c AS (SELECT user_id, count(*)::BIGINT AS n_clicks
          |       FROM events WHERE event_type = 'click' GROUP BY 1)
          |SELECT p.user_id, n_purchases, purchase_value, n_clicks
          |FROM p JOIN c ON p.user_id = c.user_id
          |ORDER BY 1""".stripMargin,
      "q88_cube_revenue" ->
        """SELECT o_orderstatus, o_orderpriority,
          | GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS gid,
          | sum(CAST(round(o_totalprice, 4) AS DECIMAL(28,4)))::DOUBLE AS revenue,
          | count(*) AS n
          |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
          |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
      // q87 = the prefix-filtered plan for the SAME exact-Jaccard semantics:
      // the oracle is the q16 formula at t=0.5 — prefix filtering must not
      // change the result, only the join size
      "q87_prefix_jaccard" ->
        s"""WITH sh AS ($shingleSqlH),
           | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
           | inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |           FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1,2),
           | j AS (SELECT id_a, id_b, inter,
           |        round(inter::DOUBLE/(sa.sz+sb.sz-inter), 4) AS jaccard
           |       FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
           |SELECT id_a, id_b, inter, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
      "q17_minhash_candidates" ->
        s"""WITH sh AS ($shingleSql),
           | h AS (SELECT doc_id, ${fpSql("shingle")} AS hv FROM sh),
           | sig AS (SELECT doc_id, t.i AS i,
           |          min((hv*(2*t.i+3) + ((1442695040888963407%1000000007)*(t.i+1))%1000000007) % 1000000007) AS m
           |         FROM h, range(0,16) t(i) GROUP BY 1,2),
           | band AS (SELECT doc_id, (i//4)::INT AS band,
           |           list_reduce(list_prepend(0::BIGINT, list(m ORDER BY i)), (a,b)->(a*31 + b%1000000007)%1000000007) AS band_sig
           |          FROM sig GROUP BY 1,2),
           | pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |           FROM band a JOIN band b USING (band, band_sig) WHERE a.doc_id < b.doc_id)
           |SELECT id_a, id_b FROM pairs ORDER BY 1,2""".stripMargin,
      "q18_simhash" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | wh AS (SELECT doc_id, ${fpSql("w")} AS h FROM tok),
           | w2 AS (SELECT doc_id, h, ((h*h) % 1000000007 * 2654435761 + 11) % 1000000007 AS h2 FROM wh),
           | bits AS (SELECT doc_id, t.j AS j,
           |          sum(((CASE WHEN t.j < 30 THEN h >> t.j ELSE h2 >> (t.j - 30) END) & 1)*2 - 1) AS contrib
           |          FROM w2, range(0,48) t(j) GROUP BY 1,2)
           |SELECT doc_id, -- ::BIGINT: DuckDB sum(BIGINT) is HUGEINT; Spark emits int64
           | sum(CASE WHEN contrib > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)::BIGINT AS simhash
           |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin,
      "q19_synth_fill" ->
        s"""WITH m1 AS ($m1Sql),
           | grid AS (SELECT unnest(generate_series((SELECT min(ts_sec) FROM m1),
           |                                        (SELECT max(ts_sec) FROM m1), 60)) AS ts_sec),
           | j AS (SELECT g.ts_sec, m1.open, m1.close, m1.volume, m1.ts_sec IS NULL AS is_synth
           |       FROM grid g LEFT JOIN m1 ON m1.ts_sec = g.ts_sec),
           | f AS (SELECT ts_sec, open, close, volume, is_synth,
           |        coalesce(
           |          last_value(close IGNORE NULLS) OVER (ORDER BY ts_sec ROWS UNBOUNDED PRECEDING),
           |          first_value(open IGNORE NULLS) OVER (ORDER BY ts_sec ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
           |          0.0) AS px
           |       FROM j)
           |SELECT ts_sec,
           | CASE WHEN is_synth THEN px ELSE open END AS open,
           | CASE WHEN is_synth THEN px ELSE close END AS close,
           | CASE WHEN is_synth THEN 0.0 ELSE volume END AS volume,
           | is_synth
           |FROM f ORDER BY ts_sec""".stripMargin,
      "q20_ffill_resample" ->
        s"""WITH m5 AS ($m5Sql),
           | grid AS (SELECT unnest(generate_series((SELECT min(ts_sec) FROM m5),
           |                                        (SELECT max(ts_sec) FROM m5), 300)) AS ts_sec),
           | j AS (SELECT g.ts_sec, m5.open, m5.high, m5.low, m5.close, m5.volume
           |       FROM grid g LEFT JOIN m5 ON m5.ts_sec = g.ts_sec)
           |SELECT ts_sec,
           | last_value(open IGNORE NULLS) OVER w AS open,
           | last_value(high IGNORE NULLS) OVER w AS high,
           | last_value(low IGNORE NULLS) OVER w AS low,
           | last_value(close IGNORE NULLS) OVER w AS close,
           | coalesce(volume, 0.0) AS volume
           |FROM j WINDOW w AS (ORDER BY ts_sec ROWS UNBOUNDED PRECEDING)
           |ORDER BY ts_sec""".stripMargin,
      "q31_ffill_multi_symbol" ->
        """WITH m1 AS (SELECT user_id % 100 AS symbol,
          |    (floor(epoch(ts)/60)*60)::BIGINT AS ts_sec,
          |    arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          |    arg_max(value, ts) AS close, count(*)::DOUBLE AS volume
          |  FROM events GROUP BY 1, 2),
          | m5 AS (SELECT symbol, (ts_sec//300)*300 AS ts_sec,
          |    arg_min(open, ts_sec) AS open, max(high) AS high, min(low) AS low,
          |    arg_max(close, ts_sec) AS close, sum(volume) AS volume
          |  FROM m1 GROUP BY 1, 2),
          | bounds AS (SELECT symbol, min(ts_sec) AS mn, max(ts_sec) AS mx FROM m5 GROUP BY 1),
          | grid AS (SELECT symbol, unnest(generate_series(mn, mx, 300)) AS ts_sec FROM bounds),
          | j AS (SELECT g.symbol, g.ts_sec, m5.open, m5.high, m5.low, m5.close, m5.volume
          |       FROM grid g LEFT JOIN m5 ON m5.symbol = g.symbol AND m5.ts_sec = g.ts_sec)
          |SELECT symbol, ts_sec,
          | last_value(open IGNORE NULLS) OVER w AS open,
          | last_value(high IGNORE NULLS) OVER w AS high,
          | last_value(low IGNORE NULLS) OVER w AS low,
          | last_value(close IGNORE NULLS) OVER w AS close,
          | coalesce(volume, 0.0) AS volume
          |FROM j WINDOW w AS (PARTITION BY symbol ORDER BY ts_sec ROWS UNBOUNDED PRECEDING)
          |ORDER BY symbol, ts_sec""".stripMargin,
      "q21_upsert_keep_last" ->
        """SELECT event_id, floor(epoch(ts))::BIGINT AS ts_sec,
          | CASE WHEN event_id % 10 = 0 THEN value + 1000.0 ELSE value END AS value
          |FROM events ORDER BY event_id""".stripMargin,
      "q22_customers_no_orders" ->
        """SELECT c_custkey, c_name, c_mktsegment FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin,
      "q26_asof_per_user" ->
        """SELECT e.event_id, e.user_id, floor(epoch(e.ts))::BIGINT AS ts_sec, e.value,
          | p.value AS last_purchase_value
          |FROM events e ASOF LEFT JOIN
          | (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          | ON e.user_id = p.user_id AND e.ts >= p.ts
          |ORDER BY e.event_id""".stripMargin,
      "q133_simhash_wide_pairs" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | wh AS (SELECT doc_id, ${fpSql("w")} AS h FROM tok),
           | w2 AS (SELECT doc_id, h, ((h*h) % 1000000007 * 2654435761 + 11) % 1000000007 AS h2 FROM wh),
           | bits AS (SELECT doc_id, t.j AS j,
           |          sum(((CASE WHEN t.j < 30 THEN h >> t.j ELSE h2 >> (t.j - 30) END) & 1)*2 - 1) AS contrib
           |          FROM w2, range(0,48) t(j) GROUP BY 1,2),
           | sigs AS (SELECT doc_id, sum(CASE WHEN contrib > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)::BIGINT AS sig
           |          FROM bits GROUP BY 1),
           | ch AS (SELECT doc_id, sig, t.c AS chunk, (sig >> (t.c*12)) & 4095 AS v
           |        FROM sigs, range(0,4) t(c)),
           | pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |             bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
           |           FROM ch a JOIN ch b USING (chunk, v) WHERE a.doc_id < b.doc_id)
           |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,
      "q134_fuzzy_join_exact" ->
        """WITH s AS (SELECT s_suppkey AS id, s_name AS n FROM supplier WHERE s_suppkey % 4 = 0)
          |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.n, b.n)::BIGINT AS dist
          |FROM s a JOIN s b ON a.id < b.id AND abs(length(a.n) - length(b.n)) <= 2
          |WHERE levenshtein(a.n, b.n) <= 2
          |ORDER BY 1, 2""".stripMargin,
      "q135_simhash_anchor_candidates" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | wh AS (SELECT doc_id, ${fpSql("w")} AS h FROM tok),
           | w2 AS (SELECT doc_id, h, ((h*h) % 1000000007 * 2654435761 + 11) % 1000000007 AS h2 FROM wh),
           | bits AS (SELECT doc_id, t.j AS j,
           |          sum(((CASE WHEN t.j < 30 THEN h >> t.j ELSE h2 >> (t.j - 30) END) & 1)*2 - 1) AS contrib
           |          FROM w2, range(0,48) t(j) GROUP BY 1,2),
           | sigs AS (SELECT doc_id, sum(CASE WHEN contrib > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)::BIGINT AS simhash
           |          FROM bits GROUP BY 1),
           | ch AS (SELECT doc_id, simhash, t.c AS chunk, (simhash >> (t.c*12)) & 4095 AS v
           |        FROM sigs, range(0,4) t(c)),
           | reg AS (SELECT chunk, v, min(doc_id) AS anchor_id FROM ch GROUP BY 1,2),
           | j AS (SELECT DISTINCT c.doc_id, r.anchor_id,
           |        bit_count(xor(c.simhash, a.simhash))::BIGINT AS hamming
           |       FROM ch c JOIN reg r USING (chunk, v)
           |       JOIN sigs a ON a.doc_id = r.anchor_id
           |       WHERE c.doc_id <> r.anchor_id)
           |SELECT doc_id, anchor_id, hamming FROM j WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,
      "q136_fuzzy_link" ->
        """WITH l AS (SELECT s_suppkey AS id, s_name AS n FROM supplier WHERE s_suppkey % 4 = 0),
          | r AS (SELECT s_suppkey AS id, s_name AS n FROM supplier WHERE s_suppkey % 4 = 1)
          |SELECT l.id AS id_l, r.id AS id_r, levenshtein(l.n, r.n)::BIGINT AS dist
          |FROM l JOIN r ON abs(length(l.n) - length(r.n)) <= 2
          |WHERE levenshtein(l.n, r.n) <= 2
          |ORDER BY 1, 2""".stripMargin,
      "q137_incremental_route" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | wh AS (SELECT doc_id, ${fpSql("w")} AS h FROM tok),
           | w2 AS (SELECT doc_id, h, ((h*h) % 1000000007 * 2654435761 + 11) % 1000000007 AS h2 FROM wh),
           | bits AS (SELECT doc_id, t.j AS j,
           |          sum(((CASE WHEN t.j < 30 THEN h >> t.j ELSE h2 >> (t.j - 30) END) & 1)*2 - 1) AS contrib
           |          FROM w2, range(0,48) t(j) GROUP BY 1,2),
           | sigs AS (SELECT doc_id, sum(CASE WHEN contrib > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)::BIGINT AS simhash
           |          FROM bits GROUP BY 1),
           | ch1 AS (SELECT doc_id, simhash, t.c AS chunk, (simhash >> (t.c*12)) & 4095 AS v
           |         FROM sigs, range(0,4) t(c) WHERE doc_id % 3 <> 0),
           | reg AS (SELECT chunk, v, min(doc_id) AS anchor_id FROM ch1 GROUP BY 1,2),
           | regs AS (SELECT r.chunk, r.v, r.anchor_id, s.simhash AS anchor_sig
           |          FROM reg r JOIN sigs s ON s.doc_id = r.anchor_id),
           | ch2 AS (SELECT doc_id, simhash, t.c AS chunk, (simhash >> (t.c*12)) & 4095 AS v
           |         FROM sigs, range(0,4) t(c) WHERE doc_id % 3 = 0),
           | cand AS (SELECT c.doc_id, r.anchor_id,
           |            bit_count(xor(c.simhash, r.anchor_sig))::BIGINT AS hh
           |          FROM ch2 c JOIN regs r USING (chunk, v)
           |          WHERE bit_count(xor(c.simhash, r.anchor_sig)) <= 3),
           | best AS (SELECT doc_id, hh, anchor_id,
           |            row_number() OVER (PARTITION BY doc_id ORDER BY hh, anchor_id) AS rn
           |          FROM cand)
           |SELECT d.doc_id,
           | (CASE WHEN b.anchor_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS is_dup,
           | b.anchor_id::BIGINT AS best_anchor, b.hh::BIGINT AS best_hamming
           |FROM (SELECT DISTINCT doc_id FROM ch2) d
           |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
           |ORDER BY doc_id""".stripMargin,
      // fold == rebuild: the oracle IS the from-scratch recursive-CTE
      // rebuild on the unioned (half) corpus — the incremental fold must
      // reproduce it bit-for-bit
      "q138_incremental_clusters" ->
        s"""WITH RECURSIVE sh AS ($shingleSqlH),
           | h AS (SELECT doc_id, ${fpSql("shingle")} AS hv FROM sh),
           | sig AS (SELECT doc_id, t.i AS i,
           |          min((hv*(2*t.i+3) + ((1442695040888963407%1000000007)*(t.i+1))%1000000007) % 1000000007) AS m
           |         FROM h, range(0,16) t(i) GROUP BY 1,2),
           | band AS (SELECT doc_id, (i//4)::INT AS band,
           |           list_reduce(list_prepend(0::BIGINT, list(m ORDER BY i)), (a,b)->(a*31 + b%1000000007)%1000000007) AS band_sig
           |          FROM sig GROUP BY 1,2),
           | pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |           FROM band a JOIN band b USING (band, band_sig) WHERE a.doc_id < b.doc_id),
           | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
           | inter AS (SELECT p.id_a, p.id_b, count(*) AS inter
           |           FROM pairs p JOIN sh a ON a.doc_id = p.id_a
           |                        JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           |           GROUP BY 1,2),
           | edges AS (SELECT id_a AS a, id_b AS b FROM inter
           |           JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           |           WHERE round(inter::DOUBLE/(sa.sz+sb.sz-inter), 4) >= 0.1),
           | sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
           | reach(node, r) AS (
           |   SELECT doc_id, doc_id FROM documents WHERE doc_id % 2 = 0
           |   UNION
           |   SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node),
           | comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
           |SELECT doc_id, cluster_id,
           | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           | doc_id = cluster_id AS is_canonical
           |FROM comp ORDER BY doc_id""".stripMargin,
      // the capstone oracle recomputes the whole incremental chain from
      // scratch: simhash registry + routing (q137's semantics), exact
      // Jaccard verify of the routed pairs (q16's), day-1 LSH+verify
      // edges (q40's), union -> recursive-CTE components -> q58-style
      // compaction rollup
      "q139_incremental_capstone" ->
        s"""WITH RECURSIVE ws AS ($wsSqlH),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | wh AS (SELECT doc_id, ${fpSql("w")} AS h FROM tok),
           | w2 AS (SELECT doc_id, h, ((h*h) % 1000000007 * 2654435761 + 11) % 1000000007 AS h2 FROM wh),
           | bits AS (SELECT doc_id, t.j AS j,
           |          sum(((CASE WHEN t.j < 30 THEN h >> t.j ELSE h2 >> (t.j - 30) END) & 1)*2 - 1) AS contrib
           |          FROM w2, range(0,48) t(j) GROUP BY 1,2),
           | sigs AS (SELECT doc_id, sum(CASE WHEN contrib > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)::BIGINT AS simhash
           |          FROM bits GROUP BY 1),
           | ch1 AS (SELECT doc_id, simhash, t.c AS chunk, (simhash >> (t.c*12)) & 4095 AS v
           |         FROM sigs, range(0,4) t(c) WHERE doc_id % 3 <> 0),
           | reg AS (SELECT chunk, v, min(doc_id) AS anchor_id FROM ch1 GROUP BY 1,2),
           | regs AS (SELECT r.chunk, r.v, r.anchor_id, s.simhash AS anchor_sig
           |          FROM reg r JOIN sigs s ON s.doc_id = r.anchor_id),
           | ch2 AS (SELECT doc_id, simhash, t.c AS chunk, (simhash >> (t.c*12)) & 4095 AS v
           |         FROM sigs, range(0,4) t(c) WHERE doc_id % 3 = 0),
           | cand AS (SELECT c.doc_id, r.anchor_id,
           |            bit_count(xor(c.simhash, r.anchor_sig))::BIGINT AS hh
           |          FROM ch2 c JOIN regs r USING (chunk, v)
           |          WHERE bit_count(xor(c.simhash, r.anchor_sig)) <= 3),
           | best AS (SELECT doc_id, hh, anchor_id,
           |            row_number() OVER (PARTITION BY doc_id ORDER BY hh, anchor_id) AS rn
           |          FROM cand),
           | routed AS (SELECT doc_id, anchor_id FROM best WHERE rn = 1),
           | sh AS ($shingleSqlH),
           | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
           | rint AS (SELECT p.doc_id, p.anchor_id, count(*) AS inter
           |          FROM routed p JOIN sh a ON a.doc_id = p.doc_id
           |                        JOIN sh b ON b.doc_id = p.anchor_id AND b.shingle = a.shingle
           |          GROUP BY 1,2),
           | newpairs AS (SELECT least(r.doc_id, r.anchor_id) AS a,
           |               greatest(r.doc_id, r.anchor_id) AS b
           |              FROM rint r JOIN sizes sa ON sa.doc_id = r.doc_id
           |                          JOIN sizes sb ON sb.doc_id = r.anchor_id
           |              WHERE round(r.inter::DOUBLE/(sa.sz+sb.sz-r.inter), 4) >= 0.1),
           | h1 AS (SELECT doc_id, ${fpSql("shingle")} AS hv FROM sh WHERE doc_id % 3 <> 0),
           | sig AS (SELECT doc_id, t.i AS i,
           |          min((hv*(2*t.i+3) + ((1442695040888963407%1000000007)*(t.i+1))%1000000007) % 1000000007) AS m
           |         FROM h1, range(0,16) t(i) GROUP BY 1,2),
           | band AS (SELECT doc_id, (i//4)::INT AS band,
           |           list_reduce(list_prepend(0::BIGINT, list(m ORDER BY i)), (a,b)->(a*31 + b%1000000007)%1000000007) AS band_sig
           |          FROM sig GROUP BY 1,2),
           | p1 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |        FROM band a JOIN band b USING (band, band_sig) WHERE a.doc_id < b.doc_id),
           | i1 AS (SELECT p.id_a, p.id_b, count(*) AS inter
           |        FROM p1 p JOIN sh a ON a.doc_id = p.id_a
           |                  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           |        GROUP BY 1,2),
           | e1 AS (SELECT id_a AS a, id_b AS b FROM i1
           |        JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           |        WHERE round(i1.inter::DOUBLE/(sa.sz+sb.sz-i1.inter), 4) >= 0.1),
           | edges AS (SELECT a, b FROM e1 UNION SELECT a, b FROM newpairs),
           | sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
           | reach(node, r) AS (
           |   SELECT doc_id, doc_id FROM documents WHERE doc_id % 2 = 0
           |   UNION
           |   SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node),
           | comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
           | cl AS (SELECT doc_id, cluster_id,
           |         count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           |         doc_id = cluster_id AS is_canonical
           |        FROM comp)
           |SELECT cl.cluster_size, count(DISTINCT cl.cluster_id) AS n_clusters,
           | count(*) AS n_docs,
           | coalesce(sum(CASE WHEN NOT cl.is_canonical THEN d.n_chars END), 0)::BIGINT AS chars_removed
           |FROM cl JOIN documents d USING (doc_id)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      // BmpCodec gate: the oracle recomputes the position-weighted channel
      // sums from the pixel-function arithmetic directly — it never parses
      // bytes, so Spark's encode->decode round trip through REAL BMP bytes
      // (header, padding, bottom-up BGR rows) must be internally exact
      "q140_bmp_decode" ->
        """WITH d AS (SELECT doc_id, 1 + doc_id % 7 AS w, 1 + doc_id % 4 AS h FROM documents),
          | xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w-1)) AS x FROM d),
          | px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h-1)) AS y FROM xs),
          | s AS (SELECT doc_id, w, h,
          |        sum((1 + x + y*w) * ((doc_id*31 + x*7 + y*13) % 256)) AS rs,
          |        sum((1 + x + y*w) * ((doc_id*17 + x*11 + y*5) % 256)) AS gs,
          |        sum((1 + x + y*w) * ((doc_id*29 + x*3 + y*19) % 256)) AS bs
          |       FROM px GROUP BY 1,2,3)
          |SELECT doc_id AS id, (54 + ((3*w + 3)//4*4)*h)::BIGINT AS n_bytes,
          | w::INT AS width, h::INT AS height,
          | (rs % 1000000007)::BIGINT AS r_sum,
          | (gs % 1000000007)::BIGINT AS g_sum,
          | (bs % 1000000007)::BIGINT AS b_sum
          |FROM s ORDER BY id""".stripMargin,
      // PngCodec gate: same never-parses-bytes contract as q140 — the sums
      // come straight from the pixel arithmetic, so the encode->DEFLATE->
      // filter->decode round trip must be internally exact (n_bytes
      // deliberately absent: PNG length is Deflater-dependent)
      "q141_png_decode" ->
        """WITH d AS (SELECT doc_id, 1 + doc_id % 9 AS w, 1 + doc_id % 5 AS h FROM documents),
          | xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w-1)) AS x FROM d),
          | px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h-1)) AS y FROM xs),
          | s AS (SELECT doc_id, w, h,
          |        sum((1 + x + y*w) * ((doc_id*37 + x*5 + y*11) % 256)) AS rs,
          |        sum((1 + x + y*w) * ((doc_id*41 + x*3 + y*17) % 256)) AS gs,
          |        sum((1 + x + y*w) * ((doc_id*13 + x*19 + y*29) % 256)) AS bs
          |       FROM px GROUP BY 1,2,3)
          |SELECT doc_id AS id, w::INT AS width, h::INT AS height, 2 AS color_type,
          | (rs % 1000000007)::BIGINT AS r_sum,
          | (gs % 1000000007)::BIGINT AS g_sum,
          | (bs % 1000000007)::BIGINT AS b_sum
          |FROM s ORDER BY id""".stripMargin,
      // ImageIoCodec gate: format-independent sums over a mixed BMP/PNG
      // column — the oracle has no format branch at all, so the sniffing
      // stage and both JDK readers must agree with the pixel arithmetic
      "q142_imageio_decode" ->
        """WITH d AS (SELECT doc_id, 1 + doc_id % 6 AS w, 1 + doc_id % 3 AS h FROM documents),
          | xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w-1)) AS x FROM d),
          | px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h-1)) AS y FROM xs),
          | s AS (SELECT doc_id, w, h,
          |        sum((1 + x + y*w) * ((doc_id*23 + x*13 + y*7) % 256)) AS rs,
          |        sum((1 + x + y*w) * ((doc_id*43 + x*29 + y*3) % 256)) AS gs,
          |        sum((1 + x + y*w) * ((doc_id*19 + x*5 + y*23) % 256)) AS bs
          |       FROM px GROUP BY 1,2,3)
          |SELECT doc_id AS id, CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS format,
          | w::INT AS width, h::INT AS height,
          | (rs % 1000000007)::BIGINT AS r_sum,
          | (gs % 1000000007)::BIGINT AS g_sum,
          | (bs % 1000000007)::BIGINT AS b_sum
          |FROM s ORDER BY id""".stripMargin,
      // three-lane sniffing gate (r16): the oracle still has NO format
      // branch in the sums — BMP, PNG, and the hand-rolled GIF encoder's
      // palette+LZW round trip must all agree with the pixel arithmetic
      "q143_gif_decode" ->
        """WITH d AS (SELECT doc_id, 1 + doc_id % 8 AS w, 1 + doc_id % 4 AS h FROM documents),
          | xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w-1)) AS x FROM d),
          | px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h-1)) AS y FROM xs),
          | s AS (SELECT doc_id, w, h,
          |        sum((1 + x + y*w) * ((doc_id*31 + x*7 + y*3) % 256)) AS rs,
          |        sum((1 + x + y*w) * ((doc_id*11 + x*17 + y*13) % 256)) AS gs,
          |        sum((1 + x + y*w) * ((doc_id*47 + x*9 + y*21) % 256)) AS bs
          |       FROM px GROUP BY 1,2,3)
          |SELECT doc_id AS id,
          | CASE WHEN doc_id % 3 = 0 THEN 'bmp'
          |      WHEN doc_id % 3 = 1 THEN 'png' ELSE 'gif' END AS format,
          | w::INT AS width, h::INT AS height,
          | (rs % 1000000007)::BIGINT AS r_sum,
          | (gs % 1000000007)::BIGINT AS g_sum,
          | (bs % 1000000007)::BIGINT AS b_sum
          |FROM s ORDER BY id""".stripMargin,
      // IVF-PQ (r16): q34's cell assignment restricting q94's ADC chain to
      // cell-equal pairs, exact l2 re-ranked only for the k survivors
      "q144_ivfpq_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          | cents AS (SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
          | dist AS (SELECT e.vec_id, c.cent_id,
          |    list_dot_product(e.v,c.cv)/(sqrt(list_dot_product(e.v,e.v))*sqrt(list_dot_product(c.cv,c.cv))) AS d
          |   FROM e CROSS JOIN cents c),
          | asg AS (SELECT vec_id, cent_id AS cell FROM (
          |    SELECT vec_id, cent_id,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id) AS rn FROM dist) t
          |   WHERE rn = 1),
          | vs AS (SELECT vec_id, t.mi, list_slice(v, t.mi*16+1, t.mi*16+16) AS sv
          |        FROM e, range(0,4) t(mi)),
          | cb0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16),
          | cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v FROM cb0),
          | cbn AS (SELECT c, t.mi, list_slice(v, t.mi*16+1, t.mi*16+16) AS cv
          |         FROM cb, range(0,4) t(mi)),
          | ds AS (SELECT vs.vec_id, vs.mi, cbn.c,
          |         list_dot_product(vs.sv, vs.sv) - 2*list_dot_product(vs.sv, cbn.cv)
          |           + list_dot_product(cbn.cv, cbn.cv) AS d
          |        FROM vs JOIN cbn ON vs.mi = cbn.mi),
          | code AS (SELECT vec_id, mi, c FROM (
          |           SELECT vec_id, mi, c,
          |            row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, c) AS rn
          |           FROM ds) WHERE rn = 1),
          | ad AS (SELECT qd.vec_id AS query_id, cx.vec_id AS neighbor_id,
          |         list_reduce(list_prepend(0.0, list(qd.d ORDER BY qd.mi)), (a,b) -> a + b) AS adr
          |        FROM code cx
          |        JOIN asg ca ON ca.vec_id = cx.vec_id
          |        JOIN asg qa ON qa.cell = ca.cell AND qa.vec_id < 5
          |        JOIN ds qd ON qd.vec_id = qa.vec_id AND qd.mi = cx.mi AND qd.c = cx.c
          |        WHERE qd.vec_id <> cx.vec_id
          |        GROUP BY 1, 2),
          | r AS (SELECT query_id, neighbor_id, round(adr, 6) AS adist,
          |        row_number() OVER (PARTITION BY query_id
          |          ORDER BY round(adr, 6), neighbor_id) AS rank
          |       FROM ad),
          | tk AS (SELECT * FROM r WHERE rank <= 10)
          |SELECT t.query_id, t.rank::BIGINT AS rank, t.neighbor_id, t.adist,
          | round(list_dot_product(a.v,a.v) - 2*list_dot_product(a.v,b.v)
          |   + list_dot_product(b.v,b.v), 6) AS exact_d2
          |FROM tk t JOIN e a ON a.vec_id = t.query_id JOIN e b ON b.vec_id = t.neighbor_id
          |ORDER BY query_id, rank""".stripMargin,
      "q131_sample_quantile_sketch" ->
        """WITH e AS (SELECT event_type, event_id,
          |        ((event_id % 1000000007 + 1000000007) % 1000000007 * 2654435761 + 11) % 1000000007 AS hv,
          |        value FROM events WHERE value IS NOT NULL),
          | r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY hv, event_id) AS rn FROM e),
          | t AS (SELECT event_type, count(*) AS n_total FROM e GROUP BY 1)
          |SELECT event_type, t.n_total::BIGINT AS n_total, count(*)::BIGINT AS n_sampled,
          | round(quantile_cont(value, 0.5), 4) AS p50,
          | round(quantile_cont(value, 0.9), 4) AS p90,
          | round(quantile_cont(value, 0.99), 4) AS p99
          |FROM r JOIN t USING (event_type) WHERE rn <= 256
          |GROUP BY event_type, t.n_total ORDER BY event_type""".stripMargin,
      "q132_simhash_buckets" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | wh AS (SELECT doc_id, ${fpSql("w")} AS h FROM tok),
           | w2 AS (SELECT doc_id, h, ((h*h) % 1000000007 * 2654435761 + 11) % 1000000007 AS h2 FROM wh),
           | bits AS (SELECT doc_id, t.j AS j,
           |          sum(((CASE WHEN t.j < 30 THEN h >> t.j ELSE h2 >> (t.j - 30) END) & 1)*2 - 1) AS contrib
           |          FROM w2, range(0,48) t(j) GROUP BY 1,2),
           | sigs AS (SELECT doc_id, sum(CASE WHEN contrib > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)::BIGINT AS simhash
           |          FROM bits GROUP BY 1),
           | ch AS (SELECT doc_id, t.c AS chunk, (simhash >> (t.c*12)) & 4095 AS v
           |        FROM sigs, range(0,4) t(c))
           |SELECT chunk::BIGINT AS chunk, v::BIGINT AS v,
           | min(doc_id)::BIGINT AS anchor_id, count(*)::BIGINT AS n_docs
           |FROM ch GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      "q27_simhash_pairs" ->
        s"""WITH ws AS ($wsSqlQ),
           | tok AS (SELECT doc_id, unnest(l) AS w FROM ws),
           | wh AS (SELECT doc_id, ${fpSql("w")} AS h FROM tok),
           | bits AS (SELECT doc_id, t.j AS j, sum(((h >> t.j) & 1)*2 - 1) AS contrib
           |          FROM wh, range(0,32) t(j) GROUP BY 1,2),
           | sigs AS (SELECT doc_id, sum(CASE WHEN contrib > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)::BIGINT AS simhash
           |          FROM bits GROUP BY 1),
           | ch AS (SELECT doc_id, simhash, t.c AS chunk, (simhash >> (t.c*8)) & 255 AS v
           |        FROM sigs, range(0,4) t(c)),
           | pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |             bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
           |           FROM ch a JOIN ch b USING (chunk, v) WHERE a.doc_id < b.doc_id)
           |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,
      "q28_quantiles" ->
        """SELECT l_returnflag,
          | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
          | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
          | round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
      "q29_intersect_users" ->
        """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
          |INTERSECT
          |SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
          |ORDER BY user_id""".stripMargin,
      "q30_semi_join" ->
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_discount >= 0.09)
          |ORDER BY o_orderkey""".stripMargin,
      // StubCodec.decode is pure byte arithmetic (Multimodal.scala): checksum =
      // fold (h*31 + byte) % 1e9+7 over the UTF-8 bytes, dims derived from it.
      // DuckDB reaches the bytes via hex(encode(text)) + hex-digit parsing.
      "q23_multimodal_features" ->
        """WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
          |             octet_length(encode(text))::BIGINT AS n FROM documents),
          | cs AS (SELECT doc_id, n,
          |   list_reduce(list_prepend(0::BIGINT,
          |     list_transform(range(0, n::INT),
          |       i -> (16*(strpos('0123456789ABCDEF', substr(h, 2*i+1, 1))-1)
          |             + (strpos('0123456789ABCDEF', substr(h, 2*i+2, 1))-1))::BIGINT)),
          |     (a,c) -> (a*31 + c) % 1000000007) AS checksum
          |  FROM b)
          |SELECT doc_id AS id, n AS n_bytes,
          | (1 + checksum % 64)::INT AS width,
          | (1 + (checksum//64) % 64)::INT AS height,
          | checksum
          |FROM cs ORDER BY id""".stripMargin,
      "q24_rollup_revenue" ->
        """SELECT l_returnflag, l_linestatus,
          | sum(CAST(round(l_extendedprice*(1-l_discount),4) AS DECIMAL(28,4)))::DOUBLE AS revenue,
          | count(*) AS n
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
      "q25_moving_avg" ->
        """SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS ts_sec,
          | round(avg(value) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT
          |   RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 4) AS mavg
          |FROM events ORDER BY event_id""".stripMargin,
      "q01_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          | sum(CAST(round(l_quantity,4) AS DECIMAL(28,4)))::DOUBLE AS sum_qty,
          | sum(CAST(round(l_extendedprice,4) AS DECIMAL(28,4)))::DOUBLE AS sum_base_price,
          | sum(CAST(round(l_extendedprice*(1-l_discount),4) AS DECIMAL(28,4)))::DOUBLE AS sum_disc_price,
          | round(sum(CAST(round(l_quantity,4) AS DECIMAL(28,4)))::DOUBLE / count(*), 4) AS avg_qty,
          | count(*) AS n
          |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      "q02_range_filter" ->
        """SELECT event_id, floor(epoch(ts))::BIGINT AS ts_sec, event_type, value
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
          |ORDER BY event_id""".stripMargin,
      "q03_resample_m5" ->
        s"SELECT * FROM ($m5Sql) m5 ORDER BY ts_sec",
      "q04_asof_mtf" ->
        s"""WITH m1 AS ($m1Sql), m5 AS ($m5Sql)
           |SELECT m1.ts_sec, m1.close, m5.close AS close_m5
           |FROM m1 ASOF LEFT JOIN m5 ON m1.ts_sec >= m5.ts_sec
           |ORDER BY m1.ts_sec""".stripMargin,
      "q05_gap_islands" ->
        """WITH obs AS (SELECT DISTINCT (floor(epoch(ts)/60)*60)::BIGINT AS m FROM events),
          | b AS (SELECT min(m) AS mn, max(m) AS mx FROM obs),
          | days AS (SELECT unnest(generate_series(mn//86400, mx//86400, 1)) AS day, mn, mx FROM b),
          | grid AS (SELECT day, unnest(generate_series(greatest(day*86400, mn),
          |                                            least(day*86400 + 86340, mx), 60)) AS m
          |          FROM days),
          | miss AS (SELECT day, m FROM grid WHERE m NOT IN (SELECT m FROM obs)),
          | isl AS (SELECT day, m,
          |   m - 60*row_number() OVER (PARTITION BY day ORDER BY m) AS island FROM miss)
          |SELECT min(m) AS gap_start_sec, max(m) AS gap_end_sec, count(*) AS n_missing
          |FROM isl GROUP BY day, island ORDER BY 1""".stripMargin,
      "q06_or_levels" ->
        s"""WITH m1 AS ($m1Sql),
           | sess AS (SELECT *, strftime(to_timestamp(ts_sec), '%Y-%m-%d') AS sd,
           |                 ts_sec % 86400 AS tod FROM m1),
           | ranges AS (SELECT sd, max(CASE WHEN tod < 3600 THEN high END) AS or_high,
           |                   min(CASE WHEN tod < 3600 THEN low END) AS or_low
           |            FROM sess GROUP BY 1 HAVING or_high IS NOT NULL),
           | aft AS (SELECT s.*, r.or_high AS oh, r.or_low AS ol
           |         FROM sess s JOIN ranges r USING (sd) WHERE s.tod >= 3600),
           | ev AS (SELECT sd,
           |          min(CASE WHEN close > oh THEN ts_sec END) AS up_ts,
           |          min(CASE WHEN close < ol THEN ts_sec END) AS dn_ts,
           |          min(CASE WHEN low <= oh THEN ts_sec END) AS rtup_ts,
           |          min(CASE WHEN high >= ol THEN ts_sec END) AS rtdn_ts
           |        FROM aft GROUP BY 1),
           | fin AS (SELECT r.sd, r.or_high, r.or_low,
           |           CASE WHEN e.up_ts IS NOT NULL AND (e.dn_ts IS NULL OR e.up_ts <= e.dn_ts) THEN 'UP'
           |                WHEN e.dn_ts IS NOT NULL THEN 'DOWN' ELSE 'NONE' END AS break_dir,
           |           e.up_ts, e.dn_ts, e.rtup_ts, e.rtdn_ts
           |         FROM ranges r LEFT JOIN ev e USING (sd))
           |SELECT f.sd AS session_date, f.or_high, f.or_low, f.break_dir,
           |  CASE f.break_dir WHEN 'UP' THEN f.up_ts WHEN 'DOWN' THEN f.dn_ts END AS break_ts_sec,
           |  CASE f.break_dir WHEN 'UP' THEN f.rtup_ts WHEN 'DOWN' THEN f.rtdn_ts END AS retest_ts_sec,
           |  m.close AS retest_price
           |FROM fin f LEFT JOIN m1 m
           |  ON m.ts_sec = CASE f.break_dir WHEN 'UP' THEN f.rtup_ts WHEN 'DOWN' THEN f.rtdn_ts END
           |ORDER BY session_date""".stripMargin,
      "q07_dedup_exact" ->
        """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q10_topk_per_customer" ->
        """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) t
          |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
      "q11_hour_histogram" ->
        """SELECT g.range AS hour, count(e.event_id) AS n
          |FROM range(0, 24) g LEFT JOIN events e ON floor(epoch(e.ts)/3600)::BIGINT % 24 = g.range
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q12_sessionize" ->
        """WITH x AS (SELECT user_id, ts, floor(epoch(ts))::BIGINT AS tsec FROM events),
          | y AS (SELECT user_id, tsec,
          |   CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
          |   FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec)),
          | z AS (SELECT user_id,
          |   sum(new_s) OVER (PARTITION BY user_id ORDER BY tsec ROWS UNBOUNDED PRECEDING) AS sid
          |   FROM y),
          | g AS (SELECT user_id, sid, count(*) AS n FROM z GROUP BY 1,2)
          |SELECT user_id, count(*) AS n_sessions, max(n) AS max_session_events,
        | sum(n)::BIGINT AS n_events_total -- DuckDB sum(BIGINT) is HUGEINT; Spark emits int64
          |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
      "q13_segment_revenue" ->
        """SELECT c_mktsegment,
          | sum(CAST(round(l_extendedprice*(1-l_discount),4) AS DECIMAL(28,4)))::DOUBLE AS revenue,
          | count(*) AS n_items
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          | JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // regexes below are the portable Java-regex/RE2 common subset used by
      // TextAnalysis.piiPatterns; 'g' = global (Spark replaces all by default)
      "q32_pii_scrub" ->
        """WITH blob AS (SELECT c_custkey,
          |  c_name || ' <user' || c_custkey || '@example.com> call 555-867-' ||
          |  lpad((c_custkey % 10000)::VARCHAR, 4, '0') || ' acct ' ||
          |  (c_custkey * 1000003 + 12345678)::VARCHAR AS b
          | FROM customer),
          | s1 AS (SELECT c_custkey, b,
          |   regexp_replace(b, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS b1 FROM blob),
          | s2 AS (SELECT c_custkey, b, b1,
          |   regexp_replace(b1, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') AS b2 FROM s1),
          | s3 AS (SELECT c_custkey, b, b1, b2,
          |   regexp_replace(b2, '[0-9]{8,}', '<NUM>', 'g') AS b3 FROM s2)
          |SELECT c_custkey, b3 AS scrubbed,
          | (len(regexp_extract_all(b,  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |  + len(regexp_extract_all(b1, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'))
          |  + len(regexp_extract_all(b2, '[0-9]{8,}')))::BIGINT AS n_pii
          |FROM s3 ORDER BY c_custkey""".stripMargin,
      "q33_top_ngrams" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, lang, unnest(l) AS w, unnest(generate_series(1,len(l))) AS pos FROM ws),
           | sh0 AS (SELECT doc_id, lang, w || ' ' || lead(w,1) OVER win AS shingle, lead(w,1) OVER win AS w1
           |         FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
           | sh AS (SELECT DISTINCT doc_id, lang, shingle FROM sh0 WHERE w1 IS NOT NULL),
           | dfq AS (SELECT lang, shingle AS ngram, count(*) AS df FROM sh GROUP BY 1,2),
           | r AS (SELECT lang, ngram, df,
           |        row_number() OVER (PARTITION BY lang ORDER BY df DESC, ngram) AS rank FROM dfq)
           |SELECT lang, ngram, df, rank FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
      "q34_ivf_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          | cents AS (SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
          | dist AS (SELECT e.vec_id, e.v, c.cent_id,
          |    list_dot_product(e.v,c.cv)/(sqrt(list_dot_product(e.v,e.v))*sqrt(list_dot_product(c.cv,c.cv))) AS d
          |   FROM e CROSS JOIN cents c),
          | asg AS (SELECT vec_id, v, cent_id AS cell FROM (
          |    SELECT vec_id, v, cent_id,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id) AS rn FROM dist) t
          |   WHERE rn = 1),
          | q AS (SELECT * FROM asg WHERE vec_id < 5),
          | s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    round(list_dot_product(q.v,c.v)/(sqrt(list_dot_product(q.v,q.v))*sqrt(list_dot_product(c.v,c.v))),6) AS cosine
          |   FROM q JOIN asg c ON q.cell = c.cell AND q.vec_id <> c.vec_id),
          | r AS (SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
          |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 10
          |ORDER BY query_id, rank""".stripMargin,
      "q35_dataset_split" ->
        s"""WITH f AS (SELECT doc_id, lang, n_chars, ${fpSql("text")} AS fp FROM documents),
           | s AS (SELECT CASE WHEN fp % 100 < 80 THEN 'train'
           |                   WHEN fp % 100 < 90 THEN 'val'
           |                   ELSE 'test' END AS split, lang, n_chars FROM f)
           |SELECT split, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
           | round(sum(n_chars)::DOUBLE / count(*), 4) AS avg_chars
           |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
      "q36_verified_near_dups" ->
        s"SELECT * FROM ($verifiedPairsSql) v ORDER BY id_a, id_b",
      "q59_rate_anomaly" ->
        """WITH hourly AS (SELECT event_type,
          |        (floor(epoch(ts))::BIGINT // 3600) * 3600 AS hour_sec, count(*) AS n
          |       FROM events GROUP BY 1,2),
          | st AS (SELECT event_type, count(*) AS h,
          |         sum(CAST(n AS DECIMAL(28,0)))::DOUBLE AS s1,
          |         sum(n::HUGEINT * n)::DOUBLE AS s2
          |        FROM hourly GROUP BY 1 HAVING count(*) >= 2),
          | stv AS (SELECT event_type, s1/h AS m, (s2 - s1*s1/h)/(h - 1) AS v
          |         FROM st),
          | z AS (SELECT h.event_type, h.hour_sec, h.n,
          |        round((h.n - stv.m) / sqrt(stv.v), 4) AS z
          |       FROM hourly h JOIN stv USING (event_type) WHERE stv.v > 0.0)
          |SELECT event_type, hour_sec, n, z FROM z WHERE abs(z) >= 2.0
          |ORDER BY event_type, hour_sec""".stripMargin,
      "q57_label_centroids" ->
        """WITH el AS (SELECT label, unnest(embedding)::DOUBLE AS x,
          |                   unnest(generate_series(0, len(embedding)-1)) AS pos
          |            FROM embeddings),
          | cent AS (SELECT label, pos,
          |           round(sum(CAST(round(x,4) AS DECIMAL(28,4)))::DOUBLE / count(*), 6) AS c
          |          FROM el GROUP BY 1,2),
          | ca AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
          | cosv AS (SELECT e.label,
          |           round(list_dot_product(e.embedding::DOUBLE[], ca.cv) /
          |             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          |              sqrt(list_dot_product(ca.cv, ca.cv))), 6) AS cos
          |          FROM embeddings e JOIN ca USING (label))
          |SELECT label, count(*) AS n,
          | round(sum(CAST(round(cos,6) AS DECIMAL(28,6)))::DOUBLE / count(*), 4) AS mean_cos,
          | min(cos) AS min_cos
          |FROM cosv GROUP BY 1 ORDER BY 1""".stripMargin,
      "q40_dedup_clusters" ->
        s"SELECT * FROM ($clustersSql) c ORDER BY doc_id",
      "q39_repetition" ->
        s"""WITH ws AS ($wsSql),
           | tok AS (SELECT doc_id, unnest(l) AS w, unnest(generate_series(1,len(l))) AS pos FROM ws),
           | big AS (SELECT doc_id, w || ' ' || lead(w,1) OVER win AS ngram, lead(w,1) OVER win AS w2
           |         FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
           | counts AS (SELECT doc_id, ngram, count(*) AS ngram_count
           |            FROM big WHERE w2 IS NOT NULL GROUP BY 1,2),
           | r AS (SELECT doc_id, ngram, ngram_count,
           |        row_number() OVER (PARTITION BY doc_id ORDER BY ngram_count DESC, ngram) AS rn,
           |        sum(ngram_count) OVER (PARTITION BY doc_id) AS tot
           |       FROM counts),
           | d AS (SELECT doc_id, CASE WHEN len(l)>0
           |         THEN round(1.0 - len(list_distinct(l))::DOUBLE/len(l), 4) ELSE 0.0 END AS dup_word_frac
           |       FROM ws)
           |SELECT d.doc_id, d.dup_word_frac, r.ngram AS top_ngram,
           | r.ngram_count AS top_count, round(r.ngram_count::DOUBLE/r.tot, 4) AS top_share
           |FROM d JOIN r ON d.doc_id = r.doc_id AND r.rn = 1
           |ORDER BY d.doc_id""".stripMargin,
      "q38_sequence_pack" ->
        s"""WITH ws AS ($wsSql),
           | t AS (SELECT doc_id, lang, len(l)::BIGINT AS n_tokens FROM ws),
           | c AS (SELECT doc_id, lang, n_tokens,
           |        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_n_tokens
           |       FROM t)
           |SELECT doc_id, lang, n_tokens, cum_n_tokens,
           | (cum_n_tokens - n_tokens) // 2048 AS pack_id
           |FROM c ORDER BY doc_id""".stripMargin,
      "q37_corpus_stats" ->
        s"""WITH ws AS (SELECT doc_id, text, lang, source,
           |              string_split_regex(${wsTrim("lower(text)")},'\\s+') AS l FROM documents),
           | p AS (SELECT lang, source, len(l)::BIGINT AS n_tokens,
           |        round((least(length(text)::DOUBLE/200.0, 1.0)
           |          + CASE WHEN ($meanWlSql) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END
           |          + 1.0 - least(($punctSql)*5.0, 1.0))/3.0, 4) AS q
           |       FROM ws)
           |SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
           | count(DISTINCT source) AS n_sources,
           | round(sum(CAST(round(q,4) AS DECIMAL(28,4)))::DOUBLE / count(*), 4) AS mean_quality
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
      // shared by q41 (plain broadcast decontamination) and q61 (bloom
      // pre-filter + exact verify — no false negatives, so same output)
      "q41_decontaminate" -> deconSql,
      "q61_bloom_decontaminate" -> deconSql,
      "q62_contamination_rate" ->
        s"""WITH sh AS ($shingleSql),
           | ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
           | tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
           | tot AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY 1),
           | ov AS (SELECT tr.doc_id, count(*) AS n_overlap
           |        FROM tr JOIN ev USING (shingle) GROUP BY 1)
           |SELECT t.doc_id, t.n_shingles::BIGINT AS n_shingles,
           | coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
           | (coalesce(o.n_overlap, 0) * 10000 // t.n_shingles)::BIGINT AS contamination_bps
           |FROM tot t LEFT JOIN ov o USING (doc_id) ORDER BY 1""".stripMargin,
      "q60_duplicate_spans" ->
        s"""WITH ws AS (SELECT doc_id, string_split_regex(${wsTrim("lower(text)")},'\\s+') AS l
           |            FROM documents WHERE ${nonEmptySql("text")}),
           | nz AS (SELECT doc_id, l, len(l) AS n FROM ws WHERE len(l) > 0),
           | st AS (SELECT doc_id, l, n, unnest(generate_series(0, n-1, 10)) AS s FROM nz),
           | ch AS (SELECT doc_id, array_to_string(l[s+1:least(s+20, n)], ' ') AS c
           |        FROM st WHERE s = 0 OR s + 10 < n),
           | f AS (SELECT doc_id, ${fpSql("c")} AS fp FROM ch),
           | stats AS (SELECT fp, count(DISTINCT doc_id) AS nd, min(doc_id) AS fst
           |           FROM f GROUP BY 1)
           |SELECT f.doc_id, count(*)::BIGINT AS n_spans,
           | sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
           | sum(CASE WHEN s.fst = f.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_owned_spans
           |FROM f JOIN stats s USING (fp) GROUP BY 1 ORDER BY 1""".stripMargin,
      // NDV profile: same stack, same hashes, same HLL register chain as
      // q80's oracle, per column
      "q125_profile_sketch" ->
        s"""WITH stk AS (
           | SELECT 'event_id' AS col_name, event_id::BIGINT AS v FROM events
           | UNION ALL SELECT 'user_id', user_id::BIGINT FROM events
           | UNION ALL SELECT 'event_type', ${fpSql("event_type")} FROM events
           | UNION ALL SELECT 'value', floor(round(value, 4) * 10000.0 + 0.5)::BIGINT FROM events),
           | h AS (SELECT col_name,
           |        ((v % 1000000007 + 1000000007) % 1000000007 * 2654435761 + 11) % 1000000007 AS hv
           |       FROM stk),
           | m AS (SELECT col_name,
           |        ((hv * hv % 1000000007 * 2654435761 + 11) % 1000000007 << 33) // 1000000007 AS g
           |       FROM h),
           | r AS (SELECT col_name, g % 1024 AS bkt,
           |        MAX(CASE WHEN g // 1024 = 0 THEN 24
           |                 ELSE 24 - length(bin(g // 1024)) END) AS reg
           |       FROM m GROUP BY 1, 2),
           | gg AS (SELECT col_name, count(*)::BIGINT AS n_buckets_hit,
           |        SUM((1::BIGINT << (24 - reg)))::BIGINT AS zhit
           |       FROM r GROUP BY 1),
           | z AS (SELECT col_name, n_buckets_hit,
           |        (zhit + (1024 - n_buckets_hit) * 16777216)::BIGINT AS z_scaled
           |       FROM gg),
           | x AS (SELECT col_name, count(DISTINCT v)::BIGINT AS exact_distinct
           |       FROM stk GROUP BY 1)
           |SELECT z.col_name, n_buckets_hit, z_scaled,
           | CAST(floor(${Sketches.hllNumerSql} / z_scaled) AS BIGINT) AS est_distinct,
           | x.exact_distinct
           |FROM z JOIN x ON z.col_name = x.col_name
           |ORDER BY 1""".stripMargin,
      // incremental aggregate: the refreshed M5 tree must equal a full
      // recompute from the CORRECTED M1 base
      "q124_incremental_agg" ->
        """WITH m1 AS (
          | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
          |  (floor(epoch(ts)/60)*60)::BIGINT AS ts_sec,
          |  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          |  arg_max(value, ts) AS close, count(*)::DOUBLE AS volume
          | FROM events GROUP BY 1,2),
          | m1c AS (SELECT symbol, ts_sec, open, high, low,
          |          CASE WHEN ts_sec >= 1705017600 AND ts_sec < 1705276800
          |               THEN close + 1000 ELSE close END AS close, volume
          |         FROM m1),
          | m5 AS (SELECT symbol, (ts_sec//300)*300 AS ts5,
          |         arg_min(open, ts_sec) AS open, max(high) AS high,
          |         min(low) AS low, arg_max(close, ts_sec) AS close,
          |         sum(volume) AS volume
          |        FROM m1c GROUP BY 1, 2)
          |SELECT ts5 AS ts_sec, open, high, low, close, volume
          |FROM m5 WHERE symbol = 'U1' ORDER BY 1""".stripMargin,
      // weighted quantiles: the oracle EXPANDS each doc into one row per
      // token and takes plain quantile_cont — the definition the weighted
      // pass must reproduce without expanding
      "q123_weighted_quantiles" ->
        s"""WITH ws AS ($wsSql),
           | d AS (SELECT doc_id, lang, len(l)::BIGINT AS nt FROM ws),
           | e AS (SELECT lang, nt, unnest(generate_series(1, nt)) AS i FROM d)
           |SELECT lang, count(*)::BIGINT AS total_tokens,
           | round(quantile_cont(nt, 0.5), 4) AS p50,
           | round(quantile_cont(nt, 0.9), 4) AS p90
           |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
      // the daily-sketch fold is lossless, so the oracle IS the direct
      // single-pass KMV — bit equality proves the merge property
      "q122_kmv_merge" ->
        """WITH h AS (SELECT DISTINCT event_type,
          |        ((user_id % 1000000007 + 1000000007) % 1000000007 * 2654435761 + 11) % 1000000007 AS hv
          |       FROM events),
          | r AS (SELECT event_type, hv,
          |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
          | t AS (SELECT event_type, count(*) AS n_seen, max(hv) AS kth
          |       FROM r WHERE rn <= 64 GROUP BY 1)
          |SELECT event_type, n_seen::BIGINT AS n_seen, kth::BIGINT AS kth,
          | (CASE WHEN n_seen < 64 THEN n_seen ELSE 63000000441 // kth END)::BIGINT AS est_distinct
          |FROM t ORDER BY 1""".stripMargin,
      "q63_kmv_distinct" ->
        """WITH h AS (SELECT DISTINCT event_type,
          |        ((user_id % 1000000007 + 1000000007) % 1000000007 * 2654435761 + 11) % 1000000007 AS hv
          |       FROM events),
          | r AS (SELECT event_type, hv,
          |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
          | t AS (SELECT event_type, count(*) AS n_seen, max(hv) AS kth
          |       FROM r WHERE rn <= 64 GROUP BY 1)
          |SELECT event_type, n_seen::BIGINT AS n_seen, kth::BIGINT AS kth,
          | (CASE WHEN n_seen < 64 THEN n_seen ELSE 63000000441 // kth END)::BIGINT AS est_distinct
          |FROM t ORDER BY 1""".stripMargin,
      "q75_drawdown_obv" ->
        """WITH c AS (
          | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
          |  (floor(epoch(ts)/300)*300)::BIGINT AS ts_sec,
          |  arg_max(value, ts) AS close, count(*)::DOUBLE AS volume
          | FROM events GROUP BY 1,2),
          | d AS (SELECT symbol, ts_sec, close, volume,
          |        close - lag(close, 1) OVER ow AS diff
          |       FROM c WINDOW ow AS (PARTITION BY symbol ORDER BY ts_sec)),
          | f AS (SELECT symbol, ts_sec, close,
          |        CASE WHEN diff IS NULL THEN 0.0
          |             WHEN diff > 0.0 THEN volume
          |             WHEN diff < 0.0 THEN -volume ELSE 0.0 END AS sv
          |       FROM d)
          |SELECT symbol, ts_sec, close,
          | round(sum(CAST(round(sv,4) AS DECIMAL(28,4))) OVER wu::DOUBLE, 4) AS obv,
          | max(close) OVER wu AS run_max,
          | round(close / max(close) OVER wu - 1.0, 6) AS drawdown
          |FROM f
          |WINDOW wu AS (PARTITION BY symbol ORDER BY ts_sec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY symbol, ts_sec""".stripMargin,
      "q74_rolling_corr" ->
        """WITH c AS (
          | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
          |  (floor(epoch(ts)/300)*300)::BIGINT AS ts_sec,
          |  arg_max(value, ts) AS close
          | FROM events GROUP BY 1,2),
          | j AS (SELECT a.symbol || '-' || b.symbol AS pair, a.ts_sec,
          |        a.close AS x, b.close AS y
          |       FROM c a JOIN c b ON a.ts_sec = b.ts_sec AND a.symbol < b.symbol),
          | g AS (SELECT pair, ts_sec,
          |        count(*) OVER w AS n,
          |        sum(CAST(round(x,4) AS DECIMAL(28,4))) OVER w::DOUBLE AS sx,
          |        sum(CAST(round(y,4) AS DECIMAL(28,4))) OVER w::DOUBLE AS sy,
          |        sum(CAST(round(x*y,4) AS DECIMAL(28,4))) OVER w::DOUBLE AS sxy,
          |        sum(CAST(round(x*x,4) AS DECIMAL(28,4))) OVER w::DOUBLE AS sx2,
          |        sum(CAST(round(y*y,4) AS DECIMAL(28,4))) OVER w::DOUBLE AS sy2
          |       FROM j
          |       WINDOW w AS (PARTITION BY pair ORDER BY ts_sec ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          |SELECT pair, ts_sec,
          | CASE WHEN n > 1 AND n*sx2 - sx*sx > 0.0 AND n*sy2 - sy*sy > 0.0
          |      THEN round((n*sxy - sx*sy) / (sqrt(n*sx2 - sx*sx) * sqrt(n*sy2 - sy*sy)), 4)
          |      ELSE NULL END AS corr
          |FROM g ORDER BY pair, ts_sec""".stripMargin,
      "q73_macd" -> {
        val (f12n, f12d) = emaChainSql("close", 12, "ow")
        val (s26n, s26d) = emaChainSql("close", 26, "ow")
        val (sg9n, sg9d) = emaChainSql("macd", 9, "ow2")
        s"""WITH c AS (
           | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
           |  (floor(epoch(ts)/300)*300)::BIGINT AS ts_sec,
           |  arg_max(value, ts) AS close
           | FROM events GROUP BY 1,2),
           | m AS (SELECT symbol, ts_sec, close,
           |        round(round(($f12n) / ($f12d), 6) - round(($s26n) / ($s26d), 6), 6) AS macd
           |       FROM c WINDOW ow AS (PARTITION BY symbol ORDER BY ts_sec)),
           | sg AS (SELECT symbol, ts_sec, close, macd,
           |         round(($sg9n) / ($sg9d), 6) AS macd_signal
           |        FROM m WINDOW ow2 AS (PARTITION BY symbol ORDER BY ts_sec))
           |SELECT symbol, ts_sec, close, macd, macd_signal,
           | round(macd - macd_signal, 6) AS macd_hist
           |FROM sg ORDER BY symbol, ts_sec""".stripMargin
      },
      "q72_indicators" -> {
        val (emaNum, emaDen) = emaChainSql("close", 10, "ow")
        val dec4 = "CAST(round(%s,4) AS DECIMAL(28,4))"
        s"""WITH c AS (
           | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
           |  (floor(epoch(ts)/300)*300)::BIGINT AS ts_sec,
           |  arg_max(value, ts) AS close, max(value) AS high, min(value) AS low,
           |  count(*)::DOUBLE AS volume
           | FROM events GROUP BY 1,2),
           | d AS (SELECT symbol, ts_sec, close, high, low, volume,
           |        close - lag(close, 1) OVER (PARTITION BY symbol ORDER BY ts_sec) AS diff,
           |        lag(close, 1) OVER (PARTITION BY symbol ORDER BY ts_sec) AS pc,
           |        ts_sec // 86400 AS day
           |       FROM c),
           | f AS (SELECT *, CASE WHEN diff > 0.0 THEN diff ELSE 0.0 END AS gain,
           |                 CASE WHEN diff < 0.0 THEN -diff ELSE 0.0 END AS loss,
           |                 CASE WHEN pc IS NULL THEN high - low
           |                      ELSE greatest(high - low, abs(high - pc), abs(low - pc))
           |                 END AS tr FROM d),
           | g AS (SELECT symbol, ts_sec, close, diff,
           |        sum(${dec4.format("close")}) OVER w10::DOUBLE AS s1_10,
           |        count(close) OVER w10 AS n10,
           |        sum(${dec4.format("close")}) OVER w20::DOUBLE AS s1_20,
           |        sum(${dec4.format("close*close")}) OVER w20::DOUBLE AS s2_20,
           |        count(close) OVER w20 AS n20,
           |        $emaNum AS ema_num, $emaDen AS ema_den,
           |        sum(CASE WHEN diff IS NOT NULL THEN ${dec4.format("gain")} END) OVER w14::DOUBLE AS g14,
           |        sum(CASE WHEN diff IS NOT NULL THEN ${dec4.format("loss")} END) OVER w14::DOUBLE AS l14,
           |        sum(${dec4.format("tr")}) OVER w14::DOUBLE AS trs,
           |        count(*) OVER w14 AS n14,
           |        max(high) OVER w14 AS hh, min(low) OVER w14 AS ll,
           |        sum(${dec4.format("close*volume")}) OVER wd::DOUBLE AS pv,
           |        sum(${dec4.format("volume")}) OVER wd::DOUBLE AS vv
           |       FROM f
           |       WINDOW ow AS (PARTITION BY symbol ORDER BY ts_sec),
           |        w10 AS (PARTITION BY symbol ORDER BY ts_sec ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
           |        w20 AS (PARTITION BY symbol ORDER BY ts_sec ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
           |        w14 AS (PARTITION BY symbol ORDER BY ts_sec ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
           |        wd AS (PARTITION BY symbol, day))
           |SELECT symbol, ts_sec, close,
           | round(s1_10 / n10, 6) AS sma,
           | round(ema_num / ema_den, 6) AS ema,
           | round(s1_20 / n20, 6) AS bb_mid,
           | round(s1_20 / n20 + 2.0 * (CASE WHEN n20 > 1 AND (s2_20 - s1_20*s1_20/n20)/(n20-1) > 0.0
           |   THEN sqrt((s2_20 - s1_20*s1_20/n20)/(n20-1)) ELSE 0.0 END), 6) AS bb_up,
           | round(s1_20 / n20 - 2.0 * (CASE WHEN n20 > 1 AND (s2_20 - s1_20*s1_20/n20)/(n20-1) > 0.0
           |   THEN sqrt((s2_20 - s1_20*s1_20/n20)/(n20-1)) ELSE 0.0 END), 6) AS bb_lo,
           | CASE WHEN diff IS NULL THEN NULL
           |      WHEN l14 = 0.0 THEN 100.0
           |      ELSE round(100.0 - 100.0 / (1.0 + g14 / l14), 4) END AS rsi,
           | round(trs / n14, 6) AS atr,
           | CASE WHEN hh = ll THEN 50.0
           |      ELSE round((close - ll) / (hh - ll) * 100.0, 4) END AS stoch_k,
           | round(pv / vv, 6) AS vwap_day
           |FROM g ORDER BY symbol, ts_sec""".stripMargin
      },
      "q70_data_profile" ->
        """SELECT * FROM (
          | SELECT 'event_id' AS column_name, count(*)::BIGINT AS n_rows,
          |        sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
          |        count(DISTINCT event_id)::BIGINT AS n_distinct,
          |        coalesce(printf('%.6f', min(event_id)::DOUBLE), 'null') AS min_num,
          |        coalesce(printf('%.6f', max(event_id)::DOUBLE), 'null') AS max_num
          | FROM events
          | UNION ALL
          | SELECT 'user_id', count(*)::BIGINT, sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
          |        count(DISTINCT user_id)::BIGINT,
          |        coalesce(printf('%.6f', min(user_id)::DOUBLE), 'null'),
          |        coalesce(printf('%.6f', max(user_id)::DOUBLE), 'null')
          | FROM events
          | UNION ALL
          | SELECT 'event_type', count(*)::BIGINT, sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT,
          |        count(DISTINCT event_type)::BIGINT, 'null', 'null'
          | FROM events
          | UNION ALL
          | SELECT 'value', count(*)::BIGINT, sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
          |        count(DISTINCT value)::BIGINT,
          |        coalesce(printf('%.6f', min(value)::DOUBLE), 'null'),
          |        coalesce(printf('%.6f', max(value)::DOUBLE), 'null')
          | FROM events)
          |ORDER BY column_name""".stripMargin,
      "q71_constraint_checks" ->
        """WITH v AS (SELECT
          |  sum(CASE WHEN event_id IS NOT NULL THEN 0 ELSE 1 END) AS v0,
          |  sum(CASE WHEN user_id >= 0 THEN 0 ELSE 1 END) AS v1,
          |  sum(CASE WHEN event_type IN ('click','error','purchase','signup','view') THEN 0 ELSE 1 END) AS v2,
          |  sum(CASE WHEN value >= 0.0 AND value < 1000.0 THEN 0 ELSE 1 END) AS v3,
          |  sum(CASE WHEN value < 200.0 THEN 0 ELSE 1 END) AS v4
          | FROM events)
          |SELECT * FROM (
          | SELECT 'event_id_nonnull' AS check_name, v0::BIGINT AS n_violations, v0 = 0 AS passed FROM v
          | UNION ALL SELECT 'user_id_nonnegative', v1::BIGINT, v1 = 0 FROM v
          | UNION ALL SELECT 'event_type_in_domain', v2::BIGINT, v2 = 0 FROM v
          | UNION ALL SELECT 'value_in_range', v3::BIGINT, v3 = 0 FROM v
          | UNION ALL SELECT 'value_below_200', v4::BIGINT, v4 = 0 FROM v)
          |ORDER BY check_name""".stripMargin,
      "q68_conversion_funnel" ->
        """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)::BIGINT AS tn FROM events),
          | s1 AS (SELECT user_id, min(tn) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
          | s2 AS (SELECT e.user_id, min(e.tn) AS t FROM e JOIN s1 USING (user_id)
          |        WHERE e.event_type = 'click' AND e.tn >= s1.t GROUP BY 1),
          | s3 AS (SELECT e.user_id, min(e.tn) AS t FROM e JOIN s2 USING (user_id)
          |        WHERE e.event_type = 'purchase' AND e.tn >= s2.t GROUP BY 1)
          |SELECT * FROM (
          | SELECT 1::BIGINT AS stage, 'view' AS stage_name,
          |        (SELECT count(*) FROM s1)::BIGINT AS n_users
          | UNION ALL SELECT 2, 'click_after_view', (SELECT count(*) FROM s2)
          | UNION ALL SELECT 3, 'purchase_after_click', (SELECT count(*) FROM s3))
          |ORDER BY stage""".stripMargin,
      "q69_retention_cohorts" ->
        """WITH d AS (SELECT user_id, floor(epoch(ts))::BIGINT // 86400 AS day FROM events),
          | f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
          | j AS (SELECT d.user_id, f.cohort_day, d.day - f.cohort_day AS day_offset
          |       FROM d JOIN f USING (user_id) WHERE d.day - f.cohort_day <= 7)
          |SELECT cohort_day, day_offset, count(DISTINCT user_id)::BIGINT AS n_active
          |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q67_hard_negatives" ->
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           | s AS (SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id, $cosSql AS cosine
           |       FROM e a JOIN e b ON a.label <> b.label WHERE a.vec_id < 10),
           | r AS (SELECT anchor_id, negative_id, cosine,
           |        row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS rank FROM s)
           |SELECT anchor_id, rank, negative_id, cosine FROM r WHERE rank <= 3
           |ORDER BY anchor_id, rank""".stripMargin,
      "q66_filter_funnel" ->
        s"""WITH ws AS ($wsSql),
           | m AS (SELECT doc_id, text, ${nonEmptySql("text")} AS ne, len(l) AS nt,
           |        round($punctSql, 4) AS pr,
           |        round(CASE WHEN len(l)>0 THEN 1.0 - len(list_distinct(l))::DOUBLE/len(l) ELSE 0.0 END, 4) AS dwf,
           |        round((least(length(text)::DOUBLE/200.0, 1.0)
           |          + CASE WHEN ($meanWlSql) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END
           |          + 1.0 - least(($punctSql)*5.0, 1.0))/3.0, 4) AS q
           |       FROM ws),
           | f AS (SELECT count(*) AS n0,
           |        sum(CASE WHEN ne THEN 1 ELSE 0 END) AS n1,
           |        sum(CASE WHEN ne AND nt >= 10 THEN 1 ELSE 0 END) AS n2,
           |        sum(CASE WHEN ne AND nt >= 10 AND pr <= 0.1 THEN 1 ELSE 0 END) AS n3,
           |        sum(CASE WHEN ne AND nt >= 10 AND pr <= 0.1 AND dwf <= 0.3 THEN 1 ELSE 0 END) AS n4,
           |        sum(CASE WHEN ne AND nt >= 10 AND pr <= 0.1 AND dwf <= 0.3 AND q >= 0.5 THEN 1 ELSE 0 END) AS n5
           |       FROM m)
           |SELECT * FROM (
           | SELECT 0::BIGINT AS stage, 'total' AS stage_name, n0::BIGINT AS n_pass FROM f
           | UNION ALL SELECT 1, 'nonempty', n1::BIGINT FROM f
           | UNION ALL SELECT 2, 'min_tokens', n2::BIGINT FROM f
           | UNION ALL SELECT 3, 'low_punct', n3::BIGINT FROM f
           | UNION ALL SELECT 4, 'low_dup_words', n4::BIGINT FROM f
           | UNION ALL SELECT 5, 'min_quality', n5::BIGINT FROM f)
           |ORDER BY stage""".stripMargin,
      "q65_kmeans" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          | c0 AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT 8),
          | d1 AS (SELECT e.vec_id, e.v, c0.cid,
          |         list_dot_product(e.v,e.v) - 2*list_dot_product(e.v,c0.c)
          |           + list_dot_product(c0.c,c0.c) AS d2
          |        FROM e CROSS JOIN c0),
          | a1 AS (SELECT vec_id, v, cid FROM
          |         (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          |          FROM d1) WHERE rn = 1),
          | el AS (SELECT cid, unnest(v) AS x,
          |               unnest(generate_series(0, len(v)-1)) AS pos FROM a1),
          | ce AS (SELECT cid, pos,
          |         round(sum(CAST(round(x,4) AS DECIMAL(28,4)))::DOUBLE / count(*), 6) AS c
          |        FROM el GROUP BY 1,2),
          | c1 AS (SELECT cid, list(c ORDER BY pos) AS c FROM ce GROUP BY 1),
          | d2_ AS (SELECT e.vec_id, c1.cid,
          |         list_dot_product(e.v,e.v) - 2*list_dot_product(e.v,c1.c)
          |           + list_dot_product(c1.c,c1.c) AS d2
          |        FROM e CROSS JOIN c1),
          | a2 AS (SELECT vec_id, cid, round(d2, 4) AS d2 FROM
          |         (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          |          FROM d2_) WHERE rn = 1)
          |SELECT cid AS cluster, count(*)::BIGINT AS n,
          | round(sum(CAST(round(d2,4) AS DECIMAL(28,4)))::DOUBLE, 4) AS inertia
          |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,
      "q64_countmin_freq" ->
        s"""WITH rc AS (${cmCellSql("events")}),
           | sk AS (SELECT rw, cell, count(*) AS cnt FROM rc GROUP BY 1, 2),
           | kc AS (${cmCellSql("(SELECT DISTINCT user_id FROM events WHERE user_id < 100) kq")}),
           | est AS (SELECT user_id, min(coalesce(sk.cnt, 0)) AS est_count
           |         FROM kc LEFT JOIN sk USING (rw, cell) GROUP BY 1),
           | ex AS (SELECT user_id, count(*) AS exact_count
           |        FROM events WHERE user_id < 100 GROUP BY 1)
           |SELECT user_id, est_count::BIGINT AS est_count, exact_count::BIGINT AS exact_count
           |FROM est JOIN ex USING (user_id) ORDER BY 1""".stripMargin,
      "q42_stratified_sample" ->
        """WITH h AS (SELECT lang, doc_id, ((doc_id % 1000000007 + 1000000007) % 1000000007*2654435761 + 11) % 1000000007 AS hv FROM documents),
          | r AS (SELECT lang, doc_id,
          |         row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)::BIGINT AS rn
          |       FROM h)
          |SELECT lang, rn, doc_id FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
      "q43_tfidf_topk" ->
        s"""WITH ws AS (SELECT doc_id, string_split_regex(${wsTrim("lower(text)")},'\\s+') AS l FROM documents),
          | tok AS (SELECT doc_id, unnest(l) AS term FROM ws),
          | tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
          | df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
          | n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
          | sc AS (SELECT doc_id, term,
          |          round(tf * (ln((n_docs + 1.0)/(df + 1.0)) + 1.0), 4) AS tfidf
          |        FROM tf JOIN df USING (term) CROSS JOIN n),
          | r AS (SELECT doc_id, term, tfidf,
          |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)::BIGINT AS rank
          |       FROM sc)
          |SELECT doc_id, rank, term, tfidf FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
      "q44_shuffled_export" ->
        """WITH h AS (SELECT doc_id,
          |         ((doc_id % 1000000007 + 1000000007) % 1000000007*2654435761 + 7) % 1000000007 AS h1,
          |         ((doc_id % 1000000007 + 1000000007) % 1000000007*2246822519 + 13) % 1000000007 AS h2 FROM documents)
          |SELECT (h1 % 16)::BIGINT AS shard,
          | row_number() OVER (PARTITION BY h1 % 16 ORDER BY h2, doc_id)::BIGINT AS pos,
          | doc_id
          |FROM h ORDER BY shard, pos""".stripMargin,
      "q45_rebalance" ->
        """WITH st AS (SELECT lang, count(*)::BIGINT AS n_before FROM documents GROUP BY 1),
          | sel AS (SELECT d.lang, d.doc_id, st.n_before,
          |           ((d.doc_id % 1000000007 + 1000000007) % 1000000007*2654435761 + 17) % 1000000007 AS hv
          |         FROM documents d JOIN st USING (lang)),
          | kept AS (SELECT lang, count(*)::BIGINT AS n_after FROM sel
          |          WHERE hv % 1000000 < floor(least(1.0, 50.0/n_before)*1000000.0)
          |          GROUP BY 1)
          |SELECT st.lang, st.n_before, coalesce(kept.n_after, 0)::BIGINT AS n_after
          |FROM st LEFT JOIN kept USING (lang)
          |ORDER BY st.lang""".stripMargin,
      "q46_temperature_mix" ->
        """WITH st AS (SELECT lang, count(*)::BIGINT AS n_before FROM documents GROUP BY 1),
          | w AS (SELECT lang, n_before, round(sqrt(n_before), 6) AS w FROM st),
          | tot AS (SELECT sum(CAST(w AS DECIMAL(28,6))) AS totw FROM w),
          | r AS (SELECT lang, n_before,
          |         least(1.0, 200.0 * w / (totw::DOUBLE * n_before)) AS rate
          |       FROM w CROSS JOIN tot),
          | kept AS (SELECT d.lang, count(*)::BIGINT AS n_after
          |          FROM documents d JOIN r USING (lang)
          |          WHERE ((d.doc_id % 1000000007 + 1000000007) % 1000000007*2654435761 + 29) % 1000000007 % 1000000
          |                < floor(rate*1000000.0)
          |          GROUP BY 1)
          |SELECT st.lang, st.n_before, coalesce(kept.n_after, 0)::BIGINT AS n_after
          |FROM st LEFT JOIN kept USING (lang)
          |ORDER BY st.lang""".stripMargin,
      "q47_value_histogram" ->
        """WITH b AS (SELECT floor(value/25.0)::BIGINT AS bin, count(*)::BIGINT AS n
          |           FROM events
          |           WHERE floor(value/25.0) >= 0 AND floor(value/25.0) < 20
          |           GROUP BY 1),
          | g AS (SELECT unnest(generate_series(0, 19))::BIGINT AS bin)
          |SELECT g.bin, round(g.bin*25.0, 4) AS lo, coalesce(b.n, 0)::BIGINT AS n
          |FROM g LEFT JOIN b USING (bin) ORDER BY g.bin""".stripMargin,
      "q48_salted_join" ->
        """WITH sp AS (SELECT user_id, sum(CAST(round(value, 4) AS DECIMAL(28,4))) AS spend
          |            FROM events WHERE event_type = 'purchase' GROUP BY 1)
          |SELECT e.event_id, e.user_id, round(e.value / sp.spend::DOUBLE, 6) AS share
          |FROM events e JOIN sp USING (user_id) ORDER BY e.event_id""".stripMargin,
      "q49_range_join" ->
        """WITH e AS (SELECT event_id, epoch_ns(ts)::BIGINT AS tn FROM events),
          | iv AS (SELECT event_id AS interval_id, epoch_ns(ts)::BIGINT AS start_ns,
          |          epoch_ns(ts)::BIGINT + 3600000000000 AS end_ns
          |        FROM events WHERE event_type = 'purchase' AND value > 220.0)
          |SELECT iv.interval_id, count(*)::BIGINT AS n_in_window
          |FROM iv JOIN e ON e.tn >= iv.start_ns AND e.tn < iv.end_ns
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q54_doc_chunks" ->
        s"""WITH ws AS (SELECT doc_id, string_split_regex(${wsTrim("lower(text)")},'\\s+') AS l
          |            FROM documents WHERE ${nonEmptySql("text")}),
          | nz AS (SELECT doc_id, l, len(l) AS n FROM ws WHERE len(l) > 0),
          | st AS (SELECT doc_id, l, n, unnest(generate_series(0, n-1, 50)) AS s FROM nz),
          | ch AS (SELECT doc_id, (s//50)::BIGINT AS chunk_id,
          |          l[s+1:least(s+60, n)] AS c FROM st WHERE s = 0 OR s + 10 < n)
          |SELECT doc_id, chunk_id, len(c)::BIGINT AS n_tokens,
          | list_reduce(list_prepend(0::BIGINT,
          |   list_transform(string_split(array_to_string(c, ' '),''), x->ascii(x)::BIGINT)),
          |   (a,b)->(a*31+b)%1000000007) AS checksum
          |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
      "q52_zorder_scan" ->
        """SELECT event_id, floor(epoch(ts))::BIGINT AS ts_sec, value
          |FROM events
          |WHERE floor(epoch(ts)) >= 1704844800 AND floor(epoch(ts)) < 1705449600
          |  AND value >= 100.0 AND value < 200.0
          |ORDER BY event_id""".stripMargin,
      "q53_session_overlap" ->
        """WITH x AS (SELECT user_id, floor(epoch(ts))::BIGINT AS tsec FROM events),
          | y AS (SELECT user_id, tsec,
          |   CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
          |   FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec)),
          | z AS (SELECT user_id, tsec,
          |   sum(new_s) OVER (PARTITION BY user_id ORDER BY tsec ROWS UNBOUNDED PRECEDING) AS sid
          |   FROM y),
          | sess AS (SELECT user_id, sid, min(tsec) AS s, max(tsec) + 1 AS e FROM z GROUP BY 1, 2)
          |SELECT a.user_id AS u_a, b.user_id AS u_b, count(*)::BIGINT AS n_overlaps
          |FROM sess a JOIN sess b ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q51_length_filter" ->
        """WITH c AS (SELECT lang, quantile_cont(n_chars, 0.25) AS cutoff
          |           FROM documents GROUP BY 1)
          |SELECT d.lang, min(c.cutoff) AS cutoff, count(*)::BIGINT AS n_kept
          |FROM documents d JOIN c USING (lang)
          |WHERE d.n_chars >= c.cutoff
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q50_pivot_revenue" ->
        """SELECT o_orderpriority,
          | coalesce(sum(CAST(round(o_totalprice,4) AS DECIMAL(28,4))) FILTER (WHERE o_orderstatus = 'F')::DOUBLE, 0.0) AS rev_f,
          | coalesce(sum(CAST(round(o_totalprice,4) AS DECIMAL(28,4))) FILTER (WHERE o_orderstatus = 'O')::DOUBLE, 0.0) AS rev_o,
          | coalesce(sum(CAST(round(o_totalprice,4) AS DECIMAL(28,4))) FILTER (WHERE o_orderstatus = 'P')::DOUBLE, 0.0) AS rev_p
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      // epoch bounds: 2024-01-05 = 1704412800, 01-12 = 1705017600,
      // 01-18 = 1705536000, 01-25 = 1706140800 (all UTC midnights)
      "q80_hll_distinct" ->
        s"""WITH h AS (SELECT event_type,
          |        ((user_id % 1000000007 + 1000000007) % 1000000007 * 2654435761 + 11) % 1000000007 AS hv
          |       FROM events),
          | m AS (SELECT event_type,
          |        ((hv * hv % 1000000007 * 2654435761 + 11) % 1000000007 << 33) // 1000000007 AS g
          |       FROM h),
          | r AS (SELECT event_type, g % 1024 AS bkt,
          |        MAX(CASE WHEN g // 1024 = 0 THEN 24
          |                 ELSE 24 - length(bin(g // 1024)) END) AS reg
          |       FROM m GROUP BY 1, 2),
          | g AS (SELECT event_type, count(*)::BIGINT AS n_buckets_hit,
          |        SUM((1::BIGINT << (24 - reg)))::BIGINT AS zhit
          |       FROM r GROUP BY 1),
          | z AS (SELECT event_type, n_buckets_hit,
          |        (zhit + (1024 - n_buckets_hit) * 16777216)::BIGINT AS z_scaled
          |       FROM g),
          | x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
          |       FROM events GROUP BY 1)
          |SELECT z.event_type, n_buckets_hit, z_scaled,
          | CAST(floor(${Sketches.hllNumerSql} / z_scaled) AS BIGINT) AS est_distinct,
          | x.exact_distinct
          |FROM z JOIN x ON z.event_type = x.event_type
          |ORDER BY 1""".stripMargin,
      "q81_weighted_sample" ->
        """WITH p AS (SELECT doc_id, lang, n_chars,
          |        (((doc_id % 1000000007 + 1000000007) % 1000000007 * 2654435761 + 37) % 1000000007 % 1000000 + 1)::DOUBLE
          |          / n_chars::DOUBLE AS priority
          |       FROM documents),
          | r AS (SELECT lang, doc_id, n_chars, priority,
          |         row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id)::BIGINT AS rn
          |       FROM p)
          |SELECT lang, rn, doc_id, n_chars, priority
          |FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
      "q82_kmv_overlap" ->
        """WITH h AS (SELECT DISTINCT event_type AS g,
          |        ((user_id % 1000000007 + 1000000007) % 1000000007 * 2654435761 + 11) % 1000000007 AS hv
          |       FROM events),
          | sk AS (SELECT g, hv FROM (
          |         SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn FROM h)
          |        WHERE rn <= 512),
          | gs AS (SELECT DISTINCT g FROM sk),
          | pr AS (SELECT a.g AS g1, b.g AS g2 FROM gs a, gs b WHERE a.g < b.g),
          | un AS (SELECT g1, g2, hv, max(s1) AS in1, max(s2) AS in2 FROM (
          |         SELECT pr.g1, pr.g2, sk.hv, 1 AS s1, 0 AS s2 FROM pr JOIN sk ON sk.g = pr.g1
          |         UNION ALL
          |         SELECT pr.g1, pr.g2, sk.hv, 0 AS s1, 1 AS s2 FROM pr JOIN sk ON sk.g = pr.g2)
          |        GROUP BY 1, 2, 3),
          | rk AS (SELECT g1, g2, hv, in1, in2,
          |         row_number() OVER (PARTITION BY g1, g2 ORDER BY hv) AS rn FROM un),
          | st AS (SELECT g1, g2, count(*)::BIGINT AS n_union_seen, max(hv)::BIGINT AS theta,
          |         SUM(in1 * in2)::BIGINT AS n_common
          |        FROM rk WHERE rn <= 512 GROUP BY 1, 2),
          | es AS (SELECT g1, g2, n_union_seen, theta, n_common,
          |         (CASE WHEN n_union_seen < 512 THEN n_union_seen
          |               ELSE 511000003577 // theta END)::BIGINT AS est_union
          |        FROM st),
          | ei AS (SELECT g1, g2, n_union_seen, theta, n_common, est_union,
          |         (CASE WHEN n_union_seen < 512 THEN n_common
          |               ELSE n_common * est_union // 512 END)::BIGINT AS est_intersection
          |        FROM es),
          | du AS (SELECT DISTINCT event_type AS g, user_id AS v FROM events),
          | ex AS (SELECT a.g AS g1, b.g AS g2, count(*)::BIGINT AS exact_intersection
          |        FROM du a JOIN du b ON a.v = b.v AND a.g < b.g GROUP BY 1, 2)
          |SELECT ei.g1, ei.g2, n_union_seen, theta, n_common, est_union, est_intersection,
          | COALESCE(ex.exact_intersection, 0)::BIGINT AS exact_intersection
          |FROM ei LEFT JOIN ex ON ei.g1 = ex.g1 AND ei.g2 = ex.g2
          |ORDER BY 1, 2""".stripMargin,
      "q83_json_extract" ->
        """WITH x AS (SELECT event_type,
          |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
          |       FROM events)
          |SELECT event_type, count(*)::BIGINT AS n,
          | SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing,
          | MIN(v)::BIGINT AS min_v, MAX(v)::BIGINT AS max_v,
          | SUM(v)::BIGINT AS sum_v
          |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
      "q84_session_paths" ->
        """WITH x AS (SELECT user_id, event_id, event_type, floor(epoch(ts))::BIGINT AS tsec FROM events),
          | l AS (SELECT user_id, event_type, tsec,
          |         lag(tsec) OVER w AS ptsec, lag(event_type) OVER w AS ptype
          |       FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id))
          |SELECT ptype AS from_type, event_type AS to_type, count(*)::BIGINT AS n
          |FROM l WHERE ptype IS NOT NULL AND tsec - ptsec <= 1800
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q85_linear_trend" ->
        """WITH b AS (SELECT event_type, floor(epoch(ts))::BIGINT AS x, value AS y FROM events),
          | m AS (SELECT event_type, min(x) AS x0 FROM b GROUP BY 1),
          | j AS (SELECT b.event_type, m.x0, b.x - m.x0 AS xs, b.y
          |       FROM b JOIN m ON b.event_type = m.event_type),
          | a AS (SELECT event_type, x0, count(*)::BIGINT AS n,
          |        SUM(xs)::DECIMAL(38,0) AS sx,
          |        SUM(xs*xs)::DECIMAL(38,0) AS sxx,
          |        SUM(CAST(round(y, 4) AS DECIMAL(28,4))) AS sy,
          |        SUM(CAST(round(xs*y, 4) AS DECIMAL(28,4))) AS sxy
          |       FROM j GROUP BY 1, 2),
          | d AS (SELECT event_type, n, x0,
          |        n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS num,
          |        n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS den,
          |        sy::DOUBLE AS syd, sx::DOUBLE AS sxd
          |       FROM a)
          |SELECT event_type, n, x0,
          | CASE WHEN den > 0.0 THEN round(num / den, 6) END AS slope,
          | CASE WHEN den > 0.0 THEN round((syd - num / den * sxd) / n::DOUBLE, 4) END AS intercept_at_x0
          |FROM d ORDER BY 1""".stripMargin,
      "q86_twap" ->
        """WITH x AS (SELECT 'U' || (user_id % 3)::VARCHAR AS symbol, event_id,
          |        floor(epoch(ts))::BIGINT AS tsec, value AS v FROM events),
          | d AS (SELECT symbol, event_id, tsec, tsec // 86400 AS day, v FROM x),
          | l AS (SELECT symbol, day, tsec, v,
          |        lag(tsec) OVER w AS pt, lag(v) OVER w AS pv
          |       FROM d WINDOW w AS (PARTITION BY symbol, day ORDER BY tsec, event_id)),
          | t AS (SELECT symbol, day, tsec,
          |        CASE WHEN pt IS NULL THEN NULL
          |             ELSE (tsec - pt)::DOUBLE * (v + pv) / 2.0 END AS term
          |       FROM l),
          | a AS (SELECT symbol, day, count(*)::BIGINT AS n,
          |        (max(tsec) - min(tsec))::BIGINT AS span_sec,
          |        SUM(CAST(round(term, 4) AS DECIMAL(28,4)))::DOUBLE AS area
          |       FROM t GROUP BY 1, 2)
          |SELECT symbol, day, n, span_sec,
          | CASE WHEN span_sec > 0 THEN round(area / span_sec::DOUBLE, 4) END AS twa
          |FROM a ORDER BY 1, 2""".stripMargin,
      "q79_asof_directed" ->
        """WITH m1 AS (
          | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
          |  (floor(epoch(ts)/60)*60)::BIGINT AS ts_sec,
          |  arg_max(value, ts) AS m1_close
          | FROM events GROUP BY 1, 2),
          | m5 AS (
          | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
          |  (floor(epoch(ts)/300)*300)::BIGINT AS ts_sec,
          |  arg_max(value, ts) AS close
          | FROM events GROUP BY 1, 2),
          | p AS (SELECT l.symbol, l.ts_sec, l.m1_close, r.ts_sec AS pts, r.close AS pc
          |       FROM m1 l ASOF LEFT JOIN m5 r
          |         ON l.symbol = r.symbol AND l.ts_sec >= r.ts_sec),
          | m5n AS (SELECT symbol, -ts_sec AS neg, ts_sec AS nts, close AS nc FROM m5),
          | f AS (SELECT p.*, r.nts, r.nc
          |       FROM p ASOF LEFT JOIN m5n r
          |         ON p.symbol = r.symbol AND -p.ts_sec >= r.neg)
          |SELECT symbol, ts_sec, m1_close,
          | CASE WHEN pts IS NOT NULL AND ts_sec - pts <= 120
          |           AND (nts IS NULL OR nts - ts_sec > 120
          |                OR ts_sec - pts <= nts - ts_sec)
          |      THEN pc
          |      WHEN nts IS NOT NULL AND nts - ts_sec <= 120 THEN nc
          | END AS close_near,
          | nc AS close_fwd
          |FROM f ORDER BY symbol, ts_sec""".stripMargin,
      "q78_zorder_multi" ->
        """SELECT event_id, floor(epoch(ts))::BIGINT AS ts_sec, value, user_id
          |FROM events
          |WHERE floor(epoch(ts)) >= 1704844800 AND floor(epoch(ts)) < 1705449600
          |  AND value >= 100.0 AND value < 200.0
          |  AND user_id >= 100 AND user_id < 600
          |ORDER BY event_id""".stripMargin,
      "q77_hist_quantiles" ->
        """WITH wd AS (SELECT lang, n_chars::BIGINT AS v, abs(n_chars::BIGINT) AS av
          |       FROM documents WHERE n_chars IS NOT NULL),
          | bk AS (SELECT lang, v, av,
          |         CASE WHEN length(av::VARCHAR) <= 2 THEN 1
          |              ELSE rpad('1', (length(av::VARCHAR) - 1)::INTEGER, '0')::BIGINT END AS w
          |        FROM wd),
          | bu AS (SELECT lang, w,
          |         CASE WHEN v < 0 THEN -((av // w) * w + w)
          |              ELSE (av // w) * w END AS lo,
          |         count(*)::BIGINT AS cnt
          |        FROM bk GROUP BY 1, 2, 3),
          | c AS (SELECT lang, lo, w, cnt,
          |        coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY lo
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
          |        sum(cnt) OVER (PARTITION BY lang) AS n
          |       FROM bu),
          | est AS (SELECT lang,
          |   max(CASE WHEN cb <= 0.5*(n-1) AND 0.5*(n-1) < cb + cnt
          |            THEN lo + w * ((0.5*(n-1) - cb) / cnt) END) AS p50_est,
          |   max(CASE WHEN cb <= 0.9*(n-1) AND 0.9*(n-1) < cb + cnt
          |            THEN lo + w * ((0.9*(n-1) - cb) / cnt) END) AS p90_est,
          |   max(CASE WHEN cb <= 0.99*(n-1) AND 0.99*(n-1) < cb + cnt
          |            THEN lo + w * ((0.99*(n-1) - cb) / cnt) END) AS p99_est
          |  FROM c GROUP BY 1),
          | ex AS (SELECT lang,
          |   quantile_cont(n_chars, 0.5) AS p50_exact,
          |   quantile_cont(n_chars, 0.9) AS p90_exact,
          |   quantile_cont(n_chars, 0.99) AS p99_exact
          |  FROM documents GROUP BY 1)
          |SELECT lang, round(p50_est, 4) AS p50_est, round(p50_exact, 4) AS p50_exact,
          | round(p90_est, 4) AS p90_est, round(p90_exact, 4) AS p90_exact,
          | round(p99_est, 4) AS p99_est, round(p99_exact, 4) AS p99_exact
          |FROM est JOIN ex USING (lang) ORDER BY lang""".stripMargin,
      "q76_repair_day" ->
        """WITH m1 AS (
          | SELECT (floor(epoch(ts)/60)*60)::BIGINT AS ts_sec,
          |  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          |  arg_max(value, ts) AS close, count(*)::DOUBLE AS volume
          | FROM events WHERE user_id % 3 = 1 GROUP BY 1),
          | dmg AS (SELECT * FROM m1 WHERE ((ts_sec // 60) % 37) != 5),
          | b AS (SELECT min(ts_sec) AS mn, max(ts_sec) AS mx FROM dmg),
          | grid AS (SELECT unnest(range(mn, mx + 60, 60)) AS ts_sec FROM b),
          | j AS (SELECT g.ts_sec AS ts_sec, d.open, d.high, d.low, d.close,
          |        d.volume, d.ts_sec IS NOT NULL AS realrow
          |       FROM grid g LEFT JOIN dmg d ON g.ts_sec = d.ts_sec),
          | f AS (SELECT *,
          |        last_value(CASE WHEN realrow THEN close END IGNORE NULLS)
          |          OVER (ORDER BY ts_sec ROWS UNBOUNDED PRECEDING) AS pc,
          |        first_value(CASE WHEN realrow THEN open END IGNORE NULLS)
          |          OVER (ORDER BY ts_sec
          |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
          |       FROM j)
          |SELECT ts_sec,
          | CASE WHEN realrow THEN open ELSE coalesce(pc, nxt, 0.0) END AS open,
          | CASE WHEN realrow THEN high ELSE coalesce(pc, nxt, 0.0) END AS high,
          | CASE WHEN realrow THEN low ELSE coalesce(pc, nxt, 0.0) END AS low,
          | CASE WHEN realrow THEN close ELSE coalesce(pc, nxt, 0.0) END AS close,
          | CASE WHEN realrow THEN volume ELSE 0.0 END AS volume,
          | NOT realrow AS is_synth
          |FROM f ORDER BY ts_sec""".stripMargin,
      // lambda read: the unified view must equal the source-of-truth
      // recomputation — batch bars, stream-restated day shadowing them,
      // fresh stream-only bars past the fold horizon
      "q121_lambda_read" ->
        """WITH m1 AS (
          | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
          |  (floor(epoch(ts)/60)*60)::BIGINT AS ts_sec,
          |  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          |  arg_max(value, ts) AS close, count(*)::DOUBLE AS volume
          | FROM events GROUP BY 1,2)
          |SELECT ts_sec, open, high, low,
          | CASE WHEN ts_sec >= 1705276800 AND ts_sec < 1705363200
          |      THEN close + 500 ELSE close END AS close,
          | volume
          |FROM m1
          |WHERE symbol = 'U1' AND ts_sec >= 1704844800 AND ts_sec < 1706140800
          |ORDER BY ts_sec""".stripMargin,
      "q55_lake_roundtrip" ->
        """WITH m1 AS (
          | SELECT 'U' || (user_id % 3)::VARCHAR AS symbol,
          |  (floor(epoch(ts)/60)*60)::BIGINT AS ts_sec,
          |  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          |  arg_max(value, ts) AS close, count(*)::DOUBLE AS volume
          | FROM events GROUP BY 1,2)
          |SELECT ts_sec, open, high, low,
          | CASE WHEN ts_sec >= 1705017600 AND ts_sec < 1705536000
          |      THEN close + 1000 ELSE close END AS close,
          | volume
          |FROM m1
          |WHERE symbol = 'U1' AND ts_sec >= 1704412800 AND ts_sec < 1706140800
          |ORDER BY ts_sec""".stripMargin,
    )
    // q145 (index build/append/query E2E) is identical-by-construction to
    // q144's inline operator — same oracle SQL, one source of truth
    base + ("q145_ann_index" -> base("q144_ivfpq_topk"))
  }
}
