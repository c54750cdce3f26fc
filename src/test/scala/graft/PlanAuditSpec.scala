package graft

import graft.ops.Indicators
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Automated form of docs/PLANS.md: the plan shapes the engine promises at
  * scale, asserted on every build so a regression (a lost pushdown, a
  * reintroduced single-partition window) fails CI instead of surfacing in a
  * bench tail. AQE is disabled while PLANNING so the static plan is
  * inspectable; the correctness gates run the same queries with AQE on.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def withStaticPlans[T](body: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def planOf(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  // An unpartitioned window is the 100 TB serialization point ONLY when it
  // sorts data-sized input. Fill's carry windows run over a per-chunk
  // summary whose aggregate groups by exactly the window's ORDER BY columns
  // — one row per order value, so the window's cost is O(#chunks), already
  // reduced from the data by the aggregate. Exempt that one shape.
  private def reducedToOrderGrain(w: WindowExec): Boolean = {
    val orderIds = w.orderSpec.flatMap(_.child.references.map(_.exprId)).toSet
    // attributes that are literal-valued (a constant group key folded out
    // of the partition spec — e.g. quantiles "group by a literal"):
    // grouping by (const, chunk) reduces to exactly chunk grain
    val constIds = w.child.collect {
      case p: org.apache.spark.sql.execution.ProjectExec =>
        p.projectList.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Alias
            if a.child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
            a.exprId
        }
      case ag: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        // partial aggregates keep the folded literal INSIDE their grouping
        // list ("1 AS 1#...")
        ag.groupingExpressions.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Alias
            if a.child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
            a.exprId
        }
    }.flatten.toSet
    w.child.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if orderIds.nonEmpty &&
          (a.groupingExpressions.map(_.exprId).toSet -- constIds) == orderIds => a
    }.nonEmpty
  }

  // A window whose child is LIMIT-bounded (top-k then rank, as in q101)
  // runs over a constant number of rows — not a serialization point either.
  private def limitBounded(w: WindowExec): Boolean =
    w.child.collectFirst {
      case l: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => l
      case l: org.apache.spark.sql.execution.GlobalLimitExec => l
      case l: org.apache.spark.sql.execution.CollectLimitExec => l
    }.nonEmpty

  test("NO query plans a data-sized unpartitioned WindowExec (the 100 TB serialization point)") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        val bad = planOf(name).collect {
          case w: WindowExec if w.partitionSpec.isEmpty &&
            !reducedToOrderGrain(w) && !limitBounded(w) => w
        }
        assert(bad.isEmpty, s"$name plans a single-partition window over unreduced input")
      }
    }
  }

  test("Indicators.enrichDistributed keys every window and shuffles once, on the series key") {
    // enrich folds on the driver below its row cap (q72 does at this sf),
    // so the sweep above no longer sees the window plan that runs above
    // the cap: audit it on a keyed input of its own
    import spark.implicits._
    withStaticPlans {
      val bars = (0 until 300).map { i =>
        (s"S${i % 3}", new java.sql.Timestamp(1709251200000L + i * 60000L), 1.0 + i, 2.0 + i, 0.5 + i, 1.5 + i, 10.0)
      }.toDF("symbol", "ts", "open", "high", "low", "close", "volume")
      val plan = Indicators.enrichDistributed(bars, Seq("symbol")).queryExecution.executedPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty), plan.treeString)
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length === 1, plan.treeString)
    }
  }

  // Queries whose CONTRACT is exact all-pairs comparison: the cross product
  // is the declared algorithm (each has an LSH/IVF bucketed twin as the
  // documented scale path). Everything else must plan equi-joins — a new
  // range-shaped query that silently regresses to a nested loop fails here.
  private val declaredExactAllPairs = Set(
    "q14_sim_topk",           // exact brute-force cosine top-k (twin: q34 IVF)
    "q15_embedding_near_dup", // exact near-dup pairs (twin: Similarity.lshNearDupBanded)
    "q67_hard_negatives"      // exact hard-negative miner (twin: ivfTopK + label filter)
  )
  // Queries where a BroadcastNestedLoopJoin is the INTENDED shape because the
  // build side is bounded by an algorithm constant, not by data size — the
  // cost is O(n * constant) map-side work with no shuffle. A data x data
  // CartesianProduct is still forbidden for these.
  private val declaredBoundedBroadcast = Set(
    "q34_ivf_topk",   // IVF centroid assignment: rows x broadcast(<=16 centroids)
    "q43_tfidf_topk", // IDF scaling: rows x broadcast(1-row global doc count)
    "q46_temperature_mix", // per-stratum rates x broadcast(1-row weight total)
    "q82_kmv_overlap", // pair generation: groups x broadcast(groups) — the
                       // group UNIVERSE (like q74's symbols²), never row data;
                       // every sketch-row join around it is an equi-join
    "q94_pq_topk",     // the ADC scan: code table x broadcast(5 query rows
                       // + their bounded distance tables) — PQ's whole point
                       // is that this is the ONLY per-query pass
    "q144_ivfpq_topk", // IVF-PQ: the two centroid assignments are rows x
                       // broadcast(<=16 centroids) as in q34; the ADC scan
                       // itself is a cell EQUI-join (tighter than q94)
    "q145_ann_index",  // the same shapes as q144, through the persisted
                       // index files (query-side assignment + ADC scan)
    "q102_perplexity_filter", // LM normalizers: vocab rows (then token rows)
                       // x broadcast(1-row N/V totals); the LM itself joins
                       // as a broadcast HASH join on the word
    "q104_mixture_weights", // domain rows x broadcast(1-row token total)
    "q105_importance_resample", // same LM-normalizer shape as q102: vocab
                       // and token rows x broadcast(1-row N_r/N_t/V totals)
    "q107_pmi_pairs",  // pair rows x broadcast(1-row N/P normalizers)
    "q109_bm25_topk",  // probe-term postings x broadcast(1-row N/avgdl)
    // q110_pagerank dropped r17: the size-gated driver-local fold returns a
    // LocalTableScan at bench scale — no BNLJ planned (the distributed
    // path's bounded rank x broadcast(1-row) crosses only fire over-gate)
    "q112_vocab_coverage", // LIMIT-bounded top-vocab rows x broadcast(1-row
                       // occurrence total)
    "q113_kl_drift",   // dense slice x vocab grid: DISTINCT slices x
                       // broadcast(LIMIT-500 vocab) — both sides summary-
                       // sized aggregates, never row data
    "q114_chi2_terms", // contingency normalizer: (class, term) count rows
                       // x broadcast(1-row corpus total)
    "q117_drift_windows", // dense window x vocab grid: DISTINCT windows x
                       // broadcast(LIMIT-200 reference cells) + 1-row
                       // n_ref normalizer — summary x artifact, never data
    "q119_ab_test",    // the arm pivot: 1-row control x broadcast(1-row
                       // treatment) — both arm-grain aggregates
    "q127_rfm_segments", // user rows x broadcast(1-row max-ts + 1-row
                       // pivoted quintile edges) — branch-compare binning
    "q128_key_skew"    // summary join: 1-row stats x broadcast(1-row
                       // quantiles) on a constant-folded key
    // (q129's 1-row scorecard crosses left with it, folded round 12)
  )

  test("whitelist: NO query plans CartesianProduct/BNLJ except declared-exact all-pairs") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        val plan = planOf(name)
        val bnlj = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        }
        val cartesian = plan.collect {
          case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        }
        if (declaredExactAllPairs.contains(name))
          assert(bnlj.nonEmpty || cartesian.nonEmpty,
            s"$name is whitelisted as exact all-pairs but plans no cross product — drop it from the list")
        else if (declaredBoundedBroadcast.contains(name)) {
          assert(cartesian.isEmpty,
            s"$name: bounded-broadcast query planned a data x data CartesianProduct")
          assert(bnlj.nonEmpty,
            s"$name is whitelisted as bounded-broadcast but plans no BNLJ — drop it from the list")
        } else {
          assert(bnlj.isEmpty && cartesian.isEmpty,
            s"$name plans an O(n*m) cross join; equi-join it or declare it in a whitelist")
        }
      }
    }
  }

  // Queries whose plan is ALLOWED to read a cached relation, each with the
  // justification for why that cache is safe at 100 TB. Everything else
  // must plan cache-free — a future edit that quietly caches a data-sized
  // frame inside an operator's lineage (the q60 duplicateSpans post-mortem:
  // a block-manager resident set proportional to the corpus) fails here
  // instead of surfacing as executor memory pressure at scale.
  private val declaredCached: Map[String, String] = Map(
    "q16_jaccard_pairs" -> "Dedup shingle projections: one narrow (id, shingles) row per doc, read by both sides of the index join",
    "q17_minhash_candidates" -> "Dedup signature projection: one (id, sig) row per doc, read by both band-join sides",
    "q20_ffill_resample" -> "ohlcvFfill's resampled aggregate: bucket-grain (smaller than input), 4 consumers (grid bounds, grid join, both fill phases)",
    "q27_simhash_pairs" -> "Dedup signature projection (see q17)",
    "q31_ffill_multi_symbol" -> "ohlcvFfill's resampled aggregate (see q20)",
    "q36_verified_near_dups" -> "verifiedNearDups shingle projection: narrow per-doc rows read by candidate generation and both verify sides",
    "q38_sequence_pack" -> "prefixSum chunk totals: ONE summary row per (keys, chunk), read by both carry self-join sides",
    "q53_session_overlap" -> "sessionize lineage read by both self-join sides — its own plan test requires >= 2 InMemoryTableScan",
    "q61_bloom_decontaminate" -> "benchmarkBloom's shingle-distinct: eval-suite-bounded, feeds BOTH the eager bloom-bit collect and the verify join (r14 — was recomputed twice)",
    "q62_contamination_rate" -> "benchmark shingle set: eval-suite-bounded, read by the overlap join and the bloom build",
    "q87_prefix_jaccard" -> "Dedup shingle projections (see q16)",
    // q97_fuzzy_match dropped r16: the blocked route now UNPERSISTS its
    // routing projection (the r15 ADVICE cache-lifecycle fix), so q97
    // plans cache-free — the blocked self-join re-derives the narrow
    // projection lazily on both sides.
    "q18_simhash" -> "plan-identical to simhashCandidates' cached (id, 48-bit sig) projection — once an earlier-sorted query (q133) registers that cache, CacheManager substitutes it here; q18 itself caches nothing (r16 wide-default flip made the subtrees match)",
    "q133_simhash_wide_pairs" -> "Dedup wide-signature projection (see q17)",
    "q135_simhash_anchor_candidates" -> "Dedup signature projection feeding registry build + probe sides")

  test("whitelist: NO query plans an InMemoryTableScan except declared caches") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      // CacheManager matches cached plans by logical subtree across QUERIES:
      // building q20 registers ohlcvFfill's cache, and q03's resample then
      // plans an InMemoryTableScan it never asked for. Start from a clean
      // slate so each query's plan reflects only caches registered by
      // itself or an earlier-sorted query in THIS sweep — deterministic,
      // and every cross-query match still traces to a declared cache site.
      spark.sharedState.cacheManager.clearCache()
      val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        val cached = planOf(name).collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
        }
        if (declaredCached.contains(name) && cached.isEmpty)
          Some(s"$name is whitelisted as cached but plans no InMemoryTableScan — drop it from the list")
        else if (!declaredCached.contains(name) && cached.nonEmpty)
          Some(s"$name plans ${cached.length} InMemoryTableScan(s); justify it in declaredCached or drop the cache")
        else None
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }

  test("q02 range predicate reaches the parquet scan (PushedFilters on raw ts)") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val tree = planOf("q02_range_filter").treeString
      assert(tree.contains("PushedFilters"), tree.take(500))
      assert(tree.contains("GreaterThanOrEqual(ts,"), "ts lower bound not pushed")
      assert(tree.contains("LessThan(ts,"), "ts upper bound not pushed")
    }
  }

  test("q04 grid as-of is a broadcast hash join with no window at all") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val plan = planOf("q04_asof_mtf")
      assert(plan.collect { case w: WindowExec => w }.isEmpty, "unexpected window")
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "ctx side not broadcast")
    }
  }

  test("q13 star query broadcasts both dimension tables") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val joins = planOf("q13_segment_revenue").collect { case j: BroadcastHashJoinExec => j }
      assert(joins.length >= 2, s"expected 2 broadcast joins, got ${joins.length}")
    }
  }

  test("q33 top-k rank filter plans WindowGroupLimit (map-side top-k pushdown)") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val limits = planOf("q33_top_ngrams").collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }
      // Partial (pre-shuffle) and Final mode instances: each map task keeps
      // only its local top-k per group before the exchange
      assert(limits.length >= 2, s"expected partial+final WindowGroupLimit, got ${limits.length}")
    }
  }

  test("q63 KMV top-k plans WindowGroupLimit (sketch never shuffles more than groups x k)") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val limits = planOf("q63_kmv_distinct").collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }
      assert(limits.length >= 2, s"expected partial+final WindowGroupLimit, got ${limits.length}")
    }
  }

  test("q135/q137 route via broadcast registry probes — no pair-generating shuffle join") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      Seq("q135_simhash_anchor_candidates", "q137_incremental_route").foreach { name =>
        val plan = planOf(name)
        val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
        assert(bhj.nonEmpty, s"$name: registry probe should be a broadcast hash join")
        // the whole point of the registry shape: the doc x doc candidate
        // join of the all-pairs pass must not appear — a shuffle join is
        // acceptable ONLY at doc grain (q137's final disposition left
        // join); any shuffle join keyed on the (chunk, v) bucket would
        // mean the registry stopped broadcasting
        val smj = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }
        smj.foreach { j =>
          val keys = (j.leftKeys ++ j.rightKeys).map(_.toString).mkString(",")
          assert(keys.contains("doc_id") && !keys.contains("chunk"),
            s"$name shuffle-joins on non-doc-grain keys: $keys")
        }
      }
    }
  }

  test("q32 PII scrub plans no shuffle except the final output sort") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val exchanges = planOf("q32_pii_scrub").collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // the only exchange is the rangepartitioning for ORDER BY
      assert(exchanges.length <= 1, s"scrub should be flat map work, got ${exchanges.length} shuffles")
      exchanges.foreach(e => assert(
        e.outputPartitioning.toString.toLowerCase.contains("range"),
        s"non-sort shuffle in a per-row op: ${e.outputPartitioning}"))
    }
  }

  test("q24 rollup expands the aggregated intermediate, not the fact table") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val plan = planOf("q24_rollup_revenue")
      val expands = plan.collect { case e: org.apache.spark.sql.execution.ExpandExec => e }
      assert(expands.length === 1)
      // the base-grain hash aggregate must sit BELOW the expand: the expand
      // multiplies ~|groups| rows, never the scan
      val aggBelow = expands.head.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }
      assert(aggBelow.nonEmpty, "Expand consumes the raw scan — rollup is tripling the fact table")
    }
  }

  test("q53 pays sessionize once: both self-join sides scan the cached relation") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val imts = planOf("q53_session_overlap").collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(imts.length >= 2,
        s"expected the sessionize lineage cached and read on both sides, got ${imts.length} InMemoryTableScan")
    }
  }

  test("q55 lake read prunes partitions: symbol/timeframe/year/month reach PartitionFilters") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val scans = planOf("q55_lake_roundtrip").collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "expected a FileSourceScan over the written tree")
      val pf = scans.map(_.partitionFilters.map(_.toString).mkString(" "))
        .find(f => f.contains("symbol") && f.contains("year") && f.contains("month"))
      assert(pf.nonEmpty,
        s"partition predicates did not reach the scan: ${scans.map(_.partitionFilters)}")
    }
  }

  test("q28 exact quantiles plan no ObjectHashAggregate (no per-group value collection)") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      val objAggs = planOf("q28_quantiles").collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      assert(objAggs.isEmpty, "percentile()-style collect-all-values aggregate in the plan")
    }
  }

  test("q89 bucketed join reads co-located: the ONLY exchange is the output sort's") {
    assume(new java.io.File(sf).isDirectory)
    withStaticPlans {
      // planOf triggers the eager bucketed writes (q55-style physical
      // query), then plans the returned join-of-bucketed-scans
      val exchanges = planOf("q89_bucketed_join").collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length <= 1,
        s"bucketed SMJ must not shuffle its sides; found ${exchanges.length} exchanges")
    }
  }
}
