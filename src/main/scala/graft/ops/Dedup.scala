package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection for training-data pipelines: exact hash dedup,
  * word-shingle Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design:
  *  - exact dedup = one hash-aggregate on the content hash (shuffle on a
  *    high-cardinality key; no skew);
  *  - shingle/minhash/simhash signatures are per-row scalar expression work
  *    (codegen'd, no shuffle);
  *  - candidate generation goes through LSH band buckets, so the join is an
  *    equi-join on (band, band_signature) — pairs are only materialized
  *    inside buckets, never the O(n²) cross product. At 100 TB the bucket
  *    join shuffles on band keys; bucket skew (a degenerate band value
  *    shared by millions of docs) is the known failure mode, mitigated by
  *    the `maxBucket`/`maxDf` width caps (rows in buckets wider than the
  *    cap are excluded before the self-join — a ubiquitous bucket carries
  *    ~no similarity signal but O(width²) join cost) + AQE skew handling
  *    for residual imbalance. The caps default high enough to never bind
  *    at oracle-test scale; at 100 TB they are the knob that bounds any
  *    single reducer.
  *
  * Hashes are portable polynomial hashes (same arithmetic expressible in
  * any engine / the DuckDB oracle) rather than engine-internal xxhash64.
  *
  * Incremental faces — the standing state a daily pipeline PERSISTS so
  * day-2 work is O(new batch), never O(corpus): [[simhashBucketRegistrySigs]]
  * (routing registry; [[mergeBucketRegistries]] folds day deltas in),
  * [[simhashRoute]] (disposition new docs against it), and
  * [[incrementalClusters]] (fold verified pairs into the persisted
  * component table, == rebuild by graph contraction). The full batch
  * passes remain the periodic reconcilers — the lake's live-view /
  * batch-repair split.
  *
  * Cache lifecycle: the candidate generators `.cache()` their signature
  * projection because it feeds both sides of a self-join (without it the
  * whole scan+sign pipeline runs twice). The cache lives until Spark's LRU
  * evicts it (storage level MEMORY_AND_DISK) — a long-lived service issuing
  * many dedup jobs on different inputs should `unpersist` via
  * `spark.catalog.clearCache()` between jobs, or materialize the output and
  * release the plan.
  */
object Dedup {

  val P: Long = 1000000007L

  /** Corpus size where two-half MIH blocking overtakes 12-bit chunk
    * blocking for wide (>32-bit) signatures — the measured same-phase A/B
    * crossover (PLANS.md round 13: chunk 0.56/0.85/5.82 s vs MIH
    * 1.20/1.59/5.52 s at sf0.1/0.3/1, exp 1.02 vs 0.66 over the decade).
    * [[simhashCandidates]] routes wide corpora at or above this to MIH.
    */
  val MihCrossoverDocs: Long = 50000L

  /** Default SimHash signature width for every pipeline entry point
    * ([[simhash]], the registry/route/candidate faces, `Cli dedup-build`'s
    * persisted standing state). 48 since r16 — a 32-bit signature
    * saturates by birthday collision at LLM-corpus doc counts (≫ 2³²):
    * the n²/2^(bits/4) candidate term bit measurably at the triple-decade
    * gate (q27's sf3 exponent 1.43 at 32 bits vs 0.69 at 48, PLANS.md
    * round 15), and at 100 TB the 32-bit keyspace (4·2⁸ chunk buckets)
    * concentrates real text into quadratic buckets. 48 bits keeps the
    * 4-chunk ≤3-hamming pigeonhole with 2¹²-value chunks (16× smaller
    * buckets) and routes to MIH two-half blocking past
    * [[MihCrossoverDocs]]. The legacy 32-bit layout stays available by
    * explicit argument (q27 pins it as the oracle-parity contract), and
    * pre-r16 persisted states keep routing at their recorded width via
    * [[DedupState.sigBits]]'s migration guard.
    */
  val DefaultSimhashBits: Int = 48

  /** Corpus size where the same-length PassJoin overtakes the blocked
    * all-pairs join in [[fuzzyPairs]]' default-length-blocking mode ON
    * HIGH-ENTROPY corpora — the measured same-phase A/B crossover
    * (PLANS.md round 15, entropy corpus: blocked/segmented
    * 0.29/0.36 s at 2k rows, 0.69/0.34 at 4k, 37.9/0.53 at 32k — blocked
    * is block-quadratic, segmented flat). Routing ALSO requires the
    * [[segmentEntropyOk]] degeneracy probe: on shared-prefix corpora
    * (the supplier corpus) the constant segments make PassJoin candidates
    * corpus-quadratic ×15 multiplicity and it NEVER wins (measured ~9×
    * slower at every size) — there the blocked join remains optimal and
    * the quadratic cost is the corpus's true pairwise similarity, which
    * no exact method can block away.
    */
  val FuzzyCrossoverRows: Long = 3000L

  /** Max tolerated Σᵢ(mean segment-bucket width) relative to n for the
    * PassJoin route: segmented candidate work is ~Σᵢ n·wᵢ·(probe
    * multiplicity), blocked is ~n²/2, so segmented needs Σwᵢ ≪ n. n/16
    * keeps an order-of-magnitude safety margin over the ~15× probe
    * multiplicity at d=2 (both A/B shapes sit far from the boundary:
    * entropy Σw ≈ 3, supplier Σw ≥ n).
    */
  private val FuzzySegWidthFrac: Double = 1.0 / 16.0

  /** One-row aggregate over the k index segments' approx distinct counts:
    * true when every segment family is selective enough that segment-
    * agreement candidates stay far below the blocked join's n²/2 — the
    * [[fuzzyPairs]] router's degeneracy probe (a shared constant prefix
    * collapses a segment to ONE bucket and PassJoin to a slower
    * quadratic). Costs one small scan-aggregate; it runs only past
    * [[FuzzyCrossoverRows]], where the pair join it guards dwarfs it.
    */
  private def segmentEntropyOk(base: DataFrame, k: Int, n: Long): Boolean = {
    val aggs = (0 until k).map(i => approx_count_distinct(expr(
      s"substring(_s, ${segPosSql(k, "_len", i.toString)} + 1, ${segLenSql(k, "_len", i.toString)})")).as(s"_d$i"))
    val r = base.agg(aggs.head, aggs.tail: _*).head()
    val sumWidth = (0 until k).map(i => n.toDouble / math.max(1L, r.getLong(i))).sum
    sumWidth <= n * FuzzySegWidthFrac
  }

  /** Largest over-cap bucket-key list the simhash candidate generators
    * inline as `isin(...)` literals. Over-cap keys number at most
    * n/maxBucket, so the COLLECT is always driver-safe — but past a few
    * thousand keys the literal list itself becomes the problem (a ~10⁵-
    * entry In expression at 10¹⁰ docs blows up plan size and codegen), so
    * above this cap both generators switch to the scale-safe form: the
    * dropped keys become a broadcast DataFrame and survival is decided by
    * a broadcast LEFT ANTI join (MIH) / a broadcast-joined per-doc
    * survived-chunk bitmask (chunked — its first-surviving-match emission
    * rule needs every chunk's survival, not just the joined one). Same
    * semantics either side of the cap, pinned by DedupCapSpec.
    */
  val InlineKeyCap: Int = 4096

  /** The ONE cap-policy builder both simhash candidate generators share
    * (they differ only in blocking grain): over-cap bucket keys from
    * `buckets` grouped by `groupCols`, keyed by `keyOfGroup`. None = no
    * cap binds; Left(keys) = inline isin literals (≤ [[InlineKeyCap]]);
    * Right(frame) = broadcast-join form over the collected keys past the
    * inline cap.
    */
  private def capForm(buckets: DataFrame, groupCols: Seq[Column],
                      keyOfGroup: Column, maxBucket: Int): Option[Either[Seq[Long], DataFrame]] =
    if (maxBucket <= 0) None
    else {
      val keys = buckets.groupBy(groupCols: _*)
        .agg(count(lit(1)).as("_bw")).where(col("_bw") > maxBucket)
        .select(keyOfGroup.as("_dropped_k"))
        .collect().map(_.getLong(0)).toSeq
      if (keys.isEmpty) None
      else if (keys.size <= InlineKeyCap) Some(Left(keys))
      else {
        val spark = buckets.sparkSession
        import spark.implicits._
        Some(Right(keys.toDF("_dropped_k")))
      }
    }

  /** Deterministic per-function mixing constants for k hash functions. */
  def mixConsts(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (2L * i + 3L, 1442695040888963407L % P * (i + 1) % P))

  /** Distinct word n-gram shingles per doc: (id, shingle) rows. Produced by
    * the native [[graft.functions.WordShingles]] kernel — per-row map work,
    * NO shuffle (an earlier relational form needed posexplode + a per-doc
    * window + distinct, i.e. a sort and a shuffle of every token at scale).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.TextFunctions.wordShingles(col(textCol), n)).as("shingle"))

  /** Polynomial hash of a shingle string (portable). */
  def shingleHash(c: Column): Column = TextAnalysis.fingerprint(c)

  /** MinHash signatures, wide form: (id, sig array<long> of length k).
    * sig(i) = min((h*a_i + b_i) mod P) over the doc's shingles — computed as
    * k min-aggregates in ONE hash aggregation keyed on id (no k-way row
    * explosion; partial aggregation runs map-side).
    */
  def minhashSignature(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val consts = mixConsts(k)
    val hashed = sh.withColumn("_h", shingleHash(col("shingle")))
    val aggs = consts.zipWithIndex.map { case ((a, b), i) =>
      min((col("_h") * a + b) % P).as(s"_m$i")
    }
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** Exclude rows in buckets wider than `cap`. Shape: aggregate the bucket
    * widths (map-side partial combine, shuffle carries one row per DISTINCT
    * bucket), keep only the over-cap buckets — at most n/cap of them — and
    * anti-join them out. An earlier form used a count window over the
    * bucket key, which sorted every exploded row; this ships only the
    * (usually empty) degenerate bucket list. The broadcast-vs-shuffle
    * choice for the anti-join is left to AQE: n/cap is tiny in the typical
    * case but NOT bounded in absolute terms (a web-scale posting table with
    * a small cap can have millions of over-cap buckets), so forcing a
    * broadcast would trade the window's sort cost for a driver OOM.
    */
  private def capBucket(df: DataFrame, bucketCols: Seq[String], cap: Int): DataFrame = {
    if (cap <= 0) df
    else {
      val wide = df.groupBy(bucketCols.map(col): _*)
        .agg(count(lit(1)).as("_bw"))
        .where(col("_bw") > cap)
        .drop("_bw")
      df.join(wide, bucketCols, "left_anti")
    }
  }

  /** LSH candidate pairs: docs sharing at least one identical band of the
    * MinHash signature (k hashes, `bands` bands of k/bands rows). Pair
    * output is (id_a < id_b) distinct. Buckets wider than `maxBucket` are
    * dropped (degenerate-band skew cap; see object scaladoc).
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 16, bands: Int = 4,
                        maxBucket: Int = 100000): DataFrame = {
    // a non-dividing bands would silently DROP the trailing k % bands
    // hashes — the effective scheme (and its recall curve) would not be
    // the one the parameters imply; fail loudly instead
    require(bands >= 1 && k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val sig = minhashSignature(shingles(docs, idCol, textCol, n), idCol, k)
    // band signature: ordered fold over the band's slice of the signature —
    // per-row expression work, no extra shuffle
    val banded = sig.select(
      col(idCol),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          aggregate(slice(col("sig"), b * rows + 1, rows), lit(0L),
            (acc, m) => (acc * 31L + m % P) % P).as("band_sig"))): _*)).as("_b"))
      .select(col(idCol), col("_b.band").as("band"), col("_b.band_sig").as("band_sig"))
    val capped = capBucket(banded, Seq("band", "band_sig"), maxBucket)
      .cache() // self-joined below: avoid recomputing the signature aggregation
    val a = capped.select(col(idCol).as("id_a"), col("band"), col("band_sig"))
    val b = capped.select(col(idCol).as("id_b"), col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact word-shingle Jaccard similarity for all pairs sharing >= 1
    * shingle (inverted-index join — never the cross product).
    *
    * `maxDf` caps the inverted-index posting-list width: shingles present in
    * more than `maxDf` docs are excluded from BOTH candidate generation and
    * the intersection counts (a stopword-like shingle shared by millions of
    * docs would otherwise pin one reducer with an O(df²) pair explosion).
    * When the cap binds, jaccard is biased low for pairs whose overlap is
    * mostly ubiquitous shingles — the standard recall/robustness trade; the
    * default never binds at oracle-test scale, keeping the result exact.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDf: Int = 100000): DataFrame = {
    val arr = docs.select(col(idCol),
      graft.functions.TextFunctions.wordShingles(col(textCol), n).as("_arr"))
      .cache() // feeds the inverted index AND the per-doc sizes (see object
               // scaladoc for the cache lifecycle)
    val sh0 = arr.select(col(idCol), explode(col("_arr")).as("shingle"))
    val sh = capBucket(sh0, Seq("shingle"), maxDf)
    // per-doc shingle counts come straight off the array: no shuffle
    val sizes = arr.select(col(idCol), size(col("_arr")).cast("long").as("sz"))
    val a = sh.select(col(idCol).as("id_a"), col("shingle"))
    val b = sh.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, "shingle").where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
  }

  /** Exact-threshold Jaccard pairs through PREFIX FILTERING (Chaudhuri et
    * al. SSJoin 2006 / Bayardo et al. "Scaling Up All Pairs" 2007) — the
    * 100 TB twin of [[jaccardPairs]], same output, far smaller join.
    *
    * [[jaccardPairs]] joins the FULL inverted index: every shared shingle
    * of every pair becomes a join row, at any threshold. Prefix filtering
    * uses the classic completeness theorem: order every doc's shingles by
    * one global canonical order (rarest first — ascending document
    * frequency, shingle text as tiebreak) and keep only the first
    * |r| − ⌈t·|r|⌉ + 1 as join keys; any pair with Jaccard ≥ t MUST share
    * a prefix shingle, so joining prefixes loses nothing, while at t=0.5
    * half of every posting disappears — and it is the COMMON (stopword-
    * like, widest-posting) shingles that drop out of the index first,
    * exactly the ones whose posting lists explode the full join. The
    * ⌈·⌉ uses scaled-integer arithmetic (threshold in basis points), so
    * prefix lengths are exact — no float edge can shorten a prefix and
    * silently lose a pair.
    *
    * Candidates then verify EXACTLY: intersection counts are recomputed
    * from the full postings restricted to candidate pairs (candidate-
    * bounded work, like [[verifiedNearDups]]), so the output is
    * bit-identical to [[jaccardPairs]] at the same threshold — q87 gates
    * that equality against the q16-family DuckDB oracle.
    *
    * Stages, tuned head-to-head against [[jaccardPairs]] at sf0.1:
    * document frequency and prefix length both come from WINDOWS over the
    * exploded shingles (one shingle-keyed + one doc-keyed shuffle — no
    * groupBy+join round trips), and candidates verify by
    * `array_intersect` on the two cached shingle ARRAYS (two
    * candidate-bounded joins + per-row expression work) instead of
    * re-joining the full posting lists. The only data-sized stages are
    * the two windows; the pair join runs on prefixes only.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0, "need 0 < threshold < 1")
    // basis points, FLOORED — rounding could round UP (t = 2/3 -> 6667 >
    // t·10000), making every prefix/length/positional filter STRICTER than
    // the true threshold and silently dropping qualifying pairs. Flooring
    // only loosens the (provably lossless at exact t) filters: a few extra
    // candidates reach the exact verify below, which decides membership.
    val tBp = (threshold * 10000).toInt
    val arr = docs.select(col(idCol),
      graft.functions.TextFunctions.wordShingles(col(textCol), n).as("_arr"))
      .cache() // feeds index and verify (object cache convention)
    val sh = arr.select(col(idCol), explode(col("_arr")).as("shingle"))
    // prefix = the (sz - ceil(t*sz) + 1) rarest shingles per doc; integer
    // ceil on basis points: ceil(t*sz) = (tBp*sz + 9999) DIV 10000. Both
    // per-doc windows share one doc-keyed Exchange.
    val wsh = Window.partitionBy(col("shingle"))
    val wdoc = Window.partitionBy(col(idCol))
    val wd = wdoc.orderBy(col("_df"), col("shingle"))
    val prefix = sh
      .withColumn("_df", count(lit(1)).over(wsh))
      .withColumn("_sz", count(lit(1)).over(wdoc))
      .withColumn("_rn", row_number().over(wd))
      .where(col("_rn") <=
        col("_sz") - expr(s"($tBp * _sz + 9999) DIV 10000") + lit(1L))
      .select(col(idCol), col("shingle"), col("_rn"), col("_sz"))
    // PPJoin-style candidate pruning (Xiao et al. 2008), both provably
    // lossless for Jaccard >= t: (1) LENGTH filter — J >= t forces
    // t·|a| <= |b| <= |a|/t; (2) POSITIONAL filter — a pair first meeting
    // at prefix positions (pa, pb) can overlap at most
    // 1 + min(|a|-pa, |b|-pb), which must reach the required overlap
    // ceil(t/(1+t)·(|a|+|b|)). Both in exact basis-point arithmetic.
    // Measured at sf0.1: 409k -> 125k candidates, verify cost ~halved.
    val pa = prefix.select(col(idCol).as("id_a"), col("shingle"),
      col("_rn").as("_rn_a"), col("_sz").as("_sz_a"))
    val pb = prefix.select(col(idCol).as("id_b"), col("shingle"),
      col("_rn").as("_rn_b"), col("_sz").as("_sz_b"))
    val cand = pa.join(pb, "shingle")
      .where(col("id_a") < col("id_b"))
      .where(col("_sz_b") * 10000 >= col("_sz_a") * tBp &&
        col("_sz_a") * 10000 >= col("_sz_b") * tBp)
      .where(least(col("_sz_a") - col("_rn_a"), col("_sz_b") - col("_rn_b")) + 1 >=
        expr(s"($tBp * (_sz_a + _sz_b) + ${10000 + tBp} - 1) DIV ${10000 + tBp}"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(arr.select(col(idCol).as("id_a"), col("_arr").as("_arr_a")), "id_a")
      .join(arr.select(col(idCol).as("id_b"), col("_arr").as("_arr_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("_arr_a"), col("_arr_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("_arr_a")).cast("long") + size(col("_arr_b")).cast("long")
            - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
  }

  /** Blocked fuzzy-match pairs by edit distance — the entity-resolution
    * join ("Supplier#000000001" vs "Supplier#000000010") that exact keys
    * and token-set similarity both miss. See [[fuzzyPairsSegmented]] for
    * the EXACT (no recall loss, insert/delete-covering) PassJoin form —
    * this heuristic-blocking form remains for corpora where a
    * high-entropy blockKey is acceptable and cheaper.
    *
    * Classic blocking: candidates form only WITHIN a block key (default:
    * string length — a pair at distance <= maxDist can differ by at most
    * maxDist in length, so same-length blocking catches the substitution-
    * only matches; pass a phonetic/q-gram key for higher recall — any
    * blocking is recall-lossy by design and the key's selectivity is what
    * distributes the pair join at scale). With default length blocking
    * the op is SIZE-ADAPTIVE (r15): at or above [[FuzzyCrossoverRows]]
    * rows the identical same-length pair set is generated by the
    * same-length PassJoin (segment agreement prunes inside a length
    * block, where the blocked join is quadratic). The route comes from
    * the input itself: construction runs the row count, and past the
    * crossover a one-row segment-entropy aggregate too (a blind route onto
    * a degenerate corpus would cost 10× the probe). Verification uses Spark's
    * THRESHOLDED levenshtein (early-exits the DP past maxDist — the
    * standard banded-DP trick, returns -1 beyond), which equals the full
    * distance whenever it qualifies, so the emitted distances are exact
    * integers and oracle-portable.
    *
    * Output: (id_a, id_b, dist) with 0 <= dist <= maxDist, id_a < id_b.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 maxDist: Int, blockKey: Option[Column] = None): DataFrame = {
    require(maxDist >= 0, "need maxDist >= 0")
    // SIZE-ADAPTIVE routing (r15, the q133/MihCrossoverDocs pattern): with
    // default length blocking the all-pairs-within-a-length-block join is
    // quadratic in the block width (measured exp 1.44 over sf0.1→sf1 on
    // the supplier corpus, whose names share ONE length) — past the
    // measured crossover AND the segment-entropy probe, the identical
    // pair set comes from the same-length PassJoin instead (flat where
    // blocked is quadratic on high-entropy corpora; see FuzzyCrossoverRows
    // for both A/B tables — degenerate shared-prefix corpora stay
    // blocked, where they are ~9x cheaper). Both forms are exact within
    // same-length pairs, so routing changes cost, never results. The
    // count() runs on a cached projection that the PassJoin route keeps
    // and the blocked route releases (see the cache-lifecycle note
    // below); past the crossover the one-row entropy aggregate runs on
    // it too — a blind route onto a degenerate corpus would cost 10x
    // the probe.
    // Custom blockKeys always take the blocked join: the caller chose the
    // blocking entropy, and a phonetic/q-gram key has no PassJoin twin.
    if (blockKey.isEmpty && maxDist >= 1 && maxDist <= 4) {
      val proj = df.where(col(strCol).isNotNull)
        .select(col(idCol).as("_id"), col(strCol).as("_s"),
          length(col(strCol)).as("_len"))
      // Cache only while the ROUTING jobs (count + entropy probe) need to
      // re-scan the projection, and let the winner decide its fate (r15
      // ADVICE — the unconditional .cache() pinned one projection per call
      // in long-lived sessions, released only by the object-level
      // clearCache convention):
      //  - PassJoin route keeps the cache: index and probe sides read it
      //    twice inside one plan;
      //  - the blocked route unpersists it — the projection is
      //    re-derivable and the blocked self-join re-derives it lazily.
      val cached = proj.cache()
      val n = cached.count()
      if (n >= FuzzyCrossoverRows && segmentEntropyOk(cached, maxDist + 1, n))
        fuzzyPairsSameLength(cached, maxDist)
      else {
        cached.unpersist()
        blockedFuzzyPairs(proj.select(col("_id"), col("_s"),
          col("_len").as("_blk")), maxDist)
      }
    } else {
      val key = blockKey.getOrElse(length(col(strCol)))
      blockedFuzzyPairs(df.select(col(idCol).as("_id"), col(strCol).as("_s"),
        key.as("_blk")), maxDist)
    }
  }

  private[graft] def blockedFuzzyPairs(base: DataFrame, maxDist: Int): DataFrame = {
    val a = base.select(col("_id").as("id_a"), col("_s").as("_sa"), col("_blk"))
    val b = base.select(col("_id").as("id_b"), col("_s").as("_sb"), col("_blk"))
    a.join(b, "_blk")
      .where(col("id_a") < col("id_b"))
      .withColumn("dist", expr(s"levenshtein(_sa, _sb, $maxDist)").cast("long"))
      .where(col("dist") >= 0L && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Same-length PassJoin: [[fuzzyPairsSegmented]]'s machinery with the
    * probe side's source-length range pinned to the probe string's OWN
    * length, so candidates form only between equal-length strings — the
    * exact pair set of default-length-blocked [[fuzzyPairs]] (pigeonhole
    * still needs the ±maxDist segment-position shifts: same-length pairs
    * at distance d can involve insert+delete combos that displace
    * segments). Input must have (_id, _s, _len).
    */
  private[graft] def fuzzyPairsSameLength(base: DataFrame, maxDist: Int): DataFrame = {
    val k = maxDist + 1
    val idx = segIndexSide(base, k, "id_a", "_sa")
    val probe = segProbeSide(base, k, maxDist, "id_b", "_sb",
      sameLengthOnly = true)
    idx.join(probe, Seq("_ls", "_i", "_sub"))
      .where(col("id_a") < col("id_b"))
      .withColumn("dist", expr(s"levenshtein(_sa, _sb, $maxDist)").cast("long"))
      .where(col("dist") >= 0L && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .distinct()
  }

  /** Anchor-candidate routing over the SimHash bucket registry: for every
    * document and each of its 4 blocking buckets, the pair (doc, bucket
    * anchor = the bucket's min id) with its true hamming distance, kept
    * when <= maxHamming — the candidate LOOKUP an incremental near-dup
    * pipeline serves per new document against the standing
    * [[simhashBucketRegistry]] (vs [[simhashCandidates]]' all-pairs-in-
    * bucket join, this is the O(1)-candidates-per-doc form a streaming
    * ingest wants: each doc is verified against at most 4 anchors).
    * `streaming.DedupStream.anchorCandidates` maintains the same emission
    * live with two-longs-per-bucket state.
    *
    * Scale shape: one fixed-keyspace aggregate (4·2^(bits/4) rows — 16384
    * at the 48-bit default, 1024 at the legacy 32), broadcast
    * back onto the chunk table, per-row hamming verify — no pair shuffle
    * at all. Recall is anchors-only BY DESIGN: pairs between two
    * non-anchor members surface when the batch layer runs the full
    * [[simhashCandidates]] pass, the same live-view/batch-repair split as
    * the candle lake.
    *
    * Output: (doc_id, anchor_id, hamming), doc != anchor, distinct.
    */
  def simhashAnchorCandidates(docs: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int = 3,
                              bits: Int = DefaultSimhashBits): DataFrame = {
    require(bits % 4 == 0, "bits must split into 4 equal chunks")
    val chunks = 4
    val chunkBits = bits / 4
    val mask = (1L << chunkBits) - 1L
    // cached: feeds the registry aggregate, the probe side, AND the
    // anchor-signature lookup — without it the scan+sign pipeline runs
    // three times (the object's round-1 q27 convention for self-joined
    // signature projections)
    val sigs = docs.select(col(idCol).as("doc_id"),
      simhash(col(textCol), bits).as("_sig")).cache()
    val chunked = sigs.select(col("doc_id"), col("_sig"),
      explode(array((0 until chunks).map(c =>
        struct(lit(c.toLong).as("chunk"),
          shiftright(col("_sig"), c * chunkBits).bitwiseAND(mask).as("v"))): _*)).as("_c"))
      .select(col("doc_id"), col("_sig"), col("_c.chunk"), col("_c.v"))
    val registry = chunked.groupBy(col("chunk"), col("v"))
      .agg(min(col("doc_id")).as("anchor_id"))
      .join(sigs.select(col("doc_id").as("anchor_id"), col("_sig").as("_asig")),
        "anchor_id")
    chunked.join(broadcast(registry), Seq("chunk", "v"))
      .where(col("doc_id") =!= col("anchor_id"))
      .select(col("doc_id"), col("anchor_id"),
        hamming(col("_sig"), col("_asig")).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** [[simhashBucketRegistry]] extended with each anchor's signature —
    * the standing table an incremental ingest PERSISTS so new documents
    * can be routed ([[simhashRoute]]) without touching the day-1 corpus
    * again. Still keyspace-bounded forever (16384 rows at the 48-bit
    * default, 1024 at the legacy 32; 4·2^(bits/4) in general).
    *
    * Output: (chunk, v, anchor_id, anchor_sig, n_docs).
    */
  def simhashBucketRegistrySigs(docs: DataFrame, idCol: String,
                                textCol: String,
                                bits: Int = DefaultSimhashBits): DataFrame = {
    val sigs = docs.select(col(idCol).as("anchor_id"),
      simhash(col(textCol), bits).as("anchor_sig"))
    simhashBucketRegistry(docs, idCol, textCol, bits)
      .join(sigs, "anchor_id")
      .select(col("chunk"), col("v"), col("anchor_id"), col("anchor_sig"),
        col("n_docs"))
  }

  /** Exact n-gram-Jaccard verification of ROUTED candidate pairs — the
    * shared verify stage of the incremental chain (q139's day-2 verify and
    * `Cli dedup-ingest`), candidate-bounded exactly like
    * [[verifiedNearDups]]' verify: each (doc, anchor) pair joins to the
    * two sides' shingle ARRAYS and intersects per-row.
    *
    * Docs with FEWER than n words shingle to an empty array; such a pair
    * has a 0/0 jaccard, and both engines order NaN above every threshold —
    * a vacuous pass. The relational oracle form (inner join on the shingle
    * TABLE) instead drops those pairs outright, so this helper filters
    * empty-shingle sides explicitly: one definition of "verified", shared
    * by every caller, matching the oracle's inner-join semantics.
    *
    * Output: (id_a, id_b) with id_a < id_b, distinct at the caller's
    * grain (routed input is one best-anchor row per doc).
    */
  def verifyRoutedPairs(routed: DataFrame, left: DataFrame, right: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.1): DataFrame = {
    def sh(d: DataFrame) = d.select(col(idCol).as("doc_id"),
      graft.functions.TextFunctions.wordShingles(col(textCol), n).as("_arr"))
    routed
      .join(sh(left).select(col("doc_id"), col("_arr").as("_arr_d")), "doc_id")
      .join(sh(right).select(col("doc_id").as("best_anchor"),
        col("_arr").as("_arr_a")), "best_anchor")
      .where(size(col("_arr_d")) > 0 && size(col("_arr_a")) > 0)
      .withColumn("inter",
        size(array_intersect(col("_arr_d"), col("_arr_a"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("_arr_d")) + size(col("_arr_a")) - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select(least(col("doc_id"), col("best_anchor")).as("id_a"),
        greatest(col("doc_id"), col("best_anchor")).as("id_b"))
  }

  /** Merge two [[simhashBucketRegistrySigs]] registries WITHOUT touching
    * either corpus — the registry's own incremental-maintenance face: a
    * day-2 delta registry (built from day-2 docs only) folds into the
    * persisted day-1 registry by pure aggregation, because both fields are
    * commutative monoids per bucket: anchor = min doc id (carrying its
    * signature via the struct-min trick) and n_docs = sum. Bit-identical
    * to rebuilding from the unioned corpus (anchor signatures depend only
    * on the anchor's own text), so merge(reg(A), reg(B)) == reg(A ∪ B) —
    * the same lossless-fold property as the KMV (q122) and
    * sample-quantile (q131) states, spec-gated in IncrementalDedupSpec.
    * Associative: day-3 folds into the result the same way.
    *
    * PRECONDITION for the n_docs identity: the two registries' corpora are
    * DISJOINT (the normal day-delta case — each doc is ingested once).
    * Under overlap (a backfill replay re-ingesting day-1 docs) anchors and
    * signatures remain exactly correct (min is idempotent), but n_docs
    * counts the overlapping docs once per registry — dedupe the input
    * batches (q07 / dropDuplicatesWithinWatermark) before registering if
    * the population field feeds a saturation metric.
    */
  def mergeBucketRegistries(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("chunk"), col("v"))
      .agg(min(struct(col("anchor_id"), col("anchor_sig"))).as("_a"),
        sum(col("n_docs")).as("n_docs"))
      .select(col("chunk"), col("v"), col("_a.anchor_id").as("anchor_id"),
        col("_a.anchor_sig").as("anchor_sig"), col("n_docs"))

  /** Incremental-ingest routing: disposition a batch of NEW documents
    * against a persisted day-1 [[simhashBucketRegistrySigs]] registry —
    * per new doc, whether any of its 4 bucket anchors is within
    * `maxHamming` (near-dup of known content) and the best such anchor
    * (smallest hamming, then smallest anchor id). The day-1 corpus is
    * never re-read: the whole decision is sign + explode + ONE broadcast
    * equi-join against a keyspace-bounded artifact (≤ 16384 rows at the
    * 48-bit default) + a doc-grain aggregate —
    * the O(new batch) daily cost that makes dedup incremental at 100 TB,
    * with the full batch pass as the periodic reconciler.
    *
    * Output: (doc_id, is_dup 0/1, best_anchor nullable, best_hamming
    * nullable) — one row per NEW doc.
    */
  def simhashRoute(newDocs: DataFrame, idCol: String, textCol: String,
                   registry: DataFrame, maxHamming: Int = 3,
                   bits: Int = DefaultSimhashBits): DataFrame = {
    require(bits % 4 == 0, "bits must split into 4 equal chunks")
    val chunks = 4
    val chunkBits = bits / 4
    val mask = (1L << chunkBits) - 1L
    val sigs = newDocs.select(col(idCol).as("doc_id"),
      simhash(col(textCol), bits).as("_sig"))
    val chunked = sigs.select(col("doc_id"), col("_sig"),
      explode(array((0 until chunks).map(c =>
        struct(lit(c.toLong).as("chunk"),
          shiftright(col("_sig"), c * chunkBits).bitwiseAND(mask).as("v"))): _*)).as("_c"))
      .select(col("doc_id"), col("_sig"), col("_c.chunk"), col("_c.v"))
    val best = chunked
      .join(broadcast(registry.select(col("chunk"), col("v"),
        col("anchor_id"), col("anchor_sig"))), Seq("chunk", "v"))
      // self-exclusion: when the registry was built over a corpus that
      // INCLUDES the routed batch (the within-batch dedup pass — route
      // against merge(old, delta) so same-day duplicates are caught), a
      // doc that became its bucket's anchor must not route to itself.
      // No-op for the disjoint day-1/day-2 case (q137's oracle).
      .where(col("doc_id") =!= col("anchor_id"))
      .withColumn("_h", hamming(col("_sig"), col("anchor_sig")).cast("long"))
      .where(col("_h") <= maxHamming)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("_h"), col("anchor_id"))).as("_b"))
      .select(col("doc_id"), col("_b._h").as("best_hamming"),
        col("_b.anchor_id").as("best_anchor"))
    sigs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("best_anchor").isNotNull, 1L).otherwise(0L).as("is_dup"),
        col("best_anchor"), col("best_hamming"))
  }

  /** Segment-indexed EXACT edit-distance self-join (the PassJoin scheme:
    * Li, Deng & Feng, "PASS-JOIN: a partition-based method for similarity
    * joins", VLDB 2012): every string is split into `maxDist`+1 contiguous
    * segments; by pigeonhole, any pair within edit distance d must agree
    * EXACTLY on at least one segment, at a start position shifted by at
    * most d — so candidates come from an equi-join on (source length,
    * segment index, segment text) between each string's segments and every
    * ±d-shifted same-length substring of the other strings, and the
    * thresholded-levenshtein verification runs only on those.
    *
    * Unlike [[fuzzyPairs]] (same-length blocking only — substitution
    * matches), this finds ALL pairs with |len diff| <= d including
    * insert/delete shifts, with NO recall loss: completeness is the
    * pigeonhole lemma, not a blocking heuristic (PropertySpec asserts
    * equality with brute-force all-pairs across seeded indel/substitution
    * corpora).
    *
    * Scale shape: per string the probe side emits ≤ (2d+1)·(d+1)·(2d+1)
    * keys (75 at d=2, deduped before the join) — a constant fan-out, then
    * one equi-join whose candidate count tracks TRUE segment agreement.
    * On realistic name corpora (differences spread across the string)
    * candidates stay near-linear; a corpus sharing one long constant
    * prefix degenerates to the prefix-segment bucket (= the data's real
    * pairwise similarity — no exact method can block what genuinely
    * matches; cap or switch to a recall-lossy entropy blockKey via
    * [[fuzzyPairs]] when that is acceptable).
    *
    * Output: (id_a, id_b, dist), 0 <= dist <= maxDist, id_a < id_b.
    */
  def fuzzyPairsSegmented(df: DataFrame, idCol: String, strCol: String,
                          maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 4, "need 1 <= maxDist <= 4")
    val k = maxDist + 1
    val base = df.where(col(strCol).isNotNull)
      .select(col(idCol).as("_id"), col(strCol).as("_s"),
        length(col(strCol)).as("_len"))
    val idx = segIndexSide(base, k, "id_a", "_sa")
    val probe = segProbeSide(base, k, maxDist, "id_b", "_sb")
    // VERIFY BEFORE DEDUPE (round 13): a pair can agree on several
    // (segment, shift) keys — bounded multiplicity, ≤ (d+1)·(2d+1) = 15 at
    // d=2 — so the candidate stream needs a distinct(). Running the
    // thresholded levenshtein FIRST (codegen'd, banded with early exit —
    // cheap even ×15) and deduping the NARROW (id_a, id_b, dist) triple
    // afterwards shuffles 24-byte rows instead of full string pairs, and
    // any candidate failing the distance threshold dies BEFORE the
    // exchange. Measured at the sf1 gate shape (PLANS.md round 13):
    // −26% shuffle-write bytes, wall-neutral there because the adversarial
    // all-pairs-similar corpus passes ~every candidate; on a realistic
    // corpus — where most segment agreements are NOT matches — the
    // pre-exchange kill is the dominant effect.
    idx.join(probe, Seq("_ls", "_i", "_sub"))
      .where(col("id_a") =!= col("id_b"))
      .withColumn("dist", expr(s"levenshtein(_sa, _sb, $maxDist)").cast("long"))
      .where(col("dist") >= 0L && col("dist") <= maxDist)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
      .distinct()
  }

  // segment i of a length-L string: the first k - L%k segments get
  // floor(L/k) chars, the rest one extra; start = i*floor + overflow
  private def segLenSql(k: Int, ls: String, i: String) =
    s"(($ls) div $k) + (CASE WHEN ($i) >= $k - (($ls) % $k) THEN 1 ELSE 0 END)"
  private def segPosSql(k: Int, ls: String, i: String) =
    s"(($i) * (($ls) div $k) + greatest(0, ($i) - ($k - (($ls) % $k))))"

  /** Index side of the PassJoin: each string's k segments, keyed
    * (_ls = own length, _i = segment index, _sub = segment text).
    * Input must have columns (_id, _s, _len).
    */
  private def segIndexSide(base: DataFrame, k: Int, idOut: String,
                           strOut: String): DataFrame =
    base.select(col("_id").as(idOut), col("_s").as(strOut),
      col("_len").as("_ls"),
      explode(expr(s"""transform(sequence(0, ${k - 1}), i -> named_struct(
        'i', i, 'sub', substring(_s, ${segPosSql(k, "_len", "i")} + 1, ${segLenSql(k, "_len", "i")})))""")).as("_g"))
      .select(col(idOut), col(strOut), col("_ls"),
        col("_g.i").as("_i"), col("_g.sub").as("_sub"))

  /** Probe side of the PassJoin: for every candidate source length within
    * ±maxDist (or the string's own length only, when `sameLengthOnly` —
    * the [[fuzzyPairs]] same-length route, 1/(2·maxDist+1) of the probe
    * fan-out) and segment index, each ±maxDist-shifted same-length
    * substring of the string, deduped. Input must have (_id, _s, _len).
    */
  private def segProbeSide(base: DataFrame, k: Int, maxDist: Int,
                           idOut: String, strOut: String,
                           sameLengthOnly: Boolean = false): DataFrame = {
    val lsRange =
      if (sameLengthOnly) "sequence(_len, _len)"
      else s"sequence(greatest(_len - $maxDist, 0), _len + $maxDist)"
    base.select(col("_id").as(idOut), col("_s").as(strOut),
      explode(expr(s"""flatten(transform($lsRange, ls ->
        flatten(transform(sequence(0, ${k - 1}), i ->
          transform(filter(sequence(${segPosSql(k, "ls", "i")} - $maxDist, ${segPosSql(k, "ls", "i")} + $maxDist),
              q -> q >= 0 AND q + ${segLenSql(k, "ls", "i")} <= _len),
            q -> named_struct('ls', ls, 'i', i,
              'sub', substring(_s, q + 1, ${segLenSql(k, "ls", "i")})))))))""")).as("_g"))
      .select(col(idOut), col(strOut), col("_g.ls").as("_ls"),
        col("_g.i").as("_i"), col("_g.sub").as("_sub"))
      .distinct() // multiple shifts often yield the same substring
  }

  /** TWO-TABLE form of [[fuzzyPairsSegmented]] — entity resolution across
    * registries (link a scraped vendor list against the master table):
    * all (left, right) pairs within edit distance `maxDist`, exact and
    * complete by the same PassJoin pigeonhole. One direction suffices:
    * left's segments are indexed, right's shifted substrings probe them —
    * the lemma covers every qualifying pair without the reverse pass.
    *
    * Output: (id_l, id_r, dist), 0 <= dist <= maxDist.
    */
  def fuzzyJoinSegmented(left: DataFrame, leftId: String, leftStr: String,
                         right: DataFrame, rightId: String, rightStr: String,
                         maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 4, "need 1 <= maxDist <= 4")
    val k = maxDist + 1
    def prep(df: DataFrame, id: String, s: String) =
      df.where(col(s).isNotNull)
        .select(col(id).as("_id"), col(s).as("_s"), length(col(s)).as("_len"))
    val idx = segIndexSide(prep(left, leftId, leftStr), k, "id_l", "_sl")
    val probe = segProbeSide(prep(right, rightId, rightStr), k, maxDist, "id_r", "_sr")
    // verify-before-dedupe, same reasoning as [[fuzzyPairsSegmented]]:
    // banded levenshtein on the multiplied candidates (bounded ≤15× at
    // d=2), then distinct over the narrow id/id/dist triple — no
    // full-string shuffle, false candidates die before the exchange
    idx.join(probe, Seq("_ls", "_i", "_sub"))
      .withColumn("dist", expr(s"levenshtein(_sl, _sr, $maxDist)").cast("long"))
      .where(col("dist") >= 0L && col("dist") <= maxDist)
      .select(col("id_l"), col("id_r"), col("dist"))
      .distinct()
  }

  /** 32-bit SimHash over word hashes: bit j of the signature is the sign of
    * sum over words of (2*bit_j(hash(word)) - 1). Portable arithmetic
    * (polynomial word hash + div/mod bit extraction, no engine intrinsics).
    *
    * Computed by the native one-pass [[graft.functions.SimHash]] kernel —
    * the HOF form (`DedupRef.simhashHof` under src/test) re-scans the
    * word-hash array once per bit through interpreted CodegenFallback
    * lambdas (32 passes/row), which was 56% of the round-1 bench. The kernel
    * is the codegen'd inner loop; the HOF form is the executable spec for
    * equivalence tests.
    */
  def simhash(text: Column, bits: Int = DefaultSimhashBits): Column =
    graft.functions.TextFunctions.simHash(text, bits)

  /** Hamming distance between two simhash values (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: block on 8-bit chunks of the signature
    * (two docs within hamming distance <= chunks-1 share at least one exact
    * chunk), then verify with the true hamming distance. `maxBucket` caps
    * degenerate (chunk, value) blocks (see object scaladoc).
    *
    * Cost model (measured, PLANS.md round 13): chunk-blocked candidate
    * pairs within the FIXED 4·2^(bits/4)-bucket keyspace grow
    * ~n²/2^(bits/4) — measured exp ~1.0 over sf0.1→sf1 at 48 bits. Wide
    * signatures (bits > 32, maxHamming ≤ 3) therefore route to the
    * two-half multi-index generator ([[simhashCandidatesMih]]): identical
    * exact output, candidates ~n²/2^(bits/2) (a 2^(bits/4)× smaller
    * quadratic term) for a constant (1 + bits/2)× probe fan-out — measured
    * exp 0.66 over the same decade, crossover vs chunking ≈ 5·10⁴ docs.
    * Degenerate blocks cap via `maxBucket` on either path (recall-lossy,
    * by dropped-bucket). CAP CONTRACT: the two generators cap at their own
    * blocking granularity — 2^(bits/4)-value chunk buckets vs
    * 2^(bits/2)-value half buckets — so when a bucket actually EXCEEDS
    * `maxBucket` the surviving pair set is generator-dependent (and, with
    * the size-adaptive routing, corpus-size-dependent). Exact output
    * equality between the strategies (pinned by PropertySpec and the q133
    * oracle) holds on uncapped corpora; under a binding cap each path
    * promises only its own maximal-recall-under-cap semantics. Callers
    * needing cap-insensitive results should raise `maxBucket` or pin a
    * generator explicitly. For a standing corpus the scale path is NOT an
    * all-pairs form at all — it is the anchor registry + routing
    * ([[simhashBucketRegistry]]/[[simhashRoute]]), O(1) candidates per doc
    * against a keyspace-bounded registry, measured exponent ≤0.24.
    *
    * 32-BIT SIGNATURES AT SCALE (measured r15, PLANS.md sf3 probe): the
    * narrow default's 4·2^8 chunk keyspace concentrates on real text and
    * its quadratic term bites past ~10⁴ docs (q27 exp 1.43 over
    * sf1→sf3). Extending MIH to 32 bits was measured and REJECTED —
    * real-text signatures concentrate per 16-bit half too, and MIH ran
    * ~3× SLOWER at every size (PLANS.md, 32-bit A/B:
    * 0.95/3.02 s at 5k, 30.9/86.2 at 25k). The scale remedy is signature
    * WIDTH, not a different 32-bit blocking: pass `bits = 48` (the q133
    * face — same contract, exp 0.69 over the same triple decade).
    *
    * NOTE (eager construction): on the wide path (bits > 32, maxHamming ≤ 3)
    * the size-adaptive routing counts the corpus, so building the returned
    * DataFrame runs the scan+sign Spark job — even if the caller never
    * executes the result. Both generators also collect their over-cap
    * bucket keys (a keyspace-bounded aggregate) at construction.
    */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, maxBucket: Int = 100000,
                        bits: Int = DefaultSimhashBits): DataFrame = {
    require(bits % 4 == 0, "bits must split into 4 equal chunks")
    // self-joined below: cache the (id, sig) projection so the scan+sign
    // pipeline runs once, not once per join side (round-1 q27 hot spot)
    val withSig = docs.select(col(idCol), simhash(col(textCol), bits).as("simhash")).cache()
    // strategy routing (round 13): wide signatures take the two-half
    // multi-index form — same exact ≤3-hamming output (the q133 oracle
    // pins it bit-for-bit), candidate growth ~n²/2^(bits/2) instead of
    // ~n²/2^(bits/4); the narrow 32-bit path keeps the chunk blocking
    // (q27's contract-parity form, and the cap's first-match emission).
    // SIZE-ADAPTIVE below the measured crossover: MIH pays a constant
    // (1 + bits/2)× probe fan-out to suppress the quadratic term, which
    // only wins past ~5·10⁴ docs (same-phase A/B, PLANS.md round 13) —
    // under it, chunk blocking generates fewer candidates outright. The
    // count() is ~free: it materializes the (id, sig) cache the self-join
    // needs anyway, so the signing work is pre-paid (NOTE this makes
    // wide-path plan CONSTRUCTION eager — it runs the scan+sign job; see
    // the public scaladoc). Both generators emit the identical exact pair
    // set whenever no blocking bucket exceeds `maxBucket`, so on uncapped
    // corpora the switch changes cost, never results. When the cap BINDS, the
    // recall-under-cap sets differ — the two schemes cap at different
    // granularities (2^(bits/4)-value chunk buckets vs 2^(bits/2)-value
    // half buckets), see the scaladoc's cap contract.
    if (bits > 32 && maxHamming <= 3 && withSig.count() >= MihCrossoverDocs)
      simhashCandidatesMih(withSig, idCol, "simhash", maxHamming, maxBucket, bits)
    else
      simhashCandidatesFromSignatures(withSig, idCol, "simhash", maxHamming,
        maxBucket, chunkBits = bits / 4)
  }

  /** Multi-index Hamming blocking (the "MIH" scheme — Norouzi, Punjani &
    * Fleet, "Fast search in Hamming space with multi-index hashing", CVPR
    * 2012, adapted to a self-join): split the `bits`-bit signature into TWO
    * halves; a pair within hamming distance ≤ 3 has min(d₁, d₂) ≤ 1 by
    * pigeonhole, so candidates come from an equi-join between each doc's
    * EXACT half values (index side) and every ≤1-bit perturbation of the
    * other docs' halves (probe side, 1 + bits/2 variants per half), then
    * the true hamming distance verifies. Output is identical to
    * [[simhashCandidatesFromSignatures]] at chunkBits = bits/4 — same
    * exact contract, different candidate generator.
    *
    * Why it scales where chunk blocking doesn't: chunk blocking's
    * candidates grow ~n²/2^(bits/4) inside a fixed 4·2^(bits/4) keyspace
    * (measured exp ~1.05 over sf0.1→sf1 at 48 bits, PLANS.md round 13);
    * the two-half index has keyspace 2·2^(bits/2) — 2^(bits/4) times
    * larger — so the quadratic term shrinks by the same factor, at the
    * price of a constant (1 + bits/2)× probe-side fan-out. At small n the
    * fan-out dominates and chunk blocking is cheaper; past ~10⁴ docs the
    * quadratic term does, which is why [[simhashCandidates]] routes only
    * the wide path here.
    *
    * `maxBucket` caps degenerate index-side (half, value) buckets (an
    * all-identical-signature corpus); a pair survives if ANY of its
    * matching (direction, half) paths lands in an uncapped bucket — the
    * same maximal-recall-under-cap semantics as the chunked form's
    * first-surviving-match emission. Candidates are hamming-verified
    * FIRST, then canonicalized and deduped as narrow id/id/distance
    * triples — failing candidates never reach the dedupe exchange.
    */
  def simhashCandidatesMih(sigs: DataFrame, idCol: String,
                           sigCol: String = "simhash",
                           maxHamming: Int = 3,
                           maxBucket: Int = 100000,
                           bits: Int = 48): DataFrame = {
    require(bits % 2 == 0 && bits >= 8 && bits <= 60, s"need even 8 <= bits <= 60, got $bits")
    require(maxHamming >= 0 && maxHamming <= 3,
      "two-half pigeonhole covers maxHamming <= 3; use the chunked form beyond")
    val halfBits = bits / 2
    val mask = (1L << halfBits) - 1L
    val span = 1L << halfBits
    val withSig = sigs.select(col(idCol).as("_id"), col(sigCol).as("_sig"))
    def half(sig: Column, h: Int): Column =
      shiftright(sig, h * halfBits).bitwiseAND(mask)
    val idx = withSig.select(col("_id").as("id_i"), col("_sig").as("sig_i"),
      explode(array((0 until 2).map(h =>
        struct(lit(h).as("h"), half(col("_sig"), h).as("v"))): _*)).as("_c"))
      .select(col("id_i"), col("sig_i"), col("_c.h").as("_h"), col("_c.v").as("_v"))
    // degenerate-bucket cap on the INDEX side; over-cap keys number at most
    // n/maxBucket (tiny) — probe rows aimed at a dropped bucket are
    // filtered by the same key set. Two forms, same semantics (pinned by
    // DedupCapSpec): collected keys inline as isin literals up to
    // [[InlineKeyCap]] (the common plan, join-free); past it they move out
    // of the plan tree into a broadcast LEFT ANTI join.
    val cap = capForm(idx, Seq(col("_h"), col("_v")),
      col("_h") * span + col("_v"), maxBucket)
    def surviving(df: DataFrame): DataFrame = cap match {
      case None => df
      case Some(Left(keys)) =>
        df.where(!(col("_h") * span + col("_v")).isin(keys: _*))
      case Some(Right(dropped)) => df.join(broadcast(dropped),
        col("_h") * span + col("_v") === col("_dropped_k"), "left_anti")
    }
    val masks = 0L +: (0 until halfBits).map(j => 1L << j)
    val probe = withSig.select(col("_id").as("id_p"), col("_sig").as("sig_p"),
      explode(array((for (h <- 0 until 2; m <- masks) yield
        struct(lit(h).as("h"),
          half(col("_sig"), h).bitwiseXOR(lit(m)).as("v"))): _*)).as("_c"))
      .select(col("id_p"), col("sig_p"), col("_c.h").as("_h"), col("_c.v").as("_v"))
    surviving(idx).join(surviving(probe), Seq("_h", "_v"))
      .where(col("id_i") =!= col("id_p"))
      // VERIFY BEFORE DEDUPE (the PassJoin reorder, same reasoning): the
      // true-hamming verify is one codegen'd xor + bit_count — run it on
      // the multiplied candidates (a pair can match from both directions
      // and on both halves, ≤ 4 rows) and dedupe the NARROW
      // (id_a, id_b, hamming) triple afterwards. Candidates failing the
      // verify — the majority at scale; the probe join admits any pair
      // within 1 bit on EITHER half — die before the distinct() exchange,
      // and the exchange carries 24-byte triples, not (id, sig)² structs.
      .withColumn("hamming", hamming(col("sig_i"), col("sig_p")))
      .where(col("hamming") <= maxHamming)
      .select(least(col("id_i"), col("id_p")).as("id_a"),
        greatest(col("id_i"), col("id_p")).as("id_b"), col("hamming"))
      .distinct()
  }

  /** The canonical near-dup pipeline composition: MinHash+LSH candidate
    * generation followed by EXACT Jaccard verification — but the exact
    * computation runs only on the candidate pairs, not on every pair
    * sharing a shingle ([[jaccardPairs]]'s cost). Verification joins each
    * candidate to the two docs' shingle ARRAYS and intersects them
    * per-row (codegen'd `array_intersect`, no shuffle beyond the pair
    * join), so total cost is O(corpus signing) + O(candidates·shingles) —
    * the shape that survives 100 TB, where all-pairs-sharing-a-shingle
    * explodes but LSH candidates stay ~linear in the true-duplicate count.
    */
  def verifiedNearDups(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, k: Int = 16, bands: Int = 4,
                       threshold: Double = 0.5,
                       maxBucket: Int = 100000): DataFrame = {
    val arr = docs.select(col(idCol),
      graft.functions.TextFunctions.wordShingles(col(textCol), n).as("_arr"))
      .cache() // feeds BOTH sides of the candidate join (object cache
      // convention — prefixJaccardPairs caches the identical projection);
      // without it the scan+shingle pipeline runs twice
    val cands = minhashCandidates(docs, idCol, textCol, n, k, bands, maxBucket)
    val a = arr.select(col(idCol).as("id_a"), col("_arr").as("_arr_a"))
    val b = arr.select(col(idCol).as("id_b"), col("_arr").as("_arr_b"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("_arr_a"), col("_arr_b"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("_arr_a")) + size(col("_arr_b")) - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every node starts labeled with its own id; each
    * round a node takes the minimum of its label and its neighbors' labels;
    * the fixpoint labels every component with its smallest member id —
    * deterministic regardless of execution order.
    *
    * This is the standard distributed-iterative shape: each round is two
    * joins + an aggregate (all shuffle-partitioned by node id), the driver
    * sees only a one-row convergence flag per round, and `localCheckpoint`
    * cuts the lineage so plan depth stays constant across rounds. Rounds
    * needed = component diameter (near-dup clusters are dense, so small);
    * `maxIter` bounds pathological chains and failure to converge throws
    * rather than returning wrong labels.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          idCol: String = "id", srcCol: String = "src",
                          dstCol: String = "dst", maxIter: Int = 50,
                          maxLocalNodes: Int = 200000): DataFrame = {
    // Driver-local union-find (LocalFold's contract): the dedup pipelines'
    // cluster graphs are pair-grain, not corpus-grain. The converged
    // min-label fixpoint IS the component minimum and integers carry no
    // rounding, so the fold works in long whenever nodes and both edge
    // endpoints share one integral id type. Other types (e.g. strings,
    // whose UTF8-byte `least` ordering the fold does not replicate) run
    // distributed.
    val idT = nodes.schema(idCol).dataType
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val local =
      if (!integral(idT) || edges.schema(srcCol).dataType != idT ||
          edges.schema(dstCol).dataType != idT) None
      else for {
        nh <- LocalFold.rows(nodes.select(col(idCol).cast("long")), maxLocalNodes)
        eh <- LocalFold.rows(edges.select(col(srcCol).cast("long"),
          col(dstCol).cast("long")), maxLocalNodes)
      } yield LocalFold.frame(nodes.sparkSession, componentsLocal(nh, eh),
        StructType(Seq(StructField(idCol, LongType), StructField("component", LongType))),
        Seq(idT, idT))
    if (local.isDefined) return local.get
    // materialize the edge list ONCE: in nearDupClusters its lineage is the
    // whole LSH+verify pipeline, which must not re-run every round.
    // PRE-PARTITIONED on the probe key (r16, guide §2.4): every round joins
    // sym on _b, and a checkpointed Dataset keeps its outputPartitioning —
    // so the (at scale, data-sized) edge table is shuffled ONCE here instead
    // of once per round; each round's join shuffles only the labels side.
    val sym = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .unionByName(edges.select(col(dstCol).as("_a"), col(srcCol).as("_b")))
      .repartition(col("_b"))
      .localCheckpoint()
    var labels = nodes.select(col(idCol).as("_id"))
      .distinct().withColumn("_comp", col("_id")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nb = sym.join(labels.select(col("_id").as("_b"), col("_comp").as("_nc")), "_b")
        .groupBy(col("_a").as("_id")).agg(min(col("_nc")).as("_nbmin"))
      // LAZY checkpoint + count (r16): the convergence probe and the
      // round's materialization share ONE job — count() over the filtered
      // view computes (and pins) every partition of the round result, so
      // the next round reads the materialized RDD and the old
      // eager-checkpoint-then-isEmpty pair (two jobs per round) collapses
      // to one.
      val updated = labels.join(nb, Seq("_id"), "left")
        .withColumn("_new", least(col("_comp"), coalesce(col("_nbmin"), col("_comp"))))
        .select(col("_id"), col("_comp"), col("_new"))
        .localCheckpoint(eager = false)
      converged = updated.where(col("_new") =!= col("_comp")).count() == 0L
      labels = updated.select(col("_id"), col("_new").as("_comp"))
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("_id").as(idCol), col("_comp").as("component"))
  }

  /** Driver-local union-find — called only under [[connectedComponents]]'s
    * size gate, on ids cast to long, no nulls. Component label = the
    * MINIMUM member id (the propagation fixpoint); an edge links its
    * endpoints only when BOTH are in the node set (a neighbor outside
    * `labels` never contributes a label in the distributed join, and a
    * non-node source never receives one). Returns (id, component) rows.
    */
  private def componentsLocal(nodeRows: Array[Row], edgeRows: Array[Row]): Seq[Row] = {
    val ids: Array[Long] = nodeRows.map(_.getLong(0)).distinct
    val idx = new java.util.HashMap[Long, Int](ids.length * 2)
    ids.zipWithIndex.foreach { case (v, i) => idx.put(v, i) }
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeRows.foreach { r =>
      val a = r.getLong(0)
      val b = r.getLong(1)
      if (idx.containsKey(a) && idx.containsKey(b)) {
        val ra = find(idx.get(a))
        val rb = find(idx.get(b))
        if (ra != rb) parent(ra) = rb
      }
    }
    // component label = min member id
    val minOfRoot = new java.util.HashMap[Int, Long]()
    ids.indices.foreach { i =>
      val r = find(i)
      val cur = minOfRoot.get(r)
      if (!minOfRoot.containsKey(r) || ids(i) < cur) minOfRoot.put(r, ids(i))
    }
    ids.indices.map(i => Row(ids(i), minOfRoot.get(find(i))))
  }

  /** The full dedup endgame: LSH candidates -> exact-verified pairs ->
    * connected components -> one CANONICAL doc per cluster (the smallest
    * id). Every doc appears exactly once; singletons are their own cluster.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5,
                      maxBucket: Int = 100000): DataFrame = {
    val pairs = verifiedNearDups(docs, idCol, textCol, n, k, bands, threshold, maxBucket)
    val comp = connectedComponents(
      docs.select(col(idCol).as("id")), pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    val w = Window.partitionBy(col("component"))
    comp
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("id").as(idCol), col("component").as("cluster_id"),
        col("cluster_size"), (col("id") === col("component")).as("is_canonical"))
  }

  /** INCREMENTAL cluster maintenance — fold a new day's verified near-dup
    * pairs into a PERSISTED component table without re-reading day-1's
    * edges: the missing piece that turns [[nearDupClusters]] from a
    * rebuild-the-world batch pass into standing state the
    * registry/routing faces ([[simhashBucketRegistrySigs]] /
    * [[simhashRoute]]) already maintain incrementally.
    *
    * Correctness is graph contraction: a component table (id, component)
    * with min-id labels is exactly the old edge set E1 collapsed — linking
    * every member to its label preserves E1's partition, so components of
    * {(id, label)} ∪ newPairs equal components of E1 ∪ newPairs, and
    * min-label propagation re-derives the same min-id labels a from-scratch
    * rebuild on the unioned corpus produces (q138 gates fold == rebuild
    * bit-for-bit against the recursive-CTE oracle).
    *
    * Scale shape: the inputs are the PERSISTED component table (one row
    * per doc — read, never recomputed) and the new day's pairs (O(new
    * batch)); propagation rounds are bounded by the diameter of chains
    * formed by NEW pairs only (old components are pre-collapsed to
    * star graphs of diameter 1), so a quiet day converges in one round
    * regardless of corpus size. New ids appearing only in `newPairs` (or
    * passed via `newNodes`) enter as their own singletons first.
    *
    * Input contract: `components` labels are MIN-member-id labels (what
    * [[nearDupClusters]] / [[connectedComponents]] / this function emit) —
    * in `frontier` mode untouched components pass through verbatim, so an
    * arbitrary representative labeling would survive un-normalized.
    *
    * Output: (idCol, cluster_id, cluster_size, is_canonical) — same shape
    * as [[nearDupClusters]], one row per doc in components ∪ newNodes ∪
    * pair endpoints.
    */
  def incrementalClusters(components: DataFrame, newPairs: DataFrame,
                          newNodes: Option[DataFrame] = None,
                          idCol: String = "doc_id",
                          labelCol: String = "cluster_id",
                          maxIter: Int = 50,
                          frontier: Boolean = false,
                          withSizes: Boolean = true): DataFrame = {
    // Two cost shapes, identical output (both spec-gated fold == rebuild):
    //
    //  - frontier = false (default): the whole (id, label) table enters
    //    propagation as diameter-1 star edges. Rounds are still bounded by
    //    the NEW-chain diameter, and the flat shape is cheapest when the
    //    delta touches a large fraction of the corpus (the q138/q139 gate
    //    shape — measured 1.3 s/query cheaper there than the frontier's
    //    three extra joins).
    //
    //  - frontier = true: the 100 TB daily-fold shape. An old component
    //    can only change if one of its members is a new-pair endpoint
    //    (there is no other way for it to gain an edge), so propagation
    //    runs ONLY over the touched components' members plus genuinely
    //    new ids; every other (id, label) row passes through verbatim
    //    with zero shuffle beyond the final size window — the iterative
    //    part is O(delta + affected members), never O(corpus). This is
    //    what `Cli dedup-ingest` uses: a small daily batch against a huge
    //    standing table must not re-propagate the table.
    val addEdges = newPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val (propNodes, propEdges, untouched) =
      if (!frontier) {
        val nodes = components.select(col(idCol).as("id"))
          .unionByName(newPairs.select(col("id_a").as("id")))
          .unionByName(newPairs.select(col("id_b").as("id")))
          .unionByName(newNodes.map(_.select(col(idCol).as("id")))
            .getOrElse(components.select(col(idCol).as("id")).limit(0)))
        val oldEdges = components.select(col(idCol).as("src"), col(labelCol).as("dst"))
        (nodes, oldEdges.unionByName(addEdges), components.limit(0))
      } else {
        // endpoint ids feed both the touched-label probe and the node set
        val endpointIds = newPairs.select(col("id_a").as(idCol))
          .unionByName(newPairs.select(col("id_b").as(idCol)))
          .distinct().localCheckpoint()
        val touchedLabels = components
          .join(endpointIds, Seq(idCol), "left_semi")
          .select(col(labelCol)).distinct()
        val affected = components.join(touchedLabels, Seq(labelCol), "left_semi")
        val untouchedRows = components.join(touchedLabels, Seq(labelCol), "left_anti")
        // ids entering the graph that the component table does not hold
        val extraNew = endpointIds
          .unionByName(newNodes.map(_.select(col(idCol))).getOrElse(endpointIds.limit(0)))
          .join(components, Seq(idCol), "left_anti")
        val nodes = affected.select(col(idCol).as("id"))
          .unionByName(extraNew.select(col(idCol).as("id")))
        val oldEdges = affected.select(col(idCol).as("src"), col(labelCol).as("dst"))
        (nodes, oldEdges.unionByName(addEdges), untouchedRows)
      }
    val comp = connectedComponents(propNodes, propEdges, maxIter = maxIter)
    val merged = comp.select(col("id").as(idCol), col("component").as(labelCol))
      .unionByName(untouched.select(col(idCol), col(labelCol)))
    // withSizes = false: labels only — skips the corpus-wide size window,
    // which in frontier mode would otherwise be the one remaining O(corpus)
    // shuffle of the daily fold (the persisted state needs only (id, label);
    // sizes/canonical flags are a report-time derivation)
    if (!withSizes) merged.select(col(idCol), col(labelCol))
    else {
      val w = Window.partitionBy(col(labelCol))
      merged
        .withColumn("cluster_size", count(lit(1)).over(w))
        .select(col(idCol), col(labelCol),
          col("cluster_size"), (col(idCol) === col(labelCol)).as("is_canonical"))
    }
  }

  /** Same blocking over PRECOMPUTED signatures — e.g. the `simhash` column a
    * [[graft.streaming.DocumentStream]] landed, or any table that already
    * paid the signing pass; no text re-read, no re-signing. Input is scanned
    * twice (both self-join sides): cache it if it is not a cheap scan.
    *
    * A pair within the hamming bound collides in EVERY chunk whose bytes
    * match — up to `chunks` copies per pair (all 4 for exact duplicates,
    * the common case in a deduplicating corpus). Instead of a `distinct()`
    * shuffle over the multiply-emitted pairs, each pair is emitted only
    * from its first matching SURVIVING chunk: keep a joined row only when
    * every lower-indexed matching byte of (sig_a, sig_b) sits in a bucket
    * the `maxBucket` cap dropped. Uniqueness then holds by construction,
    * the dedup shuffle disappears, and the filter is codegen'd per-row bit
    * arithmetic on columns the join already carries.
    *
    * The cap-aware emission point is what preserves recall parity with the
    * naive emit-everywhere-then-distinct form: a pair whose first matching
    * chunk was capped away still emits from its next surviving matching
    * chunk. It is affordable because the (chunk, value) keyspace is FIXED
    * at `chunks`·2^chunkBits buckets (16384 at the 12-bit default,
    * 1024 at the legacy 8) — the
    * over-cap set is collected once (bounded by the keyspace, never by the
    * data, so this scales to any corpus) and inlined into both the bucket
    * filter and the first-match expression as literals. Pairs ONLY
    * reachable through capped buckets are still lost — that is the cap's
    * declared recall trade.
    *
    * `chunkBits` is the CORPUS-SCALE dial: expected bucket population is
    * n·chunks/ (chunks·2^chunkBits) = n/2^chunkBits, and candidate pairs
    * grow ~n²/2^chunkBits — the round-10 scale probe measured the 8-bit
    * default super-linear past ~10^4 docs (exp 1.19 over sf0.1→sf1).
    * Pair a WIDE signature ([[simhash]] bits > 32 uses a 60-bit word
    * hash) with chunkBits = bits/4 to keep the ≤3-hamming pigeonhole
    * (4 chunks) while growing the keyspace: bits=48 → 12-bit chunks →
    * 16× smaller buckets → 16× fewer collision candidates, same shape.
    */
  def simhashCandidatesFromSignatures(sigs: DataFrame, idCol: String,
                                      sigCol: String = "simhash",
                                      maxHamming: Int = 3,
                                      maxBucket: Int = 100000,
                                      chunkBits: Int = DefaultSimhashBits / 4): DataFrame = {
    require(chunkBits >= 4 && chunkBits <= 15, s"need 4 <= chunkBits <= 15")
    val withSig = sigs.select(col(idCol), col(sigCol).as("simhash"))
    val chunks = 4
    val span = 1L << chunkBits
    val mask = span - 1L
    val chunked = withSig.select(
      col(idCol), col("simhash"),
      explode(array((0 until chunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * chunkBits).bitwiseAND(mask).as("v"))): _*)).as("_c"))
      .select(col(idCol), col("simhash"), col("_c.chunk"), col("_c.v"))
    // Survival plumbing for the capped regime — two forms, same
    // semantics (pinned by DedupCapSpec). Collected over-cap keys inline
    // as isin literals up to [[InlineKeyCap]] (the common plan: join-free,
    // and the aggregate shuffles at most the fixed chunks*span keyspace at
    // any corpus size, so the collect is always driver-safe); past the cap
    // the keys move into a broadcast join and each doc carries a
    // survived-chunk BITMASK: the first-surviving-match emission rule
    // below needs survival of EVERY zero-XOR chunk of sig_a, not just the
    // joined chunk, so a plain anti-join on the pair frame cannot express it.
    val cap = capForm(chunked, Seq(col("chunk"), col("v")),
      col("chunk") * span + col("v"), maxBucket)
    val useMask = cap.exists(_.isRight)
    val capped = cap match {
      case None => chunked
      case Some(Left(keys)) =>
        chunked.where(!(col("chunk") * span + col("v")).isin(keys: _*))
      case Some(Right(dropped)) =>
        // per-doc survived-chunk bitmask via FOUR broadcast left joins at
        // DOC grain (one per chunk, each against the tiny over-cap key
        // frame): no shuffle, no aggregate — the mask is a pure row
        // expression over the signature, so duplicate doc ids cannot
        // corrupt it the way a per-id SUM over a window could
        val maskDf = (0 until chunks).foldLeft(withSig) { (df, c) =>
          df.join(broadcast(dropped.withColumnRenamed("_dropped_k", s"_dk$c")),
            lit(c * span) + shiftright(col("simhash"), c * chunkBits).bitwiseAND(mask)
              === col(s"_dk$c"), "left")
        }.withColumn("_survMask",
            (0 until chunks).map(c =>
              when(col(s"_dk$c").isNull, lit(1L << c)).otherwise(lit(0L))).reduce(_ + _))
          .drop((0 until chunks).map(c => s"_dk$c"): _*)
        maskDf.select(col(idCol), col("simhash"), col("_survMask"),
            explode(array((0 until chunks).map(c =>
              struct(lit(c).as("chunk"),
                shiftright(col("simhash"), c * chunkBits).bitwiseAND(mask).as("v"))): _*)).as("_c"))
          .select(col(idCol), col("simhash"), col("_survMask"),
            col("_c.chunk"), col("_c.v"))
          .where(col("_survMask")
            .bitwiseAND(expr("shiftleft(1L, CAST(chunk AS INT))")) =!= 0L)
    }
    val aCols = Seq(col(idCol).as("id_a"), col("simhash").as("sig_a"), col("chunk"), col("v")) ++
      (if (useMask) Seq(col("_survMask")) else Nil)
    val a = capped.select(aCols: _*)
    val b = capped.select(col(idCol).as("id_b"), col("simhash").as("sig_b"), col("chunk"), col("v"))
    val x = col("sig_a").bitwiseXOR(col("sig_b"))
    // chunk index of the first matching (zero-XOR) chunk whose bucket
    // survived the cap — the one emission point for this pair. When the
    // chunk matches, sig_a and sig_b share the bucket, so testing sig_a's
    // chunk against the dropped set decides survival for both sides.
    def survived(c: Int): Column = cap match {
      case None => lit(true)
      case Some(Left(keys)) =>
        !(lit(c * span) + shiftright(col("sig_a"), c * chunkBits).bitwiseAND(mask))
          .isin(keys: _*)
      case Some(Right(_)) =>
        col("_survMask").bitwiseAND(lit(1L << c)) =!= lit(0L)
    }
    val firstMatch = (0 until chunks).foldRight(lit(chunks): Column) { (c, rest) =>
      when(shiftright(x, c * chunkBits).bitwiseAND(mask) === 0L && survived(c), lit(c))
        .otherwise(rest)
    }
    a.join(b, Seq("chunk", "v"))
      .where(col("id_a") < col("id_b") && col("chunk") === firstMatch)
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash BUCKET REGISTRY: per 8-bit-chunk blocking bucket of the
    * 32-bit signature, the smallest member doc id (the bucket's dedup
    * anchor) and its population — the persisted lookup table an
    * incremental near-dup pipeline maintains so each new document can be
    * routed to candidate anchors WITHOUT re-joining history
    * ([[simhashCandidates]] is the from-scratch batch pass; this is its
    * standing-state form, and `streaming.DedupStream` maintains the same
    * registry live with bounded per-bucket state).
    *
    * The keyspace is fixed — 4 chunks × 2^(bits/4) values, i.e. 16384 rows
    * at the 48-bit default (1024 at the legacy 32) — so the aggregate
    * reduces map-side to ~nothing
    * and the registry is broadcastable forever. `bits` is the same
    * corpus-scale dial as [[simhashCandidatesFromSignatures]]' chunkBits:
    * a 48-bit signature gives 12-bit chunks → 16× the bucket keyspace, so
    * the registry stays selective past ~10^4 docs (at 16384 rows it is
    * still trivially broadcastable).
    *
    * Output: (chunk 0-3, v in [0, 2^(bits/4)), anchor_id = min id, n_docs).
    */
  def simhashBucketRegistry(docs: DataFrame, idCol: String,
                            textCol: String,
                            bits: Int = DefaultSimhashBits): DataFrame = {
    require(bits % 4 == 0, "bits must split into 4 equal chunks")
    val chunks = 4
    val chunkBits = bits / 4
    val mask = (1L << chunkBits) - 1L
    docs.select(col(idCol), simhash(col(textCol), bits).as("_sig"))
      .select(col(idCol),
        explode(array((0 until chunks).map(c =>
          struct(lit(c.toLong).as("chunk"),
            shiftright(col("_sig"), c * chunkBits).bitwiseAND(mask).as("v"))): _*)).as("_c"))
      .groupBy(col("_c.chunk").as("chunk"), col("_c.v").as("v"))
      .agg(min(col(idCol)).as("anchor_id"), count(lit(1)).as("n_docs"))
  }

  /** Span-level exact-substring duplication report (the signal behind
    * "Deduplicating Training Data Makes Language Models Better"-style
    * exact substring dedup): slide a `window`-token window every `stride`
    * tokens over each document, fingerprint each window, and attribute
    * every fingerprint to its first-occurrence document (smallest id).
    *
    * Output, one row per document that produced at least one window:
    *   - n_spans:       window count for the doc
    *   - n_dup_spans:   windows whose fingerprint also appears in ANOTHER
    *                    doc (cross-document duplication — the memorization
    *                    risk measure)
    *   - n_owned_spans: windows whose fingerprint's global first-occurrence
    *                    doc is this doc (novelty credit: a span counts for
    *                    exactly one document corpus-wide)
    *
    * Scale: windowing is per-row expression work ([[TextAnalysis.chunkDocuments]]
    * — split/sequence/posexplode, no shuffle); the ONE data-sized shuffle
    * is the (fp, doc) aggregate — the q43 TF-IDF shape. Both consumers
    * (the fingerprint-stats aggregate and the join back) derive from that
    * aggregate's output, so the span explosion is computed once and the
    * shared exchange is deduped by ReuseExchange — no cache, no
    * block-manager resident set proportional to the corpus (an earlier
    * version cached the raw span table inside the returned lineage, the
    * exact pathology the q19 post-mortem measured). Everything after the
    * first exchange is (fp, doc)-grain or fingerprint-grain, equi-keyed on
    * the fingerprint (high-cardinality; a ubiquitous span fingerprint
    * aggregates to ONE stats row before the join, and the deduped grain
    * bounds its join fan-out at one row per touching doc). The span table
    * is len/stride × input rows — the same bounded explosion
    * chunkDocuments already pays.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     window: Int = 20, stride: Int = 10): DataFrame = {
    require(stride >= 1 && stride <= window, "need 1 <= stride <= window")
    val spans = TextAnalysis
      .chunkDocuments(docs, idCol, textCol, maxTokens = window,
        overlap = window - stride)
      .select(col(idCol), TextAnalysis.fingerprint(col("chunk_text")).as("fp"))
    // (fp, doc) grain with the doc's span multiplicity — the one
    // data-sized exchange; both downstream branches hang off it, so the
    // identical exchange is planned once (ReuseExchange) and the explosion
    // never recomputes
    val perDoc = spans.groupBy(col("fp"), col(idCol))
      .agg(count(lit(1)).as("_n"))
    val stats = perDoc.groupBy(col("fp"))
      .agg(count(lit(1)).as("_ndocs"), min(col(idCol)).as("_first"))
    perDoc.join(stats, "fp")
      .groupBy(col(idCol))
      .agg(
        sum(col("_n")).as("n_spans"),
        sum(when(col("_ndocs") >= 2, col("_n")).otherwise(0L)).as("n_dup_spans"),
        sum(when(col("_first") === col(idCol), col("_n")).otherwise(0L)).as("n_owned_spans"))
  }
}
