package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{dotNative, normNative}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: exact brute-force cosine top-k (one pass over the corpus per
  * query — the correct answer, O(n·d)). Scale path: random-hyperplane LSH
  * bucketing — embeddings are assigned sign-bit bucket keys; queries probe
  * only their own bucket, turning the scan into an equi-join that shuffles
  * on bucket keys. Recall < 1 by construction; multi-probe widens recall.
  *
  * Dot products use [[graft.functions.DotProduct]], a custom Catalyst
  * expression with whole-stage codegen (a tight primitive loop), because
  * Spark's higher-order functions are CodegenFallback and interpreted
  * per-element evaluation dominates pairwise similarity. Results are the
  * same sequential IEEE fold DuckDB's list_dot_product computes, so oracle
  * parity is exact.
  */
object Similarity {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Pairwise cosine with PRE-COMPUTED norms: inside an O(n·m) pair join the
    * per-pair cost drops from three dot products (a·b, a·a, b·b) to one —
    * the norms are computed once per ROW before the join, not once per PAIR.
    * The IEEE evaluation order stays `dot / (normA * normB)`, so the DuckDB
    * oracle formula still matches exactly.
    */
  /** NaN-guarded: a zero-norm vector (a failed/dead encode — realistic in
    * any large embedding corpus) has no defined cosine, and the bare
    * division yields NaN, which Spark ORDERS ABOVE every real double — one
    * dead embedding would rank #1 in every top-k and pass every
    * >= threshold near-dup gate. NULL instead: descending sorts put nulls
    * LAST and threshold predicates drop them, so dead vectors simply never
    * match anything.
    */
  private def pairCosine(av: String, an: String, bv: String, bn: String): Column =
    when(col(an) > 0 && col(bn) > 0,
      dotNative(col(av), col(bv)) / (col(an) * col(bn)))

  /** Spread the STREAM side of a nested-loop pair join across the cluster.
    * A small corpus often arrives as ONE input partition (a single parquet
    * file), which would serialize the whole O(n·m) pair loop onto one task.
    * The round-robin shuffle costs O(n) — noise next to the pair work an
    * exact all-pairs op declares — and buys full parallelism.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact top-k per query row via join + window rank. `queries` and
    * `corpus` both carry (id, vec). The cross join is the exact-answer
    * cost; use [[ivfTopK]] when approximate is acceptable.
    */
  def topKJoin(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      normNative(col(vecCol)).as("_qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      normNative(col(vecCol)).as("_cn"))
    val scored = spread(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(pairCosine("_qv", "_qn", "_cv", "_cn"), 6))
      // dead (zero-norm) vectors have NULL cosine — they must not OCCUPY
      // ranks either (desc puts nulls last, but row_number still numbers
      // them, and rank <= k would serve cosine=NULL rows as neighbors)
      .where(col("cosine").isNotNull)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Hard-negative mining for contrastive training: per anchor, the k
    * most-similar vectors carrying a DIFFERENT label — the negatives that
    * actually teach a retriever/encoder something (easy negatives are
    * already far away). Exact form of the standard ANN-based miner.
    *
    * Same declared-exact all-pairs contract as [[topKJoin]] (and the same
    * scale twin: run the candidate generation through [[ivfTopK]]
    * and post-filter labels when the corpus is too big for brute force).
    * The label-mismatch predicate rides INSIDE the pair join, so same-label
    * pairs are discarded before the top-k window; per-row norms are
    * precomputed (one dot per pair, not three).
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = anchors.select(col(idCol).as("anchor_id"), col(labelCol).as("_al"),
      col(vecCol).as("_qv"), normNative(col(vecCol)).as("_qn"))
    val c = corpus.select(col(idCol).as("negative_id"), col(labelCol).as("_nl"),
      col(vecCol).as("_cv"), normNative(col(vecCol)).as("_cn"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("negative_id"))
    spread(q).crossJoin(c)
      .where(col("_al") =!= col("_nl"))
      .withColumn("cosine", round(pairCosine("_qv", "_qn", "_cv", "_cn"), 6))
      // a NULL-cosine row must never be served as a "hard negative" into
      // training data (see topKJoin's dead-vector note)
      .where(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("negative_id"), col("cosine"))
  }

  /** IVF-style ANN: assign every vector to its nearest of `nCentroids`
    * centroids (chosen deterministically as the corpus vectors with the
    * smallest ids — a k-means seeding stand-in), then search only within the
    * query's cell. The centroid table broadcasts (it is tiny); the probe is
    * an equi-join on cell id, so the scan cost drops from O(n) per query to
    * O(n / nCentroids) with the usual IVF recall trade-off (nprobe=1 here;
    * widen by unioning the next-nearest cells).
    */
  /** The deterministic IVF coarse quantizer shared by [[ivfTopK]] and
    * [[ivfPqTopK]]: the `nCentroids` corpus vectors with the smallest ids
    * (a k-means seeding stand-in), carried with pre-computed norms so cell
    * assignment costs one dot per (row, centroid).
    */
  private[ops] def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                           nCentroids: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cent_id"), col(vecCol).as("_cent"),
        normNative(col(vecCol)).as("_centn"))

  /** Zero-norm-GUARDED cell assignment (pairCosine, one dot per pair): an
    * unguarded cosine against a dead centroid (a zero-norm vector among
    * the smallest-id seeds) is NaN, which sorts FIRST under desc — one
    * dead seed would capture the ENTIRE corpus into its cell and turn the
    * cell equi-join into the full cross product IVF exists to avoid. NULL
    * instead: desc puts nulls last, so dead centroids never win an
    * assignment (and a dead INPUT vector falls to the id tiebreak).
    */
  /** `keep > 1` retains the `keep` nearest cells per row (IVF's nprobe
    * recall knob, queries only — corpus rows always live in exactly one
    * cell, so multi-probe never duplicates a candidate pair).
    */
  private[ops] def ivfAssign(df: DataFrame, idCol: String, vec: String,
                        cents: DataFrame, keep: Int = 1): DataFrame =
    df.withColumn("_vn0", normNative(col(vec)))
      .crossJoin(broadcast(cents))
      .withColumn("_d", pairCosine(vec, "_vn0", "_cent", "_centn"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("_d").desc, col("cent_id"))))
      .where(col("_rn") <= keep)
      .drop("_d", "_rn", "_cent", "_centn", "_vn0")

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nCentroids: Int = 16): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nCentroids)
    def assign(df: DataFrame, vec: String): DataFrame = ivfAssign(df, idCol, vec, cents)
    val q = assign(queries.select(col(idCol), col(vecCol)), vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        normNative(col(vecCol)).as("_qn"), col("cent_id").as("cell"))
    val c = assign(corpus.select(col(idCol), col(vecCol)), vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        normNative(col(vecCol)).as("_cn"), col("cent_id").as("cell"))
    val scored = q.join(c, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(pairCosine("_qv", "_qn", "_cv", "_cn"), 6))
      .where(col("cosine").isNotNull) // dead vectors occupy no ranks
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Corpus size where [[nearDupPairs]]' default mode routes HIGH-threshold
    * calls to the banded LSH generator ([[lshNearDupBanded]]) — measured
    * same-phase A/B (PLANS.md round 15). Routing
    * additionally requires threshold >= [[NearDupLshMinThreshold]]:
    * random-hyperplane collision probability is p = 1 - arccos(t)/π, so a
    * LOW threshold collapses per-band recall (at t = 0.35, p^12 ≈ 3·10⁻³ —
    * LSH finds nothing) while the qualifying pair set itself becomes dense
    * — below the line, exact all-pairs is the only honest answer and its
    * quadratic cost is the contract (q15's oracled face, whose t = 0.35
    * can therefore never route). Measured (min-of-3, planted-pair corpus,
    * t = 0.9): exact 0.33/0.81/2.55/10.6 s at 2k/4k/8k/16k vs banded
    * 0.44/0.53/0.92/1.90 s — recall 1.0, false positives 0 at every size.
    * Routed calls size `bands` from the threshold ([[bandsForRecall]]) so
    * the ≥[[NearDupTargetRecall]] contract holds for THRESHOLD-GRAZING
    * pairs across the whole routed range — a fixed 32 bands would quietly
    * drop ~12% of pairs sitting exactly at t = 0.8 (r15 review finding).
    */
  val NearDupCrossoverRows: Long = 4000L
  val NearDupLshMinThreshold: Double = 0.8
  val NearDupTargetRecall: Double = 0.995

  /** Random-hyperplane collision probability of a pair at cosine `t`
    * (Charikar 2002): p = 1 − arccos(t)/π.
    */
  def planeCollisionProb(t: Double): Double = 1.0 - math.acos(t) / math.Pi

  /** Bands needed for ≥ [[NearDupTargetRecall]] recall of a pair AT the threshold, given
    * r sign bits per band: recall = 1 − (1 − p^r)^B. Floors at 32 (the
    * measured defaults), caps at 128 — at the cap the per-row key work is
    * 128·r dots, still linear and far under the quadratic it replaces.
    */
  def bandsForRecall(threshold: Double, planesPerBand: Int): Int = {
    val pr = math.pow(planeCollisionProb(threshold), planesPerBand)
    val b = math.ceil(math.log(1.0 - NearDupTargetRecall) / math.log(1.0 - pr))
    math.min(128, math.max(32, if (b.isNaN || b.isInfinite) 128 else b.toInt))
  }

  /** All pairs with cosine >= threshold (embedding near-dup detection).
    * Below [[NearDupCrossoverRows]] rows (or whenever `threshold` <
    * [[NearDupLshMinThreshold]], where hyperplane LSH cannot reach useful
    * recall — see the constant's doc) pair generation is the exact
    * brute-force cross product; at or above BOTH lines the default mode
    * routes to [[lshNearDupBanded]] with [[bandsForRecall]]-sized bands,
    * which is APPROXIMATE with recall ≥ [[NearDupTargetRecall]] for
    * pairs AT the threshold (and higher above it — the SimilaritySpec
    * planted-pair gates, measured 1.0 at t = 0.9's defaults). Pass
    * `exact = true` to pin the brute-force face regardless of size (the
    * oracle/ground-truth mode). Routing decides from the corpus itself: a
    * count(), then — only past the crossover — the dimension of the first
    * non-null vector (one tiny lookup); a mixed-dimension corpus fails
    * loudly in the key kernel. Emitted pairs are always verified — routing
    * can only MISS pairs (bounded by the banded recall), never invent them.
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, exact: Boolean = false): DataFrame = {
    def brute = {
      val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
        normNative(col(vecCol)).as("_na"))
      val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("_vb"),
        normNative(col(vecCol)).as("_nb"))
      spread(a).crossJoin(b)
        .where(col("id_a") < col("id_b"))
        .withColumn("cosine", round(pairCosine("_va", "_na", "_vb", "_nb"), 6))
        .where(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
    if (exact || threshold < NearDupLshMinThreshold) brute
    else {
      if (corpus.count() >= NearDupCrossoverRows) {
        // infer the embedding dimension from a NON-NULL row — the old fixed
        // default (64) made routing a size-dependent CRASH for any other
        // corpus width (r15 review finding), and probing the bare first
        // row made a leading NULL vector one too (r15 ADVICE): the exact
        // path tolerates null vectors (null cosine → pair dropped; the
        // banded path drops them at posexplode of the null key array), so
        // routing must not turn them into an NPE. An all-null corpus has
        // no pairs under either face, so brute (trivially empty) is the
        // correct fallback.
        val probed = corpus.where(col(vecCol).isNotNull)
          .select(size(col(vecCol))).head(1)
        if (probed.isEmpty) brute
        else lshNearDupBanded(corpus, idCol, vecCol, threshold,
          bands = bandsForRecall(threshold, 12), dim = probed(0).getInt(0))
      } else brute
    }
  }

  /** Banded (OR-amplified) LSH near-dup pairs — the measured scale path
    * for HIGH-threshold near-dup detection. `bands` independent hyperplane
    * families of `planesPerBand` sign bits each; a pair is a candidate
    * when it shares ANY band's bucket, then the true cosine verifies.
    * Recall for a pair at cosine t is 1 - (1 - p^r)^B with
    * p = 1 - arccos(t)/π (Charikar 2002 random-hyperplane collision), so
    * the defaults (B=32, r=12) give ~0.996 at t=0.9, ~0.99997 at t=0.95,
    * ~1 at planted-dup similarity — and ~nothing below t≈0.8, which is why
    * [[nearDupPairs]] refuses to route low thresholds here. Precision is
    * always 1 (every candidate is verified).
    *
    * Scale shape: per-row key work is B·r dot products (compiled
    * [[graft.functions.DotProduct]]); candidates shuffle on (band,
    * bucket) — ~B·n²/2^r per uniform band, a 1/128 constant at the
    * defaults — and a pair meeting in several bands is deduped AFTER the
    * cheap verify on the narrow (id_a, id_b, cosine) triple, the
    * verify-before-dedupe shape fuzzyPairsSegmented measured (-26%
    * exchange bytes).
    */
  def lshNearDupBanded(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, bands: Int = 32,
                       planesPerBand: Int = 12, dim: Int = 64): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1 && planesPerBand <= 62,
      s"need 1 <= planesPerBand <= 62 and bands >= 1, got $planesPerBand/$bands")
    // ONE compiled pass computes all band keys (graft.functions
    // .BandedLshKeys): the per-band composition (SimilarityRef.lshKey under
    // src/test, the kernel's reference) inlines bands x planes literal-array
    // dot expressions and blows the 64 KB generated-method limit at the
    // defaults, knocking the stage out of codegen
    val keyed = corpus.select(col(idCol).as("id"), col(vecCol).as("_v"),
        normNative(col(vecCol)).as("_n"),
        graft.functions.VectorFunctions.bandedLshKeys(col(vecCol), bands,
          planesPerBand, dim).as("_keys"))
      .select(col("id"), col("_v"), col("_n"),
        posexplode(col("_keys")).as(Seq("band", "bucket")))
    val a = keyed.select(col("id").as("id_a"), col("_v").as("_va"),
      col("_n").as("_na"), col("band"), col("bucket"))
    val b = keyed.select(col("id").as("id_b"), col("_v").as("_vb"),
      col("_n").as("_nb"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", round(pairCosine("_va", "_na", "_vb", "_nb"), 6))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
  }

  /** Embedding-space QC per class label: the label centroid (element-wise
    * mean) and each vector's cosine to its own label's centroid, aggregated
    * to (label, n, mean_cos, min_cos) — the intra-class cohesion report
    * that flags mislabeled or collapsed classes before training.
    *
    * Determinism: element means and the final cosine mean go through
    * decimal sums of per-element-rounded terms (order-independent, the
    * engine-wide `dsum` convention); the cosine itself is the sequential
    * IEEE fold of [[graft.functions.DotProduct]], which DuckDB's
    * list_dot_product reproduces exactly.
    *
    * Shape at scale: ONE data-sized shuffle (the posexplode'd element
    * aggregate, map-side combined on (label, pos) — at most labels x dims
    * rows out); the centroid table is tiny and broadcast back, and the
    * final per-label aggregate is again map-side combined. The vectors
    * themselves never shuffle.
    */
  def labelCentroidStats(emb: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val elems = emb
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
    val cent = elems.groupBy(col("label"), col("pos"))
      .agg(round(sum(round(col("x"), 4).cast(DecimalType(28, 4))).cast("double") /
        count(lit(1)), 6).as("c"))
    // rebuild the centroid vector ordered by element index; labels x dims
    // rows, so collect_list here is bounded by the schema, not the data
    val centArr = cent.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("_c"))
    emb.select(col(labelCol).as("label"), col(vecCol).as("_v"),
        normNative(col(vecCol)).as("_vn"))
      .join(broadcast(centArr.withColumn("_cn", normNative(col("_c")))), "label")
      // zero-norm-guarded (pairCosine — also one dot per row instead of
      // an unguarded cosine's three): an unguarded dead vector's NaN cosine would
      // cast to a silent NULL in the decimal sum while count(lit(1)) still
      // counted it, deflating mean_cos as if the vector scored 0. NULL +
      // a defined-cosine denominator instead: dead vectors stay visible in
      // n but contribute to neither the mean nor the min.
      .withColumn("cos", round(pairCosine("_v", "_vn", "_c", "_cn"), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("cos"), 6).cast(DecimalType(28, 6))).cast("double") /
          count(col("cos")), 4).as("mean_cos"),
        min(col("cos")).as("min_cos"))
  }

  /** Lloyd's k-means over the embedding column with DETERMINISTIC seeding
    * (the k smallest ids' vectors; cluster label = the seed's id) and a
    * fixed iteration count — the clustering primitive behind
    * SemDeDup-style semantic dedup and cluster-balanced curation.
    *
    * Per iteration, the centroids live on the DRIVER as literal arrays
    * (k × dim doubles — schema-sized, the same bounded-collect argument as
    * the sketch tables): assignment is then a pure per-row expression —
    * `least()` over k (distance, cluster) structs with the native codegen
    * [[graft.functions.DotProduct]] — no join, no shuffle, no window. The
    * only shuffle per iteration is the (cluster, pos) centroid mean, whose
    * output is k × dim rows. At 100 TB that is ONE data-sized aggregation
    * per iteration, which is Lloyd's lower bound on any engine.
    *
    * Determinism contract (oracle-parity): distances are evaluated as
    * dot(v,v) - 2·dot(v,c) + dot(c,c) in IEEE order (the same sequential
    * fold DuckDB's list_dot_product computes), centroid elements go
    * through the decimal-mean round trip (round-4 terms, round-6 result)
    * so they are independent of partitioning, and distance ties break to
    * the smallest cluster id. Clusters that lose all members simply drop
    * out (both engines compute the survivor set identically).
    *
    * Returns the final assignment: (idCol, cluster, d2) — d2 the final
    * squared distance, rounded to 4 decimals.
    *
    * Practical bound: the assignment expression embeds k × dim literal
    * doubles in generated code, so keep k × dim ≲ 2·10^5 (enforced). For
    * larger k, assign through the [[ivfTopK]]-style cell equi-join
    * instead of literal centroids.
    */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String, k: Int,
             iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1 && iters >= 1, "need k >= 1, iters >= 1")
    val dimRow = emb.select(size(col(vecCol))).limit(1).collect()
    require(dimRow.nonEmpty, "kmeans needs a non-empty input")
    require(k.toLong * dimRow(0).getInt(0) <= 200000L,
      s"k x dim = ${k.toLong * dimRow(0).getInt(0)} literal centroid elements " +
        "would blow up codegen; use a join-based assignment for this size")
    val v = toDouble(col(vecCol))
    // seeds: the k smallest ids' vectors, cluster label = seed id
    var cents: Array[(Long, Array[Double])] =
      emb.select(col(idCol).cast("long"), v).orderBy(col(idCol)).limit(k)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def assignCol: Column = {
      val cands = cents.toSeq.map { case (cid, c) =>
        val cl = array(c.toSeq.map(lit): _*)
        val d2 = dotNative(v, v) - lit(2.0) * dotNative(v, cl) +
          dotNative(cl, cl)
        struct(d2.as("d2"), lit(cid).as("cluster"))
      }
      least(cands: _*)
    }
    // Lloyd iterations: reassign, then decimal-mean new centroids back to
    // the driver (k x dim rows — bounded by schema, not data)
    for (_ <- 1 until iters) {
      val next = emb
        .select(assignCol.getField("cluster").as("cluster"), posexplode(v).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(sum(round(col("x"), 4).cast(DecimalType(28, 4))).cast("double") /
          count(lit(1)), 6).as("c"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          val arr = new Array[Double](rows.length)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          cid -> arr
        }
      cents = next.toArray.sortBy(_._1)
    }
    val a = assignCol
    emb.select(col(idCol), a.getField("cluster").as("cluster"),
      round(a.getField("d2"), 4).as("d2"))
  }

  /** Cluster-level k-means report: size and inertia (decimal-summed round-4
    * distances) per surviving cluster.
    */
  def kmeansReport(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    kmeans(emb, idCol, vecCol, k, iters)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("d2"), 4).cast(DecimalType(28, 4))).cast("double"), 4)
          .as("inertia"))
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    * COMPRESSED 100 TB path beside IVF's partitioned one: vectors are
    * encoded as `m` small codes (here m bytes instead of dim·4 — a 64×
    * compression at dim=64), and queries scan CODES through per-subspace
    * distance tables (ADC), never touching full vectors again.
    *
    * Mechanics, all inside codegen:
    *  - codebooks: per subspace, the sub-slices of the `codes` smallest-id
    *    corpus vectors (the same deterministic seeding stand-in as
    *    [[ivfTopK]]; [[kmeans]] refines codebooks when quality matters) —
    *    one bounded codes×dim driver collect, embedded as literals;
    *  - encode: code_m(x) = argmin_c l2²(x_m, cb[m][c]) via the dot-form
    *    |x_m|² − 2·x_m·cb + |cb|² (native [[graft.functions.DotProduct]]);
    *    argmin = `least` over (d, c) structs, c as tiebreak;
    *  - ADC: per query row a k-entry distance-table ARRAY per subspace
    *    (same dot-form), approx distance = Σ_m dtable_m[code_m(x)] —
    *    element_at lookups and m−1 adds per corpus row.
    *
    * The query side is a bounded handful of rows, so the pair join is a
    * broadcast nested loop over the code table — the ADC scan itself. The
    * exact l2² rides along for recall inspection; both distances round-6,
    * and every fold (dots, norms, table sums) is the same sequential IEEE
    * chain the DuckDB oracle computes, so the APPROXIMATE distances are
    * hash-gated too.
    *
    * Output: (query_id, rank, neighbor_id, adist, exact_d2) top-k by
    * (adist, neighbor_id) per query.
    */
  /** Fitted PQ codebooks shared by [[pqTopK]] and [[ivfPqTopK]]: id-seeded
    * sub-slice centroids (k-means refines) with pre-folded norms, and the
    * column builders for the encode (argmin code per subspace) and ADC
    * (codes-entry distance table per subspace) sides. Every fold is the
    * same sequential IEEE chain DuckDB's `list_dot_product` computes, so
    * the approximate distances stay hash-gated.
    */
  private[ops] final case class PqModel(m: Int, codes: Int, sub: Int,
      cb: Array[Array[Array[Double]]], cbNorm: Array[Array[Double]]) {
    /** keep ++ the m argmin codes per row — one compiled kernel per
      * subspace (r16, guide step 4: the composed least-over-structs form
      * with literal codebook arrays generated projections so large that
      * codegen handling dominated the stage; see
      * [[graft.functions.PqEncodeCode]] for the bit-exactness contract).
      */
    def withCodes(df: DataFrame, vec: String, keep: Seq[Column]): DataFrame =
      df.select(keep ++ (0 until m).map { mi =>
        graft.functions.VectorFunctions.pqEncodeCode(
          col(vec), mi * sub, sub, m * sub, cb(mi), cbNorm(mi)).as(s"_code$mi")
      }: _*)
    /** keep ++ the codes-entry ADC distance table per subspace, per row
      * (the query-side kernel, [[graft.functions.PqAdcTable]]).
      */
    def withAdcTables(df: DataFrame, vec: String, keep: Seq[Column]): DataFrame =
      df.select(keep ++ (0 until m).map { mi =>
        graft.functions.VectorFunctions.pqAdcTable(
          col(vec), mi * sub, sub, m * sub, cb(mi), cbNorm(mi)).as(s"_dt$mi")
      }: _*)
    /** ADC distance of a joined (query-table, corpus-code) row. */
    def adcLookup: Column = (0 until m).map(mi =>
      element_at(col(s"_dt$mi"), col(s"_code$mi") + 1)).reduce(_ + _)
  }

  /** The id-seeded PQ seed vectors as doubles — the persistable codebook
    * form ([[AnnIndex]] stores exactly these rows). Bounded collect:
    * codes × dim doubles. Cast to array<double> first: every other op here
    * accepts float OR double embeddings (DotProduct handles both), and a
    * bare getSeq[Float] crashed on double-typed columns; float -> double
    * is exact, so float corpora are unchanged.
    */
  private[ops] def collectPqSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                                  codes: Int): Array[Array[Double]] = {
    val seeds: Array[Array[Double]] = corpus.orderBy(col(idCol)).limit(codes)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.length == codes, s"corpus has < $codes vectors")
    seeds
  }

  private[ops] def pqFromSeeds(seeds: Array[Array[Double]], m: Int, codes: Int,
                               dim: Int): PqModel = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    require(seeds.length == codes, s"codebook has ${seeds.length} rows, want $codes")
    val sub = dim / m
    // cb(mi)(c) = centroid sub-vector; norms via the same sequential fold
    // DuckDB's list_dot_product uses
    val cb = Array.tabulate(m, codes)((mi, c) => seeds(c).slice(mi * sub, (mi + 1) * sub))
    val cbNorm = Array.tabulate(m, codes) { (mi, c) =>
      var acc = 0.0; var i = 0
      while (i < sub) { acc += cb(mi)(c)(i) * cb(mi)(c)(i); i += 1 }
      acc
    }
    PqModel(m, codes, sub, cb, cbNorm)
  }

  private[ops] def fitPq(corpus: DataFrame, idCol: String, vecCol: String,
                    m: Int, codes: Int, dim: Int): PqModel =
    pqFromSeeds(collectPqSeeds(corpus, idCol, vecCol, codes), m, codes, dim)

  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 4, codes: Int = 16,
             dim: Int = 64): DataFrame = {
    val pq = fitPq(corpus, idCol, vecCol, m, codes, dim)
    val c0 = corpus.select((col(idCol).as("neighbor_id") +: col(vecCol).as("_cv") +: Nil): _*)
    val encoded = pq.withCodes(c0, "_cv", Seq(col("neighbor_id"), col("_cv")))
    val q0 = pq.withAdcTables(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")),
      "_qv", Seq(col("query_id"), col("_qv")))
    val adist = pq.adcLookup
    val exact = dotNative(col("_qv"), col("_qv")) -
      lit(2.0) * dotNative(col("_qv"), col("_cv")) + dotNative(col("_cv"), col("_cv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    broadcast(q0).join(encoded, col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adist, 6))
      .withColumn("exact_d2", round(exact, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist"),
        col("exact_d2"))
  }

  /** IVF-PQ ANN (IVFADC, Jégou/Douze/Schmid TPAMI 2011 §V) — the composed
    * billion-scale architecture: IVF coarse routing ([[ivfTopK]]'s cell
    * assignment) over a PQ-ENCODED inverted file ([[pqTopK]]'s encoder),
    * then exact re-ranking of only the top-k survivors.
    *
    * Why this is THE 100 TB shape: the ADC scan side carries
    * `(neighbor_id, cell, m codes)` — at m=4/dim=64 float that is 64×
    * smaller than the corpus — and the cell equi-join prunes it a further
    * 16× (the cell count) per query, so per-query probe cost is
    * O(n·m / 16) byte-cheap code lookups instead of O(n·d) vector
    * dots. Full vectors are touched exactly twice: once at encode time and
    * once for the k surviving rows per query (the re-rank join, k·|queries|
    * rows broadcast against the corpus). Codes are encoded against the
    * GLOBAL codebooks (FAISS `by_residual=false`); residual encoding is the
    * recall refinement, not a different plan shape.
    *
    * nprobe=1 here (the query's own cell); widen recall by unioning the
    * next-nearest cells. Approximate AND exact distances both round-6 and
    * hash-gated (q144's oracle replays the same CTE chain in DuckDB).
    *
    * Output: (query_id, rank, neighbor_id, adist, exact_d2) top-k by
    * (adist, neighbor_id) per query, ranked WITHIN the probed cell.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= IvfCells, s"nprobe $nprobe out of range")
    val cents = ivfCentroids(corpus, idCol, vecCol, IvfCells)
    val pq = fitPq(corpus, idCol, vecCol, PqSubspaces, PqCodes, PqDim)
    // the inverted file: cell + m codes per corpus row — vectors DROPPED
    val codeTable = pq.withCodes(
      ivfAssign(corpus.select(col(idCol), col(vecCol)), idCol, vecCol, cents),
      vecCol, Seq(col(idCol).as("neighbor_id"), col("cent_id").as("cell")))
    // query side: cell + codes-entry ADC table per subspace (broadcast —
    // queries are a small batch by contract, as in pqTopK); nprobe > 1
    // probes the query's nprobe nearest cells (recall knob, scan cost
    // nprobe/16 of the code table per query)
    val q0 = pq.withAdcTables(
      ivfAssign(queries.select(col(idCol), col(vecCol)), idCol, vecCol, cents, nprobe),
      vecCol, Seq(col(idCol).as("query_id"), col("cent_id").as("cell")))
    ivfPqScan(q0, codeTable, pq, queries, corpus, idCol, vecCol, k)
  }

  /** The IVF-PQ layout of [[ivfPqTopK]] and the persisted [[AnnIndex]]:
    * 16 coarse cells, 4 subspaces of 16 codes each, over 64-dim vectors.
    */
  private[ops] val IvfCells = 16
  private[ops] val PqSubspaces = 4
  private[ops] val PqCodes = 16
  private[ops] val PqDim = 64

  /** The ADC probe + exact-re-rank tail shared by [[ivfPqTopK]] and
    * [[AnnIndex.query]]: `q0` = (query_id, cell, ADC tables), `codeTable` =
    * (neighbor_id, cell, codes). The re-rank touches `corpus` vectors for
    * only the k·|queries| surviving rows.
    */
  private[ops] def ivfPqScan(q0: DataFrame, codeTable: DataFrame, pq: PqModel,
                             queries: DataFrame, corpus: DataFrame,
                             idCol: String, vecCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    val topk = broadcast(q0).join(codeTable, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(pq.adcLookup, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist"))
    // exact re-rank ride-along: k·|queries| surviving rows (tiny) broadcast
    // against the corpus vectors — the ONLY post-encode touch of full vectors
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    broadcast(topk.join(broadcast(qv), "query_id")).join(cv, "neighbor_id")
      .withColumn("exact_d2", round(
        dotNative(col("_qv"), col("_qv")) - lit(2.0) * dotNative(col("_qv"), col("_cv")) +
          dotNative(col("_cv"), col("_cv")), 6))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist"),
        col("exact_d2"))
  }
}
