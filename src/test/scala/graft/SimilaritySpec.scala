package graft

import graft.ops.{Similarity, SimilarityRef}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the r14 similarity-kernel review findings: hyperplane
  * decorrelation (the LSH key must actually use its nPlanes bits),
  * dead-vector (zero-norm) handling in ranking and IVF assignment, and the
  * DotProduct dimension-mismatch contract.
  */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("hyperplanes are decorrelated: LSH keys disperse over many buckets, not ~2") {
    // the pre-r14 affine hash made every plane a tiny phase shift of the
    // first: 500 spread-out vectors landed in ~2 buckets (all sign bits
    // agreeing), voiding the bucket join's selectivity. The splitmix64
    // finalizer must spread them over a healthy share of the 2^8 keyspace.
    val dim = 64
    val planes = SimilarityRef.hyperplanes(8, dim)
    def vecOf(s: Long): Array[Double] =
      Array.tabulate(dim) { j =>
        var h = s * 0x9e3779b97f4a7c15L + j * 0xbf58476d1ce4e5b9L
        h ^= (h >>> 31)
        ((h >>> 11).toDouble / (1L << 53)) * 2.0 - 1.0
      }
    def keyOf(v: Array[Double]): Long =
      planes.zipWithIndex.map { case (p, i) =>
        val dot = p.indices.map(j => p(j) * v(j)).sum
        if (dot > 0) 1L << i else 0L
      }.sum
    val keys = (0 until 500).map(s => keyOf(vecOf(s.toLong))).distinct
    assert(keys.size >= 32,
      s"LSH keys collapsed to ${keys.size} buckets — hyperplanes are correlated")
    // and per-plane sign balance: no plane may be near-constant
    for (i <- 0 until 8) {
      val pos = (0 until 500).count(s => (keyOf(vecOf(s.toLong)) & (1L << i)) != 0)
      assert(pos > 100 && pos < 400, s"plane $i sign split $pos/500 is degenerate")
    }
  }

  test("BandedLshKeys kernel == per-band lshKey composition, bit for bit (r15)") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)).toDF("id", "vec")
    val bands = 6; val ppb = 5
    val kernel = vecs.select(col("id"),
        graft.functions.VectorFunctions.bandedLshKeys(col("vec"), bands, ppb, dim).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = vecs.select(col("id") +: (0 until bands).map(b =>
        SimilarityRef.lshKey(col("vec"),
          SimilarityRef.hyperplanes(ppb, dim, seed = 42L + b)).as(s"b$b")): _*)
      .collect().map(r => r.getLong(0) -> (1 to bands).map(r.getLong(_))).toMap
    kernel.foreach { case (id, ks) => assert(ks === composed(id), s"id=$id") }
    // dimension mismatch fails loudly, like DotProduct
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val e = intercept[Exception] {
      bad.select(graft.functions.VectorFunctions.bandedLshKeys(col("vec"), 2, 3, dim)).collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      e.getCause != null && e.getCause.getMessage.contains("dimension mismatch"))
  }

  /** One past the router's size line: NearDupCrossoverRows + 1 random
    * 8-dim vectors, the first of them NULL when `leadingNull`. */
  private def pastCrossover(seed: Int, leadingNull: Boolean = false) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0L to Similarity.NearDupCrossoverRows).map(i =>
      (i, if (leadingNull && i == 0L) None
          else Some(Array.fill(8)(rnd.nextGaussian().toFloat).toSeq)))
      .toDF("vec_id", "embedding")
  }

  test("nearDupPairs routing: low threshold and exact=true pin brute force; " +
    "big high-threshold corpora take banded LSH (r15)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val tiny = (0 until 10).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq)).toDF("vec_id", "embedding")
    val big = pastCrossover(11)
    def plan(d: org.apache.spark.sql.DataFrame) = d.queryExecution.analyzed.toString
    // low threshold: never routes (LSH recall collapses below ~0.8) — and
    // constructs NO job (q15's lazy-construction contract)
    assert(!plan(Similarity.nearDupPairs(big, "vec_id", "embedding", 0.35))
      .contains("posexplode"))
    // high threshold below the size line: brute force
    assert(!plan(Similarity.nearDupPairs(tiny, "vec_id", "embedding", 0.9))
      .contains("posexplode"))
    // high threshold past it: banded plan (dim INFERRED from the corpus —
    // the fixed-64 default was a size-dependent crash for any other
    // width, r15 review finding)
    assert(plan(Similarity.nearDupPairs(big, "vec_id", "embedding", 0.9))
      .contains("posexplode"))
    // exact=true pins brute force regardless of size
    assert(!plan(Similarity.nearDupPairs(big, "vec_id", "embedding", 0.9,
      exact = true)).contains("posexplode"))
  }

  test("nearDupPairs routing tolerates null vectors: dim inferred from a " +
    "non-null row, all-null falls back to brute (r16 ADVICE)") {
    import spark.implicits._
    def vec(seed: Long) = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextGaussian().toFloat).toSeq
    }
    // LEADING null vector, one planted near-identical pair (1,2), filler
    // vectors
    val perturbed = vec(1L).zipWithIndex.map { case (x, j) =>
      x + 0.01f * new scala.util.Random(99L + j).nextGaussian().toFloat }
    val rows: Seq[(Long, Option[Seq[Float]])] =
      Seq((0L, Option.empty[Seq[Float]]), (1L, Some(vec(1L))), (2L, Some(perturbed))) ++
        (3 until 12).map(i => (i.toLong, Some(vec(100L + i))))
    val df = rows.toDF("vec_id", "embedding").localCheckpoint()
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the routed face runs on a null-bearing corpus (the null row is
    // dropped at posexplode of its null key array) and matches brute
    val got = pairSet(Similarity.lshNearDupBanded(df, "vec_id", "embedding", 0.9,
      bands = Similarity.bandsForRecall(0.9, 12), dim = 8))
    val exact = pairSet(Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9,
      exact = true))
    assert(exact.contains((1L, 2L)), "fixture degenerate: planted pair missing")
    assert(got === exact, "routed face must match brute on a null-bearing corpus")
    assert(!got.exists(p => p._1 == 0L || p._2 == 0L))
    // past the size line the router infers dim from a NON-NULL row (the
    // r15 probe read row 0 bare → NPE), then constructs AND runs
    val routed = Similarity.nearDupPairs(pastCrossover(17, leadingNull = true),
      "vec_id", "embedding", 0.9)
    assert(routed.queryExecution.analyzed.toString.contains("posexplode"))
    assert(!pairSet(routed).exists(p => p._1 == 0L || p._2 == 0L))
    // ALL-null corpus: no non-null row to infer from — brute fallback,
    // trivially empty, never a crash
    val allNull = (0L to Similarity.NearDupCrossoverRows)
      .map(i => (i, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    val fb = Similarity.nearDupPairs(allNull, "vec_id", "embedding", 0.9)
    assert(!fb.queryExecution.analyzed.toString.contains("posexplode"))
    assert(fb.count() === 0L)
  }

  test("BandedLshKeys fails loudly on a null ELEMENT instead of hashing it " +
    "as 0.0 (r16 ADVICE)") {
    import spark.implicits._
    val bad = Seq((1L, Seq[Option[Float]](Some(1f), None, Some(2f), Some(3f),
      Some(4f), Some(5f), Some(6f), Some(7f)))).toDF("id", "vec")
    val e = intercept[Exception] {
      bad.select(graft.functions.VectorFunctions.bandedLshKeys(col("vec"), 2, 3, 8))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null element")), msgs(e).mkString(" | "))
  }

  test("bandsForRecall sizes bands so THRESHOLD-GRAZING pairs keep the recall contract (r15)") {
    import spark.implicits._
    // at t = 0.8 a grazing pair's per-band collision is p^12 ~= 0.064, so
    // the fixed 32 bands only reach ~0.88 recall — bandsForRecall must
    // demand more
    assert(Similarity.bandsForRecall(0.8, 12) >= 70)
    assert(Similarity.bandsForRecall(0.9, 12) === 32) // floor: defaults suffice
    // planted pairs AT ~0.80-0.88 cosine (heavy perturbation), threshold
    // 0.8, adaptive bands: recall must clear 0.95 where 32 bands would not
    val rows = (0 until 300).map { i =>
      val base = new scala.util.Random(if (i % 5 == 1) 40L + i - 1 else 40L + i)
      val v = Array.fill(32)(base.nextGaussian())
      if (i % 5 == 1) {
        val p = new scala.util.Random(900L + i)
        (0 until 32).foreach(j => v(j) += 0.55 * p.nextGaussian())
      }
      (i.toLong, v.map(_.toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding").localCheckpoint()
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.nearDupPairs(df, "vec_id", "embedding", 0.8, exact = true))
    assert(exact.size >= 20, s"fixture degenerate: only ${exact.size} grazing pairs")
    val banded = pairSet(Similarity.lshNearDupBanded(df, "vec_id", "embedding", 0.8,
      bands = Similarity.bandsForRecall(0.8, 12), dim = 32))
    val recall = banded.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, f"grazing recall $recall%.3f under the 0.95 gate")
    assert(banded.diff(exact).isEmpty)
  }

  test("banded LSH near-dup: full recall on planted near-dups, verified precision (r15)") {
    import spark.implicits._
    // 400 random dim-32 vectors; every 10th is a small perturbation of its
    // predecessor (cosine ~0.97+) — the planted truth set
    val rows = (0 until 400).map { i =>
      val base = new scala.util.Random(if (i % 10 == 1) 100L + i - 1 else 100L + i)
      val v = Array.fill(32)(base.nextGaussian())
      if (i % 10 == 1) {
        val p = new scala.util.Random(500L + i)
        (0 until 32).foreach(j => v(j) += 0.05 * p.nextGaussian())
      }
      (i.toLong, v.map(_.toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding").localCheckpoint()
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9, exact = true))
    val banded = pairSet(Similarity.lshNearDupBanded(df, "vec_id", "embedding", 0.9, dim = 32))
    assert(exact.size >= 30, s"fixture degenerate: only ${exact.size} true pairs")
    val recall = banded.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, f"banded recall $recall%.3f under the 0.95 gate")
    assert(banded.diff(exact).isEmpty, "banded emitted an unverified (false) pair")
  }

  test("a zero-norm (dead) vector neither ranks as a neighbor nor occupies a rank") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (9L, Array(0.0f, 0.0f))) // 9 = dead
      .toDF("id", "vec")
    val got = Similarity.topKJoin(corpus, corpus, "id", "vec", k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.isNullAt(3)))
    // no NULL cosines served, and the dead vector appears as NO query's
    // neighbor and has no neighbors itself
    assert(got.forall(!_._4), "NULL-cosine rows must not be ranked")
    assert(!got.exists(_._3 == 9L), "a dead vector must never match anything")
    assert(!got.exists(_._1 == 9L), "a dead query has no defined neighbors")
    // live queries still get their full k over the live corpus
    assert(got.count(_._1 == 1L) === 2) // neighbors 2 and 3
  }

  test("ivfTopK: a dead vector among the centroid seeds does not capture the corpus") {
    import spark.implicits._
    // id 1 (a zero vector) is among the smallest-id seeds; its NaN cosine
    // used to sort FIRST under desc and assign EVERY row to its cell,
    // collapsing IVF to one giant bucket
    val corpus = (Seq((1L, Array(0.0f, 0.0f))) ++
      (2L to 40L).map(i => (i, Array(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat))))
      .toDF("id", "vec")
    val got = Similarity.ivfTopK(corpus, corpus, "id", "vec", k = 2, nCentroids = 4)
    // the live rows must distribute over the LIVE centroids: with the NaN
    // bug every row lands in cell 1 and every query sees the whole corpus.
    // Reference cells: the most cosine-similar live seed (the seeds are the
    // 4 smallest ids; the nearest wins by a margin of 0.06 here). Every
    // returned pair must share one, and the live rows must span at least 2.
    val vecs = corpus.as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    val seeds = vecs.keys.toSeq.sorted.take(4).filter(id => vecs(id).exists(_ != 0f))
    val cell = vecs.collect { case (id, v) if v.exists(_ != 0f) => id -> seeds.maxBy(s => cos(v, vecs(s))) }
    assert(cell.values.toSet.size >= 2, s"live rows in one cell: $cell")
    val pairs = got.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty && pairs.forall { case (q, n) => cell(q) == cell(n) },
      "a returned pair crosses the live cells")
    assert(got.where(col("cosine").isNull).count() === 0)
    // every live query gets neighbors, and no single cell held all rows
    // (with 39 live vectors over >= 3 live centroids, some query pair must
    // be SEPARATED — impossible under the one-giant-cell bug where every
    // query ranks against all others)
    val perQuery = got.groupBy("query_id").count().agg(max("count")).head().getLong(0)
    assert(perQuery <= 2)
    assert(got.count() > 0)
  }

  test("ivfPqTopK == independent cell-restricted ADC reference on real embeddings (r16)") {
    // the composed IVFADC face must equal a from-scratch reference built
    // from (a) a LOCAL argmax-cosine cell assignment over collected
    // vectors and (b) pqTopK's own global ADC distances (PQ codes are
    // cell-independent by construction, so any disagreement isolates the
    // routing or the re-rank join)
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf).isDirectory)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") < 5)
    val got = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("query_id", "rank", "neighbor_id", "adist", "exact_d2")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

    val all = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cents = all.take(16)
    def cellOf(v: Seq[Double]): Long = {
      val n = math.sqrt(dot(v, v))
      cents.map { case (cid, cv) =>
        val cn = math.sqrt(dot(cv, cv))
        val c = if (n > 0 && cn > 0) dot(v, cv) / (n * cn) else Double.NegativeInfinity
        (-c, cid)
      }.min._2
    }
    val cell = all.map { case (id, v) => id -> cellOf(v) }.toMap
    val pqAll = Similarity.pqTopK(q, emb, "vec_id", "embedding", k = all.length)
      .select("query_id", "neighbor_id", "adist", "exact_d2")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val expected = (0L until 5L).flatMap { qid =>
      all.map(_._1).filter(n => n != qid && cell(n) == cell(qid))
        .map(n => (pqAll((qid, n))._1, n)).sorted.take(10)
        .zipWithIndex.map { case ((ad, n), i) =>
          (qid, (i + 1).toLong, n, ad, pqAll((qid, n))._2) }
    }.toSeq
    assert(expected.size === 50, s"5 queries x top-10 expected, got ${expected.size}")
    assert(got === expected)
  }

  test("ivfPqTopK nprobe=2 candidates superset nprobe=1; common adist identical (r16)") {
    // the recall knob must only WIDEN the probed candidate set — ADC
    // distances are cell-independent, so every nprobe=1 pair reappears
    // with the identical distance
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf).isDirectory)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") < 3)
    val n = emb.count().toInt
    def pairs(np: Int): Map[(Long, Long), Double] =
      Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = n, nprobe = np)
        .select("query_id", "neighbor_id", "adist")
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val p1 = pairs(1); val p2 = pairs(2)
    assert(p1.keySet.subsetOf(p2.keySet))
    assert(p2.size > p1.size, "a second probed cell must add candidates")
    p1.foreach { case (pair, ad) => assert(p2(pair) === ad, s"adist drifted at $pair") }
  }

  test("DotProduct: dimension mismatch throws, never truncates to the shared prefix") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val ex = intercept[Throwable] {
      df.select(graft.functions.VectorFunctions.dotNative(col("a"), col("b"))).collect()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(chain.contains("dimension mismatch"), s"unexpected: $chain")
  }
}
