package graft

import graft.ops.{Graph, Quantiles, Retrieval}
import org.scalatest.funsuite.AnyFunSuite

class RetrievalGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // -------------------------------------------------------------------
  // BM25
  // -------------------------------------------------------------------

  private def corpus = Seq(
    (1L, "spark join hash join"),          // "join" twice
    (2L, "spark join"),                    // "join" once
    (3L, "hash table scan"),
    (4L, "filter filter filter filter"),   // long doc, no query terms
    (5L, "scan")
  ).toDF("doc_id", "text")

  test("bm25: higher tf ranks higher at equal doc length, and non-matching docs are absent") {
    val got = Retrieval.bm25TopK(corpus, Seq("q" -> Seq("join")))
      .orderBy("rank").select("doc_id").as[Long].collect()
    // docs 1 and 2 match; doc 1 has tf=2 (longer, but tf dominates here)
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("bm25: rarer terms score higher than common ones (idf ordering)") {
    // "table" appears in 1 doc, "spark" in 2 — a doc matching only "table"
    // must outscore a doc matching only "spark" for a two-term query, all
    // else equal (tf=1 each, comparable lengths)
    val docs = Seq(
      (1L, "table x y"), (2L, "spark x y"), (3L, "spark z w")
    ).toDF("doc_id", "text")
    val scores = Retrieval.bm25TopK(docs, Seq("q" -> Seq("table", "spark")))
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(scores(1L) > scores(2L))
  }

  test("bm25: partition-invariant (decimal-exact score reduction)") {
    val a = Retrieval.bm25TopK(corpus, Seq("q" -> Seq("join", "hash")))
      .orderBy("rank").collect().toSeq
    val b = Retrieval.bm25TopK(corpus.repartition(7), Seq("q" -> Seq("join", "hash")))
      .orderBy("rank").collect().toSeq
    assert(a === b)
  }

  // -------------------------------------------------------------------
  // Vocabulary coverage
  // -------------------------------------------------------------------

  test("vocabCoverage: monotone, ends at 1.0 when the probe covers the whole vocab") {
    val docs = Seq(
      (1L, "a b a b a c"), (2L, "a b d e")
    ).toDF("doc_id", "text")
    // bigrams doc1: "a b","b a","a b","b a","a c" ; doc2: "a b","b d","d e"
    val got = Retrieval.vocabCoverage(docs, "doc_id", "text",
      sizes = Seq(1, 2, 5, 9), maxVocab = 10)
      .orderBy("vocab_size")
      .select("vocab_size", "covered", "total", "coverage")
      .as[(Long, Long, Long, Double)].collect()
    // r15: a probe past the 5 distinct bigrams is EMITTED at full coverage,
    // not silently omitted — one row per probe, always
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 5L, 9L))
    // top-1 is "a b" (3 occurrences of 8 total)
    assert(got(0)._2 === 3L && got(0)._3 === 8L)
    assert(got.map(_._4).toSeq === got.map(_._4).toSeq.sorted, "coverage must be monotone")
    assert(got(2)._4 === 1.0, "5 distinct bigrams -> full coverage at v=5")
    assert(got.last === ((9L, 8L, 8L, 1.0)), "beyond-vocab probe covers everything")
  }

  test("vocabCoverage: empty corpus emits no rows (not null rows)") {
    val docs = Seq((1L, ""), (2L, "solo")).toDF("doc_id", "text") // no bigram
    assert(Retrieval.vocabCoverage(docs, "doc_id", "text", sizes = Seq(1, 10)).count() === 0L)
  }

  // -------------------------------------------------------------------
  // PageRank
  // -------------------------------------------------------------------

  test("pagerank: symmetric cycle yields uniform ranks summing to 1") {
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val r = Graph.pagerank(edges, "src", "dst", "w", iters = 20, outScale = 12)
      .select("node", "rank").as[(String, Double)].collect().toMap
    assert(r.size === 3)
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9, r.toString))
  }

  test("pagerank: dangling sink keeps total mass 1 and outranks its feeders") {
    // a -> c, b -> c; c dangles. c must absorb the most rank, and the
    // dangling redistribution must keep the distribution normalized.
    val edges = Seq(("a", "c", 1L), ("b", "c", 1L)).toDF("src", "dst", "w")
    val r = Graph.pagerank(edges, "src", "dst", "w", iters = 30, outScale = 10)
      .select("node", "rank").as[(String, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-6, s"mass not conserved: $r")
    assert(r("c") > r("a") && r("c") > r("b"))
    assert(math.abs(r("a") - r("b")) < 1e-9, "symmetric feeders must tie")
  }

  test("pagerank: edge weights steer rank (heavier edge -> more mass)") {
    val edges = Seq(("a", "b", 9L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val r = Graph.pagerank(edges, "src", "dst", "w", iters = 20)
      .select("node", "rank").as[(String, Double)].collect().toMap
    assert(r("b") > r("c"), s"9:1 out-weight split must favor b: $r")
  }

  test("pagerank: partition-invariant (decimal-exact reductions)") {
    val edges = Seq(("a", "b", 2L), ("b", "c", 3L), ("c", "a", 1L), ("a", "c", 1L))
      .toDF("src", "dst", "w")
    val one = Graph.pagerank(edges, "src", "dst", "w", iters = 10, outScale = 12)
      .orderBy("node").collect().toSeq
    val many = Graph.pagerank(edges.repartition(5), "src", "dst", "w", iters = 10, outScale = 12)
      .orderBy("node").collect().toSeq
    assert(one === many)
  }

  // -------------------------------------------------------------------
  // Winsorized stats
  // -------------------------------------------------------------------

  test("winsorizedStats: clipping pulls the mean toward the band and counts clips") {
    val df = ((1 to 98).map(i => ("g", i.toDouble)) ++
      Seq(("g", 1000.0), ("g", -1000.0))).toDF("g", "v")
    val row = Quantiles.winsorizedStats(df, Seq("g"), "v", lo = 0.05, hi = 0.95)
      .select("n", "mean_raw", "mean_wins", "n_clipped", "p_lo", "p_hi")
      .as[(Long, Double, Double, Long, Double, Double)].head()
    val (n, raw, wins, clipped, pLo, pHi) = row
    assert(n === 100L)
    assert(clipped >= 2L, "the two outliers must be clipped")
    assert(wins > raw, "clipping the -1000 outlier dominates: winsorized mean moves up")
    assert(pLo > -1000.0 && pHi < 1000.0)
    assert(wins >= pLo && wins <= pHi)
  }

  test("winsorizedStats: values TIED at the percentile cutoff are not clipped (r4 band grain)") {
    // The round-13 sf1 gate's knife edge: when the p05 rank falls between
    // two EQUAL order statistics, the cutoff IS that value, and the rows
    // tied at it sit inside the band. An engine interpolating the cutoff
    // as (1-f)·lo + f·hi accrues a ulp above the data value and counts
    // every tie as clipped (50 rows at sf1). Clipping/counting at the
    // REPORTED r4 band pins the tie-inclusive behavior.
    // 200 rows: ranks 9..10 (0-indexed, p05·199 = 9.95) are both 2.52.
    val vals = (1 to 9).map(_ => 1.0) ++ (1 to 50).map(_ => 2.52) ++
      (1 to 139).map(i => 10.0 + i) ++ Seq(1000.0, 2000.0)
    val df = vals.map(("g", _)).toDF("g", "v")
    val row = Quantiles.winsorizedStats(df, Seq("g"), "v", lo = 0.05, hi = 0.95)
      .select("p_lo", "n_clipped").as[(Double, Long)].head()
    assert(row._1 === 2.52, "p05 between two equal order stats is that value")
    // clipped low side: the nine 1.0 rows only — the 50 ties at 2.52 are IN the band
    val expectedHi = vals.count(_ > {  // hi cutoff at r4, ties-in by the same rule
      val sorted = vals.sorted; val pos = 0.95 * (vals.size - 1)
      val (l, h) = (sorted(pos.floor.toInt), sorted(pos.ceil.toInt))
      val c = if (l == h) l else (pos.ceil - pos) * l + (pos - pos.floor) * h
      math.rint(c * 1e4) / 1e4
    })
    assert(row._2 === 9L + expectedHi, s"ties at the cutoff must not count as clipped")
  }

  test("winsorizedStats: nulls excluded from n and means, never clipped") {
    val df = Seq(("g", Some(1.0)), ("g", Some(2.0)), ("g", Some(3.0)),
      ("g", None: Option[Double])).toDF("g", "v")
    val row = Quantiles.winsorizedStats(df, Seq("g"), "v", lo = 0.0, hi = 1.0)
      .select("n", "mean_raw", "n_clipped").as[(Long, Double, Long)].head()
    assert(row === ((3L, 2.0, 0L)))
  }
}
