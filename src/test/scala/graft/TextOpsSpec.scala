package graft

import graft.ops.{Dedup, DedupRef, Similarity, TextAnalysis, TextAnalysisRef}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fingerprint matches the portable polynomial value") {
    val fp = Seq("hello world abc").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).head().getLong(0)
    assert(fp === 88643107L) // independently computed: ((...*31+c)%1e9+7)
  }

  test("native kernels match their HOF reference forms on edge cases") {
    val samples = Seq("hello world abc def", "  leading spaces\tand tabs ",
      "one", "", "a b", "ab的 中文 words here 的 test", "x " * 50,
      "trailing tab after trim a b c\t", "\tleading tab")
    val df = samples.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    // fingerprint: native PolyHash vs interpreted fold
    val fps = df.select(TextAnalysis.fingerprint(col("text")).as("a"),
      TextAnalysisRef.fingerprintHof(col("text")).as("b")).collect()
    fps.foreach(r => assert(r.getLong(0) === r.getLong(1), samples))
    // shingles: native kernel vs relational spec (ngram over split words)
    val kernel = graft.functions.TextFunctions.wordShingles(col("text"), 3)
    val spec = array_distinct(filter(
      transform(TextAnalysis.words(col("text")),
        (_, i) => when(i <= size(TextAnalysis.words(col("text"))) - 3,
          concat_ws(" ",
            element_at(TextAnalysis.words(col("text")), i + 1),
            element_at(TextAnalysis.words(col("text")), i + 2),
            element_at(TextAnalysis.words(col("text")), i + 3)))),
      x => x.isNotNull))
    val sh = df.select(kernel.as("a"), spec.as("b")).collect()
    sh.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    // simhash: native one-pass kernel vs 32-pass HOF reference form
    val sims = df.select(Dedup.simhash(col("text")).as("a"),
      DedupRef.simhashHof(col("text")).as("b")).collect()
    sims.foreach(r => assert(r.getLong(0) === r.getLong(1), samples))
    // textStats: native one-pass struct vs the HOF spec forms, field by field
    val t = col("text")
    val st = df.select(
      TextAnalysis.tokenCount(t).as("a1"), TextAnalysisRef.tokenCountHof(t).cast("long").as("b1"),
      TextAnalysis.meanWordLen(t).as("a2"), TextAnalysisRef.meanWordLenHof(t).as("b2"),
      TextAnalysis.punctRatio(t).as("a3"), TextAnalysisRef.punctRatioHof(t).as("b3"),
      TextAnalysis.stopwordRatio(t).as("a4"), TextAnalysisRef.stopwordRatioHof(t).as("b4")).collect()
    st.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), samples)
      assert(r.getDouble(2) === r.getDouble(3), samples)
      assert(r.getDouble(4) === r.getDouble(5), samples)
      assert(r.getDouble(6) === r.getDouble(7), samples)
    }
    val ls = df.select(
      (TextAnalysis.langScores(t).map(_._2) ++ TextAnalysisRef.langScoresHof(t).map(_._2)): _*).collect()
    ls.foreach(r => (0 until 5).foreach(i => assert(r.getInt(i) === r.getInt(i + 5), samples)))
  }

  test("identical texts collide on every dedupe signal; different texts do not") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated words about spark catalyst execution engines"),
    ).toDF("doc_id", "text")
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5).collect()
    assert(jac.length === 1)
    assert(jac.head.getAs[Long]("id_a") === 1L && jac.head.getAs[Long]("id_b") === 2L)
    assert(jac.head.getAs[Double]("jaccard") === 1.0)
    val mh = Dedup.minhashCandidates(docs, "doc_id", "text").collect()
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(3L))
  }

  test("prefixJaccardPairs == jaccardPairs at every threshold; prefixes actually prune") {
    // overlapping paraphrases at several similarity grades, plus decoys
    // sharing only ubiquitous shingles — the regime prefix filtering prunes
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old barn"),
      (2L, "the quick brown fox jumps over the lazy dog near the new barn"),
      (3L, "the quick brown fox jumps over a sleepy cat near the old barn"),
      (4L, "an entirely different document about spark catalyst optimizer rules"),
      (5L, "an entirely different document about flink runtime operator chains"),
      (6L, "the the the the the the the the the the the the the the"),
      (7L, "the quick brown fox jumps over the lazy dog near the old barn"),
    ).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "inter", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
    Seq(0.2, 0.5, 0.8).foreach { t =>
      val full = norm(Dedup.jaccardPairs(docs, "doc_id", "text", t))
      val pref = norm(Dedup.prefixJaccardPairs(docs, "doc_id", "text", t))
      assert(pref === full, s"prefix plan diverged from full join at t=$t")
      assert(full.nonEmpty, s"degenerate fixture: no pairs at t=$t")
    }
    // non-basis-point threshold with a pair at EXACTLY jaccard = t: a
    // rounded-up tBp (the pre-round-12 bug) made the length filter require
    // sz_b*10000 >= sz_a*6667 — 20000 < 20001 for (3,2)-shingle docs — and
    // dropped the qualifying pair the full join emits; floored tBp keeps it
    val boundary = Seq(
      (1L, "a b c d e"), // shingles: "a b c","b c d","c d e"
      (2L, "a b c d")    // shingles: "a b c","b c d" -> jaccard 2/3
    ).toDF("doc_id", "text")
    val t23 = 2.0 / 3
    val fullB = norm(Dedup.jaccardPairs(boundary, "doc_id", "text", t23))
    val prefB = norm(Dedup.prefixJaccardPairs(boundary, "doc_id", "text", t23))
    assert(fullB === Seq((1L, 2L, 2L, 0.6667)) && prefB === fullB,
      "pair at exactly t=2/3 must survive the prefix filters")
  }

  test("minhashCandidates rejects a bands that does not divide k (silent hash drop)") {
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(docs, "doc_id", "text", bands = 5)
    }
  }

  test("fuzzyPairs: qualifying distances exact, beyond-threshold and cross-block dropped") {
    val df = Seq(
      (1L, "alpha"), (2L, "alphb"),   // dist 1, same length
      (3L, "alxyz"),                  // dist 3 from both: beyond maxDist=2
      (4L, "alpha-long"),             // different length block: never paired
      (5L, "alpha"),                  // exact dup of 1: dist 0
    ).toDF("id", "name")
    val got = graft.ops.Dedup.fuzzyPairs(df, "id", "name", maxDist = 2)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1L), (1L, 5L, 0L), (2L, 5L, 1L)))
  }

  test("fuzzyPairs routes: blocked and same-length PassJoin emit identical pairs (r15)") {
    import org.apache.spark.sql.functions.length
    // same-length corpus with substitution pairs AND an indel-displacement
    // same-length pair ("abcdef" vs "bcdefa": delete front, append back —
    // dist 2 with every segment SHIFTED, the case that needs the ±d probe)
    val df = Seq(
      (1L, "abcdef"), (2L, "bcdefa"), (3L, "abcxef"), (4L, "zzzzzz"),
      (5L, "abcdef"), (6L, "short"), (7L, "shxrt"),
    ).toDF("id", "name")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSeq.sorted
    val base = df.select(col("id").as("_id"), col("name").as("_s"),
      length(col("name")).as("_len"))
    val blocked = norm(graft.ops.Dedup.blockedFuzzyPairs(
      base.select(col("_id"), col("_s"), col("_len").as("_blk")), 2))
    val seg = norm(graft.ops.Dedup.fuzzyPairsSameLength(base, 2))
    assert(seg === blocked, "the two routes must emit the identical pair set")
    assert(blocked.contains((1L, 2L, 2L)), "indel-displaced same-length pair found")
    assert(blocked.contains((1L, 5L, 0L)) && blocked.contains((1L, 3L, 1L)))
    assert(!blocked.exists(p => Set(p._1, p._2).contains(4L)), "no false pair")
    // the public op (router) agrees regardless of which side it picks
    assert(norm(graft.ops.Dedup.fuzzyPairs(df, "id", "name", 2)) === blocked)
  }

  test("fuzzyPairs router: crossover + entropy guard pick the measured winner (r15)") {
    def plan(d: org.apache.spark.sql.DataFrame) = d.queryExecution.analyzed.toString
    def isBlocked(p: String) = p.contains("_blk")
    // tiny corpus: below FuzzyCrossoverRows -> blocked
    val tiny = Seq((1L, "alpha"), (2L, "alphb")).toDF("id", "name")
    assert(isBlocked(plan(graft.ops.Dedup.fuzzyPairs(tiny, "id", "name", 2))))
    // large high-entropy corpus -> segmented (the flat route)
    val rnd = new scala.util.Random(7)
    def hex18() = (0 until 18).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString
    val entropy = (0 until 4000).map(i => (i.toLong, hex18())).toDF("id", "name")
      .localCheckpoint()
    assert(!isBlocked(plan(graft.ops.Dedup.fuzzyPairs(entropy, "id", "name", 2))))
    // large DEGENERATE corpus (shared prefix collapses segment buckets) ->
    // blocked, where it is ~9x cheaper (PLANS.md r15 fuzzy-ab)
    val degen = (0 until 4000).map(i => (i.toLong, f"Supplier#$i%09d")).toDF("id", "name")
      .localCheckpoint()
    assert(isBlocked(plan(graft.ops.Dedup.fuzzyPairs(degen, "id", "name", 2))))
  }

  test("fuzzyPairs cache lifecycle: only the PassJoin route keeps its routing " +
    "projection cached (r16 ADVICE)") {
    spark.catalog.clearCache()
    def cacheEmpty = spark.sharedState.cacheManager.isEmpty
    // below the crossover: the count() runs on the cached projection, but
    // the blocked route must release it afterwards
    val tiny = Seq((1L, "alpha"), (2L, "alphb"), (3L, "gamma")).toDF("id", "name")
    graft.ops.Dedup.fuzzyPairs(tiny, "id", "name", 2).collect()
    assert(cacheEmpty, "blocked route leaked its routing projection cache")
    // past the crossover on a DEGENERATE corpus (blocked route wins after
    // the entropy probe): probe's materialized cache is released
    val degen = (0 until 3200).map(i => (i.toLong, f"Supplier#$i%09d"))
      .toDF("id", "name").localCheckpoint()
    graft.ops.Dedup.fuzzyPairs(degen, "id", "name", 2)
    assert(cacheEmpty, "probe-then-blocked route leaked its projection cache")
    // past the crossover on an entropy corpus: the PassJoin route KEEPS the
    // cache (index + probe sides read it twice inside one plan) — the
    // documented object-level convention releases it
    val rnd = new scala.util.Random(13)
    def hex18() = (0 until 18).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString
    val entropy = (0 until 3200).map(i => (i.toLong, hex18())).toDF("id", "name")
      .localCheckpoint()
    graft.ops.Dedup.fuzzyPairs(entropy, "id", "name", 2)
    assert(!cacheEmpty, "PassJoin route must keep the shared projection cached")
    spark.catalog.clearCache()
  }

  test("bucket-width caps drop degenerate buckets but keep narrow ones") {
    // 40 identical docs form width-40 LSH/simhash/shingle buckets (the
    // stopword-bucket failure mode at scale); the cap must suppress them
    // while the width-2 buckets of a genuinely unique pair survive
    val common = (0 until 40).map(i =>
      (i.toLong, "identical degenerate filler text shared by every document here"))
    val pair = Seq(
      (100L, "a genuinely unique pair of documents xyz abc def ghi jkl"),
      (101L, "a genuinely unique pair of documents xyz abc def ghi jkl"))
    val docs = (common ++ pair).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs(Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = 10)) === Seq((100L, 101L)))
    assert(pairs(Dedup.simhashCandidates(docs, "doc_id", "text", maxBucket = 10)) === Seq((100L, 101L)))
    assert(pairs(Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, maxDf = 10)) === Seq((100L, 101L)))
    // and with the cap above the bucket width, the degenerate pairs return
    assert(Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = 100).count() === 40L * 39 / 2 + 1)
    // precomputed-signature entry point == text entry point
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
    val fromSigs = Dedup.simhashCandidatesFromSignatures(sigs, "doc_id", "sig", maxBucket = 10)
    assert(pairs(fromSigs) === pairs(Dedup.simhashCandidates(docs, "doc_id", "text", maxBucket = 10)))
  }

  test("simhash pair emission survives a capped first matching chunk") {
    // pair (1,2) matches at chunk 0 (byte 0x11 — shared with four filler
    // docs, so bucket width 6 > cap 3 and the bucket is dropped), at
    // chunk 1 (byte 0x22, width-2 bucket, survives), and at chunk 3
    // (byte 0x00, width-2, survives). Cap-aware first-match must emit the
    // pair exactly once from chunk 1; the pre-fix first-match pinned the
    // emission to dropped chunk 0 and lost the pair entirely.
    def sig(b0: Long, b1: Long, b2: Long, b3: Long): Long =
      b0 | (b1 << 8) | (b2 << 16) | (b3 << 24)
    val sigs = (Seq(
      (1L, sig(0x11, 0x22, 0x01, 0x00)),
      (2L, sig(0x11, 0x22, 0x02, 0x00)), // hamming vs doc 1 = 2 bits
    ) ++ (3 to 6).map(i =>
      (i.toLong, sig(0x11, 0x30L + i, 0x40L + i, 0x50L + i))))
      .toDF("doc_id", "sig")
    val got = Dedup.simhashCandidatesFromSignatures(sigs, "doc_id", "sig",
      maxHamming = 3, maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
    // pairs reachable ONLY through the capped bucket stay excluded
    val only0 = (Seq(
      (1L, sig(0x11, 0x01, 0x00, 0x60)),
      (2L, sig(0x11, 0x02, 0x03, 0x61)),
    ) ++ (3 to 6).map(i =>
      (i.toLong, sig(0x11, 0x30L + i, 0x40L + i, 0x50L + i))))
      .toDF("doc_id", "sig")
    assert(Dedup.simhashCandidatesFromSignatures(only0, "doc_id", "sig",
      maxHamming = 32, maxBucket = 3).count() === 0L)
  }

  test("chunkDocuments: overlapping windows, ragged tail, empty docs dropped") {
    val docs = Seq(
      (1L, (1 to 12).map(i => s"w$i").mkString(" ")), // 12 tokens
      (2L, "a b c"),                                  // shorter than a window
      (3L, ""),                                       // no tokens -> no chunks
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
        maxTokens = 5, overlap = 2)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1: starts 0,3,6,9 -> windows of 5,5,5,3 tokens
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(t => (t._2, t._3)).toSeq === Seq((0L, 5L), (1L, 5L), (2L, 5L), (3L, 3L)))
    assert(d1(0)._4 === "w1 w2 w3 w4 w5")
    assert(d1(1)._4 === "w4 w5 w6 w7 w8") // 2-token overlap with chunk 0
    assert(d1(3)._4 === "w10 w11 w12")
    // every token of doc 1 appears in some chunk (windows cover the doc)
    assert(d1.flatMap(_._4.split(" ")).toSet === (1 to 12).map(i => s"w$i").toSet)
    assert(got.filter(_._1 == 2L).map(t => (t._2, t._3, t._4)).toSeq ===
      Seq((0L, 3L, "a b c")))
    assert(!got.exists(_._1 == 3L))
  }

  test("words: \\s-aware trim — no phantom empty token from padded text (r15)") {
    val got = Seq(
      (1L, "a b\n"),        // r14 defect: tokenized as ["a","b",""]
      (2L, "\tx"),
      (3L, "a\tb\r\n"),
      (4L, "\n"),           // whitespace-only: one "" token, same as ""
      (5L, ""),
      (6L, " x \u000B"),    // VT is in Java \s — trimmed too
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("a", "b"))
    assert(got(2L) === Seq("x"))
    assert(got(3L) === Seq("a", "b"))
    assert(got(4L) === Seq(""))
    assert(got(5L) === Seq(""))
    assert(got(6L) === Seq("x"))
    // the native kernel tokenizes identically (tokenCount = HOF count)
    val k = Seq(("a b\n"), ("\tx"), ("\n"), ("")).toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("a"),
        TextAnalysisRef.tokenCountHof(col("text")).cast("long").as("b")).collect()
    k.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    assert(k(0).getLong(0) === 2L) // not 3: the "" token is gone
  }

  test("subwordCount: boundary splits count alnum runs and non-ws symbols only") {
    val got = Seq(
      (1L, "hello, world!"),  // hello , world ! -> 4
      (2L, "a-b"),            // a - b -> 3
      (3L, "x\ny"),           // \n is whitespace, not a subword -> 2
      (4L, ""),
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.subwordCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) === 4)
    assert(got(2L) === 3)
    assert(got(3L) === 2)
    assert(got(4L) === 0)
  }

  test("chunkDocuments: trailing chunk contained in its predecessor is suppressed (r15)") {
    // 13 tokens, maxTokens=5, overlap=2, step=3: starts 0,3,6,9,12 — the
    // s=12 chunk (w13) is fully inside the s=9 chunk (w10..w13): suppressed
    val docs = Seq((1L, (1 to 13).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, "doc_id", "text", maxTokens = 5, overlap = 2)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.map(t => (t._1, t._2)).toSeq === Seq((0L, 5L), (1L, 5L), (2L, 5L), (3L, 4L)))
    assert(got.last._3 === "w10 w11 w12 w13")
    // no chunk is a substring-contained repeat of its predecessor
    got.zip(got.tail).foreach { case (a, b) =>
      assert(!a._3.endsWith(b._3), s"chunk ${b._1} contained in ${a._1}")
    }
    // every token still covered
    assert(got.flatMap(_._3.split(" ")).toSet === (1 to 13).map(i => s"w$i").toSet)

    // heavy-overlap regime: step < overlap can suppress SEVERAL trailing
    // starts; chunk_ids stay contiguous and coverage still holds
    val docs2 = Seq((1L, (1 to 6).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val got2 = TextAnalysis.chunkDocuments(docs2, "doc_id", "text", maxTokens = 5, overlap = 4)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getString(3)))
    // starts 0..5; keep s=0 and s=1 (1+4 < 6); suppress s=2..5
    assert(got2.map(_._1).toSeq === Seq(0L, 1L))
    assert(got2.map(_._2).toSeq === Seq("t1 t2 t3 t4 t5", "t2 t3 t4 t5 t6"))

    // a doc shorter than the overlap keeps its single s=0 chunk
    val got3 = TextAnalysis.chunkDocuments(
        Seq((1L, "only two")).toDF("doc_id", "text"), "doc_id", "text",
        maxTokens = 5, overlap = 4)
      .collect().map(r => (r.getLong(1), r.getString(3)))
    assert(got3.toSeq === Seq((0L, "only two")))
  }

  test("language id picks marker-matching language deterministically") {
    val got = Seq(
      (1, "the cat and the dog is a friend of mine"),
      (2, "el gato y la casa que tengo"),
      (3, "xyzzy plugh"),
    ).toDF("id", "text")
      .select(col("id"), TextAnalysis.langId(col("text")).as("g"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got(1) === "en")
    assert(got(2) === "es")
    assert(got(3) === "unknown")
  }

  test("cosine similarity: exact values and top-k ordering") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f)),   // identical -> cos 1
      (2L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal -> cos 0
      (3L, Seq(-1.0f, 0.0f, 0.0f)),  // opposite -> cos -1
    ).toDF("vec_id", "embedding")
    val topk = Similarity.topKJoin(vecs.where(col("vec_id") === 0), vecs, "vec_id", "embedding", 3)
      .orderBy("rank").collect()
    assert(topk.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L, 3L))
    assert(topk.map(_.getAs[Double]("cosine")).toSeq === Seq(1.0, 0.0, -1.0))
  }

  test("zero-norm embeddings never rank or match (NULL cosine, not NaN-ranked-first)") {
    // a dead/failed encode is realistic in any large corpus; bare division
    // gives NaN, which Spark orders ABOVE every double — it would be rank 1
    // for every query and pass every threshold without the guard
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f)),   // cos 1 with query
      (2L, Seq(0.0f, 1.0f, 0.0f)),   // cos 0
      (9L, Seq(0.0f, 0.0f, 0.0f)),   // DEAD vector
    ).toDF("vec_id", "embedding")
    val topk = Similarity.topKJoin(vecs.where(col("vec_id") === 0), vecs,
        "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(topk.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L),
      "the dead vector must not outrank real neighbors")
    val dups = Similarity.nearDupPairs(vecs, "vec_id", "embedding", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(dups === Seq((0L, 1L)), "the dead vector must not pass the threshold gate")
  }

  test("LSH near-dup finds identical vectors (same bucket by construction)") {
    val vecs = (0 until 20).map(i =>
      (i.toLong, (0 until 8).map(j => if (i % 2 == 0) j.toFloat else -j.toFloat - 1f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupBanded(vecs, "vec_id", "embedding", 0.999,
      bands = 1, planesPerBand = 4, dim = 8)
    // all even ids identical to each other, all odd ids identical to each other
    assert(pairs.count() === 2 * (10 * 9 / 2))
    // no pair is emitted twice
    assert(pairs.select("id_a", "id_b").distinct().count() === pairs.count())
  }

  test("label centroid stats: identical-vector class coheres at 1, split class below") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f), 0L), (2L, Seq(1f, 0f, 0f), 0L),
      (3L, Seq(0f, 1f, 0f), 1L), (4L, Seq(0f, 0f, 1f), 1L))
      .toDF("vec_id", "embedding", "label")
    val st = Similarity.labelCentroidStats(vecs, "embedding", "label")
      .orderBy("label").collect()
    assert(st.length === 2)
    assert(st(0).getAs[Long]("n") === 2L)
    assert(st(0).getAs[Double]("mean_cos") === 1.0)
    assert(st(0).getAs[Double]("min_cos") === 1.0)
    // label 1 centroid (0, .5, .5): each member's cosine = .5/sqrt(.5) ~ 0.7071
    assert(math.abs(st(1).getAs[Double]("mean_cos") - 0.7071) < 1e-4)
    assert(st(1).getAs[Double]("min_cos") < 1.0)
  }

  test("quality score is bounded and favors clean text") {
    val scored = Seq(
      (1, "a perfectly reasonable sentence with a number of ordinary words in it repeated " * 3),
      (2, ";;;;!!!.... ,,,, ;;; !!!"),
    ).toDF("id", "text")
      .select(col("id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(scored(1) > scored(2))
    assert(scored.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("hardNegatives: only cross-label neighbors, nearest first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), "x"),
      (1L, Array(0.99f, 0.1f), "x"), // most similar overall but same label
      (2L, Array(0.9f, 0.3f), "y"),
      (3L, Array(0.0f, 1.0f), "y"),
    ).toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.hardNegatives(
        emb.where(col("vec_id") === 0), emb, "vec_id", "embedding", "label", k = 2)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._3) === Seq(2L, 3L)) // nearest cross-label first, id 1 excluded
    assert(got.map(_._2) === Seq(1L, 2L))
  }

  test("filterFunnel: cumulative survivor counts through the hygiene cascade") {
    val docs = Seq(
      (1L, ""),                                          // fails nonempty
      (2L, "one two three"),                             // < 10 tokens
      (3L, (1 to 12).map(i => s"w$i").mkString(" ")),    // passes everything
      (4L, Seq.fill(12)("yes").mkString(" ")),           // dup-word frac 11/12
      (5L, ('a' to 'j').map(c => s"$c.").mkString(" ")), // punct ratio 1/3
    ).toDF("doc_id", "text")
    val got = TextAnalysis.filterFunnel(docs, "text")
      .orderBy("stage").as[(Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (0L, "total", 5L),
      (1L, "nonempty", 4L),
      (2L, "min_tokens", 3L),
      (3L, "low_punct", 2L),
      (4L, "low_dup_words", 1L),
      (5L, "min_quality", 1L)))
  }

  test("pmiPairs: window bounds pair generation; hand-computed PMI and unigram penalty") {
    import spark.implicits._
    // "alpha beta" always adjacent (strong collocation); "alpha" and "zeta"
    // co-occur only via window overlap in doc 4 at distance 4 -> never paired
    val docs = (Seq.fill(4)("alpha beta filler1 filler2") :+
      "alpha filler3 filler4 filler5 zeta").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.pmiPairs(docs, "text",
      minPairCount = 1L, k = 100).collect()
      .map(r => ((r.getString(1), r.getString(2)), (r.getLong(0), r.getLong(3), r.getDouble(4))))
      .toMap
    // distance-4 pair excluded by the window
    assert(!got.contains(("alpha", "zeta")))
    // every within-window unordered pair of doc 0 present
    assert(got.contains(("alpha", "beta")) && got.contains(("beta", "filler2")))
    assert(got(("alpha", "beta"))._2 === 4L) // one per adjacent occurrence
    // hand-computed PMI: N=21 tokens, P=33 pairs; c(alpha)=5, c(beta)=4,
    // c(alpha,beta)=4 -> ln(4/33) - ln(5/21) - ln(4/21). beta-filler2 has
    // the same co-count but a rarer left word (4 vs 5), so it scores HIGHER
    // than alpha-beta — the unigram penalty PMI is defined by.
    val expAB = math.log(4.0 / 33) - math.log(5.0 / 21) - math.log(4.0 / 21)
    val expBF = math.log(4.0 / 33) - 2 * math.log(4.0 / 21)
    assert(math.abs(got(("alpha", "beta"))._3 - expAB) < 1e-6)
    assert(math.abs(got(("beta", "filler2"))._3 - expBF) < 1e-6)
    assert(got(("beta", "filler2"))._1 < got(("alpha", "beta"))._1)
    val again = TextAnalysis.pmiPairs(docs.repartition(3), "text",
      minPairCount = 1L, k = 100).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val first = got.map { case ((a, b), (rk, _, _)) => (rk, a, b) }.toSet
    assert(again === first)
  }
}
