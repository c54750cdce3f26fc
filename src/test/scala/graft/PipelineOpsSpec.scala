package graft

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 training-pipeline operators: PII scrub, vocabulary mining,
  * dataset split, verified near-dups.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("scrubPii masks emails, phones, and digit runs; piiCount counts them") {
    val df = Seq(
      "mail me at jane.doe+x@ex-ample.co.uk or call 555-123-4567",
      "card 12345678901 and a short 1234567 stays",
      "no pii here").toDF("text")
    val got = df.select(TextAnalysis.scrubPii(col("text")).as("s"),
      TextAnalysis.piiCount(col("text")).cast("long").as("n")).collect()
    assert(got(0).getString(0) === "mail me at <EMAIL> or call <PHONE>")
    assert(got(0).getLong(1) === 2L)
    // 8+ digits masked, 7 digits kept
    assert(got(1).getString(0) === "card <NUM> and a short 1234567 stays")
    assert(got(1).getLong(1) === 1L)
    assert(got(2).getString(0) === "no pii here")
    assert(got(2).getLong(1) === 0L)
  }

  test("piiCount does not double-count an email's digits as a digit run") {
    val df = Seq("reach 123456789@example.com now").toDF("text")
    val got = df.select(TextAnalysis.scrubPii(col("text")).as("s"),
      TextAnalysis.piiCount(col("text")).cast("long").as("n")).head()
    assert(got.getString(0) === "reach <EMAIL> now")
    assert(got.getLong(1) === 1L)
  }

  test("topNgrams ranks by document frequency with deterministic ties") {
    val docs = Seq(
      (1, "en", "a b c"),   // bigrams: "a b", "b c"
      (2, "en", "a b a b"), // distinct per doc: "a b", "b a"
      (3, "en", "b c"),
      (4, "de", "x y")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.topNgrams(docs, "lang", "text", k = 2)
      .orderBy(col("lang"), col("rank"))
      .as[(String, String, Long, Long)].collect()
    // en: "a b" df=2 rank1; "b c" df=2... both df=2 -> tie broken by ngram asc
    assert(got === Array(
      ("de", "x y", 1L, 1L),
      ("en", "a b", 2L, 1L),
      ("en", "b c", 2L, 2L)))
  }

  test("datasetSplit is deterministic, content-keyed, and total") {
    val docs = (0 until 200).map(i => s"document number $i with words").toDF("text")
    val splits = docs.select(TextAnalysis.datasetSplit(col("text")).as("s"))
    val vals = splits.distinct().as[String].collect().toSet
    assert(vals.subsetOf(Set("train", "val", "test")))
    // stable across evaluations
    val a = splits.as[String].collect()
    val b = splits.as[String].collect()
    assert(a === b)
    // roughly 80/10/10 (hash-based: loose bounds)
    val n = a.count(_ == "train")
    assert(n > 120 && n < 200, s"train fraction off: $n/200")
  }

  test("degenerate inputs: empty and single-row frames don't break the pipeline ops") {
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(TextAnalysis.topNgrams(noDocs, "lang", "text").isEmpty)
    assert(graft.ops.Dedup.verifiedNearDups(noDocs, "doc_id", "text").isEmpty)
    assert(graft.ops.Dedup.nearDupClusters(noDocs, "doc_id", "text").isEmpty)
    assert(TextAnalysis.topNgramShare(noDocs, "doc_id", "text").isEmpty)

    val noNums = Seq.empty[(String, Double)].toDF("g", "v")
    assert(graft.ops.Quantiles.exactInterpolated(noNums, Seq("g"), "v",
      Seq(0.5 -> "p50")).isEmpty)
    val one = Seq(("a", 7.0)).toDF("g", "v")
    val q = graft.ops.Quantiles.exactInterpolated(one, Seq("g"), "v",
      Seq(0.0 -> "p0", 0.5 -> "p50", 1.0 -> "p100")).head()
    assert(q.getDouble(1) === 7.0 && q.getDouble(2) === 7.0 && q.getDouble(3) === 7.0)

    val noRows = Seq.empty[(Long, Long)].toDF("ord", "w")
    assert(graft.ops.Packing.prefixSum(noRows, Nil, "ord", "w").isEmpty)
    val oneRow = graft.ops.Packing.packByBudget(
      Seq((5L, 100L)).toDF("ord", "w"), Nil, "ord", "w", budget = 64L).head()
    assert(oneRow.getAs[Long]("cum_w") === 100L)
    assert(oneRow.getAs[Long]("pack_id") === 0L)
  }

  test("connectedComponents labels chains, triangles, and singletons deterministically") {
    val nodes = (1L to 9L).toDF("id")
    // chain 1-2-3-4 (diameter > 1 round), triangle 5-6-7, isolated 8, 9
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("src", "dst")
    val got = graft.ops.Dedup.connectedComponents(nodes, edges)
      .orderBy("id").as[(Long, Long)].collect()
    assert(got === Array(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("repetition filters: dup-word fraction and top-bigram share") {
    val df = Seq(
      (1, "spam spam spam spam"),       // 1 distinct of 4 words; "spam spam" x3 of 3 bigrams
      (2, "all words are different"),   // no repetition
      (3, "one")).toDF("doc_id", "text") // single word: no bigram row
    val dup = df.select(col("doc_id"),
      round(TextAnalysis.dupWordFraction(col("text")), 4).as("f"))
      .orderBy("doc_id").as[(Int, Double)].collect()
    assert(dup === Array((1, 0.75), (2, 0.0), (3, 0.0)))
    val top = TextAnalysis.topNgramShare(df, "doc_id", "text")
      .orderBy("doc_id").as[(Int, String, Long, Double)].collect()
    assert(top === Array(
      (1, "spam spam", 3L, 1.0),
      (2, "all words", 1L, 0.3333)))
  }

  test("approx scale path brackets the exact operators (t-digest / HLL error bounds)") {
    // At extreme scale over continuous high-cardinality columns, the honest
    // quantile/distinct answers are the approximate sketches (mergeable,
    // bounded state). This pins them against the exact operators so the
    // documented scale path is demonstrably usable, not just named.
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val exact = graft.ops.Quantiles.exactInterpolated(
      li, Seq("l_returnflag"), "l_extendedprice", Seq(0.5 -> "p50", 0.9 -> "p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)").as("ap"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1).head, r.getSeq[Double](1)(1))).toMap
    exact.foreach { case (k, (p50, p90)) =>
      assert(math.abs(approx(k)._1 - p50) / p50 < 0.02, s"$k p50 off: ${approx(k)._1} vs $p50")
      assert(math.abs(approx(k)._2 - p90) / p90 < 0.02, s"$k p90 off: ${approx(k)._2} vs $p90")
    }
    val exactD = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approxD = li.select(approx_count_distinct(col("l_partkey"), 0.02)).head().getLong(0)
    assert(math.abs(approxD - exactD).toDouble / exactD < 0.05,
      s"HLL distinct off: $approxD vs $exactD")
  }

  test("valueHistogram zero-fills empty bins and drops out-of-domain values") {
    val df = Seq(0.0, 0.5, 9.99, 10.0, 39.9, -1.0, 40.0, 1e9)
      .toDF("value")
    val got = graft.ops.EventOps.valueHistogram(df, "value", width = 10.0, nBins = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // -1.0, 40.0 and 1e9 fall outside [0, 40) and are dropped; bin 2 empty
    assert(got === Seq((0L, 0.0, 3L), (1L, 10.0, 1L), (2L, 20.0, 0L), (3L, 30.0, 1L)))
  }

  test("verifiedNearDups = minhash candidates filtered by exact jaccard") {
    val docs = Seq(
      (1, "the quick brown fox jumps over the lazy dog today"),
      (2, "the quick brown fox jumps over the lazy dog tonight"),
      (3, "completely different words about spark and catalyst planning"),
      (4, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val got = Dedup.verifiedNearDups(docs, "doc_id", "text", threshold = 0.3)
      .orderBy(col("id_a"), col("id_b"))
      .as[(Int, Int, Long, Double)].collect()
    // the contract: exactly the LSH candidates that pass exact-jaccard
    // verification (LSH recall < 1 by construction, so near-but-not-identical
    // pairs may legitimately be absent from the candidate set)
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Int, Int)].collect().toSet
    val exact = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .as[(Int, Int, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got.map(t => (t._1, t._2)).toSet === cands.intersect(exact.keySet))
    // identical docs 1 and 4 are always candidates (identical signatures)
    val dup = got.find(t => (t._1, t._2) == (1, 4)).get
    assert(dup._4 === 1.0)
    // verified jaccard values agree with the exact all-pairs computation
    got.foreach(t => assert(t._4 === exact((t._1, t._2))))
  }

  test("conversionFunnel: ordered stages only — out-of-order steps do not count") {
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full path
      (2L, "click", 8L), (2L, "view", 10L),                         // click BEFORE view
      (3L, "view", 10L), (3L, "purchase", 12L), (3L, "click", 15L), // purchase before click
      (4L, "purchase", 5L),                                         // never viewed
    ).toDF("user_id", "event_type", "ts_ns")
    val got = graft.ops.EventOps.conversionFunnel(ev,
        Seq("view" -> "view", "click_after_view" -> "click",
          "purchase_after_click" -> "purchase"))
      .orderBy("stage").as[(Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "view", 3L),                 // users 1, 2, 3
      (2L, "click_after_view", 2L),     // users 1, 3
      (3L, "purchase_after_click", 1L)))// user 1 only
  }

  test("columnProfile: nulls, distincts, numeric-only min/max") {
    val df = Seq(
      (Some(1L), "a", 2.0), (Some(2L), "b", 4.0), (None, "a", 4.0),
    ).toDF("id", "cat", "v")
    val got = graft.ops.Qc.columnProfile(df, Seq("id", "cat", "v"))
      .orderBy("column_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)), Option(r.get(5)))).toSeq
    assert(got === Seq(
      ("cat", 3L, 0L, 2L, None, None),
      ("id", 3L, 1L, 2L, Some(1.0), Some(2.0)),
      ("v", 3L, 0L, 2L, Some(2.0), Some(4.0))))
  }

  test("checkConstraints: false AND null rows count as violations") {
    val df = Seq(Some(5L), Some(-1L), None).toDF("x")
    val got = graft.ops.Qc.checkConstraints(df, Seq(
        "x_nonneg" -> (col("x") >= 0L), // -1 fails, NULL is a violation too
        "x_nonnull" -> col("x").isNotNull))
      .orderBy("check_name").as[(String, Long, Boolean)].collect().toSeq
    assert(got === Seq(("x_nonneg", 2L, false), ("x_nonnull", 1L, false)))
  }

  test("retentionCohorts: first-day cohorts x day offsets, distinct users, offset cap") {
    def t(day: Long, sec: Long) = new java.sql.Timestamp((day * 86400L + sec) * 1000L)
    val ev = Seq(
      (1L, t(0, 10)), (1L, t(1, 5)), (1L, t(9, 0)), // offset 9 excluded
      (2L, t(1, 0)), (2L, t(3, 0)), (2L, t(3, 60)), // same-day repeat counts once
      (3L, t(0, 50)),
    ).toDF("user_id", "ts")
    val got = graft.ops.EventOps.retentionCohorts(ev)
      .orderBy("cohort_day", "day_offset").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 0L, 2L), (0L, 1L, 1L), (1L, 0L, 1L), (1L, 2L, 1L)))
  }

  test("fkAudit: orphans and NULL fks counted, intact relations pass") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(2L), Some(9L), None).toDF("fk") // 9 + NULL orphaned
    val intact = Seq(Some(3L), Some(3L)).toDF("fk")
    val got = graft.ops.Qc.fkAudit(Seq(
        ("broken", child, "fk", parent, "pk"),
        ("intact", intact, "fk", parent, "pk")))
      .orderBy("relation").as[(String, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(("broken", 4L, 2L, false), ("intact", 2L, 0L, true)))
  }

  test("dauWau: trailing-7-day distinct, clipped tail, integer stickiness") {
    def t(day: Long, u: Long) = (u, new java.sql.Timestamp(day * 86400_000L + 1000L))
    // users: 1 active days 0 and 3; 2 active day 0 only; 3 active day 8
    val ev = Seq(t(0, 1), t(0, 2), t(3, 1), t(8, 3)).toDF("user_id", "ts")
    val got = graft.ops.EventOps.dauWau(ev)
      .orderBy("day").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 2L, 2L, 10000L),  // day 0: {1,2} both windows
      (3L, 1L, 2L, 5000L),   // day 3: dau {1}; wau {1,2} (day-0 pair still in range)
      (8L, 1L, 2L, 5000L)))  // day 8: dau {3}; wau {1,3} (day-3 activity in range)
  }

  test("scd2History: consecutive repeats compacted, intervals tile, open version null") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, 1L, "a", t(100)), (2L, 1L, "a", t(200)), // repeat compacted
      (3L, 1L, "b", t(300)), (4L, 1L, "a", t(400)), // back to a = new version
      (5L, 2L, "x", t(50)),
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.ops.EventOps.scd2History(ev, "user_id", "event_type")
      .orderBy("user_id", "version")
      .as[(Long, String, Long, Option[Long], Long)].collect().toSeq
    assert(got === Seq(
      (1L, "a", 100L, Some(300L), 1L),
      (1L, "b", 300L, Some(400L), 2L),
      (1L, "a", 400L, None, 3L),
      (2L, "x", 50L, None, 1L)))
    // half-open intervals tile: each version's valid_to == next valid_from
    got.filter(_._1 == 1L).sliding(2).foreach {
      case Seq(a, b) => assert(a._4.contains(b._3))
      case _ => ()
    }
  }

  test("scd2History + pointInTimeJoin are NULL-attribute-correct (change TO null kept, pair row-atomic)") {
    // r14: the change detector used `_prev =!= attr`, whose predicate is
    // NULL for a change TO NULL (version silently dropped) and which
    // failed to compact consecutive NULLs; and the PIT join filled attr
    // and version independently, so a NULL-attr version desynced the pair
    // (old attr served with the new version number).
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, 1L, Option("a"), t(100)),
      (2L, 1L, Option.empty[String], t(200)), // change TO null = a version
      (3L, 1L, Option.empty[String], t(250)), // consecutive null compacted
      (4L, 1L, Option("b"), t(300)),
      (5L, 2L, Option.empty[String], t(50)))  // first version may be null
      .toDF("event_id", "user_id", "event_type", "ts")
    val hist = graft.ops.EventOps.scd2History(ev, "user_id", "event_type")
    val got = hist.orderBy("user_id", "version")
      .as[(Long, Option[String], Long, Option[Long], Long)].collect().toSeq
    assert(got === Seq(
      (1L, Some("a"), 100L, Some(200L), 1L),
      (1L, None, 200L, Some(300L), 2L),
      (1L, Some("b"), 300L, None, 3L),
      (2L, None, 50L, None, 1L)))
    // PIT at tsec=210 (inside the NULL version): attr NULL, version 2 —
    // never ("a", 2), the desynced pair the independent fills produced
    val facts = Seq((1L, 210L, "f1")).toDF("user_id", "tsec", "fact")
    val pit = graft.ops.EventOps.pointInTimeJoin(facts, hist,
        "user_id", "tsec", "event_type")
      .select(col("asof_event_type"), col("asof_version")).head()
    assert(pit.isNullAt(0), "the matched version's NULL attr must be served as NULL")
    assert(pit.getLong(1) === 2L)
  }

  test("lastTouchAttribution: last qualifying touch wins; stale and first-event go direct") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      // user 1: click then view then purchase 60 s later -> view credited
      (1L, 1L, "click", t(100), 0.0), (2L, 1L, "view", t(160), 0.0),
      (3L, 1L, "purchase", t(220), 10.0),
      // user 2: click 3000 s before purchase -> stale -> direct
      (4L, 2L, "click", t(500), 0.0), (5L, 2L, "purchase", t(3500), 20.0),
      // user 3: purchase with no prior events -> direct
      (6L, 3L, "purchase", t(900), 30.0),
      // user 4: two purchases back to back: click credits the FIRST; the
      // second's last non-purchase touch is still the click (within gap)
      (7L, 4L, "click", t(1000), 0.0), (8L, 4L, "purchase", t(1010), 5.0),
      (9L, 4L, "purchase", t(1020), 7.0),
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = graft.ops.EventOps.lastTouchAttribution(ev, gapSeconds = 1800L)
      .orderBy("attributed").as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(
      ("click", 2L, 12.0), ("direct", 2L, 50.0), ("view", 1L, 10.0)))
  }

  test("transitions: within-gap consecutive pairs only; same-second ties break by id") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      // user 1: a->b (10 s), b->c (gap 2000 s breaks the session), c->a (5 s)
      (1L, 1L, "a", t(100)), (2L, 1L, "b", t(110)),
      (3L, 1L, "c", t(2110)), (4L, 1L, "a", t(2115)),
      // user 2: same-second pair — id order decides direction (b->a)
      (6L, 2L, "b", t(500)), (7L, 2L, "a", t(500)),
      // user 3: single event, no pair
      (8L, 3L, "a", t(900)),
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.ops.EventOps.transitions(ev, gapSeconds = 1800L)
      .orderBy("from_type", "to_type").as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("a", "b", 1L), ("b", "a", 1L), ("c", "a", 1L)))
  }

  test("JsonOps.fieldStats: typed extraction with corrupt/absent payload accounting") {
    import graft.ops.JsonOps
    val df = Seq(
      (1L, "g", """{"k": 5}"""),
      (2L, "g", """{"k": 7, "x": 1}"""),
      (3L, "g", """{"x": 2}"""), // absent key
      (4L, "g", """not json"""), // malformed document
      (5L, "g", """{"k": "abc"}"""), // wrong type -> try_cast NULL
      (6L, "h", """{"k": -3}"""),
    ).toDF("id", "grp", "props")
    val got = JsonOps.fieldStats(df, "props", "$.k", "grp")
      .orderBy("grp").as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(got === Seq(
      ("g", 5L, 3L, Some(5L), Some(7L), Some(12L)),
      ("h", 1L, 0L, Some(-3L), Some(-3L), Some(-3L))))
  }

  test("ntileBins: equal-frequency fill rule, exact edges, deterministic ties") {
    import graft.ops.Quantiles
    // 23 rows into 5 bins: sizes 5,5,5,4,4 (first N mod k bins get the extra)
    val df = (1 to 23).map(i => ("g", i.toLong, (i % 7).toDouble)).toDF("g", "id", "v")
    val got = Quantiles.ntileBins(df, Seq("g"), "v", nBins = 5, tieCol = "id")
      .orderBy("bin").select("bin", "n", "lo", "hi")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) === (1L to 5L))
    assert(got.map(_._2) === Seq(5L, 5L, 5L, 4L, 4L))
    assert(got.head._3 === 0.0 && got.last._4 === 6.0)
    // bins tile the sorted order: each bin's hi <= the next bin's lo
    got.sliding(2).foreach { case Seq(a, b) => assert(a._4 <= b._3) }
    val again = Quantiles.ntileBins(df.repartition(9), Seq("g"), "v", 5, "id")
      .orderBy("bin").select("bin", "n", "lo", "hi")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got === again, "tie-broken ntile must be partition-invariant")
  }

  test("madOutliers: robust to the outliers it counts; mean/std would widen the band") {
    import graft.ops.Quantiles
    // 19 inliers near 10 and two wild points: median=10, MAD small, both
    // wild points flagged. A mean/std band at k=3 would swallow them.
    val vals = (1 to 19).map(i => 10.0 + (i % 5 - 2) * 0.1) ++ Seq(1000.0, -980.0)
    val df = vals.map(("g", _)).toDF("g", "value")
    val got = Quantiles.madOutliers(df, Seq("g"), "value", k = 3.0)
      .select("n", "median", "mad", "n_outliers")
      .as[(Long, Double, Double, Long)].head()
    assert(got._1 === 21L)
    assert(got._2 === 10.0)
    assert(got._3 === 0.1)
    assert(got._4 === 2L, s"expected exactly the two wild points, got ${got._4}")
    // NULL values occupy no rank and are not counted
    val withNulls = (vals.map(v => ("g", Option(v))) :+ (("g", Option.empty[Double])))
      .toDF("g", "value")
    val n2 = Quantiles.madOutliers(withNulls, Seq("g"), "value")
      .select("n").as[Long].head()
    assert(n2 === 21L)
  }

  test("linearTrend: recovers a known line, nulls on constant x, partition-invariant") {
    import graft.ops.Regression
    val pts = (0 until 10).map(i => ("up", 1000L + i, 2.0 + 3.0 * i)) ++
      (0 until 8).map(i => ("flat", 500L + i, 7.25)) ++
      (0 until 5).map(_ => ("degen", 42L, 1.0)) // constant x: no slope
    val df = pts.toDF("g", "x", "y")
    val got = Regression.linearTrend(df, "g", "x", "y")
      .orderBy("g")
      .as[(String, Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(got === Seq(
      ("degen", 5L, 42L, None, None),
      ("flat", 8L, 500L, Some(0.0), Some(7.25)),
      ("up", 10L, 1000L, Some(3.0), Some(2.0))))
    val again = Regression.linearTrend(df.repartition(7), "g", "x", "y")
      .orderBy("g")
      .as[(String, Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(got === again, "OLS sums must be order/partitioning-independent")
  }

  test("histogramQuantiles: exact on the 0-99 singleton buckets, ~10% bound above, negatives mirrored") {
    import graft.ops.Quantiles
    // values 0..99 get width-1 buckets -> the sketch IS the exact
    // interpolated percentile
    val small = (0 to 99).map(v => ("g", v.toLong)).toDF("g", "v")
    val se = Quantiles.histogramQuantiles(small, Seq("g"), "v",
      Seq(0.5 -> "p50", 0.9 -> "p90")).head()
    val sx = Quantiles.exactInterpolated(small, Seq("g"), "v",
      Seq(0.5 -> "p50", 0.9 -> "p90")).head()
    assert(se.getDouble(1) === sx.getDouble(1))
    assert(se.getDouble(2) === sx.getDouble(2))

    // 3-5 digit values: bucket width = 10% of magnitude bounds the error
    val big = (1 to 2000).map(i => ("g", ((i.toLong * 7919) % 99000) + 100))
      .toDF("g", "v")
    val be = Quantiles.histogramQuantiles(big, Seq("g"), "v",
      Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")).head()
    val bx = Quantiles.exactInterpolated(big, Seq("g"), "v",
      Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")).head()
    (1 to 3).foreach { i =>
      val (est, exact) = (be.getDouble(i), bx.getDouble(i))
      assert(math.abs(est - exact) <= 0.1 * exact + 1.0,
        s"spec $i: est=$est exact=$exact")
    }
    assert(be.getDouble(1) <= be.getDouble(2) && be.getDouble(2) <= be.getDouble(3))

    // negative values land in mirrored decades, rank order preserved
    val neg = (1 to 500).map(i => ("g", -(((i.toLong * 104729) % 900) + 100)))
      .toDF("g", "v")
    val ne = Quantiles.histogramQuantiles(neg, Seq("g"), "v", Seq(0.5 -> "p50")).head()
    val nx = Quantiles.exactInterpolated(neg, Seq("g"), "v", Seq(0.5 -> "p50")).head()
    assert(math.abs(ne.getDouble(1) - nx.getDouble(1)) <= 0.1 * math.abs(nx.getDouble(1)) + 10.0,
      s"neg: est=${ne.getDouble(1)} exact=${nx.getDouble(1)}")
  }

  test("pointInTimeJoin: boundary inclusivity, zero-width supersession, pre-history nulls") {
    // history for key 1: v1 [100, 200), v2 [200, 200) zero-width, v3 [200, null)
    val hist = Seq(
      (1L, "red", 100L, Some(200L), 1L),
      (1L, "blue", 200L, Some(200L), 2L),
      (1L, "green", 200L, None, 3L),
    ).toDF("k", "attr", "valid_from", "valid_to", "version")
    val facts = Seq(
      (10L, 1L, 50L),   // before any version -> null
      (11L, 1L, 100L),  // exactly v1 start -> v1 (valid_from inclusive)
      (12L, 1L, 199L),  // inside v1
      (13L, 1L, 200L),  // v2 is zero-width -> superseded by v3
      (14L, 1L, 999L),  // open version
      (20L, 2L, 100L),  // key with no history -> null
    ).toDF("fact_id", "k", "tsec")
    val got = graft.ops.EventOps.pointInTimeJoin(facts, hist, "k", "tsec", "attr")
      .orderBy("fact_id").collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.toString),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    assert(got.toSeq === Seq(
      (10L, None, None),
      (11L, Some("red"), Some(1L)),
      (12L, Some("red"), Some(1L)),
      (13L, Some("green"), Some(3L)),
      (14L, Some("green"), Some(3L)),
      (20L, None, None)))
    val again = graft.ops.EventOps.pointInTimeJoin(facts.repartition(4),
      hist.repartition(2), "k", "tsec", "attr")
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.toString))).toSet
    assert(again === got.map(g => (g._1, g._2)).toSet)
  }

  test("lagFeatures: explicit missing-history encoding, exact gaps, partition-invariant") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1: three events 100s apart; user 2: one lone event
    val ev = Seq(
      (10L, 1L, ts(1000), "view"),
      (11L, 1L, ts(1100), "click"),
      (12L, 1L, ts(1200), "buy"),
      (20L, 2L, ts(5000), "view"),
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.ops.EventOps.lagFeatures(ev)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getLong(4),
        r.getString(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      (10L, "view", "none", -1L, "none", -1L),
      (11L, "click", "view", 100L, "none", -1L),
      (12L, "buy", "click", 100L, "view", 200L),
      (20L, "view", "none", -1L, "none", -1L)))
    val again = graft.ops.EventOps.lagFeatures(ev.repartition(3))
      .collect().map(r => (r.getLong(0), r.getString(2), r.getString(3),
        r.getLong(4), r.getString(5), r.getLong(6))).toSet
    assert(again === got.toSet)
  }
}
