package graft

import graft.ops.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "pack my box with five dozen liquor jugs", "en"),
    (3L, "the quick brown fox naps all day long", "en"),
    (4L, "el gato duerme en la casa grande", "es"),
    (5L, "la casa grande tiene un gato pequeno", "es"),
    (6L, "completely unrelated content about spark engines", "en"),
  ).toDF("doc_id", "text", "lang")

  test("decontaminate counts distinct overlapping shingles; filter drops them") {
    // benchmark shares the "the quick brown fox" 4 words = two 3-gram
    // shingles with doc 1 and doc 3
    val bench = Seq((100L, "the quick brown fox is a benchmark item")).toDF("doc_id", "text")
    val got = Corpus.decontaminate(docs, bench, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (3L, 2L)))
    val clean = Corpus.decontaminated(docs, bench, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().sorted
    assert(clean === Seq(2L, 4L, 5L, 6L))
  }

  test("stratifiedSample keeps k per stratum, deterministic across runs") {
    val s1 = Corpus.stratifiedSample(docs, "lang", "doc_id", k = 2)
      .select("lang", "rn", "doc_id").collect().toSet
    val s2 = Corpus.stratifiedSample(docs.repartition(7), "lang", "doc_id", k = 2)
      .select("lang", "rn", "doc_id").collect().toSet
    assert(s1 === s2)
    val perLang = s1.groupBy(_.getString(0)).view.mapValues(_.size).toMap
    assert(perLang === Map("en" -> 2, "es" -> 2))
    // ranks are 1..k and follow the id-hash order
    assert(s1.toSeq.map(_.getLong(1)).sorted === Seq(1L, 1L, 2L, 2L))
  }

  test("weightedSample: k per stratum, heavy rows dominate, partition-invariant") {
    // one stratum, ids 0..99 weight 1, ids 100..199 weight 100: the 20
    // smallest u/w priorities should be overwhelmingly heavy rows
    val df = (0 until 200)
      .map(i => (i.toLong, "en", if (i < 100) 1L else 100L))
      .toDF("doc_id", "lang", "wt")
    val got = Corpus.weightedSample(df, "lang", "doc_id", "wt", k = 20)
      .select("doc_id", "rn").as[(Long, Long)].collect().sortBy(_._2)
    assert(got.length === 20)
    assert(got.map(_._2).toSeq === (1L to 20L), "rn must be dense 1..k")
    val heavy = got.count(_._1 >= 100)
    assert(heavy >= 15, s"only $heavy/20 sampled rows are heavy-weight")
    val again = Corpus.weightedSample(df.repartition(7), "lang", "doc_id", "wt", k = 20)
      .select("doc_id", "rn").as[(Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq === again.toSeq, "weighted sample must be deterministic")
  }

  test("weightedSample: NULL/zero/negative weights are never selected and never displace") {
    // a NULL weight's priority sorted FIRST under asc-nulls-first and a
    // negative weight produced a negative (always-winning) priority — one
    // bad row hijacked its stratum's whole sample; the guard defines the
    // priority only for w > 0
    val clean = (0 until 30).map(i => (i.toLong, "en", Some(i.toLong + 1)))
    val dirty = clean ++ Seq(
      (900L, "en", Option.empty[Long]),  // NULL weight
      (901L, "en", Some(0L)),            // zero
      (902L, "en", Some(-5L)))           // negative
    val sel = Corpus.weightedSample(dirty.toDF("doc_id", "lang", "wt"),
        "lang", "doc_id", "wt", k = 10)
      .select("doc_id", "rn").as[(Long, Long)].collect().sortBy(_._2)
    val ref = Corpus.weightedSample(clean.toDF("doc_id", "lang", "wt"),
        "lang", "doc_id", "wt", k = 10)
      .select("doc_id", "rn").as[(Long, Long)].collect().sortBy(_._2)
    assert(sel.forall(_._1 < 900), "non-positive/NULL-weight rows must never be selected")
    assert(sel.toSeq === ref.toSeq,
      "bad-weight rows must not displace or re-rank the clean sample")
  }

  test("featureScale: endpoints 0 and 1, deterministic ties, degenerate strata null") {
    val df = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 20.0), (4L, "a", 40.0),
      (5L, "b", 7.0), // singleton stratum
      (6L, "c", 3.0), (7L, "c", 3.0), // constant stratum: minmax null
    ).toDF("id", "g", "v")
    val got = Corpus.featureScale(df, "g", "v", "id")
      .orderBy("id")
      .as[(Long, String, Double, Option[Double], Option[Double])].collect().toSeq
    assert(got === Seq(
      (1L, "a", 10.0, Some(0.0), Some(0.0)),
      (2L, "a", 20.0, Some(0.333333), Some(0.333333)),
      (3L, "a", 20.0, Some(0.666667), Some(0.333333)), // tie ranks by id
      (4L, "a", 40.0, Some(1.0), Some(1.0)),
      (5L, "b", 7.0, None, None),
      (6L, "c", 3.0, Some(0.0), None),
      (7L, "c", 3.0, Some(1.0), None)))
  }

  test("rebalance keeps small strata whole and thins large ones deterministically") {
    val big = (1L to 400L).map(i => (i, s"doc $i", if (i <= 300) "en" else "es"))
      .toDF("doc_id", "text", "lang")
    val got = Corpus.rebalance(big, "lang", "doc_id", target = 100.0)
      .orderBy("lang").as[(String, Long, Long)].collect().toSeq
    assert(got.map(_._1) === Seq("en", "es"))
    val en = got(0); val es = got(1)
    assert(en._2 === 300L && es._2 === 100L)
    // es under target: rate 1.0 keeps everything
    assert(es._3 === 100L)
    // en thinned to ~100 (hash-Bernoulli, not exact): within a loose band
    assert(en._3 > 60L && en._3 < 140L, s"en kept ${en._3}")
    // deterministic under repartition
    val again = Corpus.rebalance(big.repartition(5), "lang", "doc_id", target = 100.0)
      .orderBy("lang").as[(String, Long, Long)].collect().toSeq
    assert(again === got)
  }

  test("rebalanced returns the surviving rows the stats report counts") {
    val big = (1L to 400L).map(i => (i, s"doc $i", if (i <= 300) "en" else "es"))
      .toDF("doc_id", "text", "lang")
    val stats = Corpus.rebalance(big, "lang", "doc_id", target = 100.0)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val kept = Corpus.rebalanced(big, "lang", "doc_id", target = 100.0)
    assert(kept.columns.toSeq === Seq("doc_id", "text", "lang"))
    val keptCounts = kept.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(keptCounts === stats)
  }

  test("rebalance treats a NULL stratum as a real stratum") {
    val withNull = Seq(
      (1L, "a", "en"), (2L, "b", "en"), (3L, "c", null),
      (4L, "d", null), (5L, "e", null),
    ).toDF("doc_id", "text", "lang")
    // target above every stratum size: rate 1.0, nothing thinned
    val got = Corpus.rebalance(withNull, "lang", "doc_id", target = 10.0)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((Some("en"), 2L, 2L), (None, 3L, 3L)))
    val kept = Corpus.rebalanced(withNull, "lang", "doc_id", target = 10.0)
    assert(kept.count() === 5L)
    // and a binding target still thins the NULL stratum instead of dropping it
    val nulls = (1L to 200L).map(i => (i, s"doc $i", null: String))
      .toDF("doc_id", "text", "lang")
    val thinned = Corpus.rebalance(nulls, "lang", "doc_id", target = 50.0)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
    assert(thinned.length === 1)
    assert(thinned.head._1 === None && thinned.head._2 === 200L)
    assert(thinned.head._3 > 20L && thinned.head._3 < 80L, s"kept ${thinned.head._3}")
  }

  test("temperature sampling flattens the stratum mix toward uniform") {
    // 900 en vs 100 es: raw mix is 9:1; sqrt temperature weights 30:10, so
    // a 200-doc target should land ~150 en / ~50 es (3:1) — flatter than
    // raw proportional sampling (180/20)
    val big = (1L to 1000L).map(i => (i, s"doc $i", if (i <= 900) "en" else "es"))
      .toDF("doc_id", "text", "lang")
    val got = Corpus.temperatureSample(big, "lang", "doc_id", totalTarget = 200.0)
      .orderBy("lang").as[(String, Long, Long)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) === Seq(("en", 900L), ("es", 100L)))
    val en = got(0)._3.toDouble; val es = got(1)._3.toDouble
    assert(en > 100 && en < 200, s"en kept $en")
    assert(es > 25 && es < 75, s"es kept $es")
    // ratio must sit well below the raw 9:1
    assert(en / es < 6.0, s"ratio ${en / es} not flattened")
    // filter form agrees with the stats and is deterministic under repartition
    val kept = Corpus.temperatureSampled(big.repartition(7), "lang", "doc_id", 200.0)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept === got.map(t => t._1 -> t._3).toMap)
  }

  test("id hashes survive 64-bit ids and negative ids under ANSI mode") {
    // ids above Long.MaxValue/2654435761 ~ 3.47e9 overflowed the old raw
    // multiply; pmod-first reduction must keep every op ANSI-safe
    val huge = Seq(Long.MaxValue, Long.MaxValue - 1, 5000000000L, -42L, 0L, 7L)
      .zipWithIndex.map { case (id, i) => (id, s"doc $i", if (i % 2 == 0) "en" else "es") }
      .toDF("doc_id", "text", "lang")
    val sampled = Corpus.stratifiedSample(huge, "lang", "doc_id", k = 3)
    assert(sampled.count() === 6L)
    val exported = Corpus.shuffledExport(huge, "doc_id", shards = 4)
    assert(exported.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(Long.MaxValue, Long.MaxValue - 1, 5000000000L, -42L, 0L, 7L).sorted)
    assert(Corpus.rebalance(huge, "lang", "doc_id", target = 10.0)
      .agg(sum("n_after")).as[Long].head() === 6L)
    // hash stays in [0, P) even for negative ids
    val hv = huge.select(Corpus.idHash(col("doc_id"), 11L).as("h"))
      .as[Long].collect()
    assert(hv.forall(h => h >= 0L && h < 1000000007L))
  }

  test("tfidfTopK ranks rare terms above ubiquitous ones") {
    val d = Seq(
      (1L, "common common rare"),
      (2L, "common word"),
      (3L, "common word zebra"),
    ).toDF("doc_id", "text")
    val got = Corpus.tfidfTopK(d, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    // every doc gets its rarest term first: df(common)=3 -> idf ln(4/4)+1 = 1
    // df(rare)=df(zebra)=1 -> idf ln(2)+1; doc 1 tf(common)=2 outranks it
    assert(got.contains((1L, 2L, "rare")) || got.contains((1L, 1L, "rare")))
    assert(got.filter(_._1 == 3L).map(_._3).contains("zebra"))
    // rank 1 of doc 3 is zebra (tfidf 1.6931 > 1.0)
    assert(got.contains((3L, 1L, "zebra")))
  }

  test("shuffledExport: every doc exactly once, contiguous per-shard positions, deterministic") {
    val d = (1L to 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val exp = Corpus.shuffledExport(d, "doc_id", shards = 8)
      .select("shard", "pos", "doc_id")
    val rows = exp.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sorted.toSeq === (1L to 200L))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length.toLong))
    }
    val again = Corpus.shuffledExport(d.repartition(3), "doc_id", shards = 8)
      .select("shard", "pos", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet === rows.toSet)
    // it is actually shuffled: within-shard id order differs from pos order
    val shard0 = rows.filter(_._1 == rows.head._1).sortBy(_._2).map(_._3)
    assert(shard0 !== shard0.sorted)
  }

  test("perplexityScore: OOV-heavy docs score worse; hand-computed nll; partition-invariant") {
    // 6 docs of common words + 1 doc of singletons (all OOV at minCount=2)
    val d = (Seq.fill(6)("alpha beta gamma alpha beta") :+
      "zzz qqq www rrr ttt").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Corpus.perplexityScore(d, "doc_id", "text", minCount = 2L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 7)
    assert(got.forall(_._2 === 5L))
    val common = got.take(6).map(_._3)
    val oovDoc = got.last._3
    assert(common.forall(_ < oovDoc), s"common=$common oov=$oovDoc")
    // hand-check: N=35 tokens, kept vocab V=3 (alpha/beta:12, gamma:6);
    // p(alpha)=p(beta)=13/39, p(gamma)=7/39, OOV p=1/39
    val expCommon = -(2 * math.log(13.0 / 39) * 2 + math.log(7.0 / 39)) / 5
    assert(math.abs(common.head - expCommon) < 1e-6)
    val expOov = -math.log(1.0 / 39)
    assert(math.abs(oovDoc - expOov) < 1e-6)
    val again = Corpus.perplexityScore(d.repartition(5), "doc_id", "text", minCount = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again === got.toSet)
  }

  test("importanceWeights: target-like docs score positive and above raw-typical docs") {
    // raw corpus: 6 "common" docs + 2 target-domain docs; target LM trained
    // on the domain slice should pull its own vocabulary up
    val raw = (Seq.fill(6)("alpha beta gamma alpha beta") ++
      Seq.fill(2)("delta epsilon delta epsilon zeta")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val target = raw.where($"doc_id" >= 6)
    val got = Corpus.importanceWeights(raw, target, "doc_id", "text", minCount = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 8)
    assert(got.forall(_._2 === 5L))
    val (common, domain) = (got.take(6).map(_._3), got.drop(6).map(_._3))
    assert(domain.forall(d => common.forall(_ < d)),
      s"common=${common.toSeq} domain=${domain.toSeq}")
    assert(domain.forall(_ > 0) && common.forall(_ < 0))
    val again = Corpus.importanceWeights(raw.repartition(5), target,
      "doc_id", "text", minCount = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again === got.toSet)
  }

  test("mixtureWeights: shares sum to 1, under-represented domain up-weighted, cap binds") {
    // en: 30 tokens, es: 10, zh: 2 -> uniform target 14 tokens each
    val d = Seq(
      (1L, Seq.fill(30)("w").mkString(" "), "en"),
      (2L, Seq.fill(10)("w").mkString(" "), "es"),
      (3L, Seq.fill(2)("w").mkString(" "), "zh"),
    ).toDF("doc_id", "text", "lang")
    val rows = Corpus.mixtureWeights(d, "lang", "text", maxWeight = 5.0)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._2).toSeq === Seq(30L, 10L, 2L))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-6)
    val w = rows.map(r => r._1 -> r._4).toMap
    assert(w("en") < 1.0) // over-represented -> down-weighted
    assert(math.abs(w("es") - 1.4) < 1e-6) // 14/10
    assert(w("zh") === 5.0) // 14/2 = 7 capped at 5
  }

  /** Reference unigram distributions for the divergence tests: whitespace
    * tokens per slice with add-one smoothing over the global top-V vocab,
    * mirroring sliceDivergence's spec independently in plain collections.
    */
  private def refDists(rows: Seq[(String, String)], vocab: Int):
      (Seq[String], Map[String, Map[String, Long]]) = {
    val toks = rows.map { case (s, t) => s -> t.trim.toLowerCase.split("\\s+").toSeq }
    val all = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val topv = all.toSeq.sortBy { case (w, c) => (-c, w) }.take(vocab).map(_._1)
    val bySlice = toks.groupBy(_._1).view.mapValues { rs =>
      rs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    }.toMap
    (topv, bySlice)
  }

  test("sliceDivergence matches a plain-collections reference, r7") {
    val rows = Seq(
      ("a", "x x x y z common common"),
      ("a", "x y common words here"),
      ("b", "z z z q q common common"),
      ("b", "q words here common"))
    val df = rows.zipWithIndex
      .map { case ((s, t), i) => (i.toLong, t, s) }.toDF("doc_id", "text", "source")
    val vocabN = 8
    val (topv, bySlice) = refDists(rows, vocabN)
    val ct = topv.map(w => w ->
      bySlice.valuesIterator.map(_.getOrElse(w, 0L)).sum).toMap
    def expected(slice: String): (Long, Double, Double, Double) = {
      val cs = topv.map(w => w -> bySlice(slice).getOrElse(w, 0L)).toMap
      val ns = cs.values.sum
      val ntot = ct.values.sum
      val (nr, v) = (ntot - ns, vocabN.toDouble)
      def r7(d: Double) = BigDecimal(d).setScale(7, BigDecimal.RoundingMode.HALF_UP)
      var (kab, kba, js) = (BigDecimal(0), BigDecimal(0), BigDecimal(0))
      topv.foreach { w =>
        val pa = (cs(w) + 1.0) / (ns + v)
        val pb = ((ct(w) - cs(w)) + 1.0) / (nr + v)
        val pm = (pa + pb) / 2.0
        kab += r7(pa * math.log(pa / pb)); kba += r7(pb * math.log(pb / pa))
        js += r7(0.5 * (pa * math.log(pa / pm) + pb * math.log(pb / pm)))
      }
      // report grain == term grain (7): the decimal sum is exact there, so
      // no half-way case exists — see sliceDivergence's dsum7 note
      def rep(d: BigDecimal) = d.setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble
      (ns, rep(kab), rep(kba), rep(js))
    }
    val got = Corpus.sliceDivergence(df, "source", "text", vocab = vocabN)
      .orderBy("source").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got("a") === expected("a"))
    assert(got("b") === expected("b"))
    // divergences are non-negative and JS is bounded by ln 2
    got.values.foreach { case (_, kab, kba, j) =>
      assert(kab >= 0.0 && kba >= 0.0 && j >= 0.0 && j <= math.log(2.0) + 1e-9)
    }
    // partition-invariant: decimal-summed contributions
    val re = Corpus.sliceDivergence(df.repartition(7), "source", "text", vocab = vocabN)
      .orderBy("source").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(re === got)
  }

  test("sliceDivergence: identical slices diverge to zero") {
    val df = Seq(
      (1L, "same words in every slice", "a"),
      (2L, "same words in every slice", "b"))
      .toDF("doc_id", "text", "source")
    Corpus.sliceDivergence(df, "source", "text", vocab = 10).collect().foreach { r =>
      assert(r.getDouble(2) === 0.0 && r.getDouble(3) === 0.0 && r.getDouble(4) === 0.0)
    }
  }

  test("exportManifest: checksum is order/partitioning-invariant, flags any content change") {
    val df = (0L until 60L).map(i => (i, s"doc number $i words")).toDF("doc_id", "text")
    val base = Corpus.exportManifest(df, "doc_id", "text", shards = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(base.keySet === Set(0L, 1L, 2L, 3L))
    assert(base.values.map(_._1).sum === 60L)
    // invariant under re-partitioning and row order
    val re = Corpus.exportManifest(df.repartition(7).orderBy(col("text")), "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(re === base)
    // a single corrupted document flips exactly its shard's checksum
    val corrupted = df.withColumn("text",
      when(col("doc_id") === 17L, lit("tampered")).otherwise(col("text")))
    val bad = Corpus.exportManifest(corrupted, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val changed = base.keys.filter(k => bad(k) != base(k)._3)
    assert(changed.size === 1)
    // matches shuffledExport's shard for that doc
    val shard17 = Corpus.shuffledExport(df, "doc_id", 4)
      .where(col("doc_id") === 17L).select("shard").head().getLong(0)
    assert(changed.head === shard17)
  }

  test("lengthBatches: hand-computed buckets, batch cuts, padding; partition-invariant") {
    // token lengths 1,2,3 (bucket 0 at width 4) and 5,5,6 (bucket 1)
    val df = Seq(
      (1L, "a"), (2L, "a b"), (3L, "a b c"),
      (4L, "a b c d e"), (5L, "v w x y z"), (6L, "a b c d e f"))
      .toDF("doc_id", "text")
    val got = graft.ops.Packing.lengthBatches(df, "doc_id", "text",
        bucketWidth = 4L, batchSize = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // bucket 0: batches [1,2] (pad 1) and [3] (pad 0) -> 6 tokens, 1 pad
    assert(got(0L) === ((3L, 2L, 6L, 1L,
      BigDecimal(6.0 / 7.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // bucket 1: batches [5,5] (pad 0) and [6] (pad 0)
    assert(got(1L) === ((3L, 2L, 16L, 0L, 1.0)))
    val re = graft.ops.Packing.lengthBatches(df.repartition(5), "doc_id", "text",
        bucketWidth = 4L, batchSize = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(re === got)
  }

  test("chiSquareTerms surfaces class-concentrated terms, honors minCount and k") {
    // "nur" appears 6x, all in class de; "shared" is spread evenly;
    // "rare" appears 3x in de (< minCount 5) and must not rank
    val df = Seq(
      (1L, "nur nur nur shared shared rare", "de"),
      (2L, "nur nur nur shared rare rare", "de"),
      (3L, "shared shared other tokens here", "en"),
      (4L, "shared other tokens here too", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Corpus.chiSquareTerms(df, "lang", "text", k = 3, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val de = got.filter(_._1 == "de")
    assert(de.nonEmpty && de.head._3 === "nur") // top salient term for de
    assert(!got.exists(_._3 == "rare"))         // below the minCount floor
    assert(!got.exists(_._3 == "shared"))       // evenly spread -> not over-represented...
    got.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted === (1L to rs.size).toSeq) // dense ranks from 1
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank === byRank.sorted.reverse, "chi2 not descending in rank")
      assert(rs.size <= 3)
    }
    // chi2 for nur|de matches the textbook formula on the hand contingency:
    // a=6 (nur in de), b=0, class-de tokens s=12, total n=22
    val (a, w, s, n) = (6.0, 6.0, 12.0, 22.0)
    val (ad, bc) = (a * (n - w - s + a), (w - a) * (s - a))
    val chi2 = (n * ((ad - bc) * (ad - bc))) / ((w * (n - w)) * (s * (n - s)))
    val nurRow = de.find(_._3 == "nur").get
    assert(math.abs(nurRow._4 - BigDecimal(chi2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }
}
