package graft

import graft.ops.{Corpus, Dedup, Similarity, Sketches}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SketchesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // -------------------------------------------------------------------
  // KMV distinct-count
  // -------------------------------------------------------------------

  test("kmvDistinct: groups under k report the exact distinct count") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 7L))
      .toDF("g", "v")
    val got = Sketches.kmvDistinct(df, "g", "v", k = 8)
      .select("g", "est_distinct").as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 2L, "b" -> 1L))
  }

  test("kmvDistinct: estimate is within 50% of truth at k=64 and is partition-invariant") {
    val n = 5000
    val df = (0 until n).map(i => ("g", i.toLong)).toDF("g", "v")
    val est = Sketches.kmvDistinct(df, "g", "v", k = 64)
      .select("est_distinct").as[Long].head()
    assert(est > n / 2 && est < n * 2, s"KMV estimate $est too far from $n")
    val est1 = Sketches.kmvDistinct(df.repartition(13), "g", "v", k = 64)
      .select("est_distinct").as[Long].head()
    assert(est === est1, "KMV must not depend on partitioning")
  }

  test("sketches ignore NULL values: with-nulls == without-nulls, bit for bit") {
    // a NULL hash sorted FIRST in KMV's ascending top-k (stealing a slot,
    // inflating n_seen), registered a phantom NULL bucket in HLL, and
    // NPE'd bloomBits' driver-side word fill — the contract is
    // countDistinct's: nulls carry no identity, sketches never see them
    val clean = Seq(("a", 1L), ("a", 2L), ("b", 7L)).toDF("g", "v")
    val dirty = clean.unionByName(
      Seq(("a", Option.empty[Long]), ("b", Option.empty[Long])).toDF("g", "v"))
    assert(Sketches.kmvDistinct(dirty, "g", "v", 8).orderBy("g").collect().toSeq ===
      Sketches.kmvDistinct(clean, "g", "v", 8).orderBy("g").collect().toSeq)
    assert(Sketches.hllDistinct(dirty, "g", "v").orderBy("g").collect().toSeq ===
      Sketches.hllDistinct(clean, "g", "v").orderBy("g").collect().toSeq)
    assert(Sketches.kmvOverlap(dirty, "g", "v", 8).orderBy("g1", "g2").collect().toSeq ===
      Sketches.kmvOverlap(clean, "g", "v", 8).orderBy("g1", "g2").collect().toSeq)
    assert(Sketches.countMinSketch(dirty, "v").orderBy("row", "cell").collect().toSeq ===
      Sketches.countMinSketch(clean, "v").orderBy("row", "cell").collect().toSeq)
    assert(Sketches.bloomBits(dirty.select(col("v").as("h")), "h").toSeq ===
      Sketches.bloomBits(clean.select(col("v").as("h")), "h").toSeq)
  }

  // -------------------------------------------------------------------
  // HyperLogLog
  // -------------------------------------------------------------------

  test("hllDistinct: estimate near truth at p=10; partition-invariant; duplicates free") {
    val n = 5000
    val df = (0 until n).map(i => ("g", i.toLong)).toDF("g", "v")
    val est = Sketches.hllDistinct(df, "g", "v")
      .select("est_distinct").as[Long].head()
    // standard error ~1.04/sqrt(1024) ~ 3.3%; allow ~3 sigma
    assert(math.abs(est - n) < n * 0.10, s"HLL estimate $est too far from $n")
    val est1 = Sketches.hllDistinct(df.repartition(13), "g", "v")
      .select("est_distinct").as[Long].head()
    assert(est === est1, "HLL must not depend on partitioning")
    // registers are max-aggregates: duplicated input changes NOTHING —
    // the property KMV only gets by paying a distinct-shuffle first
    val est2 = Sketches.hllDistinct(df.union(df).union(df), "g", "v")
      .select("est_distinct").as[Long].head()
    assert(est === est2, "HLL must absorb duplicates without drift")
  }

  test("hllDistinct: per-group sketches, z_scaled integer-exact invariants") {
    val df = Seq.tabulate(3000)(i => (s"g${i % 3}", (i / 3).toLong * (i % 3 + 1)))
      .toDF("g", "v")
    val rows = Sketches.hllDistinct(df, "g", "v")
      .select("g", "n_buckets_hit", "z_scaled", "est_distinct")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted === Array("g0", "g1", "g2"))
    rows.foreach { case (g, hit, z, est) =>
      assert(hit >= 1 && hit <= 1024, s"$g: bucket count $hit out of range")
      // every register contributes at least 2^0 = 1 and at most 2^24;
      // empty buckets contribute exactly 2^24 each
      val zMin = (1024 - hit) * 16777216L + hit
      val zMax = 1024L * 16777216L
      assert(z >= zMin && z <= zMax, s"$g: z_scaled $z outside [$zMin,$zMax]")
      assert(est > 0, s"$g: estimate must be positive")
    }
  }

  // -------------------------------------------------------------------
  // KMV set-overlap
  // -------------------------------------------------------------------

  test("kmvOverlap: exact when union fits the sketch; all pairs emitted") {
    // a = {0..49}, b = {30..79} (overlap 20), c = {100..109} (disjoint)
    val df = ((0 until 50).map(("a", _)) ++ (30 until 80).map(("b", _)) ++
      (100 until 110).map(("c", _))).map { case (g, v) => (g, v.toLong) }
      .toDF("g", "v")
    val got = Sketches.kmvOverlap(df, "g", "v", k = 256)
      .orderBy("g1", "g2")
      .select("g1", "g2", "n_union_seen", "n_common", "est_union", "est_intersection")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("a", "b", 80L, 20L, 80L, 20L),
      ("a", "c", 60L, 0L, 60L, 0L),
      ("b", "c", 60L, 0L, 60L, 0L)))
  }

  test("kmvOverlap: estimates near truth past the sketch bound; partition-invariant") {
    // a = {0..3999}, b = {2000..5999}: union 6000, intersection 2000
    val df = ((0 until 4000).map(("a", _)) ++ (2000 until 6000).map(("b", _)))
      .map { case (g, v) => (g, v.toLong) }.toDF("g", "v")
    val Seq((u, c, eu, ei)) = Sketches.kmvOverlap(df, "g", "v", k = 512)
      .select("n_union_seen", "n_common", "est_union", "est_intersection")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(u === 512L)
    // KMV standard error ~1/sqrt(k) ~ 4.4%; allow ~3 sigma on the union,
    // wider on the intersection (rho adds binomial noise)
    assert(math.abs(eu - 6000L) < 850, s"union estimate $eu too far from 6000")
    assert(math.abs(ei - 2000L) < 500, s"intersection estimate $ei too far from 2000")
    assert(c > 0 && c <= 512)
    val again = Sketches.kmvOverlap(df.repartition(11), "g", "v", k = 512)
      .select("est_intersection").as[Long].head()
    assert(ei === again, "overlap estimate must not depend on partitioning")
  }

  // -------------------------------------------------------------------
  // Count-min
  // -------------------------------------------------------------------

  test("countMin: estimates are upward-biased (est >= exact) and exact when the sketch is wide") {
    val keys = (0 until 500).map(i => (i % 37).toLong) // skewed: key 0..36
    val df = keys.toDF("k")
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val queryKeys = exact.keys.toSeq.toDF("k")
    val est = Sketches.countMinFrequencies(df, "k", queryKeys, width = 1024)
      .as[(Long, Long)].collect().toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"count-min under-estimated key $k: ${est(k)} < $c")
    }
    // 37 keys in a 4x1024 sketch: collisions essentially impossible per
    // row, and min-over-rows removes any residual — estimates are exact
    assert(est === exact)
  }

  test("countMin: narrow sketch overestimates but never underestimates") {
    val keys = (0 until 2000).map(i => (i % 211).toLong)
    val df = keys.toDF("k")
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val est = Sketches.countMinFrequencies(df, "k", exact.keys.toSeq.toDF("k"),
        width = 64) // 211 keys >> 64 cells: forced collisions
      .as[(Long, Long)].collect().toMap
    exact.foreach { case (k, c) => assert(est(k) >= c) }
    assert(est.values.sum > exact.values.sum, "collisions must inflate some estimate")
  }

  // -------------------------------------------------------------------
  // Bloom filter
  // -------------------------------------------------------------------

  test("bloom: no false negatives; false-positive rate is small at the default sizing") {
    val members = (0 until 1000).map(i => i.toLong * 7919L)
    val bits = Sketches.bloomBits(members.toDF("h"), "h")
    val probe = ((0 until 1000).map(i => i.toLong * 7919L) ++ // members
      (0 until 1000).map(i => i.toLong * 7919L + 1L))         // non-members
      .toDF("h")
    val got = probe
      .select(col("h"), Sketches.bloomContains(bits)(col("h")).as("m"))
      .as[(Long, Boolean)].collect()
    val memberSet = members.toSet
    got.filter(r => memberSet(r._1)).foreach { case (h, m) =>
      assert(m, s"false negative for member $h")
    }
    val fp = got.count(r => !memberSet(r._1) && r._2)
    // 1000 items in 64 Kbit with 4 hashes: theoretical fpp ~ 4e-6; allow
    // generous slack for the non-independent polynomial hashes
    assert(fp <= 10, s"false-positive count $fp too high")
  }

  test("bloomDecontaminate output is exactly Corpus.decontaminate's") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox naps all day long"),
      (6L, "completely unrelated content about spark engines"),
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox is a benchmark item")).toDF("doc_id", "text")
    val plain = Corpus.decontaminate(corpus, bench, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val bloom = Sketches.bloomDecontaminate(corpus, bench, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(bloom === plain)
    assert(plain.nonEmpty)
  }

  // -------------------------------------------------------------------
  // duplicateSpans / contaminationRate
  // -------------------------------------------------------------------

  test("duplicateSpans: cross-doc duplicated windows and first-occurrence ownership") {
    val thirty = (1 to 30).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      // spans at starts 0 and 10 — the start-20 span (t21..t30) is fully
      // CONTAINED in the start-10 span (t11..t30) and is suppressed since
      // the r15 chunk-containment fix (window 20, stride 10 => overlap 10;
      // 20 + 10 >= 30)
      (1L, thirty),                 // 2 spans
      (2L, thirty),                 // identical: both duplicated, none owned
      (3L, "u1 u2 u3 u4 u5"),       // 1 unique span
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, 2L), // both spans shared with doc 2; doc 1 owns them (min id)
      (2L, 2L, 2L, 0L),
      (3L, 1L, 0L, 1L)))
    // scale guard: the span table must NOT be cached inside the returned
    // lineage (a data-sized MEMORY_ONLY resident set at 100 TB — the q19
    // pathology); the double consumption is served by ReuseExchange over
    // the (fp, doc) aggregate instead
    val plan = Dedup.duplicateSpans(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan") && !plan.contains("InMemoryRelation"))
  }

  test("streaming KMV: final estimates bit-match the batch sketch on the same bounded input") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val chunks = Seq(
      (0 until 40).map(i => ("a", i.toLong)) ++ Seq(("b", 1L), ("b", 2L)),
      (30 until 70).map(i => ("a", i.toLong)) ++ Seq(("b", 2L), ("b", 3L)),
      (60 until 100).map(i => ("a", i.toLong)))
    val input = MemoryStream[(String, Long)]
    chunks.foreach(c => input.addData(c)) // three micro-batches, overlapping values
    val streamed = graft.streaming.StreamDrains
      .kmvFinal(input.toDF().toDF("g", "v"), "g", "v", k = 8, queryName = "kmv_out")
      .orderBy("group").as[(String, Long, Long, Long)].collect().toSeq
    val batch = Sketches.kmvDistinct(chunks.flatten.toDF("g", "v"), "g", "v", k = 8)
      .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq
    assert(streamed === batch)
    // sanity: "a" saw 100 distincts through an 8-value state; "b" stays exact
    assert(batch.find(_._1 == "b").get._4 === 3L)
    assert(batch.find(_._1 == "a").get._2 === 8L)
  }

  test("streaming HLL: final estimates bit-match the batch sketch on the same bounded input") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val chunks = Seq(
      (0 until 2000).map(i => ("a", i.toLong)) ++ Seq(("b", 1L), ("b", 2L)),
      (1500 until 3500).map(i => ("a", i.toLong)) ++ Seq(("b", 2L), ("b", 3L)),
      (3000 until 5000).map(i => ("a", i.toLong)))
    val input = MemoryStream[(String, Long)]
    chunks.foreach(c => input.addData(c)) // three micro-batches, overlapping values
    val streamed = graft.streaming.StreamDrains
      .hllFinal(input.toDF().toDF("g", "v"), "g", "v", queryName = "hll_out")
      .orderBy("group").as[(String, Long, Long, Long)].collect().toSeq
    val batch = Sketches.hllDistinct(chunks.flatten.toDF("g", "v"), "g", "v")
      .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq
    assert(streamed === batch)
    // sanity: "a" saw 5000 distincts through 1 KiB of state, within ~3 sigma
    val estA = batch.find(_._1 == "a").get._4
    assert(math.abs(estA - 5000L) < 500, s"streamed/batch HLL estimate $estA off")
  }

  test("streaming count-min: final cells bit-match the batch sketch on the same bounded input") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val chunks = Seq(
      (0 until 500).map(i => i.toLong % 37),
      (0 until 700).map(i => i.toLong % 53),
      (0 until 300).map(i => i.toLong % 11))
    val input = MemoryStream[Long]
    chunks.foreach(c => input.addData(c))
    val streamed = graft.streaming.StreamDrains
      .countMinFinal(input.toDF().toDF("k"), "k", width = 64,
        queryName = "cm_out")
      .orderBy("row", "cell").as[(Int, Long, Long)].collect().toSeq
    val batch = Sketches.countMinSketch(chunks.flatten.toDF("k"), "k", width = 64)
      .orderBy("row", "cell").as[(Int, Long, Long)].collect().toSeq
    assert(streamed === batch)
    assert(streamed.map(_._3).sum === 1500L * 4, "every event lands in every row")
  }

  test("streaming count-min: NULL keys set no cells (batch-parity, round-13 review fix)") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val vals: Seq[Option[Long]] =
      (0 until 200).map(i => Some(i.toLong % 13)) ++ Seq.fill(40)(None)
    val input = MemoryStream[Option[Long]]
    input.addData(vals)
    val streamed = graft.streaming.StreamDrains
      .countMinFinal(input.toDF().toDF("k"), "k", width = 64,
        queryName = "cm_null_out")
      .orderBy("row", "cell").as[(Int, Long, Long)].collect().toSeq
    val batch = Sketches.countMinSketch(vals.toDF("k"), "k", width = 64)
      .orderBy("row", "cell").as[(Int, Long, Long)].collect().toSeq
    assert(streamed === batch, "null keys must not produce phantom cells")
    assert(streamed.map(_._3).sum === 200L * 4, "only the non-null events count")
  }

  test("sample-quantile state survives a parquet round trip: persisted fold == in-memory fold") {
    import spark.implicits._
    // the incremental pipeline's real flow: land per-day state as parquet,
    // read it back later, fold — must equal folding the live state
    val rows = (0 until 1500).map { i =>
      val h = (i * 2654435761L + 97L) & 0x7fffffffL
      (s"g${h % 2}", i.toLong, (h % 500).toDouble / 7.0, h % 5)
    }
    val df = rows.toDF("g", "id", "v", "day")
    val specs = Seq(0.5 -> "p50", 0.9 -> "p90")
    val st = graft.ops.Quantiles.sampleQuantileState(df, Seq("g"), "day", "id", "v", k = 64)
    val dir = java.nio.file.Files.createTempDirectory("sq_state").toString
    st.write.mode("overwrite").partitionBy("day").parquet(dir)
    val live = graft.ops.Quantiles.sampleQuantileMerge(st, Seq("g"), "day", 64, specs)
      .orderBy("g").collect().map(_.toSeq).toSeq
    val persisted = graft.ops.Quantiles.sampleQuantileMerge(
        spark.read.parquet(dir), Seq("g"), "day", 64, specs)
      .orderBy("g").collect().map(_.toSeq).toSeq
    assert(persisted === live)
  }

  test("streaming bucket registry at bits=48 matches an inline wide-chunk aggregation") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = docsDf.as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    docs.grouped(math.max(1, docs.size / 2 + 1)).foreach(c => input.addData(c))
    val streamed = graft.streaming.StreamDrains
      .bucketsFinal(input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        queryName = "sh_buckets48", bits = 48)
      .orderBy("chunk", "v").as[(Long, Long, Long, Long)].collect().toSeq
    // expected: the same 12-bit chunk registry computed as a plain batch
    // aggregation over the wide signatures
    val expected = docsDf
      .select(col("doc_id"), graft.ops.Dedup.simhash(col("text"), 48).as("sig"))
      .select(col("doc_id"), explode(array((0 until 4).map(c =>
        struct(lit(c.toLong).as("chunk"),
          shiftright(col("sig"), c * 12).bitwiseAND(4095L).as("v"))): _*)).as("_c"))
      .groupBy(col("_c.chunk").as("chunk"), col("_c.v").as("v"))
      .agg(min(col("doc_id")).as("anchor_id"), count(lit(1)).as("n_docs"))
      .orderBy("chunk", "v").as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed === expected)
    // wide chunks must actually spread past the 8-bit value range — a
    // silent fall-back to 8-bit masking could never produce v > 255
    assert(expected.exists(_._2 > 255L), "no bucket value above 255 — 12-bit chunks not in effect")
  }

  test("sample-quantile sketch at k=2 (smallest legal): fold == direct; interpolation spans the 2-sample bracket") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      val h = (i * 2654435761L + 13L) & 0x7fffffffL
      ("g", i.toLong, (h % 100).toDouble, h % 3)
    }
    val df = rows.toDF("g", "id", "v", "part")
    val specs = Seq(0.0 -> "p0", 0.5 -> "p50", 1.0 -> "p100")
    val st = graft.ops.Quantiles.sampleQuantileState(df, Seq("g"), "part", "id", "v", k = 2)
    val folded = graft.ops.Quantiles.sampleQuantileMerge(st, Seq("g"), "part", 2, specs)
      .collect().map(_.toSeq).toSeq
    val direct = graft.ops.QuantilesRef.sampleQuantiles(df, Seq("g"), "id", "v", 2, specs)
      .collect().map(_.toSeq).toSeq
    assert(folded === direct)
    val r = folded.head
    // with a 2-value sample: p0 = min, p100 = max, p50 = their midpoint
    val (lo, hi) = (r(3).asInstanceOf[Double], r(5).asInstanceOf[Double])
    assert(lo <= hi && r(4) === (0.5 * lo + 0.5 * hi))
    assert(r(1) === 200L && r(2) === 2L) // n_total exact, n_sampled == k
  }

  test("streaming sample-quantile sketch: final estimates bit-match the batch sketch on the same bounded input") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // unique ids across overlapping-VALUE micro-batches; two groups with
    // very different sizes so one stays exact (n < k) and one samples
    def h(x: Long) = (x * 2654435761L + 40503L) & 0x7fffffffL
    val rows = (0 until 2000).map { i =>
      (if (h(i) % 5 == 0L) "b" else "a", i.toLong, (h(i) % 997).toDouble / 13.0)
    }
    val chunks = rows.grouped(700).toSeq
    val input = MemoryStream[(String, Long, Double)]
    chunks.foreach(c => input.addData(c))
    val streamed = graft.streaming.StreamDrains
      .sampleQuantilesFinal(input.toDF().toDF("g", "id", "v"), "g", "id", "v",
        k = 128, queryName = "sq_out")
      .orderBy("group")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    val batch = graft.ops.QuantilesRef
      .sampleQuantiles(rows.toDF("g", "id", "v"), Seq("g"), "id", "v", k = 128,
        Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))
      .orderBy("g")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(streamed === batch)
    // sanity: group "a" really sampled (n_total > k), "b" <= n_total rows
    assert(batch.find(_._1 == "a").get._2 > 128L)
  }

  test("wide simhash: 48-bit signatures exercise the high span; 12-bit-chunk candidates == brute-force hamming<=3") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash(col("text"), bits = 48).as("simhash"))
    val rows = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // the widened word hash must actually populate bits 32-47 (the legacy
    // 30-bit hash would leave them frozen at 0)
    assert(rows.count(_._2 >= (1L << 32)) > rows.length / 2,
      "high signature span unused - wide hash not in effect")
    val cand = Dedup.simhashCandidatesFromSignatures(sigs, "doc_id",
        maxHamming = 3, chunkBits = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    // pigeonhole: 4 chunks, <=3 differing bits => >=1 chunk equal, so the
    // blocked candidates are EXACTLY the brute-force hamming<=3 pairs
    val brute = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      hd = java.lang.Long.bitCount(sa ^ sb).toLong if hd <= 3L
    } yield (ia, ib, hd)).toSet
    assert(cand === brute)
  }

  test("streaming anchor candidates under id-ordered replay == batch simhashAnchorCandidates") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // id-ordered replay: every id in batch n is smaller than every id in
    // batch n+1, so the running anchor is the global min from first touch
    // and the emission contract collapses to the batch definition
    val docs = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    docs.grouped(math.max(1, docs.size / 4 + 1)).foreach(c => input.addData(c))
    val streamed = graft.streaming.StreamDrains
      .anchorCandidatesFinal(input.toDF().toDF("doc_id", "text"), "doc_id",
        "text", queryName = "anchor_cand")
      .orderBy("doc_id", "anchor_id")
      .as[(Long, Long, Long)].collect().toSeq
    val batch = graft.ops.Dedup
      .simhashAnchorCandidates(docsDf, "doc_id", "text")
      .orderBy("doc_id", "anchor_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed === batch)
    assert(batch.nonEmpty, "expected at least one near-anchor pair in the corpus")
  }

  test("streaming simhash bucket registry: final registry bit-matches the batch op on real documents") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = docsDf.as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    // three micro-batches: anchors and counts must fold order-insensitively
    docs.grouped(math.max(1, docs.size / 3 + 1)).foreach(c => input.addData(c))
    val streamed = graft.streaming.StreamDrains
      .bucketsFinal(input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        queryName = "sh_buckets")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long)].collect().toSeq
    val batch = graft.ops.Dedup.simhashBucketRegistry(docsDf, "doc_id", "text")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed === batch)
    // sanity: every doc lands in exactly 4 buckets
    assert(batch.map(_._4).sum === 4L * docs.size)
  }

  test("pqTopK: identical vectors meet at adist 0 rank 1; deterministic under repartitioning") {
    // 24 vectors in dim-8 (m=2 subspaces of 4): id 20 duplicates id 3, so
    // PQ must put them in the same cells and rank them mutually first
    val vecs = (0 until 24).map { i =>
      val base = if (i == 20) 3 else i
      (i.toLong, Array.tabulate(8)(j => (base * 8 + j).toFloat / 10f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.pqTopK(
        df.where(col("vec_id") === 3L), df, "vec_id", "embedding",
        k = 3, m = 2, codes = 8, dim = 8)
      .orderBy("rank")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got.head._3 === 20L, s"duplicate vector must rank first: $got")
    assert(got.head._4 === 0.0 && got.head._5 === 0.0)
    assert(got.map(_._2) === Seq(1L, 2L, 3L))
    val again = graft.ops.Similarity.pqTopK(
        df.where(col("vec_id") === 3L), df.repartition(7), "vec_id", "embedding",
        k = 3, m = 2, codes = 8, dim = 8)
      .orderBy("rank")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got === again, "PQ must not depend on partitioning")
  }

  test("pqTopK: recall@10 against exact l2 stays above the id-seeded floor on real embeddings") {
    // sf0.01: 500 vectors, so the random baseline for overlap@10 is ~0.02
    // and the floor below is a real signal (sf0.001's 50 vectors would put
    // random at ~0.2, proving nothing)
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf).isDirectory)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") < 5)
    val pq = graft.ops.Similarity.pqTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq.size === 50, "per-query top-10 must be dense")
    // ground truth from the exact_d2 column the op itself carries: k large
    // enough to rank the whole sf0.01 corpus, re-sorted by exact distance
    val truth = graft.ops.Similarity.pqTopK(q, emb, "vec_id", "embedding", k = 600)
      .select("query_id", "neighbor_id", "exact_d2")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).flatMap { case (qid, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(10).map(r => (qid, r._2)).toSeq
      }.toSet
    val recall = (pq & truth).size.toDouble / truth.size
    // pin a floor an order of magnitude above random; id-seeded codebooks
    // land well above it and kmeans-trained ones higher still
    assert(recall >= 0.1, s"PQ recall@10 collapsed: $recall (random ~ 0.02)")
    info(s"PQ recall@10 = $recall")
  }

  test("kmeans: separable clusters recovered; deterministic under repartitioning") {
    // even ids near (+10, 0), odd ids near (-10, 5): the two smallest ids
    // (0, 1) seed one centroid in each true cluster
    val vecs = (0 until 40).map { i =>
      val jitter = (i % 5) * 0.01f
      if (i % 2 == 0) (i.toLong, Array(10.0f + jitter, 0.0f))
      else (i.toLong, Array(-10.0f - jitter, 5.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, "vec_id", "embedding", k = 2, iters = 3)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(got.size === 40)
    vecs.foreach { case (id, _) =>
      assert(got(id) === (if (id % 2 == 0) 0L else 1L),
        s"vector $id assigned to ${got(id)}")
    }
    val again = Similarity.kmeans(df.repartition(7), "vec_id", "embedding", k = 2, iters = 3)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(again === got, "kmeans must be partition-invariant")
    val report = Similarity.kmeansReport(df, "vec_id", "embedding", k = 2, iters = 3)
      .select("n").as[Long].collect()
    assert(report.sum === 40L)
  }

  test("contaminationRate: graded bps including zero-overlap docs, integer-exact") {
    val corpus = Seq(
      (1L, "a b c d e"),            // 3 shingles: "a b c","b c d","c d e"
      (2L, "x y z w"),              // 2 shingles, no overlap
    ).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d q")).toDF("doc_id", "text") // shares "a b c","b c d"
    val got = Corpus.contaminationRate(corpus, bench, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 2L, 6666L), // 2*10000 DIV 3
      (2L, 2L, 0L, 0L)))
  }

  test("kmvState fold == direct kmvDistinct, bit for bit, at any partitioning") {
    import spark.implicits._
    // 3 groups x 400 values with heavy cross-partition duplication: the
    // same value lands in many day-cells, so the fold's re-distinct matters
    val rows = for (i <- 0 until 1200) yield
      ("g" + (i % 3), (i * 37) % 86400L * 7, (i % 400).toLong)
    val df = rows.toDF("grp", "day", "v")
    val direct = Sketches.kmvDistinct(df, "grp", "v", k = 16)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val folded = Sketches.kmvMerge(
        Sketches.kmvState(df, "grp", "day", "v", k = 16), "grp", k = 16)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(folded === direct)
    val foldedRe = Sketches.kmvMerge(
        Sketches.kmvState(df.repartition(13), "grp", "day", "v", k = 16), "grp", k = 16)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(foldedRe === direct)
    // state cells are bounded by k
    val cellMax = Sketches.kmvState(df, "grp", "day", "v", k = 16)
      .groupBy("grp", "day").count().agg(max("count")).head().getLong(0)
    assert(cellMax <= 16L)
  }
}
