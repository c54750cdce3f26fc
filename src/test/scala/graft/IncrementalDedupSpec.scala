package graft

import graft.ops.{Dedup, DedupRef, DedupState}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 incremental-dedup surfaces: incrementalClusters (fold ==
  * rebuild — the spec-level twin of the q138/q139 oracle gates), the wide
  * `bits` dial through the registry/routing stack, and the composition
  * shapes of the folded bench gates (ex-q56/q58/q120 — their stages remain
  * individually oracled; these assertions pin the compositions).
  */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def clusterShape(comp: org.apache.spark.sql.DataFrame) =
    comp.orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq

  test("incrementalClusters: folding new pairs into a component table == from-scratch rebuild (seeded random graphs)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val day1Nodes = (0L until 40L)
      val day2Nodes = (40L until 60L)
      val e1 = Seq.fill(25)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // day-2 pairs may link new-new, new-old, and (rare in practice but
      // legal) old-old nodes — the fold must handle all three
      val e2 = Seq.fill(25)((rnd.nextInt(60).toLong, 40L + rnd.nextInt(20).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct ++
        Seq((3L, 7L)) // one old-old late arrival
      val comps1 = Dedup.connectedComponents(
        day1Nodes.toDF("id"), e1.toDF("src", "dst"))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      val folded = clusterShape(Dedup.incrementalClusters(
        comps1, e2.toDF("id_a", "id_b"), Some(day2Nodes.toDF("doc_id"))))
      val foldedFrontier = clusterShape(Dedup.incrementalClusters(
        comps1, e2.toDF("id_a", "id_b"), Some(day2Nodes.toDF("doc_id")),
        frontier = true))
      // rebuild from scratch on the union, labeled identically
      val all = Dedup.connectedComponents(
        (day1Nodes ++ day2Nodes).toDF("id"),
        (e1 ++ e2).toDF("src", "dst"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
      val rebuilt = clusterShape(all
        .withColumn("cluster_size", count(lit(1)).over(w))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"), (col("id") === col("component")).as("is_canonical")))
      assert(folded === rebuilt)
      assert(foldedFrontier === rebuilt, "frontier mode must match the direct fold")
    }
  }

  test("incrementalClusters folds COMPOSE: day-2 then day-3 == one rebuild on the 3-day union") {
    val rnd = new scala.util.Random(11)
    def edges(n: Int, lo: Int, hi: Int) =
      Seq.fill(n)((lo + rnd.nextInt(hi - lo), lo + rnd.nextInt(hi - lo)))
        .collect { case (a, b) if a != b =>
          (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct
    val e1 = edges(15, 0, 30)
    val e2 = edges(15, 0, 45) // touches day-1 and day-2 nodes
    val e3 = edges(15, 0, 60)
    val comps1 = Dedup.connectedComponents(
      (0L until 30L).toDF("id"), e1.toDF("src", "dst"))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    // fold twice, re-using the previous fold's (id, label) output as the
    // next persisted component table — exactly the daily production loop
    val day2 = Dedup.incrementalClusters(comps1, e2.toDF("id_a", "id_b"),
      Some((30L until 45L).toDF("doc_id")))
      .select(col("doc_id"), col("cluster_id"))
    val day3 = clusterShape(Dedup.incrementalClusters(day2,
      e3.toDF("id_a", "id_b"), Some((45L until 60L).toDF("doc_id"))))
    val all = Dedup.connectedComponents((0L until 60L).toDF("id"),
      (e1 ++ e2 ++ e3).toDF("src", "dst"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    val rebuilt = clusterShape(all
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"), (col("id") === col("component")).as("is_canonical")))
    assert(day3 === rebuilt)
  }

  test("incrementalClusters: a quiet day (no new pairs) reproduces the old partition over old + new singleton nodes") {
    val comps = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("doc_id", "cluster_id")
    val got = clusterShape(Dedup.incrementalClusters(comps,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      Some(Seq(9L).toDF("doc_id"))))
    assert(got === Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false),
      (5L, 5L, 1L, true), (9L, 9L, 1L, true)))
  }

  test("incrementalClusters: a new pair merging two old components relabels BOTH to the joint min id") {
    val comps = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("doc_id", "cluster_id")
    val got = clusterShape(Dedup.incrementalClusters(comps,
      Seq((2L, 6L)).toDF("id_a", "id_b")))
    assert(got === Seq((1L, 1L, 4L, true), (2L, 1L, 4L, false),
      (5L, 1L, 4L, false), (6L, 1L, 4L, false)))
  }

  // ---- wide `bits` dial through the registry/routing batch faces --------

  test("simhashHof == native kernel at 48 bits (wide h2 remix) and 32 bits (legacy span)") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    for (bits <- Seq(32, 48)) {
      val diff = docs.select(
        Dedup.simhash(col("text"), bits).as("k"),
        DedupRef.simhashHof(col("text"), bits).as("h"))
        .where(col("k") =!= col("h")).count()
      assert(diff === 0L, s"kernel/HOF divergence at bits=$bits")
    }
  }

  test("wide bucket registry: bits=48 blocks on 12-bit chunks of the wide signature; it IS the default (r16), legacy 32 by explicit arg") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val reg48 = Dedup.simhashBucketRegistry(docs, "doc_id", "text", bits = 48)
      .orderBy("chunk", "v").as[(Long, Long, Long, Long)].collect().toSeq
    // recompute from the 48-bit signatures directly
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text"), 48).as("s"))
      .as[(Long, Long)].collect().toSeq
    val expected = sigs.flatMap { case (id, s) =>
      (0 until 4).map(c => ((c.toLong, (s >> (c * 12)) & 0xFFFL), id))
    }.groupBy(_._1).map { case ((c, v), xs) =>
      (c, v, xs.map(_._2).min, xs.size.toLong)
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(reg48 === expected)
    assert(reg48.exists(_._2 > 255L), "12-bit chunk values must exceed the 8-bit span")
    // the DEFAULT form is the wide 48-bit layout (r16) — and the legacy
    // 32-bit form stays available by explicit argument, with the narrower
    // chunk span it always had
    val a = Dedup.simhashBucketRegistry(docs, "doc_id", "text")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long)].collect().toSeq
    assert(a === reg48, "default registry must be the wide 48-bit layout")
    val b = Dedup.simhashBucketRegistry(docs, "doc_id", "text", bits = 32)
      .orderBy("chunk", "v").as[(Long, Long, Long, Long)].collect().toSeq
    assert(b.forall(_._2 <= 255L), "legacy 32-bit chunk values keep the 8-bit span")
    assert(a !== b)
  }

  test("MIH two-half blocking == chunk blocking == brute force at 48 bits (exact ≤3-hamming, both strategies)") {
    // the round-13 strategy routing: wide signatures generate candidates
    // via the two-half multi-index join instead of 12-bit chunks — SAME
    // declared-exact output (q133's oracle pins it end-to-end; this pins
    // the generator directly on adversarial planted distances, including
    // the d=3 boundary and d=4 just past it)
    val rnd = new scala.util.Random(29)
    val mask48 = (1L << 48) - 1L
    val base = (0 until 260).map(i => (i.toLong, rnd.nextLong() & mask48))
    def flip(sig: Long, k: Int, seed: Int): Long = {
      var s = sig
      val r = new scala.util.Random(seed)
      (0 until k).foreach(_ => s ^= 1L << r.nextInt(48))
      s
    }
    // planted: exact dup, d=1..4 (4 must NOT pair), plus a d=3 pair whose
    // bits all fall in ONE half (the other half exact — the pigeonhole's
    // easy case) and one spread 2+1 across halves (min-half = 1, the case
    // a buggy variant generator misses)
    val planted = Seq(
      (1000L, base(0)._2), (1001L, flip(base(1)._2, 1, 1)),
      (1002L, flip(base(2)._2, 2, 2)), (1003L, flip(base(3)._2, 3, 3)),
      (1004L, flip(base(4)._2, 4, 4)),
      (1005L, base(5)._2 ^ 7L),                      // d=3, all in half 0
      (1006L, base(6)._2 ^ (1L << 2) ^ (1L << 30) ^ (1L << 40))) // 1+2 split
    val all = base ++ planted
    val sigs = all.toDF("doc_id", "sig")
    def got(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    val mih = got(Dedup.simhashCandidatesMih(sigs, "doc_id", "sig",
      maxHamming = 3, bits = 48))
    val chunked = got(Dedup.simhashCandidatesFromSignatures(sigs, "doc_id", "sig",
      maxHamming = 3, chunkBits = 12))
    val brute = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ia, ib, d.toLong)).sortBy(p => (p._1, p._2))
    assert(mih === brute, "MIH candidates must be the exact ≤3-hamming set")
    assert(chunked === brute, "chunk blocking must agree (shared contract)")
    assert(brute.exists(p => p._2 == 1005L) && brute.exists(p => p._2 == 1006L),
      "planted boundary pairs must actually be in the answer set")
    assert(!brute.exists(p => p._2 == 1004L), "d=4 must not pair")
    // degenerate-bucket cap: identical-signature corpus, cap below the
    // bucket width -> every path capped, zero candidates; default cap keeps
    // the full clique
    val same = (0 until 40).map(i => (i.toLong, 123456789L)).toDF("doc_id", "sig")
    assert(Dedup.simhashCandidatesMih(same, "doc_id", "sig", 3, maxBucket = 10,
      bits = 48).count() === 0L)
    assert(Dedup.simhashCandidatesMih(same, "doc_id", "sig", 3,
      bits = 48).count() === 40L * 39L / 2L)
  }

  test("wide anchor routing: batch simhashAnchorCandidates(bits=48) == brute anchors; streaming twin bit-matches under id-ordered replay") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = Dedup.simhashAnchorCandidates(docsDf, "doc_id", "text",
        maxHamming = 3, bits = 48)
      .orderBy("doc_id", "anchor_id").as[(Long, Long, Long)].collect().toSeq
    // brute-force the contract from the wide signatures
    val sigs = docsDf.select(col("doc_id"), Dedup.simhash(col("text"), 48).as("s"))
      .as[(Long, Long)].collect().toSeq
    val anchor = sigs.flatMap { case (id, s) =>
      (0 until 4).map(c => ((c, (s >> (c * 12)) & 0xFFFL), id))
    }.groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).min) }
    val sigOf = sigs.toMap
    val expected = sigs.flatMap { case (id, s) =>
      (0 until 4).flatMap { c =>
        val a = anchor((c, (s >> (c * 12)) & 0xFFFL))
        if (a == id) None
        else {
          val h = java.lang.Long.bitCount(s ^ sigOf(a)).toLong
          if (h <= 3L) Some((id, a, h)) else None
        }
      }
    }.distinct.sortBy(t => (t._1, t._2))
    assert(batch === expected)
    // streaming twin at bits=48 (the dial ADVICE flagged as unplumbed)
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    docs.grouped(math.max(1, docs.size / 4 + 1)).foreach(c => input.addData(c))
    val streamed = graft.streaming.StreamDrains
      .anchorCandidatesFinal(input.toDF().toDF("doc_id", "text"), "doc_id",
        "text", maxHamming = 3, queryName = "anchor_cand_w48", bits = 48)
      .orderBy("doc_id", "anchor_id").as[(Long, Long, Long)].collect().toSeq
    assert(streamed === batch)
  }

  test("frontier mode: untouched components pass through VERBATIM (labels not re-derived)") {
    // {1,2} labeled with the NON-min member 2 — a violation of the min-id
    // input contract. The fold must not silently normalize it when the
    // component is untouched by the delta (that's the documented narrowing
    // that buys the O(delta + affected) daily cost), while the TOUCHED
    // component {5,6} + pair (6,9) re-propagates to its true min.
    val comps = Seq((1L, 2L), (2L, 2L), (5L, 5L), (6L, 5L)).toDF("doc_id", "cluster_id")
    val got = clusterShape(Dedup.incrementalClusters(comps,
      Seq((6L, 9L)).toDF("id_a", "id_b"), frontier = true))
    assert(got === Seq((1L, 2L, 2L, false), (2L, 2L, 2L, true),
      (5L, 5L, 3L, true), (6L, 5L, 3L, false), (9L, 5L, 3L, false)))
  }

  test("mergeBucketRegistries: merge of day registries == rebuild on the union, at 32 and 48 bits, and associatively") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
    for (bits <- Seq(32, 48)) {
      val d1 = docs.where(col("doc_id") % 3 === 0)
      val d2 = docs.where(col("doc_id") % 3 === 1)
      val d3 = docs.where(col("doc_id") % 3 === 2)
      def reg(d: org.apache.spark.sql.DataFrame) =
        Dedup.simhashBucketRegistrySigs(d, "doc_id", "text", bits)
      val merged = Dedup.mergeBucketRegistries(
        Dedup.mergeBucketRegistries(reg(d1), reg(d2)), reg(d3))
      assert(shape(merged) === shape(reg(docs)), s"merge != rebuild at bits=$bits")
    }
  }

  test("simhashRoute at bits=48 routes against the wide registry == brute best anchors") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val day1 = docs.where(col("doc_id") % 3 =!= 0)
    val day2 = docs.where(col("doc_id") % 3 === 0)
    val reg = Dedup.simhashBucketRegistrySigs(day1, "doc_id", "text", bits = 48)
    val got = Dedup.simhashRoute(day2, "doc_id", "text", reg, maxHamming = 3,
        bits = 48)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
    // brute: per day-2 doc, the best (hamming, anchor) over its 4 buckets
    val sig1 = day1.select(col("doc_id"), Dedup.simhash(col("text"), 48).as("s"))
      .as[(Long, Long)].collect().toSeq
    val anchors = sig1.flatMap { case (id, s) =>
      (0 until 4).map(c => ((c, (s >> (c * 12)) & 0xFFFL), id))
    }.groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).min) }
    val sigOf = sig1.toMap
    val expected = day2.select(col("doc_id"), Dedup.simhash(col("text"), 48).as("s"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1).map { case (id, s) =>
        val best = (0 until 4).flatMap { c =>
          anchors.get((c, (s >> (c * 12)) & 0xFFFL)).flatMap { a =>
            val h = java.lang.Long.bitCount(s ^ sigOf(a)).toLong
            if (h <= 3L) Some((h, a)) else None
          }
        }.sorted.headOption
        (id, if (best.isDefined) 1L else 0L, best.map(_._2), best.map(_._1))
      }
    assert(got === expected)
  }

  test("Cli dedup-build/dedup-ingest round trip: persisted state after ingest == from-scratch rebuild") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_cli").toString
    docs.where(col("doc_id") % 3 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/day1")
    docs.where(col("doc_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$tmp/day2")
    Cli.run(spark, List("dedup-build", s"$tmp/day1", s"$tmp/state"))
    Cli.run(spark, List("dedup-ingest", s"$tmp/day2", s"$tmp/state"))
    // registry state == rebuild on the union (the monoid property, through
    // real files and the CLI path)
    val reg = DedupState.read(spark, s"$tmp/state", "registry")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
    val regRebuilt = Dedup.simhashBucketRegistrySigs(docs, "doc_id", "text")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(reg === regRebuilt)
    // every anchor in the registry has its text persisted (day-2 verify
    // never needs the day-1 corpus)
    val anchorIds = reg.map(_._3).toSet
    val storedAnchors = DedupState.read(spark, s"$tmp/state", "anchors")
      .select("doc_id").as[Long].collect().toSet
    assert(anchorIds.subsetOf(storedAnchors))
    // component labels == the library composition the CLI encodes,
    // recomputed independently here (build: nearDupClusters on day-1;
    // ingest: merged-registry route -> shared verify -> fold)
    val day1 = spark.read.parquet(s"$tmp/day1")
    val day2 = spark.read.parquet(s"$tmp/day2")
    val mergedReg = Dedup.mergeBucketRegistries(
      Dedup.simhashBucketRegistrySigs(day1, "doc_id", "text"),
      Dedup.simhashBucketRegistrySigs(day2, "doc_id", "text"))
    val routed = Dedup.simhashRoute(day2, "doc_id", "text", mergedReg,
        maxHamming = 3)
      .where(col("is_dup") === 1L).select(col("doc_id"), col("best_anchor"))
    val pairs = Dedup.verifyRoutedPairs(routed, day2, docs,
      "doc_id", "text", n = 3, threshold = 0.5)
    val expected = Dedup.incrementalClusters(
        Dedup.nearDupClusters(day1, "doc_id", "text", threshold = 0.5)
          .select(col("doc_id"), col("cluster_id")),
        pairs, Some(day2.select(col("doc_id"))), withSizes = false)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val comp = DedupState.read(spark, s"$tmp/state", "components")
    val got = comp.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got.map(_._1).distinct.size === docs.count(), "every doc labeled exactly once")
    assert(got === expected)
  }

  test("sig-width migration: a pre-r16 32-bit state (no recorded width) keeps " +
    "folding correctly at 32 bits with a rebuild warning; commits re-record " +
    "the state's own width; dedup-build widens to the 48-bit default (r16)") {
    val tmp = java.nio.file.Files.createTempDirectory("dedup_width").toString
    val state = s"$tmp/state"
    val day1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "completely different content sits here now")).toDF("doc_id", "text")
    day1.write.parquet(s"$tmp/day1")
    // day-2 plants an exact duplicate of doc 1 — the fold MUST find it,
    // which only happens if the ingest signs at the registry's width
    Seq((10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "nothing matches this unique document text at all"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/day2")
    // hand-build the state exactly as a PRE-r16 dedup-build did: 32-bit
    // signatures, and no _sig_bits file in the committed generation
    val reg = Dedup.simhashBucketRegistrySigs(day1, "doc_id", "text", bits = 32)
      .localCheckpoint()
    val anchors = reg.select(col("anchor_id").as("doc_id")).distinct()
      .join(day1, "doc_id").select(col("doc_id"), col("text"))
    val comps = Dedup.nearDupClusters(day1, "doc_id", "text", threshold = 0.5)
      .select(col("doc_id"), col("cluster_id"))
    DedupState.commit(spark, state,
      Map("registry" -> reg, "anchors" -> anchors, "components" -> comps),
      sigBits = 32)
    val hfs = DedupState.fs(spark, state)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$state/v1/_sig_bits"), false)
    assert(DedupState.sigBits(spark, state) === DedupState.LegacySigBits,
      "an unrecorded width must read as the pre-r16 default (32)")
    // ingest with the r16 library (default now 48): signs/routes at the
    // PERSISTED width and warns once about the narrow signatures
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Cli.run(spark, List("dedup-ingest", s"$tmp/day2", state))
    }
    assert(buf.toString("UTF-8").contains("32-bit simhash signatures"),
      "narrow-state ingest must surface the rebuild warning")
    val comp = DedupState.read(spark, state, "components")
      .as[(Long, Long)].collect().toMap
    assert(comp(10L) === comp(1L),
      "the planted duplicate must fold into its day-1 cluster at the legacy width")
    assert(comp(11L) !== comp(1L))
    // the ingest's commit re-records the state's OWN width, not the
    // library default — the state stays 32-bit until a rebuild
    assert(DedupState.sigBits(spark, state) === 32)
    // dedup-build re-signs the corpus at the wide default and records it
    Cli.run(spark, List("dedup-build", s"$tmp/day1", state))
    assert(DedupState.sigBits(spark, state)
      === graft.ops.Dedup.DefaultSimhashBits)
  }

  test("verifyRoutedPairs: empty-shingle sides are dropped (no vacuous NaN pass), normal pairs verify") {
    // "john smith" / "smith john": identical word BAG -> simhash hamming 0
    // (routable), but with n=3 both shingle to EMPTY arrays -> 0/0 jaccard
    // is NaN, which both engines order above any threshold — the guard
    // must drop the pair instead of passing it vacuously
    val docs = Seq(
      (1L, "john smith"), (2L, "smith john"),
      (10L, "alpha beta gamma delta"), (11L, "alpha beta gamma delta"),
      (20L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val routed = Seq((2L, 1L), (11L, 10L), (20L, 10L)).toDF("doc_id", "best_anchor")
    val got = Dedup.verifyRoutedPairs(routed, docs, docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b").as[(Long, Long)].collect().toSeq
    // (1,2) dropped by the guard; (10,11) identical -> jaccard 1.0 passes;
    // (10,20) overlaps 2 of (2 + 5) distinct shingles -> 0.4 < 0.5 fails
    assert(got === Seq((10L, 11L)))
  }

  test("Cli dedup-ingest catches WITHIN-batch duplicates (merged-registry routing + self-exclusion)") {
    val tmp = java.nio.file.Files.createTempDirectory("dedup_wb").toString
    Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "completely different words entirely here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/day1")
    // 100 and 101 are the same-day duplicate pair (no day-1 anchor is
    // near); 102 is unique
    Seq((100L, "zeta eta theta iota kappa lambda"),
        (101L, "zeta eta theta iota kappa lambda"),
        (102L, "nothing like anything else at all"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/day2")
    Cli.run(spark, List("dedup-build", s"$tmp/day1", s"$tmp/state"))
    Cli.run(spark, List("dedup-ingest", s"$tmp/day2", s"$tmp/state"))
    val comp = DedupState.read(spark, s"$tmp/state", "components")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(comp === Seq((1L, 1L), (2L, 2L), (100L, 100L), (101L, 100L), (102L, 102L)),
      "same-day duplicates must fold into one cluster; the rest stay singletons")
  }

  test("DedupState: multi-day loop retains `keep` generations, commits atomically, replays after a crash") {
    val tmp = java.nio.file.Files.createTempDirectory("dedup_gen").toString
    val state = s"$tmp/state"
    // five disjoint daily batches, two docs each; texts unique per day so
    // every doc stays a singleton (the clustering itself is pinned by the
    // round-trip tests above — THIS test pins the persistence protocol)
    def writeDay(n: Int): Unit =
      Seq((n * 10L, s"day$n one$n two$n three$n four$n five$n"),
          (n * 10L + 1L, s"day$n other$n words$n entirely$n unlike$n those$n"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/day$n")
    (1 to 5).foreach(writeDay)
    val hfs = DedupState.fs(spark, state)
    Cli.run(spark, List("dedup-build", s"$tmp/day1", state))
    assert(DedupState.committedGens(hfs, state) === Seq(1))
    // three daily folds at keep=2: generations vacuum behind the loop
    (2 to 4).foreach(n => Cli.run(spark, List("dedup-ingest", s"$tmp/day$n", state, "2")))
    assert(DedupState.committedGens(hfs, state) === Seq(3, 4),
      "a year of daily folds must not accumulate a directory per day")
    // all three tables flipped together and the registry still equals a
    // from-scratch rebuild on the union (the monoid property THROUGH the
    // retention loop)
    val union = (1 to 4).map(n => spark.read.parquet(s"$tmp/day$n"))
      .reduce(_ unionByName _)
    val reg = DedupState.read(spark, state, "registry")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
    val rebuilt = Dedup.simhashBucketRegistrySigs(union, "doc_id", "text")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(reg === rebuilt)
    assert(DedupState.read(spark, state, "components").count() === 8L)
    // CRASHED ATTEMPT: an uncommitted v5 (tables written, marker never
    // created) must be invisible to readers and harmless to the replay —
    // the re-run reads gen 4, deletes the leftovers, and merges the day-5
    // delta exactly once (no double-merge, no mixed-day state)
    spark.range(1).toDF("junk").write.mode("overwrite").parquet(s"$state/v5/components")
    assert(DedupState.committedGens(hfs, state) === Seq(3, 4))
    Cli.run(spark, List("dedup-ingest", s"$tmp/day5", state, "2"))
    assert(DedupState.committedGens(hfs, state) === Seq(4, 5))
    val reg5 = DedupState.read(spark, state, "registry")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
    val rebuilt5 = Dedup.simhashBucketRegistrySigs(
        union.unionByName(spark.read.parquet(s"$tmp/day5")), "doc_id", "text")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(reg5 === rebuilt5, "replay after a crash must merge the delta exactly once")
    // CRASH PAST THE MARKER: the commit landed but the run "looked failed"
    // (killed before its success print) — the orchestrator's repair is to
    // re-run the same ingest. The batch fingerprint in the marker must turn
    // that replay into a no-op: same generation, registry NOT re-merged.
    Cli.run(spark, List("dedup-ingest", s"$tmp/day5", state, "2"))
    assert(DedupState.committedGens(hfs, state) === Seq(4, 5),
      "replaying an already-committed batch must not create a new generation")
    val regReplay = DedupState.read(spark, state, "registry")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(regReplay === rebuilt5,
      "replaying an already-committed batch must not double-merge the delta registry")
    // DELAYED REPLAY (r14): a crashed-after-marker ingest whose re-run only
    // arrives AFTER a subsequent batch committed. Day-4's fingerprint lives
    // in gen 4's marker (still retained at keep=2), but the CURRENT marker
    // is day-5's — a guard that consults only the current generation would
    // miss, re-apply day 4, and double-merge its delta. The guard reads
    // every retained marker, so this replay must also no-op.
    Cli.run(spark, List("dedup-ingest", s"$tmp/day4", state, "2"))
    assert(DedupState.committedGens(hfs, state) === Seq(4, 5),
      "a delayed replay (after a later commit) must not create a generation")
    assert(DedupState.read(spark, state, "registry")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
      === rebuilt5,
      "a delayed replay must not double-merge a batch an OLDER retained marker proves applied")
    // TORN MARKER (r14): the commit protocol writes the marker complete
    // under a tmp name and RENAMES it into place — a crash between the tmp
    // write and the rename leaves v6 with tables + _COMMITTED.tmp, which
    // must be INVISIBLE (a bare create-then-write marker would instead
    // publish a zero-length _COMMITTED and disarm the replay guard)
    spark.range(1).toDF("junk").write.mode("overwrite").parquet(s"$state/v6/components")
    val tornOut = hfs.create(new org.apache.hadoop.fs.Path(s"$state/v6/_COMMITTED.tmp"), true)
    tornOut.write("n=2;id=99;h=99".getBytes("UTF-8")); tornOut.close()
    assert(DedupState.committedGens(hfs, state) === Seq(4, 5),
      "a torn (pre-rename) marker must not commit the generation")
    // every batch EVER ingested is still provable: days 2 and 3 from the
    // marker archive (their generations vacuumed at keep=2), days 4 and 5
    // from the retained generations' live markers; the torn v6 marker and
    // dedup-build's id-less gen-1 marker contribute nothing
    assert(DedupState.committedBatchIds(spark, state).size === 4,
      "archived + retained markers must cover every ingested batch; torn markers none")
    assert(!DedupState.committedBatchIds(spark, state).contains("n=2;id=99;h=99"),
      "torn markers must not contribute batch fingerprints")
    // BEYOND-RETENTION REPLAY (r15): day-2's generation was vacuumed three
    // commits ago — before marker archiving, this replay compared against
    // surviving markers only, missed, and DOUBLE-MERGED day-2's delta (the
    // exact hole the ADVICE flagged). The archived tombstone must turn it
    // into a no-op.
    Cli.run(spark, List("dedup-ingest", s"$tmp/day2", state, "2"))
    assert(DedupState.committedGens(hfs, state) === Seq(4, 5),
      "a beyond-retention replay must not create a generation")
    assert(DedupState.read(spark, state, "registry")
      .orderBy("chunk", "v").as[(Long, Long, Long, Long, Long)].collect().toSeq
      === rebuilt5,
      "a beyond-retention replay must not double-merge a batch whose " +
      "generation was vacuumed — its archived marker proves it applied")
    // and the next real ingest sweeps the leftovers and commits v6 cleanly
    writeDay(6)
    Cli.run(spark, List("dedup-ingest", s"$tmp/day6", state, "2"))
    assert(DedupState.committedGens(hfs, state) === Seq(5, 6))
  }

  test("tokenizer-version guard: ingest refuses a state built by a different tokenizer (r15)") {
    // A pre-r15 registry holds signatures computed with the space-only
    // trim; folding r15 (\s-trim) signatures against it would silently
    // keep duplicates of \n/\t-padded docs as uniques. The guard fails
    // CLOSED on a version mismatch AND on an unversioned (pre-r15) state.
    val tmp = java.nio.file.Files.createTempDirectory("dedup_tokv").toString
    val state = s"$tmp/state"
    Seq((1L, "alpha words one"), (2L, "beta words two"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/day1")
    Seq((10L, "gamma words three"), (11L, "delta words four"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/day2")
    val hfs = DedupState.fs(spark, state)
    Cli.run(spark, List("dedup-build", s"$tmp/day1", state))
    assert(DedupState.tokenizerVersion(spark, state)
      === Some(DedupState.TokenizerVersion), "build must record the version")
    // matching version: ingest proceeds
    Cli.run(spark, List("dedup-ingest", s"$tmp/day2", state, "3"))
    // forge an OLD version: ingest refuses with the rebuild prompt
    val vPath = new org.apache.hadoop.fs.Path(s"$state/_tokenizer_version")
    val o1 = hfs.create(vPath, true); o1.write("1".getBytes("UTF-8")); o1.close()
    Seq((20L, "epsilon words five"), (21L, "zeta words six"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/day3")
    val e1 = intercept[Cli.CliExit] {
      Cli.run(spark, List("dedup-ingest", s"$tmp/day3", state, "3"))
    }
    assert(e1.code === 4 && e1.getMessage.contains("tokenizer"), e1.getMessage)
    // an UNVERSIONED (pre-r15) state refuses too
    hfs.delete(vPath, false)
    val e2 = intercept[Cli.CliExit] {
      Cli.run(spark, List("dedup-ingest", s"$tmp/day3", state, "3"))
    }
    assert(e2.code === 4 && e2.getMessage.contains("pre-r15"), e2.getMessage)
    // dedup-build rebuild restores the version and ingest proceeds again
    Cli.run(spark, List("dedup-build", s"$tmp/day1", state))
    Cli.run(spark, List("dedup-ingest", s"$tmp/day3", state, "3"))
  }

  test("an override-admitted mismatch records the 'mixed' sentinel — one " +
    "override admits one batch, not all future ingests (r16 ADVICE)") {
    // The r15 commit refreshed _tokenizer_version to CURRENT on every
    // commit, so one SPARK_GRAFT_ACCEPT_TOKENIZER_MISMATCH=1 ingest
    // permanently re-stamped a mixed-tokenizer state as clean and silenced
    // the guard forever. Now a mixed commit records the "mixed" sentinel,
    // which never parses as a version — the guard keeps firing until a
    // dedup-build rebuild makes the state single-tokenizer again.
    val tmp = java.nio.file.Files.createTempDirectory("dedup_mixed").toString
    val state = s"$tmp/state"
    Seq((1L, "alpha words one"), (2L, "beta words two"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/day1")
    Cli.run(spark, List("dedup-build", s"$tmp/day1", state))
    // simulate the override-admitted ingest's commit (the Cli passes
    // mixedTokenizer = true whenever the guard condition was overridden;
    // the env var itself can't be set from inside the JVM)
    val tables = DedupState.readAll(spark, state)
    DedupState.commit(spark, state, tables, mixedTokenizer = true)
    assert(DedupState.tokenizerVersionRaw(spark, state)
      === Some(DedupState.TokenizerMixed))
    assert(DedupState.tokenizerVersion(spark, state) === None,
      "the mixed sentinel must not parse as a version — the guard must keep firing")
    // the NEXT ingest without the override refuses, naming the mixed state
    Seq((10L, "gamma words three")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/day2")
    val e = intercept[Cli.CliExit] {
      Cli.run(spark, List("dedup-ingest", s"$tmp/day2", state, "3"))
    }
    assert(e.code === 4 && e.getMessage.contains("mixed"), e.getMessage)
    // a rebuild clears the sentinel and ingest proceeds again
    Cli.run(spark, List("dedup-build", s"$tmp/day1", state))
    assert(DedupState.tokenizerVersion(spark, state)
      === Some(DedupState.TokenizerVersion))
    Cli.run(spark, List("dedup-ingest", s"$tmp/day2", state, "3"))
  }

  test("legacy-marker guard: aborts on a tx= marker matching this batch, term-order-independent (r15)") {
    // A retained generation committed by the PRE-content-hash library
    // (fingerprint "tx=" instead of "h=") whose n=/id= match this batch
    // MIGHT be this very batch — the ingest must abort (CliExit 3) rather
    // than risk a double-merge. r15: the comparison parses marker terms
    // into a map, so a REORDERED legacy marker (tx first — which the old
    // ';tx=' substring filter and rebuilt-string equality both missed)
    // still trips the guard instead of failing open.
    val tmp = java.nio.file.Files.createTempDirectory("dedup_legacy").toString
    val state = s"$tmp/state"
    Seq((1L, "alpha words one"), (2L, "beta words two"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/day1")
    Seq((10L, "gamma words three"), (11L, "delta words four"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/day2")
    val hfs = DedupState.fs(spark, state)
    Cli.run(spark, List("dedup-build", s"$tmp/day1", state))
    Cli.run(spark, List("dedup-ingest", s"$tmp/day2", state, "3"))
    // rewrite day-2's marker as a REORDERED legacy marker: same n=/id=,
    // content term tx= FIRST
    val gen = DedupState.currentGen(hfs, state).get
    val mPath = new org.apache.hadoop.fs.Path(s"$state/v$gen/_COMMITTED")
    val in = hfs.open(mPath)
    val cur = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    val terms = cur.split(";").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val legacy = s"tx=12345;id=${terms("id")};n=${terms("n")}"
    val out = hfs.create(mPath, true)
    out.write(legacy.getBytes("UTF-8")); out.close()
    // replaying day 2 now hits an ambiguous legacy marker -> abort code 3
    val e = intercept[Cli.CliExit] {
      Cli.run(spark, List("dedup-ingest", s"$tmp/day2", state, "3"))
    }
    assert(e.code === 3, e.getMessage)
    assert(e.getMessage.contains("legacy"), e.getMessage)
    // a DIFFERENT batch (differing n=/id=) proceeds normally past it
    Seq((20L, "epsilon words five"), (21L, "zeta words six"), (22L, "eta words seven"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/day3")
    Cli.run(spark, List("dedup-ingest", s"$tmp/day3", state, "3"))
    assert(DedupState.currentGen(hfs, state).get === gen + 1)
  }

  test("DedupState growth audit: registry and anchors stay keyspace-bounded through a 10-day ingest loop") {
    // DedupState bounds GENERATIONS at O(keep); this pins the other axis —
    // the tables INSIDE a generation. The documented bounds: registry
    // ≤ 4·2^(bits/4) rows (4 chunk positions × the 8-bit chunk keyspace at
    // the default 32 bits = 1024), anchors == distinct anchor_ids in the
    // registry (one text per anchor doc, so anchors ≤ registry rows). Only
    // `components` may grow with the corpus — it is the doc-grain label
    // table, the product itself. A simulated multi-week loop must hold
    // those bounds EVERY day, not just at the end: a day-over-day leak
    // (e.g. anchors accumulating superseded texts) would pass an end-state
    // check long before it OOMs a year-long deployment.
    val tmp = java.nio.file.Files.createTempDirectory("dedup_growth").toString
    val state = s"$tmp/state"
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    val rnd = new scala.util.Random(13)
    def writeDay(n: Int): Unit =
      (0 until 12).map { i =>
        (n * 100L + i,
          (0 until 8).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/gday$n")
    (1 to 10).foreach(writeDay)
    Cli.run(spark, List("dedup-build", s"$tmp/gday1", state))
    val keyspace = 4L * 256L // 4 chunks x 2^(32/4) values
    var prevAnchors = -1L
    (2 to 10).foreach { n =>
      Cli.run(spark, List("dedup-ingest", s"$tmp/gday$n", state, "2"))
      val all = DedupState.readAll(spark, state)
      val regRows = all("registry").count()
      val anchorRows = all("anchors").count()
      val distinctAnchorIds = all("registry").select("anchor_id").distinct().count()
      assert(regRows <= keyspace,
        s"day $n: registry $regRows exceeds the 4*2^8 keyspace")
      assert(anchorRows === distinctAnchorIds,
        s"day $n: anchors table must hold exactly the registry's anchor texts " +
          s"($anchorRows rows vs $distinctAnchorIds anchor ids) — more means " +
          "superseded texts are accumulating")
      assert(all("components").count() === n * 12L,
        s"day $n: components is doc-grain — one label per ingested doc")
      prevAnchors = anchorRows
    }
    assert(prevAnchors > 0 && prevAnchors <= keyspace)
  }

  test("DedupState: legacy flat layout reads as generation 0 and is superseded by the first versioned commit") {
    val tmp = java.nio.file.Files.createTempDirectory("dedup_legacy").toString
    Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/day1")
    Seq((2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/day2")
    // build a versioned state, then copy its tables FLAT to a second root —
    // the pre-versioned on-disk contract
    Cli.run(spark, List("dedup-build", s"$tmp/day1", s"$tmp/stateA"))
    val legacy = s"$tmp/stateB"
    DedupState.Tables.foreach { t =>
      DedupState.read(spark, s"$tmp/stateA", t)
        .write.mode("overwrite").parquet(s"$legacy/$t")
    }
    val hfs = DedupState.fs(spark, legacy)
    assert(DedupState.committedGens(hfs, legacy) === Seq(0))
    // r15: an UNVERSIONED flat state first trips the tokenizer guard (flat
    // layouts predate the \s-trim, so that is the right default)...
    val eTok = intercept[Cli.CliExit] {
      Cli.run(spark, List("dedup-ingest", s"$tmp/day2", legacy, "1"))
    }
    assert(eTok.code === 4, eTok.getMessage)
    // ...an operator who has VERIFIED the tokenizer (this state's tables
    // were in fact built by the current library above) records the
    // version, and the layout migration proceeds exactly as before
    val vout = hfs.create(new org.apache.hadoop.fs.Path(s"$legacy/_tokenizer_version"), true)
    vout.write(DedupState.TokenizerVersion.toString.getBytes("UTF-8")); vout.close()
    Cli.run(spark, List("dedup-ingest", s"$tmp/day2", legacy, "1"))
    // keep=1: the migration commit supersedes AND vacuums the flat tables
    assert(DedupState.committedGens(hfs, legacy) === Seq(1))
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$legacy/registry")))
    assert(DedupState.read(spark, legacy, "components").count() === 2L)
  }

  // ---- composition shapes of the folded bench gates ---------------------

  // six docs, three texts: ids 1,2,3 share A; 10,11 share B; 20 unique.
  // Shingle n=3 needs >= 3 words per text.
  private val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon", "web", 29L),
    (2L, "alpha beta gamma delta epsilon", "web", 29L),
    (3L, "alpha beta gamma delta epsilon", "book", 29L),
    (10L, "zeta eta theta iota kappa", "web", 25L),
    (11L, "zeta eta theta iota kappa", "book", 25L),
    (20L, "unique words never repeated anywhere", "web", 36L)
  ).toDF("doc_id", "text", "source", "n_chars")

  test("ex-q129 composition: LSH precision/recall scorecard over the oracled q16/q17 stages") {
    // both stages remain independently oracled (q16 jaccardPairs exact
    // ground truth, q17 minhashCandidates); the folded gate composed them
    // into n_exact/n_candidates/n_tp + round-6 precision/recall — rebuild
    // that ENGINE-SIDE composition verbatim and pin it against a
    // plain-collections recomputation from the collected sets
    val exactDf = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.1)
      .select("id_a", "id_b")
    val candDf = Dedup.minhashCandidates(corpus, "doc_id", "text", 3, 16, 4)
      .select("id_a", "id_b")
    val ne = exactDf.agg(count(lit(1)).as("n_exact"))
    val nc = candDf.agg(count(lit(1)).as("n_candidates"))
    val tpDf = candDf.join(exactDf, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_tp"))
    val got = ne.crossJoin(broadcast(nc)).crossJoin(broadcast(tpDf))
      .withColumn("precision", when(col("n_candidates") > 0L,
        round(col("n_tp").cast("double") / col("n_candidates"), 6)))
      .withColumn("recall", when(col("n_exact") > 0L,
        round(col("n_tp").cast("double") / col("n_exact"), 6)))
      .as[(Long, Long, Long, Double, Double)].head()
    // independent reference: collected sets + plain scala arithmetic
    val exact = exactDf.as[(Long, Long)].collect().toSet
    val cand = candDf.as[(Long, Long)].collect().toSet
    // texts A={1,2,3} and B={10,11} are identical within group: their pairs
    // are exact matches AND guaranteed band collisions
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)).subsetOf(exact))
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)).subsetOf(cand))
    val tp = (cand & exact).size.toLong
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === ((exact.size.toLong, cand.size.toLong, tp,
      r6(tp.toDouble / cand.size), r6(tp.toDouble / exact.size))))
    assert(got._1 === 4L)
  }

  test("ex-q126 composition: langId confusion matrix == plain-collections recomputation") {
    // q09's langId derivation stays oracled; the folded gate only pivoted
    // (true, guess) with within-language fractions — recomputed here from
    // the collected rows on the sf0.001 labeled corpus
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("lang_guess", graft.ops.TextAnalysis.langId(col("text")))
    val got = d.groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
      .join(d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang")), "lang")
      .withColumn("frac", round(col("n").cast("double") / col("n_lang"), 6))
      .select("lang", "lang_guess", "n", "n_lang", "frac")
      .orderBy("lang", "lang_guess")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    val rows = d.select("lang", "lang_guess").as[(String, String)].collect().toSeq
    val byLang = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expected = rows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((lang, guess), n) =>
        (lang, guess, n, byLang(lang),
          BigDecimal(n.toDouble / byLang(lang))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy(r => (r._1, r._2))
    assert(got.nonEmpty && got === expected)
  }

  test("ex-q58 composition: compaction rollup over nearDupClusters (clusters + chars saved per size)") {
    val cl = Dedup.nearDupClusters(corpus, "doc_id", "text",
      n = 3, k = 16, bands = 4, threshold = 0.5)
    val got = cl.join(corpus.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("cluster_size"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(when(!col("is_canonical"), col("n_chars")).otherwise(lit(0L)))
          .cast("long").as("chars_removed"))
      .orderBy("cluster_size")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1L, 0L),     // doc 20 alone
      (2L, 1L, 2L, 25L),    // {10,11}: drop 11
      (3L, 1L, 3L, 58L)))   // {1,2,3}: drop 2 and 3
  }

  test("ex-q56 composition: cross-source rollup over verifiedNearDups (unordered source pairs, mean jaccard)") {
    val pairs = Dedup.verifiedNearDups(corpus, "doc_id", "text",
      n = 3, k = 16, bands = 4, threshold = 0.5)
    val src = corpus.select(col("doc_id"), col("source"))
    val got = pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("_sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("_sb")), "id_b")
      .groupBy(least(col("_sa"), col("_sb")).as("source_lo"),
        greatest(col("_sa"), col("_sb")).as("source_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(round(col("jaccard"), 4)
          .cast(org.apache.spark.sql.types.DecimalType(28, 4)))
          .cast("double") / count(lit(1)), 4).as("mean_jaccard"))
      .orderBy("source_lo", "source_hi")
      .as[(String, String, Long, Double)].collect().toSeq
    // exact dups -> jaccard 1.0 everywhere; pairs: (1,2)ww (1,3)wb (2,3)wb
    // (10,11)wb -> web/web 1 pair, book/web 3 pairs
    assert(got === Seq(("book", "web", 3L, 1.0), ("web", "web", 1L, 1.0)))
  }

  test("ex-q120 composition: signup->purchase funnel latency through exact interpolated quantiles") {
    // t0 = 0 ns => 1970-01-01 (Thursday): dow = (0 + 4) % 7 = 4
    def ns(sec: Long) = sec * 1000000000L
    val events = Seq(
      (1L, "signup", ns(0)), (1L, "purchase", ns(10)), (1L, "purchase", ns(99)),
      (2L, "signup", ns(0)), (2L, "purchase", ns(20)),
      (3L, "signup", ns(0)), (3L, "purchase", ns(40)),
      (4L, "purchase", ns(5)), // no signup: excluded
      (5L, "signup", ns(0))    // no purchase: excluded
    ).toDF("user_id", "event_type", "ts_ns")
    val signup = events.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ns")).as("_t0"))
    val firstPurchase = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns")).join(signup, "user_id")
      .where(col("ts_ns") >= col("_t0"))
      .groupBy(col("user_id"), col("_t0")).agg(min(col("ts_ns")).as("_tp"))
    val lat = firstPurchase
      .withColumn("lat_sec", expr("(_tp - _t0) DIV 1000000000"))
      .withColumn("signup_dow", expr("((_t0 DIV 1000000000 DIV 86400) + 4) % 7"))
    val q = graft.ops.Quantiles.exactInterpolated(lat, Seq("signup_dow"),
      "lat_sec", Seq(0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90"))
    val n = lat.groupBy(col("signup_dow")).agg(count(lit(1)).as("n_users"))
    val got = q.join(n, "signup_dow")
      .select(col("signup_dow"), col("n_users"), round(col("p25"), 4).as("p25"),
        round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"))
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // latencies [10, 20, 40]: h25 = 0.5 -> 15; p50 = 20; h90 = 1.8 -> 36
    assert(got === Seq((4L, 3L, 15.0, 20.0, 36.0)))
  }
}
