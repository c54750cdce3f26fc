package graft

import graft.core.Timeframe
import graft.ops.{Gaps, Resample}
import graft.sources.SynthSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Property-style checks from the SURVEY §5 test plan: resample idempotence,
  * upsert idempotence, gap-fill completeness — swept across seeds/timeframes
  * rather than one fixture (seeds drive the hash-based generator, so each is
  * a genuinely different dataset).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val seeds = Seq(7L, 42L, 1234L)

  test("property: Quantiles.exactInterpolated == percentile() bit-for-bit across seeds/ps") {
    import spark.implicits._
    for (seed <- seeds) {
      // hash-derived values with deliberate duplicates (limited domain) so
      // the same-value-interval interpolation branch is exercised; ~5% nulls
      // because percentile() ignores them and Quantiles must too
      val rows = (0 until 2000).map { i =>
        val h = (i * 2654435761L + seed * 40503L) & 0x7fffffffL
        (s"g${h % 3}", if (h % 20 == 0) None else Some((h % 500).toDouble / 7.0))
      } ++
        // degenerate chunking edges: a constant-value group (value range
        // [c, c] -> single chunk) and a 2-value group (fewer distinct
        // values than chunks)
        (0 until 50).map(_ => ("gconst", Some(3.25))) ++
        (0 until 50).map(i => ("gtwo", Some(if (i % 2 == 0) 1.0 else 9.0)))
      val df = rows.toDF("g", "v")
      val ps = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
      val exact = graft.ops.Quantiles.exactInterpolated(df, Seq("g"), "v",
        ps.zipWithIndex.map { case (p, i) => p -> s"q$i" })
        .orderBy("g").collect()
      val ref = df.groupBy(col("g"))
        .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("qs"))
        .orderBy("g").collect()
      exact.zip(ref).foreach { case (e, r) =>
        val got = ps.indices.map(i => e.getDouble(i + 1))
        val want = r.getSeq[Double](1)
        assert(got === want, s"seed=$seed group=${e.getString(0)}")
      }
    }
  }

  test("property: weighted quantiles == unweighted over the weight-expanded multiset") {
    import spark.implicits._
    for (seed <- seeds) {
      val rows = (0 until 300).map { i =>
        val h = (i * 2654435761L + seed * 40503L) & 0x7fffffffL
        ("g" + (h % 3), (h % 40).toDouble / 3.0, (h % 5) + 0L) // weights 0-4, zeros dropped
      }
      val df = rows.toDF("g", "v", "w")
      val ps = Seq(0.25, 0.5, 0.9)
      val weighted = graft.ops.Quantiles.exactInterpolatedWeighted(df, Seq("g"), "v",
          col("w"), ps.zipWithIndex.map { case (p, i) => p -> s"q$i" })
        .orderBy("g").collect()
      val expanded = rows.flatMap { case (g, v, w) => Seq.fill(w.toInt)((g, v)) }
        .toDF("g", "v")
      val ref = graft.ops.Quantiles.exactInterpolated(expanded, Seq("g"), "v",
          ps.zipWithIndex.map { case (p, i) => p -> s"q$i" })
        .orderBy("g").collect()
      // groups whose weights are ALL zero are dropped by BOTH sides (the
      // weighted pass filters them with the nulls; the expansion has no
      // rows for them) — so the group sets must match exactly
      assert(weighted.map(_.getString(0)).toSet === ref.map(_.getString(0)).toSet,
        s"seed=$seed group sets differ")
      val refMap = ref.map(r => r.getString(0) -> r).toMap
      weighted.foreach { e =>
        val r = refMap(e.getString(0))
        ps.indices.foreach(i => assert(e.getDouble(i + 1) === r.getDouble(i + 1),
          s"seed=$seed group=${e.getString(0)} p=${ps(i)}"))
      }
    }
  }

  test("property: sampleQuantile fold == direct bottom-k, bit for bit; rank error in the sampling bound") {
    import spark.implicits._
    for (seed <- seeds; nParts <- Seq(1, 4, 13)) {
      val k = 128
      val rows = (0 until 3000).map { i =>
        val h = (i * 2654435761L + seed * 40503L) & 0x7fffffffL
        (s"g${h % 2}", i.toLong, (h % 10000).toDouble / 11.0, h % nParts)
      }
      // ~3% null values: they must vanish from BOTH the sample and n_total
      // (percentile semantics), at ids that would otherwise be sampled
      val withNulls = rows.map { case (g, id, v, p) =>
        (g, id, if (id % 37 == 0) None else Some(v), p)
      }
      val df = withNulls.toDF("g", "id", "v", "part")
      val specs = Seq(0.5 -> "p50", 0.9 -> "p90")
      val st = graft.ops.Quantiles.sampleQuantileState(df, Seq("g"), "part", "id", "v", k)
      val folded = graft.ops.Quantiles.sampleQuantileMerge(st, Seq("g"), "part", k, specs)
        .orderBy("g").collect()
      val direct = graft.ops.QuantilesRef.sampleQuantiles(df, Seq("g"), "id", "v", k, specs)
        .orderBy("g").collect()
      // lossless merge: folding per-part states is BIT-identical to the
      // direct global bottom-k, at any partitioning of the input
      assert(folded.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq,
        s"seed=$seed nParts=$nParts fold != direct")
      // n_total is the exact NON-NULL row count
      val byG = withNulls.collect { case (g, id, Some(v), p) => (g, id, v, p) }
        .groupBy(_._1)
      folded.foreach { r =>
        assert(r.getAs[Long]("n_total") === byG(r.getString(0)).size.toLong)
        assert(r.getAs[Long]("n_sampled") === k.toLong)
      }
      // estimate quality: the empirical rank of each estimate stays inside
      // the 3-sigma binomial envelope for a k-uniform sample (deterministic
      // here — fixed seeds — but the bound is the principled one)
      folded.foreach { r =>
        val vs = byG(r.getString(0)).map(_._3).sorted
        specs.zipWithIndex.foreach { case ((p, nm), _) =>
          val est = r.getAs[Double](nm)
          val rank = vs.count(_ <= est).toDouble / vs.size
          val bound = 3.0 * math.sqrt(p * (1 - p) / k) + 1.0 / vs.size
          assert(math.abs(rank - p) <= bound,
            s"seed=$seed nParts=$nParts $nm rank=$rank off by more than $bound")
        }
      }
    }
  }

  test("property: fuzzyPairsSegmented == brute-force levenshtein pairs across seeded indel corpora") {
    import spark.implicits._
    // plain Scala DP as the oracle (full distance, no threshold)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    for (seed <- seeds) {
      // ~150 strings over a 4-letter alphabet: bases of length 6-14 plus
      // seeded variants with 0-3 substitutions/inserts/deletes, so true
      // pairs exist at every distance and across length differences
      def h(x: Long): Long = (x * 2654435761L + seed * 40503L) & 0x7fffffffL
      val bases = (0 until 50).map { i =>
        val len = 6 + (h(i) % 9).toInt
        (0 until len).map(j => ('a' + (h(i * 31 + j) % 4)).toChar).mkString
      }
      val rows = bases.zipWithIndex.flatMap { case (s, i) =>
        val edits = (1 to 2).map { e =>
          val n = (h(i * 7 + e) % 4).toInt // 0-3 edits
          (0 until n).foldLeft(s) { (cur, r) =>
            if (cur.isEmpty) cur
            else {
              val p = (h(i * 13 + e * 5 + r) % cur.length).toInt
              (h(i * 17 + e * 3 + r) % 3) match {
                case 0 => cur.updated(p, ('a' + (h(p + r) % 4)).toChar) // sub
                case 1 => cur.substring(0, p) + ('a' + (h(p + r) % 4)).toChar + cur.substring(p) // ins
                case _ => cur.substring(0, p) + cur.substring(p + 1) // del
              }
            }
          }
        }
        (s +: edits)
      }.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val df = rows.toDF("id", "s")
      for (maxDist <- Seq(1, 2, 3)) {
        val got = graft.ops.Dedup.fuzzyPairsSegmented(df, "id", "s", maxDist)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val brute = (for {
          (ia, sa) <- rows; (ib, sb) <- rows
          if ia < ib && math.abs(sa.length - sb.length) <= maxDist
          d = lev(sa, sb) if d <= maxDist
        } yield (ia, ib, d.toLong)).toSet
        assert(got === brute, s"seed=$seed d=$maxDist segmented != brute force " +
          s"(missing ${(brute -- got).take(3)}, extra ${(got -- brute).take(3)})")
      }
      // two-table form: link the even-id half against the odd-id half —
      // single-direction index/probe must still be complete by the lemma
      val (evens, odds) = rows.partition(_._1 % 2 == 0)
      val got2 = graft.ops.Dedup.fuzzyJoinSegmented(
          evens.toDF("id", "s"), "id", "s", odds.toDF("id", "s"), "id", "s",
          maxDist = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute2 = (for {
        (il, sl) <- evens; (ir, sr) <- odds
        if math.abs(sl.length - sr.length) <= 2
        d = lev(sl, sr) if d <= 2
      } yield (il, ir, d.toLong)).toSet
      assert(got2 === brute2, s"seed=$seed two-table segmented != brute force")
    }
  }

  test("property: chunked prefixSum == global window cumsum across seeds/chunk sizes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    for (seed <- seeds; chunk <- Seq(7L, 100L, 100000L)) {
      val rows = (0 until 800).map { i =>
        val h = (i * 2246822519L + seed * 31L) & 0x7fffffffL
        (i.toLong, s"k${h % 4}", (h % 50) + 1L)
      }
      val df = rows.toDF("ord", "k", "w")
      val got = graft.ops.Packing.prefixSum(df, Seq("k"), "ord", "w", chunk)
        .select(col("ord"), col("cum_w")).as[(Long, Long)].collect().toMap
      val want = df.withColumn("cum_w", sum(col("w")).over(
          W.partitionBy(col("k")).orderBy(col("ord"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .select(col("ord"), col("cum_w")).as[(Long, Long)].collect().toMap
      assert(got === want, s"seed=$seed chunk=$chunk")
    }
  }

  test("property: biFill(f, b) == bfill(ffill(x)) across seeds") {
    import spark.implicits._
    for (seed <- seeds) {
      val rows = (0 until 500).map { i =>
        val h = (i * 1103515245L + seed) & 0x7fffffffL
        (new java.sql.Timestamp(1700000000000L + i * 60000L),
          if (h % 3 == 0) Some((h % 100).toDouble) else None,
          if (h % 5 == 0) Some((h % 90).toDouble) else None)
      }
      val df = rows.toDF("ts", "a", "b")
      val combined = graft.ops.Fill.biFill(df, Seq("a"), Seq("b"), chunkSeconds = 3600L)
      val composed = graft.ops.Fill.bfill(
        graft.ops.Fill.ffill(df, Seq("a"), chunkSeconds = 3600L),
        Seq("b"), chunkSeconds = 3600L)
      assert(combined.orderBy("ts").collect().sameElements(
        composed.orderBy("ts").collect()), s"seed=$seed")
    }
  }

  test("property: resample(resample(x, tf), tf) == resample(x, tf) across seeds and tfs") {
    for (seed <- seeds; tf <- Seq(Timeframe.M5, Timeframe.M15, Timeframe.H1)) {
      val day = SynthSource.m1(spark, s"S$seed", "2025-08-01", "2025-08-01", seed)
      val once = Resample.ohlcv(day, tf)
      val twice = Resample.ohlcv(once, tf)
      assert(once.orderBy("ts").collect().sameElements(twice.orderBy("ts").collect()),
        s"seed=$seed tf=${tf.code}")
    }
  }

  test("property: synthFill restores exactly the removed minutes, idempotently") {
    for (seed <- seeds) {
      val day = SynthSource.m1(spark, s"S$seed", "2025-08-01", "2025-08-01", seed)
      // remove a seed-dependent stripe of minutes (never the first bar)
      val stride = 7 + (seed % 5).toInt
      val gappy = day.where(
        pmod(hour(col("ts")) * 60 + minute(col("ts")), lit(stride)) =!= lit(stride - 1))
      val removed = 1440 - gappy.count()
      assert(removed > 0)
      // explicit full-day grid: catches removed boundary minutes too
      val bounds = Some((java.sql.Timestamp.valueOf("2025-08-01 00:00:00"),
        java.sql.Timestamp.valueOf("2025-08-01 23:59:00")))
      val filled = Gaps.synthFill(gappy, gridBounds = bounds)
      assert(filled.count() === 1440, s"seed=$seed")
      assert(filled.where(col("is_synth")).count() === removed, s"seed=$seed")
      // idempotent: filling an already-full frame adds nothing
      val refilled = Gaps.synthFill(filled.drop("is_synth"), gridBounds = bounds)
      assert(refilled.count() === 1440 && refilled.where(col("is_synth")).count() === 0)
    }
  }

  test("property: expression OrLevels == typed flatMapGroups OrLevels across seeds/tzs") {
    for (seed <- seeds; tz <- Seq("UTC", "Asia/Tokyo")) {
      val days = SynthSource.m1(spark, s"S$seed", "2025-08-01", "2025-08-03", seed)
      val viaExpr = graft.ops.OrLevels.build(days, tz, "09:00-10:00")
        .orderBy("session_date")
        .select("symbol", "session_date", "or_start", "or_end", "or_high", "or_low",
          "break_dir", "break_ts", "retest_ts", "retest_price").collect()
      val viaTyped = graft.ops.OrLevelsRef.buildTyped(days, tz, "09:00-10:00")
        .orderBy("session_date")
        .select("symbol", "session_date", "or_start", "or_end", "or_high", "or_low",
          "break_dir", "break_ts", "retest_ts", "retest_price").collect()
      assert(viaExpr.length === viaTyped.length, s"seed=$seed tz=$tz")
      viaExpr.zip(viaTyped).foreach { case (a, b) =>
        assert(a === b, s"seed=$seed tz=$tz")
      }
    }
  }

  test("property: chunked Fill == global window fill across seeds and chunk sizes") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- seeds; chunkS <- Seq(900L, 3600L, 86400L)) {
      val day = SynthSource.m1(spark, s"S$seed", "2025-08-01", "2025-08-02", seed)
      // null out a seed-dependent stripe of closes PLUS hours 05-08 entirely,
      // so whole 900s/3600s chunks are empty and the carry must skip over
      // multiple valueless chunks (the nearest-contributing-chunk path)
      val stride = 5 + (seed % 7).toInt
      val holey = day.withColumn("close",
        when(pmod(hour(col("ts")) * 60 + minute(col("ts")), lit(stride)) < stride - 1 &&
          !hour(col("ts")).between(5, 8), col("close")))
      val w = Window.orderBy(col("ts")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = holey.withColumn("close", last(col("close"), ignoreNulls = true).over(w))
        .select("ts", "close").orderBy("ts").collect()
      val got = graft.ops.Fill.ffill(holey, Seq("close"), chunkSeconds = chunkS)
        .select("ts", "close").orderBy("ts").collect()
      assert(got.sameElements(want), s"seed=$seed chunk=$chunkS")
    }
  }

  test("property: chunked range joins == naive inequality joins across seeds/widths") {
    import spark.implicits._
    for (seed <- seeds) {
      // hash-scattered points and intervals over a [0, 10000) domain with
      // interval lengths spanning zero to several chunk widths
      val pts = spark.range(300)
        .select(col("id").as("pid"), pmod(xxhash64(col("id"), lit(seed)), lit(10000L)).as("p"))
      val iv = spark.range(80)
        .select(col("id").as("iid"),
          pmod(xxhash64(col("id"), lit(seed + 1)), lit(9000L)).as("s"))
        // 1 + …: the naive a.s<b.e AND b.s<a.e reference treats an EMPTY
        // interval strictly inside another as overlapping, while the point-
        // set definition (and the chunked op) says the empty set overlaps
        // nothing — keep intervals non-empty so both definitions coincide
        .withColumn("e", col("s") + 1L + pmod(xxhash64(col("iid"), lit(seed + 2)), lit(899L)))
      val naive = pts.join(iv, col("p") >= col("s") && col("p") < col("e"))
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val naiveOv = iv.alias("a").join(iv.alias("b"),
          col("a.s") < col("b.e") && col("b.s") < col("a.e"))
        .select(col("a.iid"), col("b.iid")).as[(Long, Long)].collect().toSet
      for (w <- Seq(64L, 300L, 1024L)) {
        val got = graft.ops.RangeJoin.pointInInterval(pts, "p", iv, "s", "e", w)
          .select("pid", "iid").as[(Long, Long)].collect()
        assert(got.length === got.toSet.size, s"seed=$seed w=$w: duplicates")
        assert(got.toSet === naive, s"seed=$seed w=$w")
        val b2 = iv.select(col("iid").as("iid2"), col("s").as("s2"), col("e").as("e2"))
        val ov = graft.ops.RangeJoin.intervalOverlap(iv, "s", "e", b2, "s2", "e2", w)
          .select("iid", "iid2").as[(Long, Long)].collect()
        assert(ov.length === ov.toSet.size, s"seed=$seed w=$w: overlap duplicates")
        assert(ov.toSet === naiveOv, s"seed=$seed w=$w overlap")
      }
    }
  }

  test("property: day-scoped islands partition exactly the missing minutes") {
    for (seed <- seeds) {
      val days = SynthSource.m1(spark, s"S$seed", "2025-08-01", "2025-08-03", seed)
      val stride = 11 + (seed % 13).toInt
      val observed = days.where(
        pmod(hour(col("ts")) * 60 + minute(col("ts")), lit(stride)) =!= lit(0))
        .select(col("ts"))
      val gaps = Gaps.dayScopedMinuteGaps(observed)
      val totalMissing = gaps.agg(sum(col("n_missing"))).head().getLong(0)
      val expected = days.select("ts").except(observed).where(
        // boundary minutes outside [observed min, observed max] are invisible
        col("ts") >= observed.agg(min(col("ts"))).head().getTimestamp(0) &&
        col("ts") <= observed.agg(max(col("ts"))).head().getTimestamp(0)).count()
      assert(totalMissing === expected, s"seed=$seed")
      // islands are disjoint, within one day, and sorted ranges
      val rows = gaps.orderBy("gap_start").collect()
      rows.foreach { r =>
        val s0 = r.getAs[java.sql.Timestamp]("gap_start")
        val e0 = r.getAs[java.sql.Timestamp]("gap_end")
        assert(!s0.after(e0))
        assert(s0.getTime / 86400000L === e0.getTime / 86400000L, "island crosses midnight")
      }
      rows.sliding(2).foreach {
        case Array(a, b) => assert(a.getAs[java.sql.Timestamp]("gap_end")
          .before(b.getAs[java.sql.Timestamp]("gap_start")))
        case _ =>
      }
    }
  }

  test("property: upsert is idempotent for any batch") {
    for (seed <- seeds.take(2)) {
      val root = Files.createTempDirectory("lakeprop").toString
      val bars = SynthSource.m1(spark, s"S$seed", "2025-08-01", "2025-08-01", seed)
      graft.lake.LakeWriter.upsert(spark, root, bars)
      graft.lake.LakeWriter.upsert(spark, root, bars)
      assert(spark.read.parquet(s"$root/data").count() === 1440, s"seed=$seed")
    }
  }

  test("property: labelCentroidStats invariant under row order and partitioning") {
    import spark.implicits._
    // decimal-sum determinism claim: identical stats regardless of how the
    // input is partitioned or ordered (the exact property an executor-count
    // change on a cluster exercises)
    for (seed <- seeds) {
      val rows = (0 until 300).map { i =>
        val h = i * 2654435761L + seed * 97L
        (i.toLong,
          (0 until 16).map(j => (((h + j * 7919L) % 1000L) - 500L).toFloat / 250f),
          (h % 5L).abs)
      }
      val base = rows.toDF("vec_id", "embedding", "label")
      val a = graft.ops.Similarity
        .labelCentroidStats(base.repartition(1), "embedding", "label")
        .orderBy("label").collect().toSeq
      val b = graft.ops.Similarity
        .labelCentroidStats(
          base.orderBy(col("vec_id").desc).repartition(13), "embedding", "label")
        .orderBy("label").collect().toSeq
      assert(a === b, s"seed=$seed")
    }
  }

  test("property: simhashCandidatesMih == chunked == brute across seeds, bit widths, and pair densities") {
    // the two wide-signature candidate generators share one exact contract
    // (all pairs within maxHamming); sweep it across seeded corpora dense
    // with near-boundary pairs — random signatures alone almost never land
    // within distance 3, so half the corpus is derived by flipping 0-5 bits
    // of earlier members (d=4,5 plants must NOT pair; cross-half splits
    // exercise the variant generator's min-half case)
    import spark.implicits._
    for (seed <- seeds; bits <- Seq(40, 48, 60)) {
      val rnd = new scala.util.Random(seed * 31 + bits)
      val mask = (1L << bits) - 1L
      val baseSigs = (0 until 120).map(_ => rnd.nextLong() & mask)
      val derived = (0 until 120).map { _ =>
        var s = baseSigs(rnd.nextInt(baseSigs.size))
        (0 until rnd.nextInt(6)).foreach(_ => s ^= 1L << rnd.nextInt(bits))
        s
      }
      val all = (baseSigs ++ derived).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val sigs = all.toDF("doc_id", "sig")
      def got(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
      val brute = (for {
        (ia, sa) <- all; (ib, sb) <- all if ia < ib
        d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
      } yield (ia, ib, d.toLong)).sortBy(p => (p._1, p._2))
      assert(brute.nonEmpty, s"seed $seed bits $bits: degenerate corpus, no pairs to test")
      assert(got(graft.ops.Dedup.simhashCandidatesMih(sigs, "doc_id", "sig",
        bits = bits)) === brute, s"MIH at seed $seed bits $bits")
      assert(got(graft.ops.Dedup.simhashCandidatesFromSignatures(sigs, "doc_id", "sig",
        maxHamming = 3, chunkBits = bits / 4)) === brute, s"chunked at seed $seed bits $bits")
    }
  }

  test("property: prefixJaccardPairs == jaccardPairs across seeds and thresholds") {
    import spark.implicits._
    // hash-derived word soup over a small vocabulary: plenty of shared
    // shingles, graded overlaps, and docs of varying length — the regime
    // where prefix pruning and its length/positional filters all bind
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    for (seed <- seeds; t <- Seq(0.3, 0.6)) {
      val docs = (0 until 60).map { i =>
        val len = 6 + (i * 31 + seed).toInt.abs % 10
        val words = (0 until len).map { j =>
          vocab(((i / 3 + j) * 2654435761L + seed * (j % 4 + 1)).toInt.abs % vocab.size)
        }
        (i.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b", "inter", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSeq.sorted
      val full = norm(graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", t))
      val pref = norm(graft.ops.Dedup.prefixJaccardPairs(docs, "doc_id", "text", t))
      assert(pref === full, s"seed=$seed t=$t: prefix plan diverged from full join")
      assert(full.nonEmpty, s"seed=$seed t=$t: degenerate corpus, no pairs")
    }
  }
}
