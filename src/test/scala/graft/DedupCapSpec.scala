package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** The over-[[graft.ops.Dedup.InlineKeyCap]] regime of the simhash
  * candidate generators: when a degenerate corpus drops more bucket keys
  * than can sanely inline as `isin` literals, both generators must switch
  * to the broadcast-join form (anti-join for MIH, survived-chunk bitmask
  * for the chunked emitter) AND produce the same recall-under-cap pair set
  * the literal form defines. The corpus: 3000 "triplet" groups of three
  * identical 48-bit signatures (every bucket they touch holds 3 > cap 2 →
  * dropped) plus 5 "pair" groups of two (buckets hold 2 ≤ cap → survive);
  * group g's signature repeats g in all four 12-bit chunks, so bucket keys
  * never collide across groups and the expected survivor set is exactly
  * the 5 pairs. Inter-group hamming ≥ 4 (each differing bit of g appears
  * once per chunk), so no cross-group candidate can pass the ≤3 verify
  * even if blocking admitted it.
  */
class DedupCapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val bits = 48
  private def sigOf(g: Long): Long =
    g | (g << 12) | (g << 24) | (g << 36)

  private lazy val sigs = {
    val rows =
      (0 until 3000).flatMap { g =>
        (0 until 3).map(m => (g.toLong * 10 + m, sigOf(g)))
      } ++
      (3100 until 3105).flatMap { g =>
        (0 until 2).map(m => (g.toLong * 10 + m, sigOf(g)))
      }
    import spark.implicits._
    rows.toDF("doc_id", "sig")
  }

  private val expectedPairs =
    (3100 until 3105).map(g => (g.toLong * 10, g.toLong * 10 + 1, 0)).toSet

  private def got(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.get(2).toString.toInt)).toSet

  test("MIH generator: >InlineKeyCap dropped keys -> broadcast anti-join form, literal-form semantics") {
    // 3005 groups x 2 halves = 6010 over-cap half buckets > 4096
    val cands = Dedup.simhashCandidatesMih(sigs, "doc_id", "sig",
      maxHamming = 3, maxBucket = 2, bits = bits)
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      "over-cap MIH must use the broadcast anti-join, not an isin literal list")
    assert(!plan.contains(" IN ("),
      "no inlined literal key list may remain in the over-cap plan")
    assert(got(cands) === expectedPairs,
      "anti-join form must emit exactly the literal form's recall-under-cap set")
  }

  test("chunked generator: >InlineKeyCap dropped keys -> survived-chunk bitmask form, literal-form semantics") {
    // 3005 groups x 4 chunks = 12020 over-cap chunk buckets > 4096
    val cands = Dedup.simhashCandidatesFromSignatures(sigs, "doc_id", "sig",
      maxHamming = 3, maxBucket = 2, chunkBits = bits / 4)
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.contains("_survMask"),
      "over-cap chunked emitter must route survival through the per-doc bitmask")
    assert(got(cands) === expectedPairs,
      "bitmask form must emit exactly the literal form's recall-under-cap set")
    // duplicate doc IDS must not corrupt the mask (it is a pure row
    // expression over the signature, never a per-id aggregate — a per-id
    // windowed SUM would merge both rows' bits and wrongly drop the
    // survivor pair): a second row for survivor id 31000 with an unrelated
    // signature (fresh buckets, so no cap widths change) leaves the
    // emitted pair set exactly as before
    import spark.implicits._
    val withDup = sigs.unionByName(Seq((31000L, sigOf(4000L))).toDF("doc_id", "sig"))
    assert(got(Dedup.simhashCandidatesFromSignatures(withDup, "doc_id", "sig",
      maxHamming = 3, maxBucket = 2, chunkBits = bits / 4)) === expectedPairs)
  }

  test("under-cap corpora keep the literal plan (no join/bitmask operators added)") {
    // 5 over-cap keys <= InlineKeyCap: the production plan must be untouched
    // by the round-14 branch (q27/q133's gate-scale shape)
    import spark.implicits._
    val small = (0 until 5).flatMap { g =>
      (0 until 3).map(m => (g.toLong * 10 + m, sigOf(g)))
    }.toDF("doc_id", "sig")
    val cands = Dedup.simhashCandidatesFromSignatures(small, "doc_id", "sig",
      maxHamming = 3, maxBucket = 2, chunkBits = bits / 4)
    val plan = cands.queryExecution.executedPlan.toString
    assert(!plan.contains("_survMask") && !plan.contains("LeftAnti"))
    assert(got(cands) === Set.empty[(Long, Long, Int)],
      "all-triplet corpus: every bucket over cap, nothing may survive")
  }
}
