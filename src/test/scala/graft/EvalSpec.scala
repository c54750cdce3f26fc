package graft

import graft.ops.Eval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EvalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("groupedAuc: hand-computed AUC with ties, perfect and inverted rankers") {
    // group a: scores pos {0.8, 0.6}, neg {0.6, 0.2} — the 0.6 tie counts
    // half: pairs = (0.8>0.6)+(0.8>0.2)+(0.6=0.6 half)+(0.6>0.2) = 3.5/4
    val df = Seq(
      ("a", 0.8, true), ("a", 0.6, true), ("a", 0.6, false), ("a", 0.2, false),
      ("b", 0.9, true), ("b", 0.8, true), ("b", 0.1, false),   // perfect
      ("c", 0.1, true), ("c", 0.9, false),                     // inverted
    ).toDF("g", "score", "label")
    val got = Eval.groupedAuc(df, Seq("g"), "score", "label")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("a") === ((2L, 2L, 0.875)))
    assert(got("b") === ((2L, 1L, 1.0)))
    assert(got("c") === ((1L, 1L, 0.0)))
  }

  test("groupedAuc: single-class groups get NULL auc; nulls excluded; random is half") {
    val df = Seq(
      ("onlypos", 0.5, Some(true)), ("onlypos", 0.7, Some(true)),
      ("n", 0.9, None), ("n", 0.4, Some(true)), ("n", 0.4, Some(false)),
    ).toDF("g", "score", "label")
    val rows = Eval.groupedAuc(df, Seq("g"), "score", "label")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("onlypos").isNullAt(3))
    // group n: the null-label row is excluded; remaining one pos one neg
    // tie at 0.4 -> AUC 0.5 exactly
    assert(rows("n").getLong(1) === 1L && rows("n").getLong(2) === 1L)
    assert(rows("n").getDouble(3) === 0.5)
  }

  test("groupedAuc is partition-invariant and matches a quadratic reference on a larger draw") {
    // deterministic pseudo-random scores/labels
    val rows = (0 until 400).map { i =>
      val h = (i * 2654435761L) % 1000
      ("g" + (i % 3), (h % 97).toDouble / 96.0, h % 3 != 0)
    }
    val df = rows.toDF("g", "score", "label")
    def ref(g: String): Double = {
      val xs = rows.filter(_._1 == g)
      val pos = xs.filter(_._3).map(_._2); val neg = xs.filterNot(_._3).map(_._2)
      val wins = (for (p <- pos; n <- neg) yield
        if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      BigDecimal(wins / (pos.size.toDouble * neg.size)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Eval.groupedAuc(df, Seq("g"), "score", "label")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    Seq("g0", "g1", "g2").foreach(g => assert(math.abs(got(g) - ref(g)) < 1e-9, g))
    val re = Eval.groupedAuc(df.repartition(7), Seq("g"), "score", "label")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(re === got)
  }

  test("abTest: unit-grain collapse, hand z, degenerate variance -> NULL z") {
    // user 1 converts TWICE but counts once (pseudo-replication guard);
    // control 1/2 converted, treatment 2/2
    val ev = Seq(
      ("c", 1L, true), ("c", 1L, true), ("c", 2L, false),
      ("t", 3L, true), ("t", 4L, true))
      .toDF("arm", "user_id", "conv")
    val r = Eval.abTest(ev, "user_id", "arm", col("conv"), control = "c").collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) === ((2L, 2L, 1L, 2L)))
    assert(r.getDouble(6) === 0.5 && r.getDouble(7) === 1.0 && r.getDouble(8) === 0.5)
    val pp = 3.0 / 4.0
    val z = (1.0 - 0.5) / math.sqrt(pp * (1 - pp) * (1.0 / 2 + 1.0 / 2))
    assert(r.getDouble(9) === BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // everyone converts -> zero pooled variance -> NULL z, no ANSI error
    val degen = Seq(("c", 1L, true), ("t", 2L, true)).toDF("arm", "user_id", "conv")
    assert(Eval.abTest(degen, "user_id", "arm", col("conv"), "c").collect()(0).isNullAt(9))
  }

  test("calibration: bin clamping, cell stats, hand Brier") {
    val df = Seq(
      ("a", -0.2, false), ("a", 0.05, false), ("a", 1.0, true), ("a", 0.95, true),
      ("a", 0.55, true), ("a", 0.55, false),
    ).toDF("g", "score", "label")
    val got = Eval.calibration(df, Seq("g"), "score", "label")
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got.keySet === Set(0L, 5L, 9L)) // -0.2 and 1.0 clamp to edge bins
    assert(got(0L)._1 === 2L && got(9L)._1 === 2L && got(5L)._1 === 2L)
    assert(got(5L)._3 === 0.5) // one of two positive at 0.55
    val brier = Seq(-0.2 - 0, 0.05 - 0, 1.0 - 1, 0.95 - 1, 0.55 - 1, 0.55 - 0)
      .map(e => BigDecimal(e * e).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble / 6
    got.values.foreach { case (_, _, _, b) =>
      assert(math.abs(b - BigDecimal(brier).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }
}
