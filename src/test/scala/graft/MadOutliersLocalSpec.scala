package graft

import graft.ops.Quantiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-local madOutliers fold to its distributed twin
  * BIT-FOR-BIT: same schema, same counts, and median / MAD / band edges
  * with equal `doubleToLongBits` (the round-4 band edges are what q90's
  * oracle hashes). Inputs the gate refuses must take the distributed path
  * and so give the same output by construction.
  */
class MadOutliersLocalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Groups covering every branch of the fold: odd and even counts, ties
    * across the median (interpolated and not), a zero-MAD group, negatives
    * with both zeros, interpolations that do not round-trip at 4 places, a
    * single row whose value is a half-way case at 4 places (HALF_UP, on
    * the shortest decimal form), three such rows, and a group whose values
    * are all null. */
  private def base: DataFrame = {
    val rows =
      Seq(1.0, 2.0, 2.0, 3.5, 10.0).map(("odd", _)) ++
        Seq(-3.0, -1.5, -0.0, 0.0, 2.25, 7.0).map(("even", _)) ++
        Seq(4.0, 4.0, 4.0, 5.0, 5.0, 5.0).map(("ties", _)) ++
        Seq(1.0, 2.0, 2.0, 2.0, 3.0, 40.0).map(("tied", _)) ++
        (Seq.fill(5)(7.0) :+ 100.0).map(("zeromad", _)) ++
        ((0 until 13).map(i => -i / 3.0) :+ -50.0).map(("thirds", _)) ++
        Seq(("single", 2.00025)) ++ Seq.fill(3)(("flat5", 2.00025))
    (rows.map { case (g, v) => (g, Option(v)) } ++
      Seq(("nulls", Option.empty[Double]), ("nulls", Option.empty[Double])))
      .toDF("g", "v")
  }

  /** One path's outcome: schema plus rows as (key, n, n_outliers, bits of
    * median / mad / thr_lo / thr_hi) in key order, or the root cause of the
    * exception it threw. */
  private def outcome(out: => DataFrame)
      : Either[String, (StructType, Seq[(String, Long, Long, Seq[Long])])] =
    try {
      val df = out
      Right(df.schema -> df.collect().map { r =>
        val key = r.toSeq.take(r.fieldIndex("n")).map {
          case b: Array[Byte] => b.mkString("[", ",", "]")
          case x => String.valueOf(x)
        }.mkString("|")
        (key, r.getAs[Long]("n"), r.getAs[Long]("n_outliers"),
          Seq("median", "mad", "thr_lo", "thr_hi").map(c =>
            java.lang.Double.doubleToLongBits(r.getAs[Double](c))))
      }.toSeq.sortBy(_._1))
    } catch {
      case t: Throwable =>
        var c = t
        while (c.getCause != null) c = c.getCause
        Left(s"${c.getClass.getName}: ${c.getMessage}")
    }

  /** The fold's result is a local relation; the distributed path ends in
    * an aggregate. */
  private def folded(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case a: Aggregate => a }.isEmpty

  private def compare(inputs: Seq[(String, DataFrame)], expectFold: Boolean): Unit = {
    val differ = inputs.flatMap { case (name, df) =>
      var fold = Option.empty[Boolean]
      val l = outcome {
        val out = Quantiles.madOutliers(df, Seq("g"), "v")
        fold = Some(folded(out))
        out
      }
      val d = outcome(Quantiles.madOutliersDistributed(df, Seq("g"), "v"))
      if (fold.isEmpty && expectFold) Some(s"$name: the fold threw $l")
      else if (fold.exists(_ != expectFold)) Some(s"$name: folded = ${fold.get}")
      else if (l == d) None
      else Some(s"$name:\n  fold        $l\n  distributed $d")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }

  test("fold == distributed for int, long, double and decimal values, bit for bit") {
    val inputs = Seq("double", "int", "bigint", "decimal(12,3)").map(t =>
      t -> base.withColumn("v", col("v").cast(t)))
    compare(inputs, expectFold = true)
    val got = outcome(Quantiles.madOutliers(base, Seq("g"), "v")).toOption.get._2
      .map(r => r._1 -> (r._2, r._3)).toMap
    // the all-null group vanishes, as on the distributed path
    assert(!got.contains("nulls"))
    assert(got("zeromad") === (6L, 1L) && got("thirds") === (14L, 1L))
    // known limit, the same on both paths (see madOutliers): MAD = 0
    // collapses the band to round4(median) = 2.0003, which every 2.00025
    // row lies outside of
    assert(got("single") === (1L, 1L) && got("flat5") === (3L, 3L))
  }

  test("a wider k and a two-column key take the fold too") {
    val two = base.withColumn("h", length(col("g")) % 2)
    val fold = Quantiles.madOutliers(two, Seq("h", "g"), "v", k = 1.5)
    assert(folded(fold))
    val l = outcome(fold)
    val d = outcome(Quantiles.madOutliersDistributed(two, Seq("h", "g"), "v", k = 1.5))
    assert(l.isRight && l === d)
  }

  test("refused inputs fall back to the distributed path with identical output") {
    def plus(g: String, v: Double) = base.unionByName(Seq((g, Option(v))).toDF("g", "v"))
    val nullKey = base.unionByName(
      Seq((null.asInstanceOf[String], Option(1.0))).toDF("g", "v"))
    val huge = Seq(-1.7e308, -1.7e308, 1.7e308).map(v => ("huge", Option(v))).toDF("g", "v")
    val bytes = Seq((Array[Byte](1), 1.0), (Array[Byte](1), 3.0), (Array[Byte](2), 2.0))
      .toDF("g", "v")
    compare(Seq(
      "null group key" -> nullKey,
      "NaN value" -> plus("odd", Double.NaN),
      "±Infinity values" -> plus("even", Double.PositiveInfinity)
        .unionByName(Seq(("ties", Option(Double.NegativeInfinity))).toDF("g", "v")),
      "deviation overflows" -> huge,
      "binary group key" -> bytes), expectFold = false)
  }

  test("empty group keys fail the same way on both paths") {
    val l = intercept[IllegalArgumentException](Quantiles.madOutliers(base, Nil, "v"))
    val d = intercept[IllegalArgumentException](Quantiles.madOutliersDistributed(base, Nil, "v"))
    assert(l.getMessage === d.getMessage && l.getMessage.contains("madOutliers"))
  }
}
