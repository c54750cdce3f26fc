package graft

import graft.ops.{Gaps, LiquidityProfiles, OrLevels}
import graft.sources.SynthSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Pins the driver folds of the day-sized ingest operators
  * ([[Gaps.minuteGaps]], [[Gaps.synthFill]], [[OrLevels.build]]) to their
  * distributed twins: the same schema, nullability included, and the same
  * rows, doubles compared by `doubleToLongBits`. Inputs the gate refuses
  * must take the distributed path, so they give the same output by
  * construction.
  */
class DayFoldsLocalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Bounds = Option[(Timestamp, Timestamp)]
  private def ts(s: String) = Timestamp.valueOf(s)
  private val day: Bounds = Some((ts("2025-08-01 00:00:00"), ts("2025-08-01 23:59:00")))

  /** `df` collected into a local relation, so the only plan nodes of an
    * operator's result are its own. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def bars(sym: String, from: String, to: String): DataFrame =
    SynthSource.m1(spark, sym, from, to).select("ts", "symbol", "open", "high", "low", "close", "volume")

  private def at(s: String) = col("ts") === lit(ts(s))

  /** One path's outcome: schema plus rows rendered with doubles as bits,
    * sorted; or the root cause of the exception it threw. */
  private def outcome(out: => DataFrame): Either[String, (StructType, Seq[String])] =
    try {
      val df = out
      Right(df.schema -> df.collect().map(_.toSeq.map {
        case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
        case x => String.valueOf(x)
      }.mkString("|")).toSeq.sorted)
    } catch {
      case t: Throwable =>
        var c = t
        while (c.getCause != null) c = c.getCause
        Left(s"${c.getClass.getName}: ${c.getMessage}")
    }

  /** The fold's result is a local relation (for the fill, unioned under
    * the input); every distributed plan aggregates, joins or windows. */
  private def folded(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case p @ (_: Aggregate | _: Join | _: Window) => p
    }.isEmpty

  /** Each case as (name, public call, distributed twin): the first must
    * take the fold iff `expectFold`, and both must give one outcome. */
  private def compare(cases: Seq[(String, () => DataFrame, () => DataFrame)],
                      expectFold: Boolean): Unit = {
    val differ = cases.flatMap { case (name, call, twin) =>
      var fold = Option.empty[Boolean]
      val l = outcome { val out = call(); fold = Some(folded(out)); out }
      val d = outcome(twin())
      if (fold.isEmpty && expectFold) Some(s"$name: the fold threw $l")
      else if (fold.exists(_ != expectFold)) Some(s"$name: folded = ${fold.get}")
      else if (l == d) None
      else Some(s"$name:\n  fold        $l\n  distributed $d")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }

  private def gapCases(inputs: Seq[(String, DataFrame)], bounds: Seq[(String, Bounds)],
                       keySets: Seq[Seq[String]]) =
    for ((n, df) <- inputs; keys <- keySets; (bn, b) <- bounds) yield
      (s"$n keys=${keys.mkString} $bn",
        () => Gaps.minuteGaps(df, keys, 60L, b),
        () => Gaps.minuteGapsDistributed(df, keys, 60L, b))

  private def fillCases(inputs: Seq[(String, DataFrame)], bounds: Seq[(String, Bounds)],
                        keySets: Seq[Seq[String]]) =
    for ((n, df) <- inputs; keys <- keySets; (bn, b) <- bounds) yield
      (s"$n keys=${keys.mkString} $bn",
        () => Gaps.synthFill(df, keys, 60L, b),
        () => Gaps.synthFillDistributed(df, keys, 60L, b))

  private val bothBounds: Seq[(String, Bounds)] = Seq("grid=data" -> None, "grid=day" -> day)

  /** Gap inputs: first and last slot missing, islands, three symbols,
    * off-grid and sub-second bars, bars outside the grid, an empty frame.
    * The grids add a whole missing day and sub-second slots. */
  private lazy val gapInputs: Seq[(String, DataFrame)] = {
    val one = bars("BTC", "2025-08-01", "2025-08-01")
    val holes = one.where(!at("2025-08-01 00:00:00") && !at("2025-08-01 23:59:00") &&
      !(col("ts") >= lit(ts("2025-08-01 03:00:00")) && col("ts") < lit(ts("2025-08-01 03:10:00"))) &&
      !at("2025-08-01 07:30:00"))
    val three = Seq("BTC", "ETH", "SOL").zipWithIndex.map { case (s, i) =>
      bars(s, "2025-08-01", "2025-08-01").where(hour(col("ts")) =!= i + 4 && minute(col("ts")) =!= i * 7)
    }.reduce(_ unionByName _)
    val offGrid = holes.unionByName(Seq(
      (ts("2025-08-01 03:04:30"), "BTC", 1.0, 2.0, 0.5, 1.5, 3.0),
      (ts("2025-08-01 07:30:00.5"), "BTC", 1.0, 2.0, 0.5, 1.25, 3.0),
      (ts("2025-07-31 23:58:00"), "BTC", 4.0, 4.0, 4.0, 4.0, 1.0),
      (ts("2025-08-02 00:03:00"), "BTC", 5.0, 5.0, 5.0, 5.0, 1.0))
      .toDF("ts", "symbol", "open", "high", "low", "close", "volume"))
    // sub-second bars either side of 1970: a negative ts casts to a long
    // by flooring, so the islands key must floor too
    val epoch = Seq((new Timestamp(-119500L), "BTC", 1.0, 2.0, 0.5, 1.5, 3.0),
      (new Timestamp(180500L), "BTC", 2.0, 2.0, 2.0, 2.0, 1.0))
      .toDF("ts", "symbol", "open", "high", "low", "close", "volume")
    Seq("one symbol" -> holes, "three symbols" -> three,
      "off-grid and outside the grid" -> offGrid, "sub-second across 1970" -> epoch,
      "empty" -> holes.limit(0)).map { case (n, df) => n -> local(df) }
  }

  test("minuteGaps: fold == distributed, with and without gridBounds and keys") {
    val twoDays: Bounds = Some((ts("2025-08-01 00:00:00"), ts("2025-08-02 23:59:00")))
    val subSecond: Bounds = Some((ts("2025-08-01 00:00:00.25"), ts("2025-08-01 23:59:00.25")))
    val dup = gapInputs.head._2.unionByName(gapInputs.head._2.limit(5))
    compare(gapCases(gapInputs :+ ("duplicate bars" -> local(dup)),
      bothBounds ++ Seq("grid=two days" -> twoDays, "grid=sub-second" -> subSecond),
      Seq(Seq("symbol"), Nil)), expectFold = true)
    val got = Gaps.minuteGaps(gapInputs.head._2, Seq("symbol"), 60L, twoDays)
      .orderBy("gap_start").collect()
      .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
    // the first and last slot, the islands, and the whole missing day
    assert(got.toSeq === Seq(
      ("2025-08-01 00:00:00.0", "2025-08-01 00:00:00.0", 1L),
      ("2025-08-01 03:00:00.0", "2025-08-01 03:09:00.0", 10L),
      ("2025-08-01 07:30:00.0", "2025-08-01 07:30:00.0", 1L),
      ("2025-08-01 23:59:00.0", "2025-08-02 23:59:00.0", 1441L)))
  }

  test("synthFill: fold == distributed, real bars pass through with their own columns") {
    val subSecond: Bounds = Some((ts("2025-08-01 00:00:00.25"), ts("2025-08-01 23:59:00.25")))
    val withSource = gapInputs.map { case (n, df) => n -> df.withColumn("source", lit("synth")) }
    compare(fillCases(gapInputs ++ withSource.take(1).map { case (n, df) => s"$n with source" -> df },
      bothBounds :+ ("grid=sub-second" -> subSecond), Seq(Seq("symbol"))), expectFold = true)
    // unkeyed: one series, so only the single-symbol inputs keep (ts) unique
    compare(fillCases(gapInputs.filterNot(_._1 == "three symbols"), bothBounds, Seq(Nil)),
      expectFold = true)
    val filled = Gaps.synthFill(gapInputs.head._2, Seq("symbol"), 60L, day)
    assert(filled.count() === 1440 && filled.where(col("is_synth")).count() === 13)
    assert(filled.rdd.getNumPartitions === 1, "the folded fill is one partition")
    // the first slot has no prior bar: it takes the next open
    val first = filled.where(at("2025-08-01 00:00:00")).head()
    val next = gapInputs.head._2.where(at("2025-08-01 00:01:00")).head()
    assert(first.getAs[Double]("close") === next.getAs[Double]("open"))
  }

  /** OR inputs: three symbols over two UTC days, a session with an empty
    * OR slice, and hand-made sessions with no break and an UP/DOWN tie. */
  private lazy val orInputs: Seq[(String, DataFrame)] = {
    val three = Seq("BTC", "ETH", "SOL").map(bars(_, "2025-08-01", "2025-08-02")).reduce(_ unionByName _)
    val noSlice = three.where(!(col("ts") >= lit(ts("2025-08-02 00:00:00")) &&
      col("ts") < lit(ts("2025-08-02 01:00:00")) && col("symbol") === "ETH"))
    def bar(t: String, high: Double, low: Double, close: Double, sym: String = "T") =
      (ts(t), sym, close, high, low, close, 1.0)
    val inOr = (0 until 60).map(i => bar(f"2025-08-01 00:$i%02d:00", 20.0, 10.0, 15.0))
    val hand = (inOr ++ inOr.map(_.copy(_2 = "U")) ++ inOr.map(_.copy(_2 = "V")) ++ Seq(
      bar("2025-08-01 01:00:00", 16.0, 14.0, 15.0),          // T: no break
      bar("2025-08-01 02:00:00", 19.0, 11.0, 12.0),
      bar("2025-08-01 01:05:00", 25.0, 21.0, 24.0, "U"),     // U: UP and DOWN at one ts
      bar("2025-08-01 01:05:00", 9.0, 5.0, 6.0, "U"),
      bar("2025-08-01 01:07:00", 22.0, 19.0, 21.0, "U"),
      bar("2025-08-01 01:02:00", 12.0, 8.0, 9.0, "V"),       // V: DOWN, a duplicate bar
      bar("2025-08-01 01:02:00", 12.0, 8.0, 9.5, "V"),
      bar("2025-08-01 01:03:00", 30.0, 25.0, 26.0, "V")))
      .toDF("ts", "symbol", "open", "high", "low", "close", "volume")
    Seq("three symbols" -> three, "empty OR slice" -> noSlice, "hand-made" -> hand,
      "empty" -> hand.limit(0)).map { case (n, df) => n -> local(df) }
  }

  private def orCases(inputs: Seq[(String, DataFrame)], windows: Seq[(String, String)],
                      keySets: Seq[Seq[String]]) =
    for ((n, df) <- inputs; keys <- keySets; (tz, w) <- windows) yield
      (s"$n keys=${keys.mkString} $tz $w",
        () => OrLevels.build(df, tz, w, keys),
        () => OrLevels.buildDistributed(df, tz, w, keys))

  test("OrLevels.build: fold == distributed in UTC, across a New York DST switch, and in Tokyo") {
    val windows = Seq("UTC" -> "00:00-01:00", "America/New_York" -> "09:30-10:00",
      "Asia/Tokyo" -> "08:00-09:00")
    compare(orCases(orInputs, windows, Seq(Seq("symbol"))), expectFold = true)
    val dst = local(bars("SPY", "2025-03-07", "2025-03-11"))
    compare(orCases(Seq("DST" -> dst), windows, Seq(Seq("symbol"), Nil)), expectFold = true)
    val hand = OrLevels.build(orInputs(2)._2, "UTC", "00:00-01:00").collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[String]("break_dir")).toMap
    assert(hand === Map("T" -> "NONE", "U" -> "UP", "V" -> "DOWN"))
    val noSlice = OrLevels.build(orInputs(1)._2, "UTC", "00:00-01:00")
    assert(noSlice.count() === 5, "ETH's second session has no OR slice and is dropped")
  }

  test("refused inputs take the distributed path with identical output") {
    val one = gapInputs.head._2
    val nullKey = one.unionByName(Seq((ts("2025-08-01 03:00:00"), null.asInstanceOf[String],
      1.0, 1.0, 1.0, 1.0, 1.0)).toDF("ts", "symbol", "open", "high", "low", "close", "volume"))
    val price = (v: Option[Double]) => one.where(!at("2025-08-01 12:00:00"))
      .unionByName(Seq((ts("2025-08-01 12:00:00"), "BTC", v)).toDF("ts", "symbol", "close")
        .select(col("ts"), col("symbol"), lit(1.0).as("open"), lit(2.0).as("high"),
          lit(0.5).as("low"), col("close"), lit(1.0).as("volume")))
    val overRows = spark.range(100002).select(timestamp_seconds(col("id") * 60).as("ts"),
      lit("BTC").as("symbol"), lit(1.0).as("open"), lit(2.0).as("high"), lit(0.5).as("low"),
      lit(1.5).as("close"), lit(1.0).as("volume"))
      .where(col("ts") =!= lit(ts("1970-01-02 00:00:00")))
    val overGrid = one.where(at("2025-08-01 05:00:00")).unionByName(
      one.where(at("2025-08-01 05:00:00")).withColumn("ts", lit(ts("2025-11-01 05:00:00"))))
    val refused = Seq("null key" -> nullKey, "null price" -> price(None),
      "NaN price" -> price(Some(Double.NaN)), "infinite price" -> price(Some(Double.PositiveInfinity)),
      "over-cap rows" -> overRows)
    val plain: Seq[(String, Bounds)] = Seq("grid=data" -> None)
    compare(gapCases(Seq("null key" -> nullKey, "over-cap rows" -> overRows, "over-cap grid" -> overGrid),
      plain, Seq(Seq("symbol"))), expectFold = false)
    compare(fillCases(refused :+ ("over-cap grid" -> overGrid) :+
      ("duplicate bars" -> one.unionByName(one.limit(3))), plain, Seq(Seq("symbol"))), expectFold = false)
    compare(orCases(refused, Seq("UTC" -> "00:00-01:00"), Seq(Seq("symbol"))), expectFold = false)
  }

  test("a malformed OR window or profile start fails loudly on both paths") {
    val df = gapInputs.head._2
    for (w <- Seq("0930-1000", "09:30", "09:30-10:00-11:00", "9h30-10:00")) {
      val l = intercept[IllegalArgumentException](OrLevels.build(df, "UTC", w))
      val d = intercept[IllegalArgumentException](OrLevels.buildDistributed(df, "UTC", w, Seq("symbol")))
      assert(l.getMessage === d.getMessage)
      assert(l.getMessage.contains("orWindow") && l.getMessage.contains("HH:MM-HH:MM"), l.getMessage)
    }
    val p = intercept[IllegalArgumentException](LiquidityProfiles.Profile("UTC", "0930", 5).window)
    assert(p.getMessage.contains("start") && p.getMessage.contains("HH:MM"), p.getMessage)
  }
}
