package graft

import graft.ops.Indicators
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.sql.{Date, Timestamp}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Pins [[Indicators.enrich]]'s driver fold to [[Indicators.enrichDistributed]]:
  * the same schema, nullability included, and the same rows, doubles
  * compared by `doubleToLongBits`. Inputs the gate refuses must take the
  * window plan, so they give the same output, or raise the same error, by
  * construction.
  */
class IndicatorsLocalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cols = Seq("symbol", "ts", "open", "high", "low", "close", "volume")

  /** `df` collected into a local relation, so the only plan nodes of an
    * operator's result are its own. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Bars of `sym` at `t0Ms + i * stepMs`, from (close, high, low, volume). */
  private def bars(sym: String, t0Ms: Long, stepMs: Long,
                   hlcv: Seq[(Double, Double, Double, Double)]): DataFrame =
    hlcv.zipWithIndex.map { case ((c, h, l, v), i) =>
      (sym, new Timestamp(t0Ms + i * stepMs), c, h, l, c, v)
    }.toDF(cols: _*)

  /** A random walk of `n` bars: closes, highs and lows with 5 and 6
    * decimals, volumes with 3. */
  private def walk(sym: String, n: Int, seed: Long, t0Ms: Long = 1709251200000L,
                   stepMs: Long = 60000L): DataFrame = {
    val r = new Random(seed)
    var p = 50.0 + r.nextInt(100)
    bars(sym, t0Ms, stepMs, (0 until n).map { _ =>
      p += (r.nextInt(20001) - 10000) / 100000.0
      (p, p + r.nextInt(5000) / 1000000.0, p - r.nextInt(5000) / 1000000.0, r.nextInt(900000) / 1000.0 + 1.0)
    })
  }

  private val t0 = 1709251200000L // 2024-03-01 00:00 UTC

  /** Each input as (name, frame, keys). */
  private lazy val inputs: Seq[(String, DataFrame, Seq[String])] = {
    val three = Seq("BTC", "ETH", "SOL").zipWithIndex.map { case (s, i) => walk(s, 150 + 37 * i, 11L + i) }
      .reduce(_ unionByName _)
    val lengths = Seq(1, 2, 13, 14, 20, 21).map(n => (s"$n rows", walk("BTC", n, 100L + n), Seq("symbol")))
    val flat = bars("BTC", t0, 60000L, Seq.fill(25)((7.0, 7.0, 7.0, 2.0)))
    // closes and ranges on 4-decimal half-way points, some squares too
    val ties = bars("BTC", t0, 60000L, Seq(1.00005, 1.00015, 2.00025, 0.00005, 3.12345, 0.015, 0.025,
      1.00005, 7.99995, 0.12345, 10.00005, 0.00015, 2.00025, 1.5, 0.5, 1.00035, 4.44445).map(c =>
      (c, c + 0.00005, c - 0.00005, c * 2.00005)))
    // around zero: -0.0 lows, zero ranges, zero-volume bars in a traded day
    val signs = bars("BTC", t0, 60000L, Seq((0.0, 0.0, -0.0, 0.0), (-0.0, 0.0, -0.0, 1.0),
      (0.5, 0.5, -0.0, 2.0), (-0.5, 0.0, -0.5, 0.0), (0.0, 0.25, -0.25, 1.5), (-0.0, -0.0, -0.0, 3.0)))
    // across UTC midnights, before 1970 with sub-second ts: CAST(ts AS
    // LONG) floors, DIV truncates, so day 0 runs from -86399 s to 86399 s
    val midnight = walk("BTC", 60, 3L, t0 - 30 * 60000L)
    val epoch = walk("BTC", 240, 4L, -2 * 86400000L - 500L, 1234567L)
    val extra = walk("ETH", 40, 5L)
      .withColumn("note", concat(lit("n"), col("close").cast("string")))
      .withColumn("n", lit(7L)).withColumn("d", lit(Date.valueOf("2024-03-01")))
      .withColumn("close_M5", col("close") * 2.0).withColumn("t2", col("ts"))
      .select("close", "note", "volume", "ts", "symbol", "n", "high", "d", "low", "open", "close_M5", "t2")
    Seq(("one symbol", walk("BTC", 300, 1L), Seq("symbol")), ("three symbols", three, Seq("symbol")),
      ("empty keys", walk("BTC", 120, 2L), Nil)) ++ lengths ++ Seq(
      ("flat", flat, Seq("symbol")), ("half-way ties", ties, Seq("symbol")),
      ("signed zeros", signs, Seq("symbol")), ("UTC midnight", midnight, Seq("symbol")),
      ("pre-1970 sub-second", epoch, Seq("symbol")), ("pass-through columns", extra, Seq("symbol")),
      ("empty", walk("BTC", 5, 6L).limit(0), Seq("symbol")))
  }.map { case (n, df, k) => (n, local(df), k) }

  /** One path's outcome: schema plus rows rendered with doubles as bits,
    * sorted; or the root cause of the exception it threw, up to the plan an
    * analysis error prints (its expression ids differ between two plans). */
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
        Left(s"${c.getClass.getName}: ${c.getMessage.linesIterator.nextOption().getOrElse("")}")
    }

  /** Each (name, frame, keys): [[Indicators.enrich]] must fold iff
    * `expectFold` (its result plans no window), and give the outcome of
    * [[Indicators.enrichDistributed]]. */
  private def compare(cases: Seq[(String, DataFrame, Seq[String])], expectFold: Boolean): Unit = {
    val differ = cases.flatMap { case (name, df, keys) =>
      var fold = Option.empty[Boolean]
      val l = outcome {
        val out = Indicators.enrich(df, keys)
        fold = Some(out.queryExecution.analyzed.collectFirst { case w: Window => w }.isEmpty)
        out
      }
      val d = outcome(Indicators.enrichDistributed(df, keys))
      if (fold.isEmpty && expectFold) Some(s"$name: the fold threw $l")
      else if (fold.exists(_ != expectFold)) Some(s"$name: folded = ${fold.get}")
      else if (l == d) None
      else Some(s"$name:\n  fold        $l\n  distributed $d")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }

  test("enrich: fold == distributed over series lengths, keys, ties, days and pass-through columns") {
    compare(inputs, expectFold = true)
  }

  test("enrich: the fold's edge values are the documented ones") {
    val flat = Indicators.enrich(inputs.find(_._1 == "flat").get._2, Seq("symbol"))
      .orderBy("ts").collect()
    assert(flat.head.isNullAt(flat.head.fieldIndex("rsi")))
    assert(flat.tail.forall(_.getAs[Double]("rsi") == 100.0), "no losses: RSI 100")
    assert(flat.forall(_.getAs[Double]("stoch_k") == 50.0), "flat window: %K 50")
    assert(flat.forall(r => r.getAs[Double]("bb_up") == 7.0 && r.getAs[Double]("bb_lo") == 7.0))
    val ties = Indicators.enrich(inputs.find(_._1 == "half-way ties").get._2, Seq("symbol"))
      .orderBy("ts").collect()
    // 1.00005 rounds HALF_UP to 1.0001 in every frame sum
    assert(ties.head.getAs[Double]("sma") === 1.0001)
    assert(ties(1).getAs[Double]("sma") === 1.00015) // (1.0001 + 1.0002) / 2
  }

  test("refused inputs take the distributed path with identical output or error") {
    val one = inputs.head._2
    def at(i: Int) = col("ts") === lit(new Timestamp(t0 + i * 60000L))
    def set(c: String, v: Column) = one.withColumn(c, when(at(7), v).otherwise(col(c)))
    val meta = new MetadataBuilder().putString("unit", "usd").build()
    val overCap = spark.range(100001).select(lit("BTC").as("symbol"),
      timestamp_seconds(col("id") * 60).as("ts"), lit(1.0).as("open"), lit(2.0).as("high"),
      lit(0.5).as("low"), (col("id") % 7).cast("double").as("close"), lit(1.0).as("volume"))
    val refused = Seq(
      ("over-cap rows", overCap, Seq("symbol")),
      ("double key", one.withColumn("k", lit(1.5)), Seq("k")),
      ("TIMESTAMP_NTZ ts", one.withColumn("ts", col("ts").cast("timestamp_ntz")), Seq("symbol")),
      ("long volume", one.withColumn("volume", col("volume").cast("long")), Seq("symbol")),
      ("null close", set("close", lit(null).cast("double")), Seq("symbol")),
      ("null pass-through", one.withColumn("note", when(at(3), lit(null)).otherwise(lit("x"))), Seq("symbol")),
      ("NaN high", set("high", lit(Double.NaN)), Seq("symbol")),
      ("infinite low", set("low", lit(Double.NegativeInfinity)), Seq("symbol")),
      ("infinite close", set("close", lit(Double.PositiveInfinity)), Seq("symbol")),
      ("NaN volume", set("volume", lit(Double.NaN)), Seq("symbol")),
      ("duplicate (key, ts)", one.unionByName(one.where(at(9))), Seq("symbol")),
      // 6e6² · 10⁴ is past the fold's 2^58 but within a long: the window
      // plan computes it; 1e8² · 10⁴ overflows the long cast, which raises
      ("close past the term cap", set("close", lit(6e6)), Seq("symbol")),
      ("close overflowing the long cast", set("close", lit(1e8)), Seq("symbol")),
      ("volume past the decimal cap", set("volume", lit(1e21)), Seq("symbol")),
      ("volume overflowing DECIMAL(28, 4)", set("volume", lit(1e25)), Seq("symbol")),
      ("a day of zero volume", one.withColumn("volume", lit(0.0)), Seq("symbol")),
      ("a column named sma", one.withColumn("SMA", lit(1.0)), Seq("symbol")),
      ("a column name with a dot", one.withColumn("a.b", lit(1.0)), Seq("symbol")),
      ("a field with metadata", one.withColumn("open", col("open").as("open", meta)), Seq("symbol")))
    compare(refused.map { case (n, df, k) => (n, local(df), k) }, expectFold = false)
  }
}
