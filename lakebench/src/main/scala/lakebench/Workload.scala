package lakebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.time.{LocalDate, ZoneOffset}

/** What one op hands back: the user rows it completed, and a check that
  * compares its outputs against the plain-Scala reference (run untimed;
  * returns the list of mismatches, empty when correct).
  */
final case class Outcome(rows: Long, check: () => Seq[String])

/** A closed-loop workload: `build` creates the starting state under a fresh
  * root (repeatable, so set-up can be timed several times); `op` runs
  * operation `i` against the state the last build left, or with `again`
  * re-issues the previous op's input where the workload allows it (the
  * traced run pairs each traced op with an untraced one on equal input).
  */
trait Workload {
  def build(root: String): Unit
  def op(i: Int, again: Boolean): Outcome
  /** Traced-run extras (name -> value) reported next to the span metrics. */
  def traceExtras(): Map[String, Double] = Map.empty
}

object Workload {
  /** Epoch minute of a UTC date's midnight. */
  def minuteOf(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toEpochSecond / 60L

  val barSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("open", DoubleType),
    StructField("high", DoubleType), StructField("low", DoubleType),
    StructField("close", DoubleType), StructField("volume", DoubleType),
    StructField("symbol", StringType), StructField("timeframe", StringType),
    StructField("source", StringType), StructField("market", StringType),
    StructField("exchange", StringType)))

  /** M1 history for `syms` over [fromMinute, toMinute), generated inside the
    * executors (the generator is a pure function of the seed).
    */
  def history(spark: SparkSession, gen: CandleGen, syms: Seq[Int], fromMinute: Long,
              toMinute: Long, slices: Int): DataFrame = {
    val names = gen.symbols
    val span = toMinute - fromMinute
    val rdd = spark.sparkContext.parallelize(for (s <- syms; p <- 0 until slices) yield (s, p), syms.size * slices)
      .flatMap { case (s, p) =>
        val a = fromMinute + span * p / slices
        val b = fromMinute + span * (p + 1) / slices
        (a until b).iterator.map { m =>
          val x = gen.bar(s, m)
          Row(new java.sql.Timestamp(x.tsMs), x.open, x.high, x.low, x.close, x.volume,
            names(s), "M1", "binance", "crypto", "BINANCE")
        }
      }
    spark.createDataFrame(rdd, barSchema)
  }

  /** Release the blocks of a `localCheckpoint`ed frame. */
  def unpin(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** On-disk bytes of every regular file under `dir`. */
  def treeBytes(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).toSeq.flatten.map(treeBytes).sum
}
