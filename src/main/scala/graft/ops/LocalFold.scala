package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, date_from_unix_date, timestamp_micros}
import org.apache.spark.sql.types._

/** The size gate of a driver-local fold (guide §1.2). An operator whose
  * cost is job count rather than data — an iterative loop whose every
  * round is driver-synchronous (~3 jobs of scheduling latency per round at
  * any data size), or a multi-pass pipeline of aggregates and joins over a
  * small derived table — may replace its distributed plan by a fold over
  * the collected input when that input provably fits on the driver and the
  * fold replicates the distributed arithmetic exactly.
  *
  * Contract, shared by every fold ([[Graph.pagerank]],
  * [[Dedup.connectedComponents]], [[Quantiles.madOutliers]], the
  * day-sized ingest operators [[Gaps.minuteGaps]], [[Gaps.synthFill]] and
  * [[OrLevels.build]], and the indicator set [[Indicators.enrich]]):
  *  - Cap: the input is probed with `take(cap + 1)`; more than `cap` rows,
  *    or `cap <= 0`, refuses the fold. On an over-cap input that wastes the
  *    probe (one partial scan wave, plus the shuffle of an aggregate
  *    probe), against the jobs saved whenever it fits.
  *  - Null refusal: a row with any null field refuses the fold — the
  *    distributed joins and aggregates give nulls semantics no fold
  *    replicates. So does a row failing the caller's extra predicate (an
  *    input the fold's arithmetic does not cover).
  *  - Keys: a fold that groups on the driver takes only [[exactKeys]],
  *    whose driver equality is Catalyst's grouping equality.
  *  - Cast-back: the fold runs in one working type the caller picks in
  *    Catalyst (cast before the probe), and its result reaches the caller
  *    through a Catalyst `cast` back to the distributed path's analyzed
  *    type, so both paths return the same schema. Time travels as numbers:
  *    a long working column comes back as a timestamp through
  *    `timestamp_micros`, an int one as a date through
  *    `date_from_unix_date` (the probe projects `unix_micros` and
  *    `unix_date`), so every time-zone and calendar step stays Spark's.
  *
  * A refused fold means the caller's distributed path runs unchanged.
  */
private[graft] object LocalFold {

  /** The rows of `df` when the gate admits them, else None. */
  def rows(df: DataFrame, cap: Int, accept: Row => Boolean = _ => true): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      val head = df.take(cap + 1)
      if (head.length <= cap && head.forall(r => !r.anyNull && accept(r))) Some(head)
      else None
    }

  /** A fold's driver result (rows of working `schema`) as a DataFrame whose
    * columns are cast to the `analyzed` types, position by position. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType,
            analyzed: Seq[DataType]): DataFrame = {
    import scala.jdk.CollectionConverters._
    def back(c: Column, from: DataType, to: DataType): Column = (from, to) match {
      case (LongType, TimestampType) => timestamp_micros(c)
      case (IntegerType, DateType) => date_from_unix_date(c)
      case _ => c.cast(to)
    }
    spark.createDataFrame(rows.asJava, schema).select(schema.zip(analyzed)
      .map { case (f, t) => back(col(f.name), f.dataType, t).as(f.name) }: _*)
  }

  /** Whether `df` has each of `keys` with [[exactKeys]] and each `typed`
    * column with exactly its type: the inputs a fold's arithmetic covers. */
  def columnsAre(df: DataFrame, keys: Seq[String], typed: Seq[(String, DataType)]): Boolean = {
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    keys.forall(k => types.get(k).exists(exactKeys)) &&
      typed.forall { case (c, t) => types.get(c).contains(t) }
  }

  /** Whether the driver groups values of type `t` as Catalyst does: not
    * binary (arrays, equal by reference), floating point (Catalyst
    * normalizes -0.0 and NaN in keys), maps, user types, or collated
    * strings. */
  def exactKeys(t: DataType): Boolean = t match {
    case BinaryType | FloatType | DoubleType | _: MapType | _: UserDefinedType[_] => false
    case s: StringType => s == StringType
    case a: ArrayType => exactKeys(a.elementType)
    case s: StructType => s.forall(f => exactKeys(f.dataType))
    case _ => true
  }
}
