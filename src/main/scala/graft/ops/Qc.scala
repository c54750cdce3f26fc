package graft.ops

import graft.core.Timeframe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Completeness / quality-control checks (reference: A6/A7 —
  * per-hour histograms ingestors/ibkr/ingest_cli.py:681-709, expected
  * bars-per-day maps binance/ingest_cli.py:29-35 + aggregates/cli.py:19,
  * tools/check_day.py's strict day check).
  */
object Qc {

  /** Expected bars per full UTC day per timeframe (reference BASELINE.md). */
  val expectedPerDay: Map[String, Long] = Map(
    "M1" -> 1440L, "M5" -> 288L, "M15" -> 96L, "M30" -> 48L, "H1" -> 24L, "D1" -> 1L)

  /** Per-(key, day) completeness report: bars observed vs expected, missing
    * count, min/max ts (reference A7 count/min/max + check_day gate).
    */
  def dayCompleteness(df: DataFrame, tf: Timeframe, keys: Seq[String] = Nil): DataFrame = {
    val expected = expectedPerDay(tf.code)
    df.groupBy((keys.map(col) :+ to_date(col("ts")).as("day")): _*)
      .agg(count(lit(1)).as("n_bars"), min(col("ts")).as("first_ts"), max(col("ts")).as("max_ts"))
      .withColumn("expected", lit(expected))
      .withColumn("missing", lit(expected) - col("n_bars"))
      .withColumn("complete", col("n_bars") === lit(expected))
  }

  /** Zero-filled per-hour histogram for one day slice (reference A6). */
  def hourHistogram(df: DataFrame): DataFrame = EventOps.hourHistogram(df)

  /** Deequ-style per-column data profile: row count, null count, exact
    * distinct count, and numeric min/max (null for non-numeric columns).
    * The observability snapshot a pipeline publishes per ingest so schema
    * drift (a column suddenly 40% null, a categorical exploding in
    * cardinality) is caught before training.
    *
    * One aggregation pass PER COLUMN (k small, scans parallelize; the
    * exact distinct is the only data-sized shuffle and is per-column
    * equi-keyed). For wide tables prefer profiling the columns that
    * matter; approximate distinct at 100 TB is [[Sketches.kmvDistinct]]'s
    * job.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val profiles = cols.map { c =>
      val numeric = df.schema(c).dataType.isInstanceOf[NumericType]
      val v = col(c)
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(v.isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(v).as("n_distinct"),
        (if (numeric) min(v).cast("double") else lit(null).cast("double")).as("min_num"),
        (if (numeric) max(v).cast("double") else lit(null).cast("double")).as("max_num"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_num"), col("max_num"))
    }
    profiles.reduce(_ unionByName _)
  }

  /** Constraint-suite check (Deequ's verification shape): each named
    * predicate is evaluated over the whole table and reported as
    * (check, n_violations, passed). Constraints are arbitrary boolean
    * Columns — rows where the constraint is FALSE or NULL count as
    * violations (null-hostile by design: an unexpected NULL is a data
    * bug, not a pass).
    *
    * One conditional-sum aggregate evaluates every constraint in a single
    * scan; the report is constraint-count rows.
    */
  def checkConstraints(df: DataFrame, checks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(checks.nonEmpty, "need at least one constraint")
    val sums = checks.zipWithIndex.map { case ((_, c), i) =>
      sum(when(c, 0L).otherwise(1L)).as(s"_v$i")
    }
    df.agg(sums.head, sums.tail: _*)
      .select(explode(array(checks.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("check_name"), col(s"_v$i").as("n_violations"),
          (col(s"_v$i") === 0L).as("passed"))
      }: _*)).as("r"))
      .select(col("r.check_name"), col("r.n_violations"), col("r.passed"))
  }

  /** Referential-integrity audit: for each declared (child, fk) → (parent,
    * pk) relationship, the child row count, orphan count (fk value absent
    * from the parent — NULL fks count as orphans, like
    * [[checkConstraints]]'s null-hostility), and pass flag — the FK sweep
    * a warehouse load runs before trusting joins.
    *
    * Each relationship is one LEFT OUTER join against the parent's DISTINCT
    * keys (a hit marker instead of an anti join, so ONE pass yields both
    * the child count and the orphan count) reduced to a single-row
    * aggregate; the per-relation aggregates union into a lazy
    * relationships-sized report that the caller's action runs as ONE job —
    * no driver-side `count()` round-trips. The join shuffles on the key
    * (or broadcasts when the parent is small, Catalyst's choice), and
    * since the parent side is distinct the join never multiplies child
    * rows. NULL-safe: a NULL fk matches nothing → no hit marker → orphan,
    * which is exactly the orphan semantics.
    *
    * Output: (relation, n_child, n_orphans, passed), one row per entry.
    */
  def fkAudit(relations: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(relations.nonEmpty, "need at least one relationship")
    relations.map { case (name, child, fkCol, parent, pkCol) =>
      val keys = parent.select(col(pkCol).as("_pk")).distinct()
        .withColumn("_hit", lit(1))
      child.select(col(fkCol).as("_fk"))
        .join(keys, col("_fk") === col("_pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          coalesce(sum(when(col("_hit").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_orphans"))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"),
          (col("n_orphans") === 0L).as("passed"))
    }.reduce(_ unionByName _)
  }
}
