package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-salting utility for hot-key joins/aggregations.
  *
  * At 100 TB a handful of hot keys (one symbol with 100x the volume, one
  * degenerate LSH bucket) can pin a single reducer. Salting splits each hot
  * key into `factor` sub-keys: the skewed (large) side gets a deterministic
  * salt derived from a row hash; the small side is replicated across all
  * salts. AQE's skew-join handling covers sort-merge joins automatically;
  * salting is the explicit fallback for plans AQE does not cover.
  */
object Skew {

  /** Add a deterministic salt column `_salt` in [0, factor) to the large side.
    *
    * The salt hashes the ROW'S FULL CONTENT — never
    * `monotonically_increasing_id`/`rand`/`spark_partition_id`, which are
    * indeterminate across task retries: an indeterminate shuffle key is the
    * classic partial-stage-retry hazard (rows rehash to different reducers
    * than the already-fetched outputs, losing or duplicating them; Spark's
    * indeterminate-stage rollback mitigates but can abort the job). Content
    * hashing re-executes identically. The one trade: EXACT duplicate rows
    * share a salt, so a hot key made of byte-identical rows does not split —
    * add any distinguishing column upstream if that shape is real.
    *
    * Columns whose type contains a MapType are excluded from the hash:
    * xxhash64 rejects maps at analysis time (map equality is order-free, so
    * no canonical hash exists), and a frame carrying a map column must still
    * salt on the rest of its content. A frame whose EVERY column is
    * map-typed cannot be content-salted and is rejected up front.
    */
  def saltLarge(df: DataFrame, factor: Int): DataFrame = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val cols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    require(cols.nonEmpty,
      "saltLarge: every column contains a MapType — no content to hash a deterministic salt from")
    df.withColumn("_salt", pmod(xxhash64(cols.toIndexedSeq: _*), lit(factor)).cast("int"))
  }

  /** Replicate the small side across every salt value. */
  def replicateSmall(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("_salt", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("_salt", col("_salt").cast("int"))

  /** Salted inner equi-join: join on keyCols + salt, then drop the salt.
    * Inner only: under an outer join each replicated small-side row that
    * finds no match would come out once per empty salt.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keyCols: Seq[String],
                 factor: Int): DataFrame =
    saltLarge(large, factor)
      .join(replicateSmall(small, factor), keyCols :+ "_salt")
      .drop("_salt")

  /** Join-key skew diagnosis — the "should I salt this join?" report that
    * decides between a plain shuffle join and [[saltedJoin]]/AQE skew
    * handling. One row: key cardinality, row count, the heaviest key's
    * count, exact p50/p90/p99 of the per-key count distribution, and
    * skew_ratio = max/p50 (r4) — the number to compare against the salting
    * factor. The quantiles run over the KEY-GRAIN count table through the
    * chunked exact pass (group = a literal), so no global window and no
    * driver-side collection; everything before that is one map-side
    * combined aggregate.
    */
  def keyStats(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_kc"))
      .withColumn("_g", lit(1))
    val q = Quantiles.exactInterpolated(counts, Seq("_g"), "_kc",
      Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))
    val agg = counts.groupBy(col("_g"))
      .agg(count(lit(1)).as("n_keys"), sum(col("_kc")).as("n_rows"),
        max(col("_kc")).as("max_count"))
    agg.join(q, "_g")
      .select(col("n_keys"), col("n_rows"), col("max_count"),
        round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
        round(col("p99"), 4).as("p99"))
      // ratio from the ROUNDED median — the r4 contract both engines share
      .withColumn("skew_ratio",
        round(col("max_count").cast("double") / col("p50"), 4))
  }
}
