package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table support for co-located joins.
  *
  * At 100 TB the dominant cost of a fact-to-fact join (e.g. exec-tf candles
  * to context-tf candles, or events to events) is the shuffle of both sides.
  * Writing both tables bucketed by the join key with the same bucket count
  * lets Catalyst plan a SortMergeJoin with NO Exchange on either side — the
  * buckets are already co-located. This is the Spark-native form of the
  * reference's "one file per (symbol, month), sorted by ts" layout invariant
  * (docs/specs/partitioning.md), generalized to n buckets.
  *
  * Bucketed tables must go through the session catalog (`saveAsTable`);
  * plain `.parquet(path)` writes cannot record bucket metadata.
  */
object Bucketing {

  /** Write a DataFrame as a bucketed, sorted table. `path` makes it an
    * EXTERNAL table at that location (bucket metadata still lives in the
    * catalog — only `saveAsTable` records it); default is a managed table
    * under the session warehouse dir.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int, sortCols: Seq[String] = Nil,
                    path: Option[String] = None): Unit = {
    val w0 = df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val w = path.fold(w0)(p => w0.option("path", p))
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key. With matching bucket
    * counts this plans shuffle-free.
    */
  def coLocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                    on: Seq[String], joinType: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), on, joinType)
}
