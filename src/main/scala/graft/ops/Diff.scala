package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot (table-version) diff — the audit primitive for lake
  * migrations and reprocessing runs: classify every key as added /
  * removed / changed / unchanged between two versions of a dataset.
  *
  * This is the verifier-inverse of the merge-dedupe upsert
  * (ref: /root/reference/src/datalake/store.py merge path — the upsert
  * writes keep-last winners; the diff proves what a rewrite actually
  * changed before the old version is dropped).
  *
  * Scale shape: ONE co-partitioned full-outer equi-join on the key — both
  * sides shuffle by the key exactly once (at 100 TB this is the minimal
  * movement for an unaligned comparison; if both versions are bucketed by
  * the key, even that shuffle disappears). Column comparison is per-row
  * null-safe expression work inside the join's project — no window, no
  * second pass, no broadcast of data-sized input.
  */
object Diff {

  /** Row-level diff of two dataset versions.
    *
    * Output: `keys ++ status ++ (old_c, new_c per compare column)` where
    * `status ∈ added | removed | changed | unchanged`. `added` = key only
    * in `newDf`, `removed` = only in `oldDf`, `changed` = present in both
    * with any compare column differing under null-safe equality (a
    * null→value or value→null transition IS a change; null→null is not).
    *
    * Presence is tracked with explicit marker columns rather than key
    * nullability so that legitimately-null compare columns can never
    * masquerade as missing rows.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    val o = oldDf.select(
      keys.map(col) ++ compareCols.map(c => col(c).as(s"old_$c")) :+
        lit(1).as("_present_old"): _*)
    val n = newDf.select(
      keys.map(col) ++ compareCols.map(c => col(c).as(s"new_$c")) :+
        lit(1).as("_present_new"): _*)
    val joined = o.join(n, keys, "full_outer")
    val anyChanged = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val status = when(col("_present_old").isNull, "added")
      .when(col("_present_new").isNull, "removed")
      .when(anyChanged, "changed")
      .otherwise("unchanged")
    joined.withColumn("status", status)
      .select(keys.map(col) ++ (col("status") +:
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c")))): _*)
  }

}
