package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semi-structured (JSON string column) operators — schema-on-read over
  * the driver's `events.props` shape and any payload column like it.
  *
  * Everything here is expression-only Catalyst JSON machinery
  * (`get_json_object` / `from_json`), which runs inside whole-stage
  * codegen; there is no UDF and no driver-side parsing. At 100 TB the
  * JSON decode cost is embarrassingly parallel per-row work and the
  * aggregates below reduce map-side, so the shuffle carries only
  * group-sized partials — extraction never adds a stage.
  */
object JsonOps {

  /** Project one scalar JSON field out of `jsonCol` as a BIGINT column
    * `as`. Extraction is null-safe end to end under ANSI mode: an absent
    * path, malformed document, or non-castable value yields NULL (via
    * `try_cast`), never a runtime error — corrupt payloads at scale are
    * data, not exceptions.
    */
  def withJsonField(df: DataFrame, jsonCol: String, path: String,
                    as: String): DataFrame =
    df.withColumn(as,
      expr(s"try_cast(get_json_object($jsonCol, '$path') AS bigint)"))

  /** Per-group stats + payload-health report over one numeric JSON field:
    * (group, n, n_missing, min_v, max_v, sum_v) where `n_missing` counts
    * rows whose payload did NOT yield the field (absent key, malformed
    * JSON, or wrong type) — the corrupt-record accounting every
    * schema-on-read pipeline needs before trusting extracted values.
    *
    * One pass: extraction is per-row expression work fused into the scan,
    * the aggregate combines map-side, and the single shuffle carries
    * O(groups) rows. All outputs are exact integers (the value field is
    * extracted as BIGINT), so the report is oracle-portable bit-for-bit.
    */
  def fieldStats(df: DataFrame, jsonCol: String, path: String,
                 groupCol: String): DataFrame =
    withJsonField(df, jsonCol, path, "_v")
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("_v").isNull, 1L).otherwise(0L)).as("n_missing"),
        min(col("_v")).as("min_v"),
        max(col("_v")).as("max_v"),
        sum(col("_v")).as("sum_v"))
}
