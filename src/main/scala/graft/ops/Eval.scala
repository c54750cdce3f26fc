package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation operators for training-data pipelines: the
  * quality-filter models that gate web corpora (FineWeb-Edu-style edu
  * scorers, CCNet LM gates, fastText quality classifiers) need their
  * ranking power and calibration measured AT CORPUS SCALE, on the corpus
  * itself — score distributions shift under domain mix, so a held-out AUC
  * from training time is not the number that matters.
  *
  * Everything is exact and engine-portable: AUC reduces to the
  * Mann-Whitney rank-sum, which is INTEGER arithmetic until a single final
  * division (ties get midranks, doubled to stay integral), and calibration
  * cells are exact counts plus decimal-pathed sums. No sampling, no
  * approximation, no per-group value collection.
  */
object Eval {

  /** Exact per-group ROC AUC of `scoreCol` against boolean `labelCol` via
    * the rank-sum identity
    *
    *   AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻)
    *
    * with R⁺ the sum of positives' ranks (ascending score, ties at their
    * MIDRANK — the standard tie-corrected estimator, equal to the
    * P(score⁺ > score⁻) + ½P(=) probability form). Doubling removes the
    * halves: with per-score counts c and positives p at cumulative offset
    * cum, 2·R⁺ = Σ_scores p·(2·cum + c + 1), an exact BIGINT, so
    *
    *   AUC = (2R⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻)
    *
    * is ONE IEEE division of two exact integers — bit-identical in any
    * engine. NULL scores/labels are excluded; a group without both classes
    * returns NULL AUC (undefined).
    *
    * Scale shape: the corpus reduces map-side to SCORE grain (group, score,
    * c, p). The cumulative offset uses the same chunked two-phase prefix
    * sum as [[Quantiles.exactInterpolated]] — value-range chunks from a
    * groups-sized bounds aggregate, within-chunk windows, carry-ins from a
    * ≤ groups×parts summary — so no group ever serializes onto one
    * reducer, and the final reduction is one row per group.
    *
    * Output: (groupCols, n_pos, n_neg, auc r6).
    */
  def groupedAuc(df: DataFrame, groupCols: Seq[String], scoreCol: String,
                 labelCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty (global AUC: group by a literal)")
    val g = groupCols.map(col)
    val nn = df.where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
    val parts = math.max(df.sparkSession.sparkContext.defaultParallelism, 2)
    // score-grain reduction: count + positives per distinct (group, score)
    val counts = nn
      .groupBy((groupCols :+ scoreCol).map(col): _*)
      .agg(count(lit(1)).as("_c"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)).as("_p"))
    // chunked prefix sum over distinct scores (see Quantiles scaladoc for
    // why bounds come from the raw rows and carries from a raw-row
    // aggregate: each extra consumer of `counts` would re-execute it)
    val bounds = nn.groupBy(g: _*)
      .agg(min(col(scoreCol).cast("double")).as("_vlo"),
        max(col(scoreCol).cast("double")).as("_vhi"))
      .select(groupCols.map(c => col(c).as(s"_bndk_$c")) :+ col("_vlo") :+ col("_vhi"): _*)
    def withChunk(dfx: DataFrame): DataFrame = {
      val width = (col("_vhi") - col("_vlo")) / parts
      dfx.join(bounds,
          groupCols.map(c => dfx(c) <=> bounds(s"_bndk_$c")).reduce(_ && _))
        .withColumn("_chunk",
          when(col("_vhi") > col("_vlo"),
            least(lit(parts - 1),
              floor((col(scoreCol).cast("double") - col("_vlo")) / width)))
            .otherwise(lit(0L)).cast("long"))
        .drop("_vlo", "_vhi")
        .drop(groupCols.map(c => s"_bndk_$c"): _*)
    }
    val totals = withChunk(nn.select((g :+ col(scoreCol)): _*))
      .groupBy((g :+ col("_chunk")): _*)
      .agg(count(lit(1)).as("_tot"))
    val wCarry = Window.partitionBy(g: _*).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = totals
      .withColumn("_carry", coalesce(sum(col("_tot")).over(wCarry), lit(0L)))
      .select(groupCols.map(c => col(c).as(s"_ck_$c")) :+
        col("_chunk").as("_cchunk") :+ col("_carry"): _*)
    val ranged = withChunk(counts)
    val withCarry = ranged.join(carry,
      groupCols.map(c => ranged(c) <=> carry(s"_ck_$c"))
        .foldLeft(ranged("_chunk") === carry("_cchunk"))(_ && _))
    val wLoc = Window.partitionBy((g :+ col("_chunk")): _*).orderBy(col(scoreCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cumulative count BEFORE this score = carry + within-chunk running sum
    // minus the score's own count. The doubled rank-sum is ~2·n⁺·n, and
    // n⁺(n⁺+1) / 2·n⁺·n⁻ are ~n² — all past BIGINT once a group holds
    // ~3e9 rows (ANSI throws, non-ANSI wraps SILENTLY into a wrong AUC),
    // which is precisely the 100 TB shape this op exists for. DECIMAL(38,0)
    // keeps the integer arithmetic exact to ~1e38 rows² and is
    // bit-identical below 2^53: the same two exact values reach the one
    // IEEE division either way.
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ranked = withCarry
      .withColumn("_cum0", sum(col("_c")).over(wLoc) + col("_carry") - col("_c"))
      .withColumn("_r2",
        col("_p").cast(d38) * (lit(2L) * col("_cum0") + col("_c") + 1L))
    ranked.groupBy(g: _*)
      .agg(sum(col("_p")).as("n_pos"),
        (sum(col("_c")) - sum(col("_p"))).as("n_neg"),
        sum(col("_r2")).as("_r2s"))
      .withColumn("auc",
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round((col("_r2s") - col("n_pos").cast(d38) * (col("n_pos") + 1L)).cast("double") /
            (col("n_pos").cast(d38) * col("n_neg") * 2L).cast("double"), 6)))
      .select((g :+ col("n_pos") :+ col("n_neg") :+ col("auc")): _*)
  }

  /** Two-proportion z-test for a hash-bucketed experiment: conversion rates
    * of `control` vs each other arm at UNIT grain — repeated events
    * per unit collapse to one converted-or-not flag first, the standard
    * guard against per-event pseudo-replication inflating significance.
    *
    * Multi-arm semantics: with more than one non-control arm the output is
    * one row PER treatment arm, each an independent pairwise test against
    * control (pooled variance over that pair only — Dunnett-style contrasts
    * WITHOUT any multiplicity correction; apply Bonferroni/Dunnett to the
    * resulting z values downstream if family-wise error matters).
    *
    *   z = (p_t − p_c) / sqrt( p̂(1−p̂)(1/n_c + 1/n_t) ),  p̂ pooled
    *
    * Counts are exact BIGINTs; every derived double is one fixed IEEE
    * chain mirrored by the SQL oracle, so rates/lift/z are hash-gated.
    *
    * Scale shape: one map-side-combined aggregate to (arm, unit) grain,
    * one to arm grain (2 rows), then scalar arithmetic on a 1×1 join.
    *
    * Output (one row per treatment arm): (arm_control, arm_treatment, n_c,
    * n_t, conv_c, conv_t, rate_c r6, rate_t r6, lift r6, z r4).
    *
    * Caller contracts (r14): `control` must name an arm that EXISTS —
    * a typo'd label yields an empty result (zero control rows → the
    * cross join is empty), indistinguishable from no treatment arms; and
    * units with a NULL arm match neither side and are silently excluded —
    * pre-filter or repair assignment upstream if they must be surfaced.
    */
  def abTest(df: DataFrame, unitCol: String, armCol: String,
             convFlag: Column, control: String): DataFrame = {
    val units = df
      .groupBy(col(armCol).as("_arm"), col(unitCol))
      .agg(max(when(convFlag, 1L).otherwise(0L)).as("_cv"))
    val arms = units.groupBy(col("_arm"))
      .agg(count(lit(1)).as("_n"), sum(col("_cv")).as("_c"))
    val c = arms.where(col("_arm") === control)
      .select(col("_arm").as("arm_control"), col("_n").as("n_c"), col("_c").as("conv_c"))
    val t = arms.where(col("_arm") =!= control)
      .select(col("_arm").as("arm_treatment"), col("_n").as("n_t"), col("_c").as("conv_t"))
    val pc = col("conv_c").cast("double") / col("n_c").cast("double")
    val pt = col("conv_t").cast("double") / col("n_t").cast("double")
    val pp = (col("conv_c") + col("conv_t")).cast("double") /
      (col("n_c") + col("n_t")).cast("double")
    c.crossJoin(broadcast(t))
      .withColumn("rate_c", round(pc, 6))
      .withColumn("rate_t", round(pt, 6))
      .withColumn("lift", round(pt - pc, 6))
      // a degenerate experiment (everyone or no one converts) has zero
      // pooled variance — NULL z, not a divide-by-zero under ANSI
      .withColumn("z", when(pp > 0.0 && pp < 1.0, round((pt - pc) /
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_c").cast("double") + lit(1.0) / col("n_t").cast("double"))), 4)))
      .select(col("arm_control"), col("arm_treatment"), col("n_c"), col("n_t"),
        col("conv_c"), col("conv_t"), col("rate_c"), col("rate_t"),
        col("lift"), col("z"))
  }

  /** Per-group calibration table + Brier decomposition inputs: scores
    * bucketed into 10 equal-width cells over [0, 1] (scores outside
    * clamp to the edge cells), per cell the count, decimal-exact mean
    * score and observed positive rate — the reliability-diagram table, and
    * the per-group Brier score (mean squared error of the probability
    * forecast) alongside.
    *
    * Scale: one map-side-combined aggregate to (group, bin) grain, then a
    * groups-sized window-free rollup for the Brier term. Nothing shuffles
    * twice.
    *
    * Output: (groupCols, bin 0..9, n, mean_score r6, frac_pos r6,
    * brier r6 — repeated per group row for hash-gate visibility).
    */
  def calibration(df: DataFrame, groupCols: Seq[String], scoreCol: String,
                  labelCol: String): DataFrame = {
    val g = groupCols.map(col)
    val s = col(scoreCol).cast("double")
    val lbl = when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
    val bin = least(lit(9L), greatest(lit(0L), floor(s * 10).cast("long")))
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val cells = df.where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .withColumn("_bin", bin)
      .withColumn("_lbl", lbl)
      .groupBy((g :+ col("_bin")): _*)
      .agg(count(lit(1)).as("n"),
        sum(round(s, 6).cast(dec)).as("_ssum"),
        sum(col("_lbl")).as("_npos"),
        sum(round((s - col("_lbl")) * (s - col("_lbl")), 6).cast(dec)).as("_sqe"))
    val wg = Window.partitionBy(g: _*)
    cells
      .withColumn("mean_score", round(col("_ssum").cast("double") / col("n"), 6))
      .withColumn("frac_pos", round(col("_npos").cast("double") / col("n"), 6))
      .withColumn("brier",
        round(sum(col("_sqe")).over(wg).cast("double") /
          sum(col("n")).over(wg), 6))
      .select((g :+ col("_bin").as("bin") :+ col("n") :+ col("mean_score") :+
        col("frac_pos") :+ col("brier")): _*)
  }
}
