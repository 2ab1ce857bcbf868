package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Cols, SeriesSpec}

/** The 9-check QC flag suite (reference `apply_saqc_suite` fallback
  * branch, scripts/ufz_water_qc_pipeline.py:564-589; the fallbacks ARE
  * the spec — README.md:201-212). Checks run on the already-cleaned
  * (sentinel/gap-masked) series; the final mask is their OR, rendered
  * as 0/255 int flags (:587).
  *
  * constants ≡ plateau and uniLOF ≡ zscore in the reference
  * (:405-407, :455-457); they are materialized as separate columns for
  * output parity but computed once each.
  */
final case class QcConfig(
    rangeMin: Option[Double] = None,
    rangeMax: Option[Double] = None,
    flatHours: Double = 2.0,
    kVariance: Int = 24,        // _to_points('6h', step) in the reference
    varianceThresh: Double = 1e-12,
    kZscore: Int = 96,          // _to_points('24h', step)
    zThresh: Double = 4.0,
    jumpThresh: Double = 5.0,
    isolatedGapHours: Double = 3.0,
    isolatedGroupUs: Double = 30 * 60 * 1e6)

object QcSuite {

  val FlagCols: Seq[String] = Seq("flag_range", "flag_missing",
    "flag_constants", "flag_plateau", "flag_variance", "flag_zscore",
    "flag_jumps", "flag_isolated", "flag_unilof")

  /** Adds the nine flag columns plus `qc_flag` (0/255). Input needs
    * `delta_us` (for isolated); `stepDf` is (keys*, step_us).
    * Consecutive flags are added in one projection each; the run masks
    * and the robust z-score build their own.
    */
  def apply(df: DataFrame, spec: SeriesSpec, stepDf: DataFrame,
      cfg: QcConfig): DataFrame = {
    var d = Cols.set(df,
      "flag_range" -> RollingStats.rangeFlag(spec, cfg.rangeMin, cfg.rangeMax),
      "flag_missing" -> RollingStats.missingFlag(spec))
    d = Runs.flatMask(d, spec, cfg.flatHours, absTol = 0.0, out = "flag_plateau")
    d = Cols.set(d, "flag_constants" -> col("flag_plateau"),
      "flag_variance" -> RollingStats.varianceFlag(spec, cfg.kVariance, cfg.varianceThresh))
    d = RollingStats.robustZFlag(d, spec, cfg.kZscore, cfg.zThresh)
    d = Cols.set(d, "flag_unilof" -> col("flag_zscore"),
      "flag_jumps" -> RollingStats.jumpFlag(spec, cfg.jumpThresh))
    Runs.isolatedMask(d, spec, stepDf, cfg.isolatedGapHours, cfg.isolatedGroupUs,
      out = "flag_isolated")
      .withColumn("qc_flag", when(FlagCols.map(col).reduce(_ || _), 255).otherwise(0))
  }
}
