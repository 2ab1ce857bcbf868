package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Cols, SeriesSpec}

/** Meteorological-season aggregation (reference `as_season`
  * scripts/ufz_water_qc_pipeline.py:84-89, `expected_points_per_season`
  * :265-275, `seasonal_stats` :277-290).
  *
  * Coverage counts expected points from the FIRST to the LAST
  * observation carrying each season label across the whole record
  * (spans years — SURVEY §4.2 trap 10), not per calendar year.
  */
object Seasonal {

  def seasonOf(ts: Column): Column = {
    val m = month(ts)
    when(m.isin(12, 1, 2), "DJF")
      .when(m.isin(3, 4, 5), "MAM")
      .when(m.isin(6, 7, 8), "JJA")
      .otherwise("SON")
  }

  /** Per-(series, season) summary. `stepDf` is (keys*, step_us) from
    * TimeIndex.inferStep. The input's `value` column should already
    * carry NULL for missing (post-sentinel, post-gap-mask) samples.
    *
    * expected = max(1, round((last - first + step) / step));
    * coverage_pct = 100 * (n - n_missing) / max(1, expected);
    * nan_pct = 100 * n_missing / n.
    * round() here is half-up via floor(x+0.5) so the Spark and oracle
    * sides agree on ties (the reference's Python round() is half-even;
    * indistinguishable off exact .5 ratios).
    *
    * Seasons with no observations are not emitted (relational form);
    * the reference emits zero rows for them in its fixed 4-row frame.
    */
  def stats(df: DataFrame, spec: SeriesSpec, stepDf: DataFrame): DataFrame = {
    val bySeason = df
      .groupBy((spec.keyCols :+ seasonOf(spec.tsCol).as("season")): _*)
      .agg(
        count(lit(1)).as("n_obs"),
        (count(lit(1)) - count(spec.valueCol)).as("n_missing"),
        min(unix_micros(spec.tsCol)).as("__mn_us"),
        max(unix_micros(spec.tsCol)).as("__mx_us"))
    val expected = greatest(lit(1L),
      floor((col("__mx_us") - col("__mn_us") + col("step_us")) / col("step_us") + 0.5)
        .cast("long"))
    Cols.project(bySeason.join(stepDf, spec.keys), Seq("__mn_us", "__mx_us", "step_us"),
      "expected_pts" -> expected,
      "coverage_pct" ->
        round(lit(100.0) * (col("n_obs") - col("n_missing")) / greatest(lit(1L), expected), 6),
      "nan_pct" -> round(lit(100.0) * col("n_missing") / col("n_obs"), 6))
  }

  /** Full reference seasonal summary: stats + per-season counts of
    * flat-value / flat-slope events whose START falls in the season
    * and whose duration is ≥ 2h (the reference re-checks `hours>=2.0`
    * even though its event lists are already duration-filtered,
    * ufz_water_qc_pipeline.py:287-288).
    */
  def statsWithEvents(df: DataFrame, spec: SeriesSpec, stepDf: DataFrame,
      flatRuns: DataFrame, flatSlopeRuns: DataFrame): DataFrame = {
    def counts(ev: DataFrame, name: String): DataFrame =
      ev.filter(col("hours") >= 2.0)
        .groupBy((spec.keyCols :+ seasonOf(col("start")).as("season")): _*)
        .agg(count(lit(1)).as(name))
    val (fv, fs) = ("flat_values_events", "flat_slopes_events")
    val joined = stats(df, spec, stepDf)
      .join(counts(flatRuns, fv), spec.keys :+ "season", "left")
      .join(counts(flatSlopeRuns, fs), spec.keys :+ "season", "left")
    Cols.set(joined, fv -> coalesce(col(fv), lit(0L)), fs -> coalesce(col(fs), lit(0L)))
  }
}
