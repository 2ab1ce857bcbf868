package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Cols, SeriesSpec, SeriesWindows}

/** Rolling linear slope and flat-slope runs (reference
  * `rolling_lin_slope` scripts/ufz_water_qc_pipeline.py:105-123,
  * `detect_flat_slopes` :223-236).
  *
  * The reference's per-point Python lstsq loop collapses to the
  * closed-form simple-regression slope cov(t,y)/var(t) over a ±h row
  * frame (h = k/2 — note: NOT the pandas centered frame; the loop uses
  * [i−h, i+h] for every k), restricted to finite-y pairs, with time in
  * seconds relative to the series start. covar_pop/var_pop are
  * numerically stable streaming aggregates in both Spark and DuckDB.
  */
object Slope {

  def rollingLinSlope(df: DataFrame, spec: SeriesSpec, win: Int = 25,
      minp: Int = 5, out: String = "slope"): DataFrame = {
    val k = math.max(3, win)
    val h = k / 2
    val frame = SeriesWindows.ordered(spec).rowsBetween(-h.toLong, h.toLong)
    val wPart = Window.partitionBy(spec.keyCols: _*)
    val t = (unix_micros(spec.tsCol) -
      min(unix_micros(spec.tsCol)).over(wPart)) / lit(1000000.0)
    // two projections: the frame aggregates cannot take the
    // partition-min window as their input
    val d = df.withColumn("__tm", when(spec.valueCol.isNotNull, t))
    Cols.project(d, Seq("__tm"), out ->
      when(count(spec.valueCol).over(frame) >= minp &&
        var_pop(col("__tm")).over(frame) > 0,
        covar_pop(col("__tm"), spec.valueCol).over(frame) /
          var_pop(col("__tm")).over(frame)))
  }

  /** Flat-slope runs: |slope| ≤ absSlope (finite) sessionized exactly
    * like flat-value runs; duration ≥ minHours. minp follows the
    * reference call site max(5, win/3) (:224).
    * Output: keys*, start, end, hours.
    */
  def flatSlopes(df: DataFrame, spec: SeriesSpec, minHours: Double = 2.0,
      win: Int = 25, absSlope: Double = 0.0): DataFrame = {
    val withSlope = rollingLinSlope(df, spec, win, math.max(5, win / 3))
    val flag = coalesce(abs(col("slope")) <= absSlope, lit(false))
    Runs.flagRuns(withSlope, spec, flag, minHours)
      .select((spec.keyCols :+ col("start") :+ col("end") :+ col("hours")): _*)
  }
}
