package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Cols, SeriesSpec, SeriesWindows}

/** Rolling-frame QC statistics (reference fallback flags,
  * scripts/ufz_water_qc_pipeline.py:399-457). All frames are pandas-
  * convention centered count windows (SeriesWindows.centered); all
  * min_periods count finite values. Window lengths are row counts the
  * caller derives from a duration and the sampling step
  * (TimeIndex.toPoints) — the reference does the same per series.
  */
object RollingStats {

  /** `_fallback_flag_by_variance` (:409-413): centered k-row SAMPLE
    * variance (pandas .var() ddof=1) ≤ thresh, min_periods
    * max(3, k/3); NULL → false.
    */
  def varianceFlag(spec: SeriesSpec, k: Int, thresh: Double): Column = {
    val w = SeriesWindows.centered(spec, k)
    val v = SeriesWindows.rollingVarSamp(spec.valueCol, w, math.max(3, k / 3))
    coalesce(v <= thresh, lit(false))
  }

  /** `_fallback_flag_zscore` (:415-422): centered k-row rolling median
    * and MAD (median absolute deviation), z = 0.6745·(x−med)/MAD with
    * MAD=0 → NULL (no flag); |z| ≥ thresh; min_periods max(5, k/3).
    * Adds `med`, `mad`, and the flag column (med/mad dropped unless
    * keepStats).
    */
  def robustZFlag(df: DataFrame, spec: SeriesSpec, k: Int,
      thresh: Double = 4.0, out: String = "flag_zscore",
      keepStats: Boolean = false): DataFrame = {
    val w = SeriesWindows.centered(spec, k)
    val minp = math.max(5, k / 3)
    // three projections: the MAD is a window over the median window's
    // output, and the flag reads the MAD
    val withMed = df.withColumn("__med",
      SeriesWindows.rollingMedian(spec.valueCol, w, minp))
    val absDev = abs(spec.valueCol - col("__med"))
    val withMad = withMed.withColumn("__mad",
      SeriesWindows.rollingMedian(absDev, w, minp))
    val z = lit(0.6745) * (spec.valueCol - col("__med")) /
      when(col("__mad") =!= 0.0, col("__mad"))
    val flag = out -> coalesce(abs(z) >= thresh, lit(false))
    if (keepStats)
      Cols.project(withMad, Seq("__med", "__mad"),
        "med" -> col("__med"), "mad" -> col("__mad"), flag)
    else Cols.project(withMad, Seq("__med", "__mad"), flag)
  }

  /** `_fallback_flag_jumps` (:424-428): |x − lag(x)| ≥ thresh. */
  def jumpFlag(spec: SeriesSpec, thresh: Double): Column = {
    val w = SeriesWindows.ordered(spec)
    coalesce(abs(spec.valueCol - lag(spec.valueCol, 1).over(w)) >= thresh, lit(false))
  }

  /** Range check (:474-477, :565-569): outside [min, max]. */
  def rangeFlag(spec: SeriesSpec, rangeMin: Option[Double],
      rangeMax: Option[Double]): Column = {
    val f = (rangeMin, rangeMax) match {
      case (Some(lo), Some(hi)) => spec.valueCol < lo || spec.valueCol > hi
      case (Some(lo), None) => spec.valueCol < lo
      case (None, Some(hi)) => spec.valueCol > hi
      case (None, None) => lit(false)
    }
    coalesce(f, lit(false))
  }

  /** Missing check (:480-482). */
  def missingFlag(spec: SeriesSpec): Column = spec.valueCol.isNull

  /** Discrete Gaussian kernel weights for ±radius row offsets. */
  def gaussianWeights(sigmaPts: Double, radius: Int): Seq[(Int, Double)] =
    (-radius to radius).map(o =>
      o -> math.exp(-0.5 * (o / sigmaPts) * (o / sigmaPts)))

  /** Windowed Gaussian smoother over a (typically ffill/bfill-filled)
    * column — the data behind the reference's gaussian-compare
    * residual diagnostic (plot_gaussian_compare,
    * ufz_water_qc_pipeline.py:371-389). Weights renormalize over the
    * rows present in the frame (scipy's 'nearest' edge mode replicates
    * edge values instead; at the interior both agree). Closed
    * lag/lead form — one window pass, codegen-friendly.
    */
  def gaussianSmooth(df: DataFrame, spec: SeriesSpec, srcCol: String,
      sigmaPts: Double, radius: Int, out: String = "smooth"): DataFrame = {
    val w = SeriesWindows.ordered(spec)
    def at(o: Int): Column =
      if (o < 0) lag(col(srcCol), -o).over(w)
      else if (o > 0) lead(col(srcCol), o).over(w)
      else col(srcCol)
    val terms = gaussianWeights(sigmaPts, radius)
    val num = terms.map { case (o, wt) =>
      coalesce(at(o), lit(0.0)) * lit(wt)
    }.reduce(_ + _)
    val den = terms.map { case (o, wt) =>
      when(at(o).isNotNull, lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    df.withColumn(out, when(den > 0, num / den))
  }

  /** TIME-based centered rolling mean over a ± windowUs range frame —
    * the faithful mapping when sampling is irregular (a count-based
    * frame spans variable durations; a rangeBetween frame on the µs
    * axis spans exactly the requested interval regardless of cadence).
    * The sum runs over round(value, 3) cast to DECIMAL(30,3): exact
    * and evaluation-order-free, so engines with different window-sum
    * algorithms (sequential vs segment tree) agree bit-for-bit.
    * Output: adds `<out>` (NULL below minp finite samples in range).
    */
  def rollingMeanTime(df: DataFrame, spec: SeriesSpec, windowUs: Long,
      minp: Int, out: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(spec.keyCols: _*)
      .orderBy(unix_micros(spec.tsCol))
      .rangeBetween(-windowUs, windowUs)
    val dec = round(spec.valueCol, 3)
      .cast(org.apache.spark.sql.types.DecimalType(30, 3))
    val n = count(spec.valueCol).over(w)
    df.withColumn(out,
      when(n >= minp, (sum(dec).over(w).cast("double") / n)))
  }
}
