package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Cols, SeriesSpec, SeriesWindows, TimeIndex}

/** Gap classification (reference `classify_gaps`,
  * scripts/ufz_water_qc_pipeline.py:179-189, applied at :673-674).
  *
  * A point whose time delta to the PREVIOUS point exceeds the
  * threshold is flagged (the first post-gap sample — only that one,
  * SURVEY §4.2 trap 6); its gap duration is recorded and its value is
  * masked to missing. A series' first point is never a gap.
  */
object Gaps {

  /** Adds `is_gap: boolean` and `gap_us: long` (duration, NULL unless
    * gap). Requires/creates `delta_us`.
    */
  def classify(df: DataFrame, spec: SeriesSpec, gapHours: Double = 2.0): DataFrame = {
    val thr = TimeIndex.hoursToUs(gapHours)
    val d = if (df.columns.contains("delta_us")) df else TimeIndex.withDeltaUs(df, spec)
    val isGap = coalesce(col("delta_us") > thr, lit(false))
    Cols.set(d, "is_gap" -> isGap, "gap_us" -> when(isGap, col("delta_us")))
  }

  /** Mask the first post-gap sample's value to NULL (x[gaps]=nan). */
  def maskPostGap(df: DataFrame, spec: SeriesSpec): DataFrame =
    df.withColumn(spec.value, when(col("is_gap"), lit(null)).otherwise(spec.valueCol))

  /** classify + mask in one step, dropping the helper columns. */
  def apply(df: DataFrame, spec: SeriesSpec, gapHours: Double = 2.0): DataFrame =
    maskPostGap(classify(df, spec, gapHours), spec)
}
