package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Cols, Rle, SeriesSpec, SeriesWindows}

/** Reference formulations that specs pin the engine's run masks
  * against; not part of the engine surface. Each qualifies its runs
  * as a table of (keys, `__mkid`) and joins it back to the marked
  * rows, which plans a (keys, `__mkid`) exchange on both join sides.
  */
object RunsReference {

  private val MarkerCols = Seq("__xb", "__rn", "__n", "__marker", "__mkid")

  /** Join form of [[Runs.flatMask]]. */
  def flatMask(df: DataFrame, spec: SeriesSpec, minHours: Double = 2.0,
      absTol: Double = 0.0, out: String = "flag_plateau"): DataFrame = {
    val w = SeriesWindows.ordered(spec)
    val eq =
      coalesce(abs(spec.valueCol - lag(spec.valueCol, 1).over(w)) <= absTol, lit(false))
    val marked = Rle.withMarkers(df, spec, eq)
    val hours = (unix_micros(col("__next_ts")) - unix_micros(spec.tsCol)) /
      lit(3600000000.0)
    val qual = Rle.runsFromMarked(marked, spec)
      .filter(col("__xb") && hours >= minHours)
      .select((spec.keyCols :+ col("__mkid") :+ lit(true).as("__qual")): _*)
    val inRun = coalesce(col("__qual"), lit(false))
    Cols.project(marked.join(qual, spec.keys :+ "__mkid", "left"),
      MarkerCols :+ "__qual",
      out -> (inRun || coalesce(lag(inRun, 1).over(w), lit(false))))
  }

  /** Join form of [[Runs.isolatedMask]]. */
  def isolatedMask(df: DataFrame, spec: SeriesSpec, stepDf: DataFrame,
      gapHours: Double = 3.0, groupWindowUs: Double = 30 * 60 * 1e6,
      out: String = "isolated"): DataFrame = {
    val gapUs = (gapHours * 3600 * 1e6).toLong
    val marked = Rle.withMarkers(df, spec, spec.valueCol.isNotNull)
    val grpPts =
      greatest(lit(1L), floor(lit(groupWindowUs) / col("step_us") + 0.5).cast("long"))
    val qual = Rle.runsFromMarked(marked, spec, carry = Seq("delta_us"))
      .join(stepDf, spec.keys)
      .filter(col("__xb") && col("run_len") <= grpPts &&
        col("delta_us") > gapUs && col("__next_delta_us") > gapUs)
      .select((spec.keyCols :+ col("__mkid") :+ lit(true).as("__iso")): _*)
    Cols.project(marked.join(qual, spec.keys :+ "__mkid", "left"),
      MarkerCols :+ "__iso", out -> coalesce(col("__iso"), lit(false)))
  }
}
