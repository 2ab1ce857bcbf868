package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.core.{Cols, Rle, SeriesSpec, SeriesWindows}

/** Run-based event detectors (reference `detect_flat_runs`
  * scripts/ufz_water_qc_pipeline.py:208-221, `detect_binary_switches`
  * :192-205, `_fallback_flag_isolated` :430-453, `_mask_from_runs`
  * :392-397, tables :642-654), built on Rle's faithful marker
  * primitive — see Rle.scala for why the reference's `rle_bool` is
  * NOT a plain run-length encoding (golden-output-confirmed).
  *
  * Positional facts used throughout: a run is [a, next_rn−1] with
  * b ≡ a+len = next_rn, so idx[b] is simply the next marker's
  * timestamp and every b/b+1 index clamp in the reference is
  * automatically in range (the last marker starts no run).
  */
object Runs {

  /** The helper columns `Rle.withMarkers` adds. */
  private val MarkerCols = Seq("__xb", "__rn", "__n", "__marker", "__mkid")

  /** Generic flag-run extractor: one event per marker-run whose flag
    * is true and whose [start, next-marker] span is ≥ minHours.
    * The surviving row is the run's start row (original columns pass
    * through) plus start, end, hours.
    */
  def flagRuns(df: DataFrame, spec: SeriesSpec, flag: Column,
      minHours: Double): DataFrame = {
    val rr = Rle.runs(df, spec, flag)
    val hours =
      (unix_micros(col("__next_ts")) - unix_micros(spec.tsCol)) / lit(3600000000.0)
    Cols.project(rr.filter(col("__xb") && hours >= minHours),
      MarkerCols ++ Seq("next_rn", "__next_ts", "run_len"),
      "start" -> spec.tsCol, "end" -> col("__next_ts"), "hours" -> hours)
  }

  /** Flat-value runs: eq[i] = |v[i] − v[i−1]| ≤ absTol (NULLs → not
    * equal; eq[0] = false). Start = first eq row (SECOND sample of the
    * stretch); end = the next marker's sample (for a long stretch that
    * is its LAST equal sample). Output: keys*, start, end, hours,
    * value.
    */
  def flatValues(df: DataFrame, spec: SeriesSpec, minHours: Double = 2.0,
      absTol: Double = 0.0): DataFrame = {
    val w = SeriesWindows.ordered(spec)
    val eq =
      coalesce(abs(spec.valueCol - lag(spec.valueCol, 1).over(w)) <= absTol, lit(false))
    flagRuns(df, spec, eq, minHours)
      .select((spec.keyCols :+ col("start") :+ col("end") :+ col("hours")
        :+ spec.valueCol.as("value")): _*)
  }

  /** Binary-switch events: marker-runs of z = |v| ≤ zeroTol (finite)
    * with length ≥ minDur; end = idx[a+len−1] (row before the next
    * marker, fetched with one equi-join on position); pre/post are the
    * index-clamped neighbors — post is always the next marker row.
    * Output: keys*, start, end, pre, post, pre_val, post_val.
    */
  def binarySwitches(df: DataFrame, spec: SeriesSpec, zeroTol: Double = 1e-12,
      minDur: Int = 1): DataFrame = {
    val w = SeriesWindows.ordered(spec)
    val z = coalesce(spec.valueCol.isNotNull && abs(spec.valueCol) <= zeroTol, lit(false))
    val d = Cols.set(df, "__prev_ts" -> lag(spec.tsCol, 1).over(w),
      "__prev_val" -> lag(spec.valueCol, 1).over(w))
    val marked = Rle.withMarkers(d, spec, z)
    val rr = Rle.runsFromMarked(marked, spec, carry = Seq(spec.value))
    val endSide = marked.select(
      (spec.keys.zipWithIndex.map { case (k, i) => col(k).as(s"__ek$i") } :+
        col("__rn").as("__end_rn") :+ spec.tsCol.as("end")): _*)
    val joinCond = spec.keys.zipWithIndex.map { case (k, i) =>
      col(k) === col(s"__ek$i")
    }.reduce(_ && _) && col("__end_rn") === col("next_rn") - 1
    rr.filter(col("__xb") && col("run_len") >= minDur)
      .join(endSide, joinCond)
      .select((spec.keyCols :+ spec.tsCol.as("start") :+ col("end") :+
        coalesce(col("__prev_ts"), spec.tsCol).as("pre") :+
        col("__next_ts").as("post") :+
        when(col("__prev_ts").isNotNull, col("__prev_val"))
          .otherwise(spec.valueCol).as("pre_val") :+
        col(s"__next_${spec.value}").as("post_val")): _*)
      .filter(col("pre_val").isNotNull && col("post_val").isNotNull &&
        (col("pre_val") =!= 0.0 || col("post_val") =!= 0.0))
  }

  /** The rows of one marker-run: partition by (keys, `__mkid`). The
    * series partitioning already satisfies it, so qualifying a run
    * over it plans a sort but no exchange. The window is unordered:
    * every aggregate over it is order-free (a run's one marker row is
    * its start).
    */
  private def runRows(spec: SeriesSpec): WindowSpec =
    Window.partitionBy((spec.keyCols :+ col("__mkid")): _*)

  /** `c` of the next row when that row is a marker: on a run's last
    * row, the next marker's `c`; NULL on every other row.
    */
  private def atNextMarker(spec: SeriesSpec, c: Column): Column = {
    val w = SeriesWindows.ordered(spec)
    when(lead(col("__marker"), 1).over(w), lead(c, 1).over(w))
  }

  /** Plateau/constants point mask: every sample inside [start, end] of
    * a qualifying flat run — rows sharing the run's marker id plus the
    * next marker row (one lag, no range join). A run qualifies over
    * [[runRows]]. Adds boolean `out`.
    */
  def flatMask(df: DataFrame, spec: SeriesSpec, minHours: Double = 2.0,
      absTol: Double = 0.0, out: String = "flag_plateau"): DataFrame = {
    val w = SeriesWindows.ordered(spec)
    val eq =
      coalesce(abs(spec.valueCol - lag(spec.valueCol, 1).over(w)) <= absTol, lit(false))
    val marked = Cols.set(Rle.withMarkers(df, spec, eq),
      "__next_ts" -> atNextMarker(spec, spec.tsCol))
    val run = runRows(spec)
    val hours = (unix_micros(max(col("__next_ts")).over(run)) -
      unix_micros(max(when(col("__marker"), spec.tsCol)).over(run))) / lit(3600000000.0)
    val qual = Cols.set(marked, "__qual" ->
      coalesce(bool_or(col("__marker") && col("__xb")).over(run) && hours >= minHours,
        lit(false)))
    Cols.project(qual, MarkerCols ++ Seq("__next_ts", "__qual"),
      out -> (col("__qual") || coalesce(lag(col("__qual"), 1).over(w), lit(false))))
  }

  /** Isolated-group mask: finite marker-runs of length ≤
    * toPoints(groupWindow, step) whose start-row delta and next-marker
    * delta both exceed gapHours; ALL rows of such a run are marked
    * (the reference marks m[a:b+1] positionally). A run qualifies over
    * [[runRows]]. Requires `delta_us`; `stepDf` is (keys*, step_us).
    * Adds boolean `out`.
    */
  def isolatedMask(df: DataFrame, spec: SeriesSpec, stepDf: DataFrame,
      gapHours: Double = 3.0, groupWindowUs: Double = 30 * 60 * 1e6,
      out: String = "isolated"): DataFrame = {
    val gapUs = (gapHours * 3600 * 1e6).toLong
    val marked = Cols.set(Rle.withMarkers(df, spec, spec.valueCol.isNotNull),
      "__next_delta" -> atNextMarker(spec, col("delta_us")))
    val stepKeys = spec.keys.indices.map(i => s"__sk$i")
    val step = stepDf.select((spec.keys.zip(stepKeys).map { case (k, s) => col(k).as(s) }
      :+ col("step_us").as("__step_us")): _*)
    val withStep = marked.join(step, spec.keys.zip(stepKeys).map { case (k, s) =>
      col(k) === col(s) }.reduce(_ && _), "left")
    // floor(x+0.5) = half-UP, vs the reference's half-even int(round())
    // — deliberate; documented at TimeIndex.toPoints (no shipped
    // config hits an exact-.5 ratio).
    val grpPts =
      greatest(lit(1L), floor(lit(groupWindowUs) / col("__step_us") + 0.5).cast("long"))
    val run = runRows(spec)
    val iso = bool_or(col("__marker") && col("__xb") && col("delta_us") > gapUs).over(run) &&
      count(lit(1)).over(run) <= grpPts && max(col("__next_delta")).over(run) > gapUs
    Cols.project(withStep, MarkerCols ++ stepKeys ++ Seq("__next_delta", "__step_us"),
      out -> coalesce(iso, lit(false)))
  }
}
