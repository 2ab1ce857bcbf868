package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Run grouping with the reference's EXACT `rle_bool` semantics
  * (scripts/ufz_water_qc_pipeline.py:94-103).
  *
  * That function is NOT a plain run-length encoder: it builds
  * c = [True, (x[1:] != x[:-1]), True] and takes np.diff — which on a
  * boolean array is XOR — so its "runs" are the spans between rows
  * where the CONSECUTIVE-INEQUALITY signal changes (derivative
  * edges), with forced markers at both ends. Consequences the golden
  * outputs confirm (e.g. the O2 480 h flat event): a long run's
  * endpoint lands ON the last equal sample rather than one past it,
  * adjacent same-value spans can split, and the final marker only
  * terminates the previous span. We reproduce the computation
  * mechanically rather than approximating it with a true RLE.
  *
  * Marker row j (0-based rn within a series) is where
  * c_cur != c_next, with
  *   c_cur  = (rn == 0)     ? true : (x[rn] != x[rn-1])
  *   c_next = (rn == n - 1) ? true : (x[rn+1] != x[rn])
  * Runs are consecutive marker pairs: start = marker k's row,
  * length = rn(k+1) − rn(k), value = x at start; the last marker
  * starts no run.
  */
object Rle {

  /** Adds per-row columns: `__rn` (0-based position), `__n` (series
    * length), `__marker` (is a marker row), `__mkid` (1-based id of
    * the governing marker = running marker count). The flag must be a
    * non-null boolean.
    */
  def withMarkers(df: DataFrame, spec: SeriesSpec, flag: Column): DataFrame = {
    val w = SeriesWindows.ordered(spec)
    // the series length over w's own partitioning and order, so the
    // flag, position and length share one Window operator and one sort
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // three projections: a window function cannot take another as its
    // input, and the flag may hold one, the markers compare the flag's
    // neighbours, and the marker id counts markers
    val d = Cols.set(df, "__xb" -> flag, "__rn" -> (row_number().over(w) - 1),
      "__n" -> count(lit(1)).over(whole))
    val cCur = when(col("__rn") === 0, lit(true))
      .otherwise(col("__xb") =!= lag(col("__xb"), 1).over(w))
    val cNext = when(col("__rn") === col("__n") - 1, lit(true))
      .otherwise(lead(col("__xb"), 1).over(w) =!= col("__xb"))
    d.withColumn("__marker", cCur =!= cNext)
      .withColumn("__mkid",
        sum(when(col("__marker"), 1).otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Run rows: each marker (except a series' last) becomes one run,
    * keeping the start row's original columns plus `run_len`,
    * `next_rn`, and the next marker's `carry` columns as
    * `__next_<col>`. The run's value is `__xb` at the start row.
    */
  def runs(df: DataFrame, spec: SeriesSpec, flag: Column,
      carry: Seq[String] = Seq.empty): DataFrame =
    runsFromMarked(withMarkers(df, spec, flag), spec, carry)

  /** As `runs`, from an existing `withMarkers` output (lets callers
    * reuse the marked base).
    */
  def runsFromMarked(marked: DataFrame, spec: SeriesSpec,
      carry: Seq[String] = Seq.empty): DataFrame = {
    val wm = SeriesWindows.ordered(spec) // applied over marker rows only
    val nextRn = lead(col("__rn"), 1).over(wm)
    val next = Seq("next_rn" -> nextRn, "__next_ts" -> lead(spec.tsCol, 1).over(wm)) ++
      carry.map(c => s"__next_$c" -> lead(col(c), 1).over(wm)) :+
      ("run_len" -> (nextRn - col("__rn")))
    Cols.set(marked.filter(col("__marker")), next: _*)
      .filter(col("next_rn").isNotNull)
  }
}
