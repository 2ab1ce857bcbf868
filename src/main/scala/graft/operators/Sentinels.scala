package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Cols, SeriesSpec}

/** Sentinel-code detection and masking (reference
  * `detect_and_mask_sentinels`, scripts/ufz_water_qc_pipeline.py:158-167).
  *
  * A sentinel code is "active" for a series when it appears at least
  * `minCount` times OR makes up at least `minFrac` of the series; all
  * occurrences of active codes become missing. Two-phase: per-series
  * aggregate of per-code hit counts (one shuffle on the series keys,
  * partial map-side combine), broadcast-friendly join back, then a
  * conditional projection.
  */
object Sentinels {

  val DefaultCodes: Seq[Double] = Seq(-9.0, -99.0, -999.0, -9999.0)

  /** Per series: the keys and one boolean `__a<i>` per code, true
    * when `codes(i)` is active.
    */
  private def actives(df: DataFrame, spec: SeriesSpec, codes: Seq[Double],
      minCount: Int, minFrac: Double): DataFrame = {
    val cnts = df.groupBy(spec.keyCols: _*)
      .agg(count(lit(1)).as("__n"),
        codes.zipWithIndex.map { case (c, i) =>
          sum(when(spec.valueCol === lit(c), 1).otherwise(0)).as(s"__c$i")
        }: _*)
    cnts.select((spec.keyCols ++ codes.indices.map { i =>
      (col(s"__c$i") >= minCount ||
        (col("__n") > 0 && col(s"__c$i").cast("double") / col("__n") >= minFrac))
        .as(s"__a$i")
    }): _*)
  }

  /** Per-series sorted array of ACTIVE sentinel codes (the reference
    * meta's `sentinel_used`, ufz_water_qc_pipeline.py:738).
    */
  def activeCodesList(df: DataFrame, spec: SeriesSpec,
      codes: Seq[Double] = DefaultCodes, minCount: Int = 5,
      minFrac: Double = 0.001): DataFrame = {
    val used = codes.zipWithIndex.map { case (c, i) => when(col(s"__a$i"), lit(c)) }
    actives(df, spec, codes, minCount, minFrac).select((spec.keyCols :+
      array_sort(array_compact(array(used: _*))).as("sentinel_used")): _*)
  }

  /** Adds `sentinel_flag: boolean`; masks flagged values in `value`. */
  def mask(df: DataFrame, spec: SeriesSpec, codes: Seq[Double] = DefaultCodes,
      minCount: Int = 5, minFrac: Double = 0.001): DataFrame = {
    val flagged = coalesce(codes.zipWithIndex.map { case (c, i) =>
      spec.valueCol === lit(c) && col(s"__a$i")
    }.reduce(_ || _), lit(false))
    Cols.project(df.join(actives(df, spec, codes, minCount, minFrac), spec.keys),
      codes.indices.map(i => s"__a$i"),
      "sentinel_flag" -> flagged,
      spec.value -> when(flagged, lit(null)).otherwise(spec.valueCol))
  }
}
