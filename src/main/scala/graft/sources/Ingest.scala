package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.{SeriesSpec, TimeIndex}

/** Ingestion (reference `read_data`/`ensure_time_index`,
  * scripts/ufz_water_qc_pipeline.py:68-75, :150-155): CSV scan with
  * explicit schema, timestamp parse, optional tz localization,
  * optional station filter (pushed into the scan by Catalyst), NaN →
  * NULL normalization, keep-first dedup, and the wide↔long reshape
  * that turns the reference's per-variable loop into our partition
  * axis.
  */
object Ingest {

  /** CSV → DataFrame with a parsed `ts` column. `schema` None infers
    * it through [[FileSchemas]]: once per version of the file, so a
    * second read of an unchanged CSV builds without a Spark job.
    */
  def readCsvTimeSeries(spark: SparkSession, path: String,
      schema: Option[StructType] = None, tsCol: String = "timestamp",
      tz: Option[String] = None, stationField: Option[String] = None,
      stationValue: Option[String] = None): DataFrame = {
    val base = schema match {
      case Some(s) => spark.read.option("header", "true").schema(s).csv(path)
      case None => FileSchemas.read(spark, "csv", path,
        Map("header" -> "true", "inferSchema" -> "true"))
    }
    val withTs = tz match {
      case Some(z) => base.withColumn("ts", to_utc_timestamp(col(tsCol), z))
      case None => base.withColumn("ts", to_timestamp(col(tsCol)))
    }
    (stationField, stationValue) match {
      case (Some(f), Some(v)) => withTs.filter(col(f) === v)
      case _ => withTs
    }
  }

  /** Path/column name sanitizer (reference `_sanitize`,
    * scripts/ufz_water_qc_pipeline.py:65-66, scripts/sentemqc.py:23-24):
    * any run of characters outside [A-Za-z0-9._-] collapses to one
    * underscore. Used when station/variable names become output paths
    * or column names; the data-plane variant is [[sanitizeNameCol]].
    */
  def sanitizeName(s: String): String =
    s.replaceAll("[^A-Za-z0-9._-]+", "_")

  /** [[sanitizeName]] as a Column expression (codegen'd regexp). */
  def sanitizeNameCol(c: Column): Column =
    regexp_replace(c, "[^A-Za-z0-9._-]+", "_")

  /** NaN → NULL for the given double columns (the reference's NaN IS
    * its NULL — SURVEY §1.2; Spark distinguishes them, we normalize at
    * the boundary).
    */
  def nanToNull(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, when(isnan(col(c)), lit(null)).otherwise(col(c))))

  /** Wide → long unpivot: one row per (idCols, variable, value).
    * The scalable layout — each (station, variable) series becomes one
    * window partition.
    */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
      varName: String = "variable", valName: String = "value"): DataFrame = {
    val kvs = valueCols.map(c =>
      s"'${c.replace("'", "\\'")}', CAST(`$c` AS DOUBLE)").mkString(", ")
    df.selectExpr(
      (idCols :+ s"stack(${valueCols.size}, $kvs) as ($varName, $valName)"): _*)
  }

  /** Full `ensure_time_index` equivalent: parse → NaN-normalize →
    * keep-first dedup by tiebreaker. Sorted-by-time is implicit in
    * every downstream window.
    */
  def ensureTimeIndex(df: DataFrame, spec: SeriesSpec, tiebreak: Column): DataFrame =
    TimeIndex.dedupKeepFirst(nanToNull(df, Seq(spec.value)), spec, tiebreak)
}
