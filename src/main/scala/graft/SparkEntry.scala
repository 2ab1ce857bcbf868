package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SeriesSpec, TimeIndex}
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.registry._
import graft.sources.Tables

/** The query registry (SURVEY.md §7): every query, each declared once
  * as a [[graft.registry.QueryDef]] in its family object.
  *
  * Every query but one has a DuckDB oracle computing the exact same
  * values on the same parquet tables. The exception is `q_wrtds`,
  * which is rows-only by its O(n²)-kernel contract; its semi-oracle is
  * `q_wrtds_check`. Cross-engine float determinism rules used
  * throughout:
  *  - money/decimal sums go through DecimalType (exact, order-free)
  *    and cast to double at the end;
  *  - medians/order statistics are exact in both engines;
  *  - derived percentages are round(x, 6) on identically-shaped
  *    expressions so both engines round the same IEEE double.
  */
object SparkEntry {

  /** Flagship on /root/testdata/sf0.001: the full EP1 pipeline (QC
    * suite + SentemQC side-band) over (user, event_type) series.
    * Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val spec2 = SeriesSpec(Seq("user_id", "event_type"))
    val base = TimeIndex.dedupKeepFirst(
      Tables.events(spark, dir).select("user_id", "event_type", "ts", "value", "event_id"),
      spec2, col("event_id")).drop("event_id")
    val sensorByType = Map(
      "click" -> (400, false), "error" -> (410, false),
      "purchase" -> (2477034, true), "signup" -> (157787, false),
      "view" -> (2477787, true))
    val vcfg = sensorByType.map { case (v, (code, nitrate)) =>
      v -> VariableConfig(rangeMin = Some(0.0), rangeMax = Some(100.0),
        sentemCode = Some(code), isNitrate = nitrate)
    }
    val cfg = PipelineConfig(gapHours = 72.0, kVariance = 6, kZscore = 8,
      variables = vcfg)
    Pipeline.run(base, spec2, cfg, variableCol = Some("event_type")).timeseries
  }

  /** Every registry query, family by family. */
  val defs: Seq[QueryDef] = {
    val all = QcQueries.defs ++ DedupQueries.defs ++ SimilarityQueries.defs ++
      TextQueries.defs ++ SamplingQueries.defs ++ RelationalQueries.defs ++
      MultimodalQueries.defs
    val dups = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap

  /** Immutable hash map: Verify writes oracle_sql.json in its order. */
  val oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** Fails, naming them, if any of `names` is not a registry query. */
  def requireKnown(names: Iterable[String]): Unit = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }
}
