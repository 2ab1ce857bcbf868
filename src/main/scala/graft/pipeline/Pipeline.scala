package graft.pipeline

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{SeriesSpec, TimeIndex}
import graft.operators._
import graft.sentem.{SentemConfig, SentemQc}
import graft.wrtds.Wrtds

/** Per-variable configuration (reference MAIN range_map
  * ufz_water_qc_pipeline.py:788-794 + sentem VARIABLE_MAP
  * sentemqc.py:77).
  */
final case class VariableConfig(
    rangeMin: Option[Double] = None,
    rangeMax: Option[Double] = None,
    sentemCode: Option[Int] = None,
    isNitrate: Boolean = false)

final case class PipelineConfig(
    gapHours: Double = 2.0,
    flatHours: Double = 2.0,
    flatSlopeWin: Int = 25,
    flatSlopeAbs: Double = 0.0,
    zeroTol: Double = 1e-12,
    kVariance: Int = 24,
    kZscore: Int = 96,
    jumpThresh: Double = 5.0,
    applySaqc: Boolean = true,
    applySentem: Boolean = true,
    wrtdsQCol: Option[String] = None,
    variables: Map[String, VariableConfig] = Map())

/** EP1 `run_pipeline`/`process_variable` re-expressed as one
  * declarative dataflow over the long-form table (reference
  * ufz_water_qc_pipeline.py:666-772). The reference's per-variable
  * Python loop is the partition axis here: every stage is a window or
  * aggregate over (station, variable), sharing one hash partitioning:
  * the keep-first dedup's exchange under the persisted base. The
  * stages above the base plan no exchange; the wide sink plans one
  * ([[wide]]), and [[write]] runs the four sinks at once.
  *
  * Ingest contract: input is keep-first deduped on (keys, ts) — the
  * reference does that inside `ensure_time_index` (:74) before any
  * processing, so `resolve_duplicates` is a no-op in the shipped flow
  * (goldens: duplicates=0); the standalone operator remains available
  * as TimeIndex.resolveDuplicatesMedian.
  */
object Pipeline {

  final case class Result(
      timeseries: DataFrame, // keys, ts, raw, clean, accepted, saqc_flag, sm_*
      events: DataFrame,     // keys, type, start, end, pre, post, pre_val, post_val, hours
      seasonal: DataFrame,   // keys, season, coverage/nan/flat counts
      meta: DataFrame)       // keys, step_us, sentinel_used, wrtds_ok

  /** `variable` is the name of the variable key column used to look up
    * per-variable config (range, sentem code).
    */
  def run(df: DataFrame, spec: SeriesSpec, cfg: PipelineConfig,
      variableCol: Option[String] = None): Result = {
    // -- clean chain: raw -> sentinel mask -> gap mask ---------------------
    var d = df.withColumn("raw", spec.valueCol)
    d = Sentinels.mask(d, spec)
    d = TimeIndex.withDeltaUs(d, spec)
    d = Gaps.classify(d, spec, cfg.gapHours)
    d = Gaps.maskPostGap(d, spec) // spec.value is now the clean series
    // The cleaned base feeds ~10 downstream branches (detectors,
    // seasonal, suite, sentem, accepted). Without persisting, every
    // branch re-scans and re-cleans the source (observed: 20 scans /
    // 60 exchanges in the physical plan). MEMORY_AND_DISK: spills
    // rather than OOMs at scale.
    val base = graft.core.Caches.persisted(d)
    val step = graft.core.Caches.persisted(TimeIndex.inferStep(base, spec))

    // -- event detectors on the clean series -------------------------------
    val evBin = Runs.binarySwitches(base, spec, cfg.zeroTol)
      .withColumn("type", lit("binary_switch"))
    val evFlat = Runs.flatValues(base, spec, cfg.flatHours)
      .withColumn("type", lit("flat_values"))
    val evSlope = Slope.flatSlopes(base, spec, cfg.flatHours, cfg.flatSlopeWin,
      cfg.flatSlopeAbs).withColumn("type", lit("flat_slopes"))
    val events = evBin
      .unionByName(evFlat.drop("value"), allowMissingColumns = true)
      .unionByName(evSlope, allowMissingColumns = true)

    // -- seasonal summary (with flat-event counts) -------------------------
    val seasonal = Seasonal.statsWithEvents(base, spec, step, evFlat, evSlope)

    // -- QC suite ----------------------------------------------------------
    // The suite's flags ride along to the final projection, which ORs
    // them into `saqc_flag`, with the per-variable range check in place
    // of the suite's own (unbounded) one.
    val varCol = variableCol.map(col)
    val (rmin, rmax) = perVariableRange(cfg, varCol)
    d = base
    val saqc = if (cfg.applySaqc) {
      val qcCfg = QcConfig(rangeMin = None, rangeMax = None,
        flatHours = cfg.flatHours, kVariance = cfg.kVariance,
        kZscore = cfg.kZscore, jumpThresh = cfg.jumpThresh)
      d = QcSuite(d, spec, step, qcCfg)
      val range = coalesce(spec.valueCol < rmin || spec.valueCol > rmax, lit(false))
      QcSuite.FlagCols.map(c => if (c == "flag_range") range else col(c)).reduce(_ || _)
    } else lit(false)

    // -- SentemQC side-band (on the RAW series — SURVEY §4.2 trap 12) ------
    val mapped = if (cfg.applySentem && varCol.isDefined) cfg.variables.collect {
      case (v, vc) if vc.sentemCode.isDefined => (v, vc.sentemCode.get, vc.isNitrate)
    }.toSeq else Nil
    val smCols = Seq("sm_masked", "sm_flagged", "sm_flagreason", "qcband_top",
      "qcband_bottom")
    val sentem = if (mapped.isEmpty) {
      smCols.zip(Seq("double", "boolean", "string", "double", "double"))
        .map { case (c, t) => lit(null).cast(t).as(c) }
    } else {
      val smParts = mapped.map { case (v, code, isNitrate) =>
        val sub = d.filter(varCol.get === v)
          .select((spec.keyCols :+ spec.tsCol :+ col("raw").as("__smv")): _*)
        SentemQc(sub, spec.copy(value = "__smv"), code,
          SentemConfig.byCode(code), isNitrate)
          .select((spec.keyCols :+ spec.tsCol :+
            col("value_masked").as("sm_masked") :+
            col("is_flagged").as("sm_flagged") :+
            col("flag_reason").as("sm_flagreason") :+
            col("qcband_top") :+ col("qcband_bottom")): _*)
      }
      d = d.join(smParts.reduce(_ unionByName _), spec.keys :+ spec.ts, "left")
      smCols.map(col)
    }

    // -- optional WRTDS ----------------------------------------------------
    val wrtdsOn = cfg.wrtdsQCol.isDefined && cfg.wrtdsQCol.exists(d.columns.contains)
    val spike = if (wrtdsOn) {
      d = Wrtds.buster(Wrtds.proxy(d, spec, cfg.wrtdsQCol), spec)
      col("wrtds_spike")
    } else lit(false)

    // -- final mask: !finite(clean) | saqc | wrtds — Sentem EXCLUDED -------
    // qcband_top/bottom ride along for the figure layer only — the
    // wide/CSV sinks keep the reference's persisted layout without them
    val clean = spec.valueCol
    val timeseries = d.select((spec.keyCols ++ Seq(spec.tsCol, col("raw"),
      clean.as("clean"),
      when(clean.isNull || saqc || spike, lit(null)).otherwise(clean).as("accepted"),
      saqc.as("saqc_flag")) ++ sentem): _*)
    // the sentinel codes counted on the persisted base's raw values:
    // the rows and values of `df` that have a step row to join to
    val meta = step
      .join(Sentinels.activeCodesList(base, spec.copy(value = "raw")), spec.keys, "left")
      .withColumn("wrtds_ok", lit(wrtdsOn))
    Result(timeseries, events, seasonal, meta)
  }

  /** Range bounds per variable via a when-chain (NULL = unbounded). */
  private def perVariableRange(cfg: PipelineConfig, varCol: Option[Column])
      : (Column, Column) = varCol match {
    case Some(vc) if cfg.variables.nonEmpty =>
      val rmin = cfg.variables.foldLeft(lit(null).cast("double")) {
        case (acc, (v, c)) => c.rangeMin.map(m =>
          when(vc === v, lit(m)).otherwise(acc)).getOrElse(acc)
      }
      val rmax = cfg.variables.foldLeft(lit(null).cast("double")) {
        case (acc, (v, c)) => c.rangeMax.map(m =>
          when(vc === v, lit(m)).otherwise(acc)).getOrElse(acc)
      }
      (rmin, rmax)
    case _ => (lit(null).cast("double"), lit(null).cast("double"))
  }

  /** Pivot the long QC output to the reference's wide layout
    * (`<var>__raw`, `__clean`, `__accepted`, `__saqc_flag`, `__sm_*`;
    * ufz_water_qc_pipeline.py:739-744, :761), one row per (station,
    * ts), variables in the order given.
    *
    * One conditional aggregate per cell (the first non-null value of
    * the cell's variable) over `timeseries` hash-partitioned by
    * station: the (station, ts) grouping runs inside that partitioning,
    * so the whole pivot plans ONE exchange, and each partition holds
    * whole stations for a station-partitioned write.
    */
  def wide(timeseries: DataFrame, stationCol: String, variableCol: String,
      tsCol: String, variables: Seq[String]): DataFrame = {
    val valueCols = Seq("raw", "clean", "accepted", "saqc_flag",
      "sm_masked", "sm_flagged", "sm_flagreason")
    val cells = for (v <- variables; f <- valueCols) yield
      first(when(col(variableCol) === v, col(f)), ignoreNulls = true).as(s"${v}__$f")
    timeseries.repartition(col(stationCol))
      .groupBy(col(stationCol), col(tsCol))
      .agg(cells.head, cells.tail: _*)
  }

  /** The four sinks of [[write]], by table: the wide parquet
    * partitioned by station and the events, seasonal and meta CSVs
    * (reference build_structure/run_pipeline write layout).
    */
  private[graft] def sinks(r: Result, outDir: String, stationCol: String,
      variableCol: String, tsCol: String, variables: Seq[String])
      : Seq[(String, () => Unit)] = {
    def csv(df: DataFrame, name: String): () => Unit = () =>
      df.write.mode("overwrite").option("header", "true").csv(s"$outDir/tables/$name")
    Seq(
      // station names become partition directory names — sanitize them
      // exactly as the reference sanitizes its per-station paths
      // (_sanitize, ufz_water_qc_pipeline.py:65-66) instead of relying
      // on Spark's URL-escaping of special characters.
      "timeseries" -> (() => wide(r.timeseries, stationCol, variableCol, tsCol, variables)
        .withColumn(stationCol, graft.sources.Ingest.sanitizeNameCol(col(stationCol)))
        .write.mode("overwrite").partitionBy(stationCol)
        .parquet(s"$outDir/processed/qc_timeseries.parquet")),
      "events" -> csv(r.events, "events_all.csv"),
      "seasonal" -> csv(r.seasonal, "seasonal_all.csv"),
      "meta" -> csv(r.meta.withColumn("sentinel_used", // CSV-safe list repr like the reference
        concat(lit("["), array_join(col("sentinel_used"), ", "), lit("]"))), "meta.csv"))
  }

  /** Writes the four tables of `r` under `outDir` at once: each sink's
    * jobs run from a driver thread of a pool made for this call, so
    * the scheduler fills the cores one sink leaves idle with another's
    * tasks. The threads start inside the call and so inherit the
    * caller's Spark local properties: its job tags and job group. It
    * returns when every sink has finished; if any failed, it then
    * throws the failure of the first failing sink in the order of
    * [[sinks]], naming its table, with the others suppressed. The wide sink plans
    * one exchange (see [[wide]]); the three CSVs read the persisted
    * base and step tables without one.
    */
  def write(r: Result, outDir: String, stationCol: String,
      variableCol: String, tsCol: String, variables: Seq[String]): Unit = {
    val all = sinks(r, outDir, stationCol, variableCol, tsCol, variables)
    val pool = Executors.newFixedThreadPool(all.size, new ThreadFactory {
      private val n = new AtomicInteger()
      def newThread(task: Runnable): Thread =
        new Thread(task, s"${WriterThreadPrefix}${n.incrementAndGet()}")
    })
    try {
      val running = all.map { case (name, sink) => name -> pool.submit[Unit](() => sink()) }
      val failures = running.flatMap { case (name, f) =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(name -> e.getCause) }
      }
      failures.headOption.foreach { case (name, cause) =>
        val e = new RuntimeException(s"Pipeline.write: the $name sink failed: $cause", cause)
        failures.tail.foreach(f => e.addSuppressed(f._2))
        throw e
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** The name prefix of [[write]]'s sink threads. */
  private[graft] val WriterThreadPrefix = "graft-pipeline-write-"
}
