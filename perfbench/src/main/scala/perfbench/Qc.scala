package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Force
import graft.core.{Caches, SeriesSpec, TimeIndex}
import graft.operators.{Gaps, QcConfig, QcSuite, Runs, Seasonal, Sentinels, Slope}
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.sentem.{SentemConfig, SentemQc}
import graft.sources.Ingest

/** One QC job: a wide CSV and the per-variable configuration. */
final case class QcJob(csv: String, vars: Seq[String],
    ranges: Map[String, (Double, Double)], sentem: Map[String, (Int, Boolean)]) {

  def config: PipelineConfig = PipelineConfig(variables = vars.map { v =>
    v -> VariableConfig(
      rangeMin = ranges.get(v).map(_._1), rangeMax = ranges.get(v).map(_._2),
      sentemCode = sentem.get(v).map(_._1),
      isNitrate = sentem.get(v).exists(_._2))
  }.toMap)
}

/** The QC workloads: wide CSV → `Pipeline.run` → `Pipeline.write`,
  * through the same public calls `graft.Cli` makes, in its order.
  */
object Qc {
  val spec: SeriesSpec = SeriesSpec(Seq("station", "variable"))

  /** CSV → long form → keep-first dedup (Cli's ingest). The CSV carries
    * its own station column, where Cli stamps a single literal one.
    */
  def ingest(spark: SparkSession, job: QcJob): (DataFrame, DataFrame) = {
    val wide = Ingest.readCsvTimeSeries(spark, job.csv, tsCol = "timestamp")
      .withColumn("__seq", monotonically_increasing_id())
    val long = Ingest.melt(wide, Seq("station", "ts", "__seq"), job.vars)
    (long, Ingest.ensureTimeIndex(long, spec, col("__seq")).drop("__seq"))
  }

  def write(r: Pipeline.Result, job: QcJob, out: String): Unit =
    Pipeline.write(r, out, "station", "variable", "ts", job.vars)

  /** The untraced pass: ingest, `Pipeline.run`, `Pipeline.write`. */
  def run(spark: SparkSession, job: QcJob, out: String): Unit = {
    val (_, deduped) = ingest(spark, job)
    write(Pipeline.run(deduped, spec, job.config, variableCol = Some("variable")),
      job, out)
  }

  private def mat(df: DataFrame): DataFrame = {
    val p = Caches.persisted(df)
    Force.force(p)
    p
  }

  /** The traced pass: each layer is called through its public entry
    * point and its output materialized before the next layer starts,
    * so each span is that layer's own time. The tables it writes must
    * digest-equal the untraced pass's. Returns the outcome counts, to be
    * taken once the pass is timed and before its caches are dropped.
    */
  def traced(spark: SparkSession, job: QcJob, out: String, tr: Tracer)
      : () => Map[String, Double] = {
    val cfg = job.config
    val varCol = col("variable")

    val (long, dd) = tr.span("sources") {
      val (l, d) = ingest(spark, job)
      (l, mat(d))
    }
    val (clean, step, meta) = tr.span("operators.clean") {
      var d = dd.withColumn("raw", spec.valueCol)
      d = Sentinels.mask(d, spec)
      d = TimeIndex.withDeltaUs(d, spec)
      d = Gaps.classify(d, spec, cfg.gapHours)
      d = Gaps.maskPostGap(d, spec)
      val dm = mat(d)
      val st = mat(TimeIndex.inferStep(dm, spec))
      val meta = mat(st.join(Sentinels.activeCodesList(dd, spec), spec.keys, "left")
        .withColumn("wrtds_ok", lit(false)))
      (dm, st, meta)
    }
    val (evFlat, evSlope, events) = tr.span("operators.events") {
      val evBin = mat(Runs.binarySwitches(clean, spec, cfg.zeroTol)
        .withColumn("type", lit("binary_switch")))
      val evFlat = mat(Runs.flatValues(clean, spec, cfg.flatHours)
        .withColumn("type", lit("flat_values")))
      val evSlope = mat(Slope.flatSlopes(clean, spec, cfg.flatHours,
        cfg.flatSlopeWin, cfg.flatSlopeAbs).withColumn("type", lit("flat_slopes")))
      (evFlat, evSlope, evBin
        .unionByName(evFlat.drop("value"), allowMissingColumns = true)
        .unionByName(evSlope, allowMissingColumns = true))
    }
    val seasonal = tr.span("operators.seasonal") {
      mat(Seasonal.statsWithEvents(clean, spec, step, evFlat, evSlope))
    }
    val flagged = tr.span("operators.qc_suite") {
      val (rmin, rmax) = rangeCols(cfg, varCol)
      val d = clean.withColumn("__flag_range0", coalesce(
        spec.valueCol < rmin || spec.valueCol > rmax, lit(false)))
      val qcCfg = QcConfig(rangeMin = None, rangeMax = None,
        flatHours = cfg.flatHours, kVariance = cfg.kVariance,
        kZscore = cfg.kZscore, jumpThresh = cfg.jumpThresh)
      mat(QcSuite(d, spec, step, qcCfg)
        .withColumn("flag_range", col("__flag_range0"))
        .withColumn("saqc_flag",
          (QcSuite.FlagCols.map(col) :+ col("__flag_range0")).reduce(_ || _))
        .drop("__flag_range0", "qc_flag"))
    }
    val mapped = cfg.variables.collect {
      case (v, vc) if vc.sentemCode.isDefined => (v, vc.sentemCode.get, vc.isNitrate)
    }.toSeq
    val withSm = tr.span("sentem") {
      if (mapped.isEmpty) nullSentem(flagged)
      else {
        val parts = mapped.map { case (v, code, isNitrate) =>
          val sub = flagged.filter(varCol === v)
            .select((spec.keyCols :+ spec.tsCol :+ col("raw").as("__smv")): _*)
          SentemQc(sub, spec.copy(value = "__smv"), code,
            SentemConfig.byCode(code), isNitrate)
            .select((spec.keyCols :+ spec.tsCol :+
              col("value_masked").as("sm_masked") :+
              col("is_flagged").as("sm_flagged") :+
              col("flag_reason").as("sm_flagreason") :+
              col("qcband_top") :+ col("qcband_bottom")): _*)
        }
        flagged.join(mat(parts.reduce(_ unionByName _)), spec.keys :+ spec.ts, "left")
      }
    }
    tr.span("pipeline.build") {
      Pipeline.run(dd, spec, cfg, variableCol = Some("variable"))
    }
    val fin = withSm
      .withColumn("wrtds_spike", lit(false))
      .withColumn("clean", spec.valueCol)
      .withColumn("accepted",
        when(col("clean").isNull || col("saqc_flag") || col("wrtds_spike"),
          lit(null)).otherwise(col("clean")))
    val timeseries = fin.select((spec.keyCols ++ Seq(spec.tsCol, col("raw"),
      col("clean"), col("accepted"), col("saqc_flag"), col("sm_masked"),
      col("sm_flagged"), col("sm_flagreason"), col("qcband_top"),
      col("qcband_bottom"))): _*)
    tr.span("pipeline.write") {
      write(Pipeline.Result(timeseries, events, seasonal, meta), job, out)
    }

    () => {
      val rowsIn = long.count()
      val (bytes, files) = outputSize(new File(out))
      Map(
        "sources.rows_in" -> rowsIn.toDouble,
        "sources.dup_dropped" -> (rowsIn - dd.count()).toDouble,
        "operators.clean.rows_masked_sentinel" ->
          clean.filter(col("sentinel_flag")).count().toDouble,
        "operators.clean.rows_masked_gap" -> clean.filter(col("is_gap")).count().toDouble,
        "operators.events.events_out" -> events.count().toDouble,
        "operators.qc_suite.rows_flagged" -> flagged.filter(col("saqc_flag")).count().toDouble,
        "sentem.rows_flagged" ->
          withSm.filter(coalesce(col("sm_flagged"), lit(false))).count().toDouble,
        "pipeline.write.bytes_out" -> bytes.toDouble,
        "pipeline.write.files_out" -> files.toDouble)
    }
  }

  /** Per-variable range bounds as a when-chain (NULL = unbounded). */
  private def rangeCols(cfg: PipelineConfig, vc: Column): (Column, Column) = {
    def chain(bound: VariableConfig => Option[Double]): Column =
      cfg.variables.foldLeft(lit(null).cast("double")) { case (acc, (v, c)) =>
        bound(c).map(m => when(vc === v, lit(m)).otherwise(acc)).getOrElse(acc)
      }
    (chain(_.rangeMin), chain(_.rangeMax))
  }

  private def nullSentem(d: DataFrame): DataFrame = d
    .withColumn("sm_masked", lit(null).cast("double"))
    .withColumn("sm_flagged", lit(null).cast("boolean"))
    .withColumn("sm_flagreason", lit(null).cast("string"))
    .withColumn("qcband_top", lit(null).cast("double"))
    .withColumn("qcband_bottom", lit(null).cast("double"))

  /** Bytes and count of the data files under `dir` (no checksums or
    * commit markers).
    */
  def outputSize(dir: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val data = walk(dir).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    (data.map(_.length).sum, data.size.toLong)
  }

  /** Order-insensitive digest of each written table: row count and
    * the exact sum of per-row 64-bit hashes.
    */
  def digests(spark: SparkSession, out: String): Map[String, String] = {
    def csv(p: String) = spark.read.option("header", "true").csv(p)
    Map(
      "timeseries" -> spark.read.parquet(s"$out/processed/qc_timeseries.parquet"),
      "events" -> csv(s"$out/tables/events_all.csv"),
      "seasonal" -> csv(s"$out/tables/seasonal_all.csv"),
      "meta" -> csv(s"$out/tables/meta.csv"))
      .map { case (k, df) => k -> digest(df) }
  }

  def digest(df: DataFrame): String =
    if (df.columns.isEmpty) "0:0"
    else {
      val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
        .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
        .head()
      s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
    }
}
