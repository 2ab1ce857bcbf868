package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.SeriesSpec
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.sources.Ingest

/** Same-data throughput comparison against the reference: run the full
  * EP1 pipeline (sentinel mask, gap classify, 3 event detectors,
  * seasonal stats, 9-check QC suite, accepted projection, meta) over
  * the reference's OWN golden corpus — 94,077 rows x 5 variables — and
  * print wall time. tools/time_reference.py times the reference's
  * `process_variable` on the identical input (plots/sentem off there;
  * sentem off here to match).
  *
  * The reference iterates variables serially in one process; here the
  * 5 variables are one long-form DataFrame and the per-variable loop
  * is the partition axis.
  *
  * Usage: graft.GoldenBench [reps] [stations] — `reps` timed passes
  * (default 3) over the corpus replicated to `stations` synthetic
  * stations (default 1).
  */
object GoldenBench {
  /** The reference's committed outputs (the golden corpus), read here
    * and by the golden-parity specs.
    */
  val GoldDir = "/root/reference/scripts/water_qc_output"

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()

    val wide = spark.read.parquet(
      s"$GoldDir/processed/Erkenruh_Einruhr/Erkenruh_Einruhr__qc_timeseries.parquet")
    val ranges = Seq( // MAIN range_map (ufz_water_qc_pipeline.py:788-794)
      ("SurfaceWaterConcentration_O2_mg_L-1", 0.0, 40.0),
      ("SurfaceWaterpH_pH", 0.0, 13.0),
      ("SurfaceWaterTurbidity_NTU", 0.0, 4000.0),
      ("SurfaceWaterConcentration_NO3_Trios_mg_L-1", 0.0, 35.0),
      ("SurfaceWaterConcentration_NO3_YSI_mg_L-1", 0.0, 35.0))
    val long = Ingest.nanToNull(
      ranges.map { case (v, _, _) =>
        wide.select(lit("Erkenruh_Einruhr").as("station"), lit(v).as("variable"),
          timestamp_micros(expr("timestamp div 1000")).as("ts"),
          col(s"${v}__raw").as("value"))
      }.reduce(_ unionByName _), Seq("value"))
    // Multi-series scaling mode: replicate the corpus to N synthetic
    // stations (station__r0..r{N-1}) — the direct test of the "more
    // series = more parallelism" scale claim: per-series work is
    // identical, only the partition axis widens. N=1 → the plain
    // 5-series golden corpus.
    val nStations = if (args.length > 1) args(1).toInt else 1
    val longN = if (nStations <= 1) long else
      long.withColumn("__r", explode(array((0 until nStations).map(lit(_)): _*)))
        .withColumn("station", concat(col("station"), lit("__r"), col("__r")))
        .drop("__r")
    val spec = SeriesSpec(Seq("station", "variable"))
    val vcfg = ranges.map { case (v, lo, hi) =>
      v -> VariableConfig(rangeMin = Some(lo), rangeMax = Some(hi))
    }.toMap
    // k at the 15-min step: '6h' -> 24, '24h' -> 96 (same as goldens)
    val cfg = PipelineConfig(kVariance = 24, kZscore = 96,
      applySentem = false, variables = vcfg)

    def once(): (Long, Long, Long, Long) = {
      val r = Pipeline.run(longN, spec, cfg, variableCol = Some("variable"))
      val res = (r.timeseries.count(), r.events.count(),
        r.seasonal.count(), r.meta.count())
      graft.core.Caches.unpersistAll()
      res
    }
    val reps = if (args.nonEmpty) args(0).toInt else 3
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val (nts, nev, nse, nme) = once()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[golden-bench] rep $i: $sec%.2f s " +
        f"(stations=$nStations series=${5 * nStations.max(1)} " +
        f"timeseries=$nts events=$nev seasonal=$nse meta=$nme " +
        f"rows_per_s=${nts / sec}%.0f)")
    }
    spark.stop()
  }
}
