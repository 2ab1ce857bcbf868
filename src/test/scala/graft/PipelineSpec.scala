package graft

import org.apache.spark.sql.functions._
import graft.core.SeriesSpec
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.wrtds.Wrtds

class PipelineSpec extends SparkTestBase {

  private def mkSeries(n: Int, f: Int => Option[Double], stepMin: Long = 15) = {
    import spark.implicits._
    (0 until n).map { i =>
      ("st1", "v1",
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusMinutes(stepMin * i)
          .toString.replace('T', ' '), f(i))
    }.toDF("station", "variable", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
  }

  private val spec = SeriesSpec(Seq("station", "variable"))

  test("accepted mask: saqc flags null it, sentem flags do NOT (trap 11)") {
    // constant-ish series with one range violation (saqc) at i=50;
    // sentem O2 rules flag >=40 -> most values sentem-flagged, but
    // accepted only loses the range violation.
    val df = mkSeries(100, i => Some(if (i == 50) 150.0 else 45.0 + (i % 7)))
    val cfg = PipelineConfig(gapHours = 24.0, kVariance = 6, kZscore = 8,
      flatHours = 1e9, // disable plateau flags for this fixture
      jumpThresh = 1e9,
      variables = Map("v1" -> VariableConfig(rangeMin = Some(0.0),
        rangeMax = Some(100.0), sentemCode = Some(400))))
    val out = Pipeline.run(df, spec, cfg, variableCol = Some("variable"))
      .timeseries.orderBy("ts").collect()
    val flaggedRow = out(50)
    assert(flaggedRow.getAs[Boolean]("saqc_flag"))
    assert(flaggedRow.isNullAt(flaggedRow.fieldIndex("accepted")))
    // a sentem-flagged (>=40 sensor rule) but saqc-clean row keeps accepted
    val smRow = out(10)
    assert(smRow.getAs[Boolean]("sm_flagged"))
    assert(!smRow.getAs[Boolean]("saqc_flag"))
    assert(!smRow.isNullAt(smRow.fieldIndex("accepted")))
    // sentem masked value null where flagged, in raw units
    assert(smRow.isNullAt(smRow.fieldIndex("sm_masked")))
  }

  test("wide pivot produces <var>__<field> columns") {
    val df = mkSeries(20, i => Some(10.0 + i))
    val cfg = PipelineConfig(kVariance = 6, kZscore = 8, applySentem = false)
    val r = Pipeline.run(df, spec, cfg, variableCol = Some("variable"))
    val w = Pipeline.wide(r.timeseries, "station", "variable", "ts", Seq("v1"))
    val cols = w.columns.toSet
    assert(Seq("v1__raw", "v1__clean", "v1__accepted", "v1__saqc_flag",
      "v1__sm_masked").forall(cols.contains))
    assert(w.count() == 20)
  }

  private def layout(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}")

  test("the four Result tables and the wide pivot keep their column layout") {
    import spark.implicits._
    val df = mkSeries(60, i => Some(if (i < 6) -9.0 else 20.0 + (i % 5)))
      .union(mkSeries(60, i => Some(7.0 + i * 0.01)).withColumn("variable", lit("v2")))
    val cfg = PipelineConfig(kVariance = 6, kZscore = 8, applySentem = false,
      variables = Map("v1" -> VariableConfig(rangeMin = Some(0.0), rangeMax = Some(50.0)),
        "v2" -> VariableConfig(rangeMax = Some(7.205))))
    val r = Pipeline.run(df, spec, cfg, variableCol = Some("variable"))
    val keys = Seq("station:string", "variable:string")
    assert(layout(r.timeseries) == keys ++ Seq("ts:timestamp", "raw:double",
      "clean:double", "accepted:double", "saqc_flag:boolean", "sm_masked:double",
      "sm_flagged:boolean", "sm_flagreason:string", "qcband_top:double",
      "qcband_bottom:double"))
    assert(layout(r.events) == keys ++ Seq("start:timestamp", "end:timestamp",
      "pre:timestamp", "post:timestamp", "pre_val:double", "post_val:double",
      "type:string", "hours:double"))
    assert(layout(r.seasonal) == keys ++ Seq("season:string", "n_obs:bigint",
      "n_missing:bigint", "expected_pts:bigint", "coverage_pct:double",
      "nan_pct:double", "flat_values_events:bigint", "flat_slopes_events:bigint"))
    assert(layout(r.meta) == keys ++ Seq("step_us:double",
      "sentinel_used:array<double>", "wrtds_ok:boolean"))
    val fields = Seq("raw:double", "clean:double", "accepted:double",
      "saqc_flag:boolean", "sm_masked:double", "sm_flagged:boolean",
      "sm_flagreason:string")
    val w = Pipeline.wide(r.timeseries, "station", "variable", "ts", Seq("v2", "v1"))
    assert(layout(w) == Seq("station:string", "ts:timestamp") ++
      Seq("v2", "v1").flatMap(v => fields.map(f => s"${v}__$f")))
    // the range check is per variable: v2 is flagged above 7.205 only
    assert(r.timeseries.filter($"variable" === "v2" && $"saqc_flag").count() == 39)
    graft.core.Caches.unpersistAll()
  }

  test("name sanitizer collapses illegal path characters to underscores") {
    import graft.sources.Ingest
    // reference _sanitize: re.sub('[^A-Za-z0-9._-]+', '_', s)
    assert(Ingest.sanitizeName("Erkenruh/Einruhr (O2) [mg L-1]") ==
      "Erkenruh_Einruhr_O2_mg_L-1_")
    assert(Ingest.sanitizeName("already_OK-1.2") == "already_OK-1.2")
    import spark.implicits._
    val out = Seq("a b//c").toDF("s")
      .select(Ingest.sanitizeNameCol(org.apache.spark.sql.functions.col("s")))
      .head().getString(0)
    assert(out == "a_b_c")
  }

  test("pipeline meta carries step, sentinel list, wrtds_ok") {
    val df = mkSeries(50, i => Some(if (i < 6) -9.0 else 20.0 + i))
    val cfg = PipelineConfig(kVariance = 6, kZscore = 8, applySentem = false)
    val m = Pipeline.run(df, spec, cfg, variableCol = Some("variable")).meta.head()
    assert(m.getAs[Double]("step_us") == 15 * 60 * 1e6)
    assert(m.getAs[scala.collection.Seq[Double]]("sentinel_used").toSeq == Seq(-9.0))
    assert(!m.getAs[Boolean]("wrtds_ok"))
  }

  test("wrtds recovers a smooth seasonal trend and spikes an outlier") {
    import spark.implicits._
    // daily samples over 2 years: linear + annual sine, one big outlier
    val rows = (0 until 730).map { i =>
      val base = 50.0 + 0.01 * i + 10 * math.sin(2 * math.Pi * i / 365.25)
      ("s", java.time.LocalDateTime.of(2022, 1, 1, 12, 0, 0).plusDays(i.toLong)
        .toString.replace('T', ' '),
        Some(if (i == 400) base + 200 else base))
    }
    val df = rows.toDF("series", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s")).select("series", "ts", "value")
    val sspec = SeriesSpec(Seq("series"))
    val fit = Wrtds.buster(Wrtds.proxy(df, sspec), sspec)
    val spikes = fit.filter(col("wrtds_spike")).select("ts").collect()
    assert(spikes.length >= 1 &&
      spikes.exists(_.getAs[java.sql.Timestamp]("ts").toString.startsWith("2023-02-05")))
    // residuals away from the outlier are small relative to signal
    val medResid = fit.filter(abs(col("wrtds_resid")) < 100)
      .agg(median(abs(col("wrtds_resid")))).head().getDouble(0)
    assert(medResid < 1.0)
  }

  test("SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
