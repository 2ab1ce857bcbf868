package graft

import org.apache.spark.sql.functions._
import graft.core.SeriesSpec
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.report.{Figures, Plot}

/** PNG figure sink: the report layer renders real PNGs headlessly and
  * the downsampler bounds what crosses the driver boundary.
  */
class FiguresSpec extends SparkTestBase {

  private val spec = SeriesSpec(Seq("station", "variable"))

  private def mkSeries(n: Int, f: Int => Option[Double]) = {
    import spark.implicits._
    (0 until n).map { i =>
      ("st1", "v1",
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusMinutes(15L * i)
          .toString.replace('T', ' '), f(i))
    }.toDF("station", "variable", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
  }

  test("downsample keeps <= cap points per series in time order") {
    val df = mkSeries(1000, i => Some(i.toDouble))
    val out = Figures.downsample(df, spec, cap = 100)
      .orderBy("ts").select("value").collect().map(_.getDouble(0))
    assert(out.length <= 100 && out.length >= 50) // ceil stride: hard <= cap
    assert(out.toSeq == out.sorted.toSeq) // order preserved
    assert(out.head == 0.0) // first sample kept
    // adversarial n just under 2*cap: floor stride would keep ALL 199
    val tight = Figures.downsample(mkSeries(199, i => Some(i.toDouble)), spec,
      cap = 100).count()
    assert(tight <= 100 && tight >= 50, s"cap bound violated: $tight")
  }

  test("decimal-hist figure data matches golden-derived bar heights") {
    // Figure CONTENT parity, not pixels: the decimal-histogram bar
    // heights computed by the figure layer over the golden corpus's
    // committed O2 raw series must equal the histogram derived
    // independently (plain Scala over the collected values, same
    // first-fractional-digit binning as plot_decimal_hist).
    val gold = spark.read.parquet(s"${GoldenBench.GoldDir}/" +
      "processed/Erkenruh_Einruhr/Erkenruh_Einruhr__qc_timeseries.parquet")
      .select(col("SurfaceWaterConcentration_O2_mg_L-1__raw").as("clean"))
      .filter(!isnan(col("clean")))
    val (centers, heights) = Figures.decimalHist(gold, "clean")
    assert(centers.toSeq == (0 until 10).map(b => b / 10.0 + 0.05))
    val vals = gold.collect().map(_.getDouble(0))
    val expected = new Array[Double](10)
    vals.foreach { v =>
      val frac = ((v % 1.0) + 1.0) % 1.0 // pmod semantics
      expected(math.min(9, (frac * 10).toInt)) += 1
    }
    assert(vals.length > 90000, s"golden O2 series unexpectedly small: ${vals.length}")
    assert(heights.toSeq == expected.toSeq,
      s"bar heights ${heights.toSeq} != golden-derived ${expected.toSeq}")
  }

  test("coverage heatmap matrix matches the golden seasonal summary") {
    // Figure CONTENT parity: the DJF/MAM/JJA/SON coverage matrix the
    // heatmap plots, built from OUR seasonal stats over the golden O2
    // raw series, must equal the reference's committed
    // __seasonal_summary.csv coverage_pct values.
    // same prep as the reference (and GoldenSpec): +01:00 wall time
    // (seasons bin by LOCAL month), sentinels → delta → 2h gap mask
    val v = "SurfaceWaterConcentration_O2_mg_L-1"
    val sspec = SeriesSpec(Seq("station", "variable"))
    val raw = graft.sources.Ingest.nanToNull(
      goldenWide.select(lit("st").as("station"), lit(v).as("variable"),
        timestamp_micros(expr("timestamp div 1000 + 3600000000")).as("ts"),
        col(s"${v}__raw").as("value")),
      Seq("value"))
    val d1 = graft.core.TimeIndex.withDeltaUs(
      graft.operators.Sentinels.mask(raw, sspec), sspec)
    val step = graft.core.TimeIndex.inferStep(d1, sspec)
    val clean = graft.operators.Gaps(d1, sspec, gapHours = 2.0)
    val seasonal = graft.operators.Seasonal.stats(clean, sspec, step)
    val matrix = Figures.coverageMatrix(seasonal)
    val goldCsv = scala.io.Source.fromFile(
      s"${GoldenBench.GoldDir}/reports/tables/" +
        s"Erkenruh_Einruhr/${v}__seasonal_summary.csv").getLines().toSeq
    val gold = goldCsv.drop(1).map(_.split(",")).map(c => c(0) -> c(1).toDouble).toMap
    assert(matrix.map(_._1) == Seq("DJF", "MAM", "JJA", "SON"))
    matrix.foreach { case (season, cov) =>
      val g = gold(season)
      // our seasonal stats round to 6 decimals (oracle determinism)
      assert(math.abs(cov - g) < 5e-7, s"$season: $cov != golden $g")
    }
  }

  test("quant-diffs figure series matches golden-derived |diff|") {
    // The |Δ| y-series the quant_diffs figure plots over the golden O2
    // clean series vs an independent rollup of the same column (plain
    // Scala over the collected time-sorted values, pandas diff().abs()
    // semantics: missing neighbors propagate).
    val v = "SurfaceWaterConcentration_O2_mg_L-1"
    val clean = goldenWide
      .select(lit("st").as("station"), lit(v).as("variable"),
        timestamp_micros(expr("timestamp div 1000")).as("ts"),
        col(s"${v}__clean").as("clean"))
    val cleanN = graft.sources.Ingest.nanToNull(clean, Seq("clean"))
    val sspec = SeriesSpec(Seq("station", "variable"))
    val got = Figures.withAbsDiff(cleanN, sspec)
      .orderBy("ts").select("clean", "absdiff").collect()
      .map(r => (if (r.isNullAt(0)) Double.NaN else r.getDouble(0),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
    assert(got.length > 90000)
    var prev = Double.NaN
    got.foreach { case (c, d) =>
      val exp = math.abs(c - prev) // NaN-propagating like pandas diff
      assert((d.isNaN && exp.isNaN) || d == exp, s"absdiff $d != derived $exp")
      prev = c
    }
    assert(got.count(!_._2.isNaN) > 80000, "diff series unexpectedly sparse")
  }

  test("sentem band-line data applies the reference's positive filter and gap breaks") {
    // plot_combined_log_gap (sentemqc.py:118-127): band values <= 0
    // become NaN, and a point whose time delta to its predecessor
    // exceeds 10x the inferred (median) base step is NaN'd so the line
    // breaks. Pinned on a hand-built series with both features plus a
    // golden-scale smoke check below.
    val xs = Array(0.0, 60e6, 120e6, 180e6, 1e9, 1e9 + 60e6) // 60s step, one gap
    val top = Array(1.0, -2.0, 0.0, 3.0, 4.0, 5.0)
    val line = Figures.bandLine(xs, top)
    assert(line(0) == 1.0)
    assert(line(1).isNaN, "non-positive band value must not plot")
    assert(line(2).isNaN, "zero band value must not plot (log-scale filter)")
    assert(line(3) == 3.0)
    assert(line(4).isNaN, "first point after a >10-step gap must break the line")
    assert(line(5) == 5.0)
    // golden-scale: bands computed by our SentemQC over the committed
    // O2 raw series survive the transform with plottable content
    val v = "SurfaceWaterConcentration_O2_mg_L-1"
    val raw = goldenSeries(v)
    val sspec = SeriesSpec(Seq("station", "variable"))
    val bandedDf = graft.sentem.SentemQc(
      raw.withColumnRenamed("value", "__smv"), sspec.copy(value = "__smv"),
      400, graft.sentem.SentemConfig.byCode(400), isNitrate = false)
    val banded = bandedDf
      .orderBy("ts").select("ts", "qcband_top", "qcband_bottom").collect()
    val bxs = banded.map(_.getTimestamp(0).getTime * 1000.0)
    def nn(i: Int) = banded.map(r =>
      if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
    val topLine = Figures.bandLine(bxs, nn(1))
    val botLine = Figures.bandLine(bxs, nn(2))
    // the golden O2 grid is the 5-sensor UNION grid: 89,042 of its
    // 94,077 points are 0.0 fills (absent sensor), which the
    // non-positive pre-mask nulls — so the band is defined around the
    // 5,035 positive observations only
    val n = topLine.count(!_.isNaN)
    assert(n >= 4000 && n <= 5500, s"band line finite-point count off: $n")
    // where both lines plot, top >= bottom (band geometry)
    topLine.zip(botLine).foreach { case (t, b) =>
      if (!t.isNaN && !b.isNaN) assert(t >= b, s"band inverted: $t < $b")
    }
    // the Spark-side full-resolution mask (what forVariable applies
    // before downsampling) must equal the driver-side transform
    val masked = Figures.maskBandLines(bandedDf, sspec)
      .orderBy("ts").select("qcband_top").collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    assert(masked.length == topLine.length)
    masked.zip(topLine).zipWithIndex.foreach { case ((m, t), i) =>
      assert((m.isNaN && t.isNaN) || m == t,
        s"Spark mask diverges from bandLine at $i: $m vs $t")
    }
  }

  private lazy val goldenWide = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(
      s"${GoldenBench.GoldDir}/processed/Erkenruh_Einruhr/" +
        "Erkenruh_Einruhr__qc_timeseries.parquet")
  }

  /** One golden variable's raw series in long layout (nan → null). */
  private def goldenSeries(v: String) =
    graft.sources.Ingest.nanToNull(
      goldenWide.select(lit("st").as("station"), lit(v).as("variable"),
        timestamp_micros(expr("timestamp div 1000")).as("ts"),
        col(s"${v}__raw").as("value")),
      Seq("value"))

  test("sentem-enabled pipeline draws grey QC band lines in the sentem figure") {
    // end-to-end cover of the fig-8 band path: pipeline with a sentem
    // code -> qcband columns ride the timeseries -> forVariable draws
    // the gap-broken grey lines
    val df = mkSeries(600, i =>
      if (i % 97 == 0) None else Some(8.0 + 2 * math.sin(i / 15.0)))
    val cfg = PipelineConfig(kVariance = 6, kZscore = 8, applySentem = true,
      variables = Map("v1" -> VariableConfig(sentemCode = Some(400))))
    val r = Pipeline.run(df, spec, cfg, variableCol = Some("variable"))
    assert(r.timeseries.columns.contains("qcband_top"))
    val outDir = java.nio.file.Files.createTempDirectory("figsb").toString
    val written = Figures.writeAll(r, spec, "variable", outDir, maxPoints = 500)
    graft.core.Caches.unpersistAll()
    val sentem = written.find(_.endsWith("sentem.png"))
    assert(sentem.isDefined, s"sentem figure missing: ${written.map(_.split('/').last)}")
    val img = javax.imageio.ImageIO.read(new java.io.File(sentem.get))
    var grey = 0
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      if ((img.getRGB(x, y) & 0xffffff) == (Plot.BandGrey.getRGB & 0xffffff))
        grey += 1
    assert(grey > 50, s"band lines not drawn ($grey BandGrey pixels)")
  }

  test("pipeline figures render decodable PNGs with plotted content") {
    // a series with flags, flat runs and gaps so every figure has data
    val df = mkSeries(600, i =>
      if (i % 97 == 0) None
      else if (i > 200 && i < 230) Some(42.0)            // flat run
      else Some(20.0 + 10 * math.sin(i / 20.0) + (if (i == 300) 500.0 else 0.0)))
    val cfg = PipelineConfig(kVariance = 6, kZscore = 8, applySentem = false)
    val r = Pipeline.run(df, spec, cfg, variableCol = Some("variable"))
    val outDir = java.nio.file.Files.createTempDirectory("figs").toString
    val written = Figures.writeAll(r, spec, "variable", outDir, maxPoints = 500)
    graft.core.Caches.unpersistAll()
    val names = written.map(_.split('/').last).toSet
    assert(Set("series_raw_clean.png", "flags.png", "flat_events.png",
      "quant_diffs.png", "decimal_hist.png", "coverage.png",
      "gaussian_compare.png").subsetOf(names), s"missing figures: $names")
    written.foreach { p =>
      val img = javax.imageio.ImageIO.read(new java.io.File(p))
      assert(img != null, s"$p does not decode")
      assert(img.getWidth >= 300 && img.getHeight >= 200)
      // plotted content: some pixels are neither white nor black frame
      var colored = 0
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y) & 0xffffff
        if (rgb != 0xffffff && rgb != 0x000000) colored += 1
      }
      assert(colored > 100, s"$p looks empty ($colored colored pixels)")
    }
    // the raw/clean figure carries both series colors
    val rc = javax.imageio.ImageIO.read(
      new java.io.File(written.find(_.endsWith("series_raw_clean.png")).get))
    def hasColor(c: java.awt.Color): Boolean = {
      for (y <- 0 until rc.getHeight; x <- 0 until rc.getWidth)
        if ((rc.getRGB(x, y) & 0xffffff) == (c.getRGB & 0xffffff)) return true
      false
    }
    assert(hasColor(Plot.Raw) && hasColor(Plot.Blue))
  }
}
