package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.SeriesSpec
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.sources.Ingest

class CliSpec extends SparkTestBase {

  /** A wide two-variable CSV at 15-min cadence with the anomalies the
    * pipeline must handle: a duplicated timestamp (keep-first), a 3 h
    * hole (> the 2 h gap threshold), a flat run of `do` and a -9999
    * sentinel in `ph`.
    */
  private def writeCsv(path: Path): Unit = {
    val t0 = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
    val rows = (0 until 300).filterNot(i => i >= 120 && i < 132).flatMap { i =>
      val ts = t0.plusMinutes(15L * i).toString.replace('T', ' ')
      val doV = if (i >= 40 && i < 60) 8.0 else 8.0 + math.sin(i / 7.0)
      val phV = if (i == 200) -9999.0 else 7.0 + 0.1 * math.cos(i / 5.0)
      val row = f"$ts:00,$doV%.4f,$phV%.4f"
      if (i == 80) Seq(row, f"$ts:00,99.0,99.0") else Seq(row)
    }
    Files.write(path, ("timestamp,do,ph" +: rows).asJava)
  }

  /** The four tables a run writes, each as sorted row strings. */
  private def tables(out: String): Seq[Seq[String]] = {
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val csv = spark.read.option("header", "true")
    rows(spark.read.parquet(s"$out/processed/qc_timeseries.parquet")) +:
      Seq("events_all", "seasonal_all", "meta").map(t =>
        rows(csv.csv(s"$out/tables/$t.csv")))
  }

  test("Cli in a fresh JVM writes the tables Pipeline.run + write give in-process") {
    val dir = Files.createTempDirectory("clispec")
    val csvPath = dir.resolve("wide.csv")
    writeCsv(csvPath)
    val cliOut = dir.resolve("cli").toString

    // a child JVM, so Cli builds its own session the way a user's run
    // does (in-process getOrCreate would reuse this suite's session)
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmFlags ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.Cli",
        "--csv", csvPath.toString, "--station", "st 1", "--out", cliOut,
        "--vars", "do,ph")
    val log = dir.resolve("cli.log").toFile
    val proc = new ProcessBuilder(cmd: _*).directory(dir.toFile)
      .redirectErrorStream(true).redirectOutput(log).start()
    val code = proc.waitFor()
    def tail = Files.readAllLines(log.toPath).asScala
      .filterNot(_.trim.startsWith("at ")).takeRight(40).mkString("\n")
    assert(code == 0, s"Cli exited with $code:\n$tail")

    val wide = Ingest.readCsvTimeSeries(spark, csvPath.toString)
      .withColumn("station", lit("st 1"))
      .withColumn("__seq", monotonically_increasing_id())
    val long = Ingest.melt(wide, Seq("station", "ts", "__seq"), Seq("do", "ph"))
    val spec = SeriesSpec(Seq("station", "variable"))
    val deduped = Ingest.ensureTimeIndex(long, spec, col("__seq")).drop("__seq")
    val result = Pipeline.run(deduped, spec,
      PipelineConfig(variables = Seq("do", "ph").map(_ -> VariableConfig()).toMap),
      variableCol = Some("variable"))
    val refOut = dir.resolve("ref").toString
    Pipeline.write(result, refOut, "station", "variable", "ts", Seq("do", "ph"))

    val got = tables(cliOut)
    val want = tables(refOut)
    assert(got(0).size == 288, "one wide row per distinct timestamp")
    assert(got(3).size == 2, "one meta row per variable")
    assert(got(1).exists(_.contains("flat_values")), s"the flat run is an event: ${got(1)}")
    Seq("timeseries", "events", "seasonal", "meta").zip(got.zip(want)).foreach {
      case (t, (g, w)) => assert(g == w, s"$t differs")
    }
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    rm(dir.toFile)
  }

  test("Cli names a missing required flag") {
    val noCsv = intercept[IllegalArgumentException](Cli.main(Array("--vars", "do")))
    assert(noCsv.getMessage.contains("--csv") && noCsv.getMessage.contains("usage"))
    val noVars = intercept[IllegalArgumentException](Cli.main(Array("--csv", "x.csv")))
    assert(noVars.getMessage.contains("--vars"))
  }
}
