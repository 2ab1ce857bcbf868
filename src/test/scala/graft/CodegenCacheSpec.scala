package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.core.{Caches, SeriesSpec}
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}

/** A repeated QC pass in one session reuses the classes Spark generated
  * for the first one: the session's codegen cache holds a whole pass.
  * At Spark's default of 100 entries the cache thrashes and the second
  * pass recompiles about as many classes as the first.
  */
class CodegenCacheSpec extends SparkTestBase {

  test("a second Pipeline.run + write compiles at most a quarter of the first's classes") {
    import spark.implicits._
    val t0 = java.time.LocalDateTime.of(2024, 5, 1, 0, 0)
    val rows = for (net <- Seq(7, 9); v <- Seq("x", "y"); i <- 0 until 300) yield {
      val value =
        if (i % 97 == 5) Some(-9999.0) // sentinels
        else if (i >= 120 && i < 132) Some(3.25) // a flat run
        else if (i % 50 == 7) None
        else Some(3.0 + math.sin(i / 9.0) + (if (v == "y") 0.4 else 0.0))
      // a 3 h hole after row 200
      val ts = t0.plusMinutes(15L * i + (if (i > 200) 180 else 0))
      (net, v, ts.toString.replace('T', ' '), value)
    }
    val df = rows.toDF("net", "variable", "ts_s", "value")
      .withColumn("station", lit("s")).withColumn("ts", to_timestamp($"ts_s"))
      .select("net", "station", "variable", "ts", "value")
    // three series keys, one of them an int, and literals no other
    // suite uses: the first pass finds few of its classes cached by an
    // earlier suite, so it compiles far more than the few dozen classes
    // a repeated pass can recompile when its plan comes out different.
    // Sentem stays off: its classes differ from pass to pass.
    val spec = SeriesSpec(Seq("net", "station", "variable"))
    val cfg = PipelineConfig(gapHours = 2.25, flatHours = 1.75, kVariance = 11,
      kZscore = 37, jumpThresh = 4.375, applySentem = false,
      variables = Map("x" -> VariableConfig(Some(0.125), Some(9.875)),
        "y" -> VariableConfig(Some(0.0625), Some(8.5))))
    val out = Files.createTempDirectory("codegen-cache").toString

    def pass(i: Int): Long = {
      val c0 = QueryTrace.compiles
      Pipeline.write(Pipeline.run(df, spec, cfg, variableCol = Some("variable")),
        s"$out/$i", "station", "variable", "ts", Seq("x", "y"))
      Caches.unpersistAll(blocking = true)
      QueryTrace.compiles - c0
    }
    val first = pass(1)
    val second = pass(2)
    info(s"compiles: first pass $first, second pass $second")
    assert(first > 100)
    assert(second * 4 <= first)
  }
}
