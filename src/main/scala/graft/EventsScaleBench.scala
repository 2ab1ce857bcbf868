package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Sessionize
import graft.operators.AsOf

/** Scale-evidence microbench for the behavioral/temporal operator
  * family (sessionize / funnel / as-of / compaction): replicates the
  * events table across N synthetic user populations (user axis — the
  * partition axis all four operators key on) and times each operator
  * at N ∈ {1, 8, 32}. Per-user work is identical across N; only the
  * key cardinality and row volume widen — the direct test of the
  * "one shuffle on the user key, embarrassingly parallel per key"
  * scale claim (same methodology as GoldenBench's station axis).
  * Median of 3 forced runs per cell after one warmup pass. Output: one
  * line per (op, N) with rows/s on the REPLICATED input size.
  */
object EventsScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val gap = 6L * 3600000000L

    def replicated(n: Int): DataFrame = {
      val ev0 = graft.sources.Tables.events(spark, dir)
      if (n <= 1) ev0
      else ev0
        .withColumn("__r", explode(sequence(lit(0L), lit(n - 1L))))
        .withColumn("user_id", col("user_id") + col("__r") * 1000000L)
        .drop("__r")
    }

    def ops(ev: DataFrame): Seq[(String, () => DataFrame)] = Seq(
      "sessionize" -> (() =>
        Sessionize.sessionize(ev, "user_id", "ts", gap)),
      "funnel" -> (() =>
        Sessionize.funnel(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))),
      "asof" -> (() => {
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("purchase_us"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), unix_micros(col("ts")).as("view_us"),
            col("value"))
          .groupBy("user_id", "view_us").agg(max("value").as("view_value"))
        AsOf.asofJoin(purchases, views, "user_id", "purchase_us", "view_us",
          Seq("view_value"))
      }),
      "compact" -> (() =>
        Sessionize.compactLatest(
          ev.select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("event_id")),
          Seq("user_id", "event_type"), "ts_us", "event_id")),
      "scd2" -> (() =>
        Sessionize.scdIntervals(
          ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("value")),
          Seq("user_id"), "ts_us", "event_id")),
      // hop windows key on TIME, not user, so replication widens rows
      // per (window, type) cell rather than cell count — the map-side
      // combine must absorb the extra volume for wall time to stay flat
      "hop" -> (() =>
        Sessionize.hoppingCounts(ev, "ts", "2 hours", "1 hour",
          Seq("event_type"))))

    for (n <- Seq(1, 8, 32)) {
      val ev = replicated(n)
      val inRows = ev.count()
      ops(ev).foreach { case (name, build) =>
        val run = () => Force.force(build())
        run() // warmup (codegen + scan cache)
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }.sorted
        val med = times(1)
        println(f"EVSCALE op=$name%-10s n=$n%2d rows=$inRows%9d " +
          f"median=$med%7.3f s thru=${inRows / med / 1e6}%6.2f Mrows/s")
      }
    }
    spark.stop()
  }
}
