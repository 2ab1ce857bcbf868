package graft

import org.apache.spark.sql.functions._
import graft.core.{SeriesSpec, TimeIndex}
import graft.operators.{Gaps, Runs, Seasonal}

/** Micro-fixtures for the SURVEY §4.2 semantic traps (FIXTURES.md §C). */
class RunsSpec extends SparkTestBase {

  private val spec = SeriesSpec(Seq("series"))

  // -- gap_first_sample: gap masks ONLY the first post-gap point ------------
  test("gap masks only the first post-gap sample") {
    val df = series(
      ("2024-01-01 00:00:00", v(1.0)),
      ("2024-01-01 00:15:00", v(2.0)),
      ("2024-01-01 05:00:00", v(3.0)), // >2h after prev -> masked
      ("2024-01-01 05:15:00", v(4.0))) // NOT masked
    val out = Gaps(TimeIndex.withDeltaUs(df, spec), spec, gapHours = 2.0)
      .orderBy("ts").select("value").collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(Some(1.0), Some(2.0), None, Some(4.0)))
  }

  // -- flat_run_offset: reference pseudo-RLE marker semantics --------------
  // (expectations validated against the reference's rle_bool on the
  // same vectors; see Rle.scala for why this is not a true RLE)
  test("flat run start at second sample of stretch, end at last equal sample") {
    // 5,5,5,5,7: eq=[F,T,T,T,F] -> markers at rows 1 and 3 -> one run
    // start 01:00 (2nd sample), end 03:00 (LAST equal sample), 2h
    val df = series(
      ("2024-01-01 00:00:00", v(5.0)),
      ("2024-01-01 01:00:00", v(5.0)),
      ("2024-01-01 02:00:00", v(5.0)),
      ("2024-01-01 03:00:00", v(5.0)),
      ("2024-01-01 04:00:00", v(7.0)))
    val runs = Runs.flatValues(df, spec, minHours = 2.0)
      .orderBy("start").collect()
    assert(runs.length == 1)
    val r = runs.head
    assert(r.getAs[java.sql.Timestamp]("start").toString.startsWith("2024-01-01 01:00:00"))
    assert(r.getAs[java.sql.Timestamp]("end").toString.startsWith("2024-01-01 03:00:00"))
    assert(r.getAs[Double]("hours") == 2.0)
    assert(r.getAs[Double]("value") == 5.0)
    // 5,5,5,7,7: eq=[F,T,T,F,T] -> single run (1,1): 1h -> dropped
    val df2 = series(
      ("2024-01-01 00:00:00", v(5.0)),
      ("2024-01-01 01:00:00", v(5.0)),
      ("2024-01-01 02:00:00", v(5.0)),
      ("2024-01-01 03:00:00", v(7.0)),
      ("2024-01-01 04:00:00", v(7.0)))
    assert(Runs.flatValues(df2, spec, minHours = 2.0).count() == 0)
  }

  test("flat run reaching series end clamps end to last sample") {
    val df = series(
      ("2024-01-01 00:00:00", v(1.0)),
      ("2024-01-01 01:00:00", v(5.0)),
      ("2024-01-01 02:00:00", v(5.0)),
      ("2024-01-01 04:00:00", v(5.0)))
    val runs = Runs.flatValues(df, spec, minHours = 2.0).collect()
    assert(runs.length == 1)
    assert(runs.head.getAs[java.sql.Timestamp]("start").toString.startsWith("2024-01-01 02:00:00"))
    assert(runs.head.getAs[java.sql.Timestamp]("end").toString.startsWith("2024-01-01 04:00:00"))
  }

  test("NaN/null values never extend a flat run") {
    val df = series(
      ("2024-01-01 00:00:00", v(5.0)),
      ("2024-01-01 01:00:00", na),
      ("2024-01-01 02:00:00", v(5.0)),
      ("2024-01-01 03:00:00", v(5.0)))
    // only one eq pair (02->03): run start 03:00, 1h to end-of-series clamp -> 0h -> dropped
    assert(Runs.flatValues(df, spec, minHours = 2.0).count() == 0)
  }

  // -- binary_switch_edges --------------------------------------------------
  test("binary switch with finite nonzero neighbors emits pre/post values") {
    // z=[F,T,T,F] -> pseudo-RLE run (1,1): start=end=01:00, post is the
    // NEXT MARKER row 02:00 (still zero) -- matches the reference,
    // which emits pre_val 12.5 / post_val 0.0 here
    val df = series(
      ("2024-01-01 00:00:00", v(12.5)),
      ("2024-01-01 01:00:00", v(0.0)),
      ("2024-01-01 02:00:00", v(0.0)),
      ("2024-01-01 03:00:00", v(8.0)))
    val e = Runs.binarySwitches(df, spec).collect()
    assert(e.length == 1)
    val r = e.head
    assert(r.getAs[java.sql.Timestamp]("start").toString.startsWith("2024-01-01 01:00:00"))
    assert(r.getAs[java.sql.Timestamp]("end").toString.startsWith("2024-01-01 01:00:00"))
    assert(r.getAs[java.sql.Timestamp]("pre").toString.startsWith("2024-01-01 00:00:00"))
    assert(r.getAs[java.sql.Timestamp]("post").toString.startsWith("2024-01-01 02:00:00"))
    assert(r.getAs[Double]("pre_val") == 12.5 && r.getAs[Double]("post_val") == 0.0)
  }

  test("zero-run with null neighbor emits nothing; edge cases match reference") {
    // z=[F,T,F] alternates -> pseudo-RLE produces NO runs at all
    val nullNeighbor = series(
      ("2024-01-01 00:00:00", na),
      ("2024-01-01 01:00:00", v(0.0)),
      ("2024-01-01 02:00:00", v(8.0)))
    assert(Runs.binarySwitches(nullNeighbor, spec).count() == 0)
    // z=[T,F]: no markers inside -> no runs (reference behavior)
    val edge = series(
      ("2024-01-01 00:00:00", v(0.0)),
      ("2024-01-01 01:00:00", v(8.0)))
    assert(Runs.binarySwitches(edge, spec).count() == 0)
    // all-zero series z=[T,T]: run (0,1); pre and post clamp to zeros
    // -> suppressed by the (pre!=0 or post!=0) condition
    val allZero = series(
      ("2024-01-01 00:00:00", v(0.0)),
      ("2024-01-01 01:00:00", v(0.0)))
    assert(Runs.binarySwitches(allZero, spec).count() == 0)
  }

  // -- isolated_group -------------------------------------------------------
  test("isolated: short finite run fenced by >3h gaps on both sides") {
    // z=[T,T,F,T,T,F,T] -> pseudo-RLE runs (0,1),(1,2),(3,1); only
    // run (3,1) has >3h deltas on both edges and length <= grp_pts
    val df = series(
      ("2024-01-01 00:00:00", v(1.0)),
      ("2024-01-01 00:15:00", v(1.5)),
      ("2024-01-01 00:30:00", na),
      ("2024-01-01 04:30:00", v(5.0)),  // 4h gap before -> isolated
      ("2024-01-01 08:00:00", v(6.0)),  // 3.5h gap before it (right fence)
      ("2024-01-01 08:15:00", na),
      ("2024-01-01 08:30:00", v(7.0)))
    val d = TimeIndex.withDeltaUs(df, spec)
    val step = TimeIndex.inferStep(d, spec)
    val out = Runs.isolatedMask(d, spec, step, gapHours = 3.0)
      .orderBy("ts").select("isolated").collect().map(_.getBoolean(0))
    assert(out.toSeq == Seq(false, false, false, true, false, false, false))
  }

  // -- dup_keepfirst_then_median -------------------------------------------
  test("dedup keep-first by tiebreaker precedes everything") {
    import spark.implicits._
    val df = Seq(
      ("s", "2024-01-01 00:00:00", 1.0, 10L),
      ("s", "2024-01-01 00:00:00", 99.0, 11L), // dropped (later tiebreak)
      ("s", "2024-01-01 00:15:00", 2.0, 12L))
      .toDF("series", "ts_s", "value", "seq")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    val out = TimeIndex.dedupKeepFirst(df, spec, col("seq"))
      .orderBy("ts").select("value").as[Double].collect()
    assert(out.toSeq == Seq(1.0, 2.0))
  }

  test("dedup keep-first in the series partitioning equals the row_number reference") {
    import spark.implicits._
    // duplicate ts, several null-ts rows per series, a single-row
    // series, and tiebreaks that disagree with the row order
    val rng = new scala.util.Random(7)
    val stamps = None +: (0 until 6).map(i => Some(f"2024-01-01 0$i:00:00"))
    val rows = (0 until 200).map { i =>
      val s = if (i == 0) "solo" else s"s${1 + rng.nextInt(5)}"
      (s, stamps(rng.nextInt(stamps.size)).orNull, i.toDouble, rng.nextLong())
    }
    val df = rows.toDF("series", "ts_s", "value", "seq")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    def kept(d: org.apache.spark.sql.DataFrame) =
      d.select("seq").as[Long].collect().sorted.toSeq
    val ours = kept(TimeIndex.dedupKeepFirst(df, spec, col("seq")))
    assert(ours == kept(graft.core.TimeIndexReference.dedupKeepFirst(df, spec, col("seq"))))
    // one row per distinct (series, ts), the null ts counted once
    assert(ours.size == rows.map(r => (r._1, r._2)).distinct.size)
  }

  // -- season_multiyear_coverage -------------------------------------------
  test("seasonal expected points span first-to-last ts per season across years") {
    val df = series(
      ("2023-01-01 00:00:00", v(1.0)), // DJF year 1
      ("2024-01-01 00:00:00", v(2.0)), // DJF year 2 -> expected spans a full year
      ("2023-06-01 00:00:00", v(3.0))) // JJA singleton
    val d = TimeIndex.withDeltaUs(df, spec)
    // force step to 1 day for easy arithmetic
    val step = d.groupBy("series").agg(lit(86400.0 * 1e6).as("step_us"))
    val out = Seasonal.stats(d, spec, step).collect()
      .map(r => r.getAs[String]("season") -> r.getAs[Long]("expected_pts")).toMap
    assert(out("DJF") == 366L) // 2023-01-01..2024-01-01 = 365d span + 1 step
    assert(out("JJA") == 1L)
  }
}
