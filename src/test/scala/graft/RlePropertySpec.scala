package graft

import org.apache.spark.sql.functions._
import graft.core.{Rle, SeriesSpec, TimeIndex}
import graft.operators.{Runs, RunsReference}

/** Property check: Rle.withMarkers/runs must agree with a direct
  * Scala transliteration of the reference's `rle_bool`
  * (ufz_water_qc_pipeline.py:94-103 — np.diff-on-bool is XOR) on
  * arbitrary boolean vectors (seeded random + adversarial shapes), and
  * the run masks, which qualify runs over a (keys, marker id) window,
  * must agree with their join form ([[RunsReference]]).
  */
class RlePropertySpec extends SparkTestBase {

  /** Literal transliteration of rle_bool. */
  private def rleBoolRef(xb: Array[Boolean]): Seq[(Int, Int, Boolean)] = {
    val n = xb.length
    if (n == 0) return Seq.empty
    // c = [True, xb[1:] != xb[:-1], True]; dif = XOR of consecutive
    val c = Array(true) ++ (1 until n).map(i => xb(i) != xb(i - 1)) ++ Array(true)
    val dif = (0 until n).map(j => c(j) != c(j + 1))
    val idx = dif.zipWithIndex.collect { case (true, j) => j }
    idx.zip(idx.drop(1)).map { case (a, b) => (a, b - a, xb(a)) }
  }

  private val spec = SeriesSpec(Seq("series"))

  private def check(flags: Seq[Boolean]): Unit = {
    import spark.implicits._
    val df = flags.zipWithIndex.map { case (f, i) =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusMinutes(15L * i)), f)
    }.toDF("series", "ts", "flag")
    val ours = Rle.runs(df, spec, col("flag"))
      .select(col("__rn"), col("run_len"), col("__xb"))
      .collect()
      .map(r => (r.getAs[Int]("__rn"), r.getAs[Int]("run_len"),
        r.getAs[Boolean]("__xb")))
      .sortBy(_._1).toSeq
    assert(ours == rleBoolRef(flags.toArray), s"flags=${flags.mkString(",")}")
  }

  test("marker runs equal the reference rle_bool on adversarial shapes") {
    check(Seq(true))
    check(Seq(false))
    check(Seq(true, true))
    check(Seq(true, false))
    check(Seq(false, true))
    check(Seq(true, false, true, false, true)) // alternating -> no runs
    check(Seq(false, true, true, false))        // classic truncated run
    check(Seq.fill(12)(true))
    check(Seq.fill(12)(false))
  }

  test("marker runs equal the reference rle_bool on 40 seeded random vectors") {
    val rng = new scala.util.Random(42)
    for (_ <- 0 until 40) {
      val n = 1 + rng.nextInt(40)
      check(Seq.fill(n)(rng.nextBoolean()))
    }
  }

  /** Seeded multi-series fixture for the run masks: repeated values
    * (flat runs), NULLs (isolated runs), 15-min steps broken by 4 h
    * gaps, single-row series, and optionally a null-ts row.
    */
  private def maskFixture(seed: Int, nullTs: Boolean) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val rows = (0 until 8).flatMap { k =>
      val n = if (k < 2) 1 else 2 + rng.nextInt(40)
      var t = t0
      var prev: Option[Double] = Some(1.0)
      val obs = (0 until n).map { _ =>
        t = t.plusMinutes(if (rng.nextDouble() < 0.15) 240 else 15)
        prev = rng.nextDouble() match {
          case x if x < 0.25 => None
          case x if x < 0.75 => prev.orElse(Some(1.0))
          case _ => Some(rng.nextInt(3).toDouble)
        }
        (s"s$k", Option(java.sql.Timestamp.valueOf(t)), prev)
      }
      if (nullTs && k % 3 == 2) (s"s$k", None, Some(1.0)) +: obs else obs
    }
    TimeIndex.withDeltaUs(rows.map { case (s, t, x) => (s, t.orNull, x) }
      .toDF("series", "ts", "value"), spec)
  }

  private def flags(df: org.apache.spark.sql.DataFrame, out: String) =
    df.select(col("series"), col("ts").cast("string"), col(out)).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2))).sorted.toSeq

  test("run masks over the (keys, marker id) window equal their join form") {
    for (seed <- 0 until 12; nullTs <- Seq(false, true)) {
      val d = maskFixture(seed, nullTs)
      val step = TimeIndex.inferStep(d, spec)
      val flat = flags(Runs.flatMask(d, spec, minHours = 0.5, out = "f"), "f")
      assert(flat == flags(RunsReference.flatMask(d, spec, minHours = 0.5, out = "f"), "f"),
        s"flatMask seed=$seed nullTs=$nullTs")
      val iso = flags(Runs.isolatedMask(d, spec, step, gapHours = 3.0, out = "i"), "i")
      assert(iso == flags(RunsReference.isolatedMask(d, spec, step, gapHours = 3.0,
        out = "i"), "i"), s"isolatedMask seed=$seed nullTs=$nullTs")
      assert(flat.size == d.count())
    }
  }

  test("run masks keep a run that touches either series edge") {
    // flat from the first row and to the last; isolated single points
    // as the first and the last row
    val flat = series(
      ("2024-01-01 00:00:00", v(5.0)), ("2024-01-01 01:00:00", v(5.0)),
      ("2024-01-01 02:00:00", v(5.0)), ("2024-01-01 03:00:00", v(6.0)),
      ("2024-01-01 04:00:00", v(7.0)), ("2024-01-01 05:00:00", v(7.0)),
      ("2024-01-01 06:00:00", v(7.0)), ("2024-01-01 07:00:00", v(7.0)))
    val d = TimeIndex.withDeltaUs(flat, spec)
    val ours = flags(Runs.flatMask(d, spec, minHours = 1.0, out = "f"), "f")
    assert(ours == flags(RunsReference.flatMask(d, spec, minHours = 1.0, out = "f"), "f"))
    assert(ours.exists(_._3))
    val iso = TimeIndex.withDeltaUs(series(
      ("2024-01-01 00:00:00", v(1.0)), ("2024-01-01 00:15:00", na),
      ("2024-01-01 04:15:00", v(2.0)), ("2024-01-01 04:30:00", v(2.0)),
      ("2024-01-01 04:45:00", na), ("2024-01-01 09:00:00", v(3.0))), spec)
    val step = TimeIndex.inferStep(iso, spec)
    assert(flags(Runs.isolatedMask(iso, spec, step, out = "i"), "i") ==
      flags(RunsReference.isolatedMask(iso, spec, step, out = "i"), "i"))
  }
}
