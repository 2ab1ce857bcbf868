package graft.wrtds

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{SeriesSpec, SeriesWindows}

/** WRTDS-proxy weighted local regression + residual spike buster
  * (reference `wrtds_proxy` scripts/ufz_water_qc_pipeline.py:592-622,
  * `wrtds_buster` :624-639).
  *
  * The one operator that is not a tidy built-in composition: per point
  * i a Gaussian time-kernel weighted least squares on
  * [1, t, sin(2π·doy/365.25), cos(2π·doy/365.25) (, q)] over ALL other
  * points of the series — O(n²) per series, contained inside a grouped
  * map so each series runs as one task on its executor (the reference
  * runs the same loop single-threaded; our parallel axis is many
  * series). Weights below 1e-3 of the max are dropped like the
  * reference (:615-616).
  */
object Wrtds {

  /** Adds `wrtds_yhat` and `wrtds_resid` (NULL where the reference
    * yields NaN). Optional discharge column enables the q-kernel.
    *
    * Memory discipline: rows arrive per series already TIME-SORTED
    * (`flatMapSortedGroups` pushes the sort into the shuffle) and are
    * consumed straight into a [[SeriesStore]] — fixed-size primitive
    * column blocks whose tail spills to executor-local disk past
    * `spillAtRows`. The O(n²) kernel then runs i-block × j-block, so a
    * pathological single series degrades to repeated spilled passes
    * (O(n²/B) sequential block reads, dominated by the O(n²) compute
    * they feed), never a task OOM from materializing the series as one
    * boxed array. Per-task live memory is O(blockRows), plus the
    * finite-q column when the q-kernel is on (its MAD bandwidth needs
    * a median over all finite q values).
    *
    * Block size default (2048) is measured, not guessed: the spill
    * harness that commit e581814 still has ran a 20,000-row single
    * series (sf0.1 events, median-of-3) ~11% faster with 2048-row
    * blocks than 65536 (the i-block's flat
    * normal-equation arrays fit cache; short series also stop paying
    * a 3.7 MB fill-array allocation each), and forcing every block
    * through the spill file at the same block size was free within
    * noise — the compute dominates the sequential block reads.
    *
    * Numerics are bit-identical to the materialized form: j is scanned
    * ascending within and across blocks (same FP accumulation order),
    * and the reference's max-weight normalization is the identity here
    * — the self-pair j=i always has weight exactly 1.0 (exp(0)·exp(0))
    * and every other weight is ≤ 1, so normalizing divides by 1.0.
    */
  def proxy(df: DataFrame, spec: SeriesSpec, qCol: Option[String] = None,
      htDays: Double = 90.0, minp: Int = 30,
      blockRows: Int = 2048, spillAtRows: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Unambiguous composite key:  separator + NULL sentinel so
    // multi-key specs cannot collide ("ab","c" vs "a","bc") and NULL
    // key parts are not silently skipped by concat_ws (which would
    // merge distinct series and cross-match rows in the join-back).
    val skey = concat_ws("",
      spec.keyCols.map(c => coalesce(c.cast("string"), lit("NULL"))): _*)
    val hasQ = qCol.isDefined
    val prepared = df.select(
      skey.as("__skey"),
      unix_micros(spec.tsCol).as("__us"),
      dayofyear(spec.tsCol).cast("double").as("__doy"),
      spec.valueCol.cast("double").as("__y"),
      (qCol.map(col(_).cast("double")).getOrElse(lit(null).cast("double"))).as("__q"))
      .as[(String, Long, Double, java.lang.Double, java.lang.Double)]
    val fitted = prepared.groupByKey(_._1)
      .flatMapSortedGroups(col("__us")) { (key, it) =>
        fitSeries(key, it, hasQ, htDays, minp, blockRows, spillAtRows)
      }.toDF("__skey", "__us", "wrtds_yhat", "wrtds_resid")
    df.withColumn("__skey", skey)
      .withColumn("__us", unix_micros(spec.tsCol))
      .join(fitted, Seq("__skey", "__us"), "left")
      .drop("__skey", "__us")
  }

  /** One series' blocked WLS kernel. `it` MUST be time-sorted. */
  private def fitSeries(key: String,
      it: Iterator[(String, Long, Double, java.lang.Double, java.lang.Double)],
      hasQ: Boolean, htDays: Double, minp: Int,
      blockRows: Int, spillAtRows: Int)
      : Iterator[(String, Long, java.lang.Double, java.lang.Double)] = {
    val store = new SeriesStore(blockRows, spillAtRows)
    val qFinite = Array.newBuilder[Double] // q of finite rows, for MAD
    var minUs = 0L
    var first = true
    var nFinite = 0
    it.foreach { r =>
      if (first) { minUs = r._2; first = false } // sorted: first = min
      val tnum = (r._2 - minUs) / 86400e6 // days
      val sv = math.sin(2 * math.Pi * r._3 / 365.25)
      val cv = math.cos(2 * math.Pi * r._3 / 365.25)
      val y = if (r._4 == null) Double.NaN else r._4.doubleValue()
      val q = if (r._5 == null) Double.NaN else r._5.doubleValue()
      val fin = !y.isNaN && !tnum.isNaN && !tnum.isInfinite &&
        !sv.isNaN && !cv.isNaN && (!hasQ || (!q.isNaN && !q.isInfinite))
      if (fin) { nFinite += 1; if (hasQ) qFinite += q }
      store.append(r._2, tnum, sv, cv, y, q, fin)
    }
    store.seal()
    val dim = if (hasQ) 4 else 3
    val p = dim + 1
    if (nFinite < math.max(minp, 10)) {
      // below the global support floor every output is NULL
      closing(store.blocks().flatMap { b =>
        (0 until b.len).iterator.map(i => (key, b.us(i),
          null: java.lang.Double, null: java.lang.Double))
      }, store)
    } else {
      // q-kernel bandwidth: 3 * MAD of the finite discharge values
      val qMad = if (hasQ) {
        val qv = qFinite.result()
        val med = medianOf(qv)
        math.max(1e-9, medianOf(qv.map(v => math.abs(v - med))) * 3)
      } else 0.0
      closing(store.blocks().flatMap { ib =>
        val m = ib.len
        // flat per-i normal equations: ata[m·p·p], aty[m·p] — the only
        // O(blockRows) kernel state; solve (A'W²A)β = A'W²y, A = [1|X]
        val ata = new Array[Double](m * p * p)
        val aty = new Array[Double](m * p)
        val kept = new Array[Int](m)
        val aj = new Array[Double](p)
        store.blocks().foreach { jb =>
          var j = 0
          while (j < jb.len) {
            if (jb.fin(j)) {
              aj(0) = 1.0; aj(1) = jb.tnum(j); aj(2) = jb.sv(j); aj(3) = jb.cv(j)
              if (hasQ) aj(4) = jb.q(j)
              val yj = jb.y(j)
              var ii = 0
              while (ii < m) {
                if (ib.fin(ii)) {
                  val dt = math.abs(jb.tnum(j) - ib.tnum(ii))
                  val wt = math.exp(-math.pow(dt / htDays, 2))
                  val w = if (hasQ)
                    wt * math.exp(-math.pow(math.abs(jb.q(j) - ib.q(ii)) / qMad, 2))
                  else wt
                  if (w > 1e-3) {
                    kept(ii) += 1
                    val w2 = w * w
                    val mOff = ii * p * p
                    val vOff = ii * p
                    var r = 0
                    while (r < p) {
                      aty(vOff + r) += w2 * aj(r) * yj
                      var c = 0
                      while (c < p) {
                        ata(mOff + r * p + c) += w2 * aj(r) * aj(c); c += 1
                      }
                      r += 1
                    }
                  }
                }
                ii += 1
              }
            }
            j += 1
          }
        }
        (0 until m).iterator.map { ii =>
          var yhat = Double.NaN
          if (ib.fin(ii) && kept(ii) >= minp) {
            val a = Array.tabulate(p, p)((r, c) => ata(ii * p * p + r * p + c))
            val b = Array.tabulate(p)(r => aty(ii * p + r))
            solveInPlace(a, b).foreach { beta =>
              val ai = if (hasQ)
                Array(1.0, ib.tnum(ii), ib.sv(ii), ib.cv(ii), ib.q(ii))
              else Array(1.0, ib.tnum(ii), ib.sv(ii), ib.cv(ii))
              yhat = ai.zip(beta).map { case (x, b0) => x * b0 }.sum
            }
          }
          (key, ib.us(ii),
            if (yhat.isNaN) null else java.lang.Double.valueOf(yhat),
            if (yhat.isNaN) null else java.lang.Double.valueOf(ib.y(ii) - yhat))
        }
      }, store)
    }
  }

  /** Deletes the store's spill file once `inner` is exhausted. */
  private def closing[T](inner: Iterator[T], store: SeriesStore): Iterator[T] =
    new Iterator[T] {
      def hasNext: Boolean = {
        val h = inner.hasNext
        if (!h) store.close()
        h
      }
      def next(): T = inner.next()
    }

  /** Bounded-support 2-term kernel local regression — the
    * SQL-expressible member of the WRTDS family (the full proxy's
    * O(n²) 4-feature WLS has no tidy relational form; this variant
    * exists so the kernel-regression semantics are oracle-checkable).
    *
    * Per point i: neighbors j of the same series with finite y and
    * |t_j − t_i| ≤ supportDays (the reference itself drops weights
    * below 1e-3 of max — ufz_water_qc_pipeline.py:615-616 — so a hard
    * time cutoff is the same idea made join-friendly: a bounded range
    * self-join, bucketable by time at cluster scale). Gaussian weights
    * w = exp(−((Δt)/htDays)²); fit y ≈ b0 + b1·t by weighted least
    * squares via the closed 2×2 normal equations.
    *
    * Cross-engine determinism: every kernel sum term is quantized to
    * the 1e-6 grid as an exact micro-unit LONG (round half-away-from-
    * zero, cast) and summed with exact long addition — order-free, so
    * Spark and DuckDB aggregate bit-identical values regardless of
    * row order; the 2×2 solve then runs in double on identical
    * inputs. Output: keys*, ts, value, l2_yhat, l2_resid (NULL when
    * fewer than minp in-support neighbors or a degenerate design).
    *
    * PRECONDITION: series magnitude must satisfy max|wgt·tj·yj|·n
    * < 2^63 micro-units per group (≈ |value|·span·window ≲ 9.2e12 —
    * any physical sensor series passes by many orders). Violations
    * cannot corrupt results silently: the engine runs Spark 4's
    * default ANSI mode, so the term cast and the long sums RAISE on
    * overflow (pinned in WrtdsQSpec) where non-ANSI arithmetic would
    * wrap. Rescale pathological series before calling.
    *
    * PRECONDITION: one row per (keys, ts). Duplicate timestamps within
    * a series would collapse to a single output row whose value is an
    * arbitrary duplicate's (`first(__yi)`) while the kernel sums count
    * each neighbor once per surviving group — nondeterministic output.
    * Deduplicate upstream first (e.g. TimeIndex.resolveDuplicatesMedian,
    * which the shipped pipeline flow always runs before this).
    */
  def local2(df: DataFrame, spec: SeriesSpec, htDays: Double = 30.0,
      supportDays: Double = 90.0, minp: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(spec.keyCols: _*)
    val base = df
      .withColumn("__us", unix_micros(spec.tsCol))
      .withColumn("__t",
        (col("__us") - min(col("__us")).over(wAll)) / lit(86400e6))
    val iSide = base.select((spec.keyCols :+ col("__us").as("__ius") :+
      col("__t").as("__ti") :+ spec.valueCol.as("__yi")): _*)
    val jSide = base.filter(spec.valueCol.isNotNull)
      .select((spec.keyCols :+ col("__t").as("__tj") :+
        spec.valueCol.as("__yj")): _*)
    val dt = (col("__tj") - col("__ti")) / htDays
    val wgt = exp(-(dt * dt))
    // LEFT join: a point with zero in-support finite neighbors must
    // still appear in the output (with NULL fit), not vanish — the
    // documented contract, and what composing with the full proxy
    // expects. Both sides carry explicit aliases: key columns on the
    // two sides share expression IDs (common `base` lineage), and an
    // unaliased iSide(k) === jSide(k) builds a trivially-true
    // predicate that only Dataset-id self-join disambiguation rescues
    // — fragile across Spark versions, and it logs a WARN per plan.
    val joined = iSide.as("i").join(jSide.as("j"),
      spec.keys.map(k => col(s"i.$k") === col(s"j.$k")).reduce(_ && _) &&
        abs(col("__tj") - col("__ti")) <= supportDays, "left")
      .select((spec.keys.map(k => col(s"i.$k").as(k)) ++ Seq(col("__ius"),
        col("__ti"), col("__yi"), col("__tj"), col("__yj"))): _*)
    // micro-integer kernel sums: each term is quantized to the 1e-6
    // grid as an exact LONG (round half-away-from-zero then cast —
    // both engines agree bit for bit on every step), summed with
    // codegen'd long addition (order-free like the decimal idiom it
    // replaces, but no per-pair BigDecimal allocation — measured 3×
    // on the full-bench kernel), and divided back once per group.
    // Long overflow bounds, split by term family: the time terms
    // (wgt, wgt·tj, wgt·tj²) are structurally safe — per-group pair
    // count is bounded by the support window (≤ 2·supportDays·cadence)
    // and the largest micro-term (wgt·tj² at decades-long spans) stays
    // ≤ ~1e13, 5+ orders under 2^63. The VALUE terms (wgt·yj,
    // wgt·tj·yj) scale with the unbounded series magnitude — that is
    // the documented |value| PRECONDITION above, and it cannot fail
    // SILENTLY: the engine's sessions run Spark 4's default ANSI
    // mode, where both the term-level double→long cast and the long
    // sum raise loudly on overflow (WrtdsQSpec pins this) instead of
    // wrapping. DuckDB sums the same terms into HUGEINT, so the
    // cross-engine contract is "identical values inside the bound,
    // loud engine error past it" — never a silently divergent fit.
    // The final long→double cast and the /1e6 are each correctly
    // rounded identically in both engines, so cross-engine equality
    // holds even past 2^53.
    // graft.core.FastRound.halfAwayLong replaces round(·,0).cast:
    // bit-identical values (see its equality argument), no per-pair
    // BigDecimal — the swap took this aggregate from ~16 s to ~2 s at
    // sf0.1. The five micro terms are PRE-PROJECTED so wgt's exp()
    // and each product evaluate once per pair, then the aggregate
    // sums plain long attributes.
    def mic(c: org.apache.spark.sql.Column) =
      graft.core.FastRound.halfAwayLong(c * lit(1e6))
    val terms = joined.select((spec.keyCols ++ Seq(col("__ius"),
      col("__ti"), col("__yi"), col("__yj"),
      mic(wgt).as("__m0"),
      mic(wgt * col("__tj")).as("__m1"),
      mic(wgt * col("__tj") * col("__tj")).as("__m2"),
      mic(wgt * col("__yj")).as("__my"),
      mic(wgt * col("__tj") * col("__yj")).as("__mty"))): _*)
    val agg = terms
      .groupBy((spec.keyCols :+ col("__ius")): _*)
      .agg(first(col("__ti")).as("__ti"), first(col("__yi")).as("__yi"),
        count(col("__yj")).as("__n"),
        (sum(col("__m0")).cast("double") / lit(1e6)).as("s0"),
        (sum(col("__m1")).cast("double") / lit(1e6)).as("s1"),
        (sum(col("__m2")).cast("double") / lit(1e6)).as("s2"),
        (sum(col("__my")).cast("double") / lit(1e6)).as("sy"),
        (sum(col("__mty")).cast("double") / lit(1e6)).as("sty"))
    val denom = col("s0") * col("s2") - col("s1") * col("s1")
    val b1 = (col("s0") * col("sty") - col("s1") * col("sy")) / denom
    val b0 = (col("sy") - b1 * col("s1")) / col("s0")
    val yhat = when(col("__n") >= minp && abs(denom) > 1e-9,
      b0 + b1 * col("__ti"))
    agg.select((spec.keyCols :+ timestamp_micros(col("__ius")).as("ts") :+
      col("__yi").as("value") :+
      round(yhat, 6).as("l2_yhat") :+
      round(col("__yi") - yhat, 6).as("l2_resid")): _*)
  }

  private def medianOf(xs: Array[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Gaussian elimination with partial pivoting; None if singular. */
  private def solveInPlace(a: Array[Array[Double]], b: Array[Double])
      : Option[Array[Double]] = {
    val n = b.length
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      if (math.abs(a(piv)(col)) < 1e-300) return None
      if (piv != col) {
        val tmp = a(piv); a(piv) = a(col); a(col) = tmp
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        var c = col
        while (c < n) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    Some(x)
  }

  /** Global robust-z spike detection on residuals (`wrtds_buster`):
    * z = (r − median(r)) / (1.4826·median(|r − median(r)|) + 1e−9);
    * spike = |z| ≥ zThresh. Two-pass exact medians per series.
    * `keepZ` additionally emits the z score itself as `wrtds_z`
    * (opt-in so the pipeline's wide table keeps its schema) — the
    * oracled q_buster_check companion hashes its per-series max.
    */
  def buster(df: DataFrame, spec: SeriesSpec, residCol: String = "wrtds_resid",
      zThresh: Double = 4.0, keepZ: Boolean = false): DataFrame = {
    val med = df.groupBy(spec.keyCols: _*)
      .agg(median(col(residCol)).as("__rmed"))
    val withMed = df.join(med, spec.keys)
    val mad = withMed.groupBy(spec.keyCols: _*)
      .agg(median(abs(col(residCol) - col("__rmed"))).as("__rmad"))
    val z = (col(residCol) - col("__rmed")) /
      (lit(1.4826) * col("__rmad") + lit(1e-9))
    val out = withMed.join(mad, spec.keys)
      .withColumn("wrtds_z", z)
      .withColumn("wrtds_spike",
        coalesce(abs(col("wrtds_z")) >= zThresh, lit(false)))
      .drop("__rmed", "__rmad")
    if (keepZ) out else out.drop("wrtds_z")
  }
}
