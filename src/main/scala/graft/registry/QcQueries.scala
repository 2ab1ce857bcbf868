package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SeriesSpec, TimeIndex}
import graft.operators.{Diagnostics, Gaps, QcConfig, QcSuite, Resample, RollingStats, Runs, Seasonal, Sentinels, Slope}
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.sentem.{SentemConfig, SentemQc}
import graft.sources.Tables
import graft.wrtds.Wrtds

/** Water-quality QC queries over the events table: step inference, duplicate
  * resolution, the detector family, the QC suite, SentemQC, the EP1
  * pipeline composition and WRTDS.
  */
object QcQueries {
  private val Family = "qc"

  private val evSpec: SeriesSpec = Tables.eventsSpec

  /** events → deduped long series with delta_us (shared prefix of the
    * time-series queries).
    */
  private def seriesWithDelta(s: SparkSession, dir: String): DataFrame =
    TimeIndex.withDeltaUs(Tables.eventsSeries(s, dir), evSpec)

  /** Shared prefix for q_events_all / q_seasonal_events: quantized
    * signal (round(value/20)*20), 24h gap mask, inferred step.
    */
  private def quantCleanSeries(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d0 = Tables.eventsSeries(s, dir)
      .withColumn("value", round(col("value") / 20) * 20)
    val d1 = TimeIndex.withDeltaUs(d0, evSpec)
    val step = TimeIndex.inferStep(d1, evSpec)
    // feeds three detector branches -> persist the shared prefix
    (graft.core.Caches.persisted(Gaps(d1, evSpec, gapHours = 24.0)), step)
  }

  private def sentemQuery(code: Int, isNitrate: Boolean)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    SentemQc(Tables.eventsSeries(s, dir), evSpec, code,
      SentemConfig.byCode(code), isNitrate)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("flag_global"), col("is_flagged"), col("flag_reason"),
        round(col("qcband_top"), 6).as("qcband_top"),
        round(col("qcband_bottom"), 6).as("qcband_bottom"),
        col("value_masked"))
  }

  /** Shared oracle CTE prefix: events deduped keep-first by event_id,
    * with per-row delta_us (µs; DuckDB reads the ns parquet truncated
    * to µs exactly like our `ts div 1000`).
    */
  private val seriesCte: String =
    """WITH d AS (
      |  SELECT user_id, ts, value,
      |         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
      |  FROM events
      |), dd AS (
      |  SELECT user_id, ts, value,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS delta_us
      |  FROM d WHERE rn = 1
      |)""".stripMargin

  private val stepCte: String =
    """, st AS (
      |  SELECT user_id,
      |         CASE WHEN count(*) < 3
      |                OR median(CASE WHEN delta_us > 0 THEN delta_us END) IS NULL
      |              THEN 900000000.0
      |              ELSE median(CASE WHEN delta_us > 0 THEN delta_us END) END AS step_us
      |  FROM dd GROUP BY user_id
      |)""".stripMargin

  /** Shared slope CTE: seconds-from-series-start time axis, finite-
    * pair cov/var closed-form slope over a ±12-row frame, minp 8.
    */
  private val slopeCte: String =
    """, t0 AS (
      |  SELECT user_id, ts, value,
      |         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id)) / 1000000.0 AS t
      |  FROM dd
      |), t1 AS (
      |  SELECT *, CASE WHEN value IS NOT NULL THEN t END AS tm FROM t0
      |), s AS (
      |  SELECT user_id, ts,
      |         CASE WHEN count(value) OVER wf >= 8 AND var_pop(tm) OVER wf > 0
      |              THEN covar_pop(tm, value) OVER wf / var_pop(tm) OVER wf END AS slope
      |  FROM t1
      |  WINDOW wf AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
      |)""".stripMargin

  /** Config-driven oracle for the SentemQC engine — generated from the
    * same SentemConfig the operator runs, with expression shapes
    * matching the Spark plan term-for-term so both engines perform the
    * identical IEEE arithmetic.
    */
  private def sentemOracleSql(code: Int, isNitrate: Boolean): String = {
    val cfg = SentemConfig.byCode(code)
    val conv = if (isNitrate) " * (14.0/62.0)" else ""
    val sensorRule = code match {
      case 157787 | 2477034 | 2477787 =>
        "CASE WHEN obs < 0 THEN 200 ELSE 100 END"
      case 400 =>
        "CASE WHEN obs = 30 OR obs = 25 OR obs = 0 OR obs >= 40 THEN 200 WHEN obs IS NULL THEN 200 ELSE 100 END"
      case 410 =>
        "CASE WHEN obs = 0 OR obs >= 13 OR obs < 0 THEN 200 WHEN obs IS NULL THEN 200 ELSE 100 END"
      case _ => "100"
    }
    def frame(w: Int) =
      s"ROWS BETWEEN ${w / 2} PRECEDING AND ${(w - 1) / 2} FOLLOWING"
    // basic-stat CTEs for runs 1-4
    val statCtes = (1 to 4).map { r =>
      val p = cfg.runs(r - 1)
      val minp = SentemConfig.minPeriods(p.w)
      val aggFn = if (r == 3) "median" else "avg"
      val src = if (r == 1) "fs" else s"r${r - 1}s"
      s""", r${r}s AS (
         |  SELECT *, CASE WHEN count(obs) OVER w$r >= $minp THEN $aggFn(obs) OVER w$r END AS ma_$r,
         |         CASE WHEN count(obs) OVER w$r >= $minp THEN stddev_pop(obs) OVER w$r END AS sd_$r
         |  FROM $src WINDOW w$r AS (PARTITION BY user_id ORDER BY ts ${frame(p.w)})
         |)""".stripMargin
    }.mkString
    def top(r: Int) = {
      val p = cfg.runs(r - 1)
      s"(ma_$r + ${p.ta} + ${p.sf}*sd_$r)"
    }
    def bot(r: Int) = {
      val p = cfg.runs(r - 1)
      s"(ma_$r - ${p.bs} - ${p.sf}*sd_$r)"
    }
    def flagSql(r: Int) = (cfg.uncertaintyPct, cfg.uncertaintyCon) match {
      case (Some(u), _) =>
        val c1 = (1.0 + u).toString; val c2 = (1.0 - u).toString
        s"CASE WHEN (($c1*obs) > ${top(r)} AND ($c2*obs) > ${top(r)}) OR (($c2*obs) < ${bot(r)} AND ($c1*obs) < ${bot(r)}) THEN 200 ELSE 100 END"
      case (None, Some(c)) =>
        s"CASE WHEN ((obs + $c) > ${top(r)} AND (obs - $c) > ${top(r)}) OR ((obs - $c) < ${bot(r)} AND (obs + $c) < ${bot(r)}) THEN 200 ELSE 100 END"
      case _ =>
        s"CASE WHEN obs > ${top(r)} OR obs < ${bot(r)} THEN 200 ELSE 100 END"
    }
    val minp5 = SentemConfig.minPeriods(cfg.runs(4).w)
    val flagList = (Seq("flag_sensor") ++ (1 to 5).map(r => s"flag_run$r"))
    val anyFlag = flagList.map(f => s"$f = 200").mkString(" OR ")
    val reasons = flagList.map(f =>
      s"CASE WHEN $f = 200 THEN '$f' END").mkString(", ")
    val back = if (isNitrate) " * (62.0/14.0)" else ""
    seriesCte +
      s""", p0 AS (
         |  SELECT user_id, ts, value AS obs_in,
         |         CASE WHEN value IS NULL OR value <= 0 THEN NULL ELSE value END AS obs_raw
         |  FROM dd
         |), p1 AS (
         |  SELECT *, obs_raw$conv AS obs FROM p0
         |), fs AS (
         |  SELECT *, $sensorRule AS flag_sensor FROM p1
         |)$statCtes, t5a AS (
         |  SELECT *, lag(obs, 2) OVER wo AS xm2, lag(obs, 1) OVER wo AS xm1,
         |         lead(obs, 1) OVER wo AS xp1, lead(obs, 2) OVER wo AS xp2
         |  FROM r4s WINDOW wo AS (PARTITION BY user_id ORDER BY ts)
         |), t5b AS (
         |  SELECT *,
         |    (CASE WHEN xm2 IS NOT NULL THEN 1.0 ELSE 0.0 END + CASE WHEN xm1 IS NOT NULL THEN 2.0 ELSE 0.0 END + CASE WHEN obs IS NOT NULL THEN 3.0 ELSE 0.0 END + CASE WHEN xp1 IS NOT NULL THEN 2.0 ELSE 0.0 END + CASE WHEN xp2 IS NOT NULL THEN 1.0 ELSE 0.0 END) AS wsum,
         |    (CASE WHEN xm2 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN xm1 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN obs IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN xp1 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN xp2 IS NOT NULL THEN 1 ELSE 0 END) AS nfin,
         |    (coalesce(xm2, 0.0)*1.0 + coalesce(xm1, 0.0)*2.0 + coalesce(obs, 0.0)*3.0 + coalesce(xp1, 0.0)*2.0 + coalesce(xp2, 0.0)*1.0) AS wx
         |  FROM t5a
         |), t5c AS (
         |  SELECT *, CASE WHEN nfin >= 3 THEN wx / wsum END AS ma_5 FROM t5b
         |), t5d AS (
         |  SELECT *, CASE WHEN nfin >= 3 THEN sqrt((coalesce(pow(xm2 - ma_5, 2)*1.0, 0.0) + coalesce(pow(xm1 - ma_5, 2)*2.0, 0.0) + coalesce(pow(obs - ma_5, 2)*3.0, 0.0) + coalesce(pow(xp1 - ma_5, 2)*2.0, 0.0) + coalesce(pow(xp2 - ma_5, 2)*1.0, 0.0)) / wsum) END AS sd_5
         |  FROM t5c
         |), sup AS (
         |  SELECT *, sum(CASE WHEN obs IS NOT NULL THEN 1 ELSE 0 END) OVER w5s AS support
         |  FROM t5d WINDOW w5s AS (PARTITION BY user_id ORDER BY ts ${frame(cfg.runs(4).w)})
         |), fl AS (
         |  SELECT *, ${flagSql(1)} AS flag_run1, ${flagSql(2)} AS flag_run2,
         |         ${flagSql(3)} AS flag_run3, ${flagSql(4)} AS flag_run4,
         |         ${flagSql(5)} AS flag_run5,
         |         CASE WHEN support >= $minp5 THEN ${top(5)} END AS qcband_top0,
         |         CASE WHEN support >= $minp5 THEN ${bot(5)} END AS qcband_bottom0
         |  FROM sup
         |)
         |SELECT user_id, epoch_us(ts) AS ts_us,
         |       CASE WHEN $anyFlag THEN 200 ELSE 100 END AS flag_global,
         |       ($anyFlag) AS is_flagged,
         |       concat_ws(' ', $reasons) AS flag_reason,
         |       round(qcband_top0$back, 6) AS qcband_top,
         |       round(qcband_bottom0$back, 6) AS qcband_bottom,
         |       CASE WHEN $anyFlag THEN NULL ELSE obs_raw END AS value_masked
         |FROM fl""".stripMargin
  }

  /** Shared chains for q_events_all / q_seasonal_events: quantized
    * 24h-gap-masked signal + the three event detectors as CTEs
    * bin_ev / flat_ev / slope_ev.
    */
  private val eventsChainsCte: String = {
    val wo = "OVER (PARTITION BY user_id ORDER BY ts)"
    seriesCte + stepCte +
      s""", xq AS (
         |  SELECT user_id, ts, delta_us,
         |         CASE WHEN delta_us > 86400000000 THEN NULL ELSE round(value/20)*20 END AS v
         |  FROM dd
         |), bz AS (
         |  SELECT user_id, ts, v,
         |         coalesce(v IS NOT NULL AND abs(v) <= 1e-12, false) AS xb,
         |         lag(ts) $wo AS prev_ts, lag(v) $wo AS prev_val
         |  FROM xq
         |)""".stripMargin + markerCtes("b", "user_id", "bz", Seq("v")) +
      s""", bin_ev AS (
         |  SELECT r.user_id, r.ts AS start_ts, e.e_ts AS end_ts,
         |         coalesce(r.prev_ts, r.ts) AS pre_t, r.next_ts AS post_t,
         |         CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END AS pre_val,
         |         r.next_v AS post_val
         |  FROM bruns r
         |  JOIN (SELECT user_id AS e_uid, rn AS e_rn, ts AS e_ts FROM bi) e
         |    ON r.user_id = e.e_uid AND e.e_rn = r.next_rn - 1
         |  WHERE r.xb AND (r.next_rn - r.rn) >= 1
         |    AND (CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END) IS NOT NULL
         |    AND r.next_v IS NOT NULL
         |    AND ((CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END) <> 0.0 OR r.next_v <> 0.0)
         |), fz AS (
         |  SELECT user_id, ts, v,
         |         coalesce(abs(v - lag(v) $wo) <= 0.0, false) AS xb
         |  FROM xq
         |)""".stripMargin + markerCtes("f", "user_id", "fz") +
      s""", flat_ev AS (
         |  SELECT user_id, ts AS start_ts, next_ts AS end_ts,
         |         (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 AS hours_raw
         |  FROM fruns
         |  WHERE xb AND (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 >= 2.0
         |), st0 AS (
         |  SELECT user_id, ts, v,
         |         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id)) / 1000000.0 AS t
         |  FROM xq
         |), st1 AS (
         |  SELECT *, CASE WHEN v IS NOT NULL THEN t END AS tm FROM st0
         |), ssl AS (
         |  SELECT user_id, ts,
         |         CASE WHEN count(v) OVER wf >= 8 AND var_pop(tm) OVER wf > 0
         |              THEN covar_pop(tm, v) OVER wf / var_pop(tm) OVER wf END AS slope
         |  FROM st1 WINDOW wf AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
         |), gz AS (
         |  SELECT user_id, ts, coalesce(abs(slope) <= 0.05, false) AS xb FROM ssl
         |)""".stripMargin + markerCtes("g", "user_id", "gz") +
      s""", slope_ev AS (
         |  SELECT user_id, ts AS start_ts, next_ts AS end_ts,
         |         (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 AS hours_raw
         |  FROM gruns
         |  WHERE xb AND (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 >= 2.0
         |)""".stripMargin
  }

  /** EP1-composition oracle over (user_id, event_type) series:
    * keep-first dedup, 72h gap mask, the 9-check suite at kVar=6 /
    * kZ=8 with range [0,100], accepted projection.
    */
  private val pipelineOracle: String = {
    val pk = "user_id, event_type"
    val wo = s"OVER (PARTITION BY $pk ORDER BY ts)"
    val run = s"OVER (PARTITION BY $pk, run_id ORDER BY ts)"
    val full = s"OVER (PARTITION BY $pk, run_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    s"""WITH d AS (
       |  SELECT $pk, ts, value,
       |         row_number() OVER (PARTITION BY $pk, ts ORDER BY event_id) AS rn
       |  FROM events
       |), dd AS (
       |  SELECT $pk, ts, value,
       |         epoch_us(ts) - lag(epoch_us(ts)) $wo AS delta_us
       |  FROM d WHERE rn = 1
       |), st AS (
       |  SELECT $pk,
       |         CASE WHEN count(*) < 3
       |                OR median(CASE WHEN delta_us > 0 THEN delta_us END) IS NULL
       |              THEN 900000000.0
       |              ELSE median(CASE WHEN delta_us > 0 THEN delta_us END) END AS step_us
       |  FROM dd GROUP BY $pk
       |), x AS (
       |  SELECT $pk, ts, delta_us, value AS raw,
       |         CASE WHEN delta_us > 259200000000 THEN NULL ELSE value END AS v
       |  FROM dd
       |), zm AS (
       |  SELECT *, CASE WHEN count(v) OVER wz >= 5 THEN median(v) OVER wz END AS med
       |  FROM x WINDOW wz AS (PARTITION BY $pk ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)
       |), zd AS (
       |  SELECT *, CASE WHEN count(abs(v - med)) OVER wz >= 5 THEN median(abs(v - med)) OVER wz END AS mad
       |  FROM zm WINDOW wz AS (PARTITION BY $pk ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)
       |), base AS (
       |  SELECT $pk, ts, delta_us, raw, v,
       |         coalesce(v < 0.0 OR v > 100.0, false) AS flag_range,
       |         (v IS NULL) AS flag_missing,
       |         coalesce(abs(v - lag(v) OVER wo) >= 5.0, false) AS flag_jumps,
       |         coalesce((CASE WHEN count(v) OVER wv >= 3 THEN var_samp(v) OVER wv END) <= 1e-12, false) AS flag_variance,
       |         coalesce(abs(0.6745 * (v - med) / (CASE WHEN mad = 0.0 THEN NULL ELSE mad END)) >= 4.0, false) AS flag_zscore
       |  FROM zd
       |  WINDOW wo AS (PARTITION BY $pk ORDER BY ts),
       |         wv AS (PARTITION BY $pk ORDER BY ts ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING)
       |), pz AS (
       |  SELECT $pk, ts, v,
       |         coalesce(abs(v - lag(v) $wo) <= 0.0, false) AS xb
       |  FROM x
       |)""".stripMargin + markerCtes("p", pk, "pz") +
    s""", pq AS (
       |  SELECT r.user_id AS q_uid, r.event_type AS q_et, r.mkid AS q_mkid FROM pruns r
       |  WHERE r.xb AND (epoch_us(r.next_ts) - epoch_us(r.ts)) / 3600000000.0 >= 2.0
       |), pmask AS (
       |  SELECT b.user_id, b.event_type, b.ts, (q.q_mkid IS NOT NULL) AS in_run
       |  FROM pi b LEFT JOIN pq q ON b.user_id = q.q_uid AND b.event_type = q.q_et AND b.mkid = q.q_mkid
       |), pm2 AS (
       |  SELECT $pk, ts,
       |         (in_run OR coalesce(lag(in_run) $wo, false)) AS flag_plateau
       |  FROM pmask
       |), iz AS (
       |  SELECT $pk, ts, delta_us, (v IS NOT NULL) AS xb FROM x
       |)""".stripMargin + markerCtes("i", pk, "iz", Seq("delta_us")) +
    s""", iqual AS (
       |  SELECT r.user_id AS q_uid, r.event_type AS q_et, r.mkid AS q_mkid
       |  FROM iruns r JOIN st s ON r.user_id = s.user_id AND r.event_type = s.event_type
       |  WHERE r.xb AND (r.next_rn - r.rn) <= greatest(1, CAST(floor(1800000000.0 / s.step_us + 0.5) AS BIGINT))
       |    AND r.delta_us > 10800000000 AND r.next_delta_us > 10800000000
       |), imsk AS (
       |  SELECT b.user_id, b.event_type, b.ts, (q.q_mkid IS NOT NULL) AS flag_isolated
       |  FROM ii b LEFT JOIN iqual q ON b.user_id = q.q_uid AND b.event_type = q.q_et AND b.mkid = q.q_mkid
       |)
       |SELECT b.user_id, b.event_type, epoch_us(b.ts) AS ts_us, b.raw, b.v AS clean,
       |       CASE WHEN b.v IS NULL OR (b.flag_range OR b.flag_missing OR p.flag_plateau OR b.flag_variance
       |              OR b.flag_zscore OR b.flag_jumps OR i.flag_isolated) THEN NULL ELSE b.v END AS accepted,
       |       (b.flag_range OR b.flag_missing OR p.flag_plateau OR b.flag_variance
       |              OR b.flag_zscore OR b.flag_jumps OR i.flag_isolated) AS saqc_flag
       |FROM base b
       |JOIN pm2 p ON b.user_id = p.user_id AND b.event_type = p.event_type AND b.ts = p.ts
       |JOIN imsk i ON b.user_id = i.user_id AND b.event_type = i.event_type AND b.ts = i.ts""".stripMargin
  }

  /** Marker-run CTE generator mirroring Rle.withMarkers/runs (the
    * reference's exact `rle_bool` semantics — see Rle.scala). Source
    * CTE `src` must already provide a non-null boolean `xb` plus
    * whatever columns the consumer needs. Emits CTEs: {p}c (rn, n),
    * {p}d (c_cur/c_next), {p}m (marker), {p}i (mkid — join target for
    * masks), {p}r (markers with next_*), {p}runs (markers that start
    * a run). `leads` columns become next_<col>.
    */
  private def markerCtes(p: String, pk: String, src: String,
      leads: Seq[String] = Seq.empty): String = {
    val w = s"OVER (PARTITION BY $pk ORDER BY ts)"
    val extraLeads = leads.map(c => s", lead($c) $w AS next_$c").mkString
    s""", ${p}c AS (
       |  SELECT *, CAST(row_number() $w AS BIGINT) - 1 AS rn,
       |         count(*) OVER (PARTITION BY $pk) AS n
       |  FROM $src
       |), ${p}d AS (
       |  SELECT *, CASE WHEN rn = 0 THEN true ELSE xb <> lag(xb) $w END AS c_cur,
       |         CASE WHEN rn = n - 1 THEN true ELSE lead(xb) $w <> xb END AS c_next
       |  FROM ${p}c
       |), ${p}m AS (
       |  SELECT *, (c_cur <> c_next) AS marker FROM ${p}d
       |), ${p}i AS (
       |  SELECT *, sum(CASE WHEN marker THEN 1 ELSE 0 END) OVER (PARTITION BY $pk ORDER BY ts ROWS UNBOUNDED PRECEDING) AS mkid
       |  FROM ${p}m
       |), ${p}r AS (
       |  SELECT *, lead(rn) $w AS next_rn, lead(ts) $w AS next_ts$extraLeads
       |  FROM ${p}i WHERE marker
       |), ${p}runs AS (
       |  SELECT * FROM ${p}r WHERE next_rn IS NOT NULL
       |)""".stripMargin
  }

  /** q_wrtds_local oracle — identical expression SHAPES to
    * Wrtds.local2 so both engines quantize and sum the same IEEE
    * doubles. Shared: q_buster_check wraps it as a CTE (at a REDUCED
    * support window and a series slice — the spike rule under test is
    * kernel-independent, so the expensive full-support kernel is not
    * paid twice per bench pass) and replays the robust-z buster over
    * its residuals. `seriesWhere` filters dd (empty = all series);
    * `supportDays` is the |Δt| cutoff, mirrored literally.
    */
  private def wrtdsLocalOracleSql(supportDays: Double = 90.0,
      seriesWhere: String = ""): String = {
    val w = "exp(-(((tj-ti)/30.0)*((tj-ti)/30.0)))"
    // micro-integer kernel sums, mirroring Wrtds.local2's mic():
    // term·1e6 (correctly-rounded multiply), round half-away-from-zero
    // to an exact BIGINT, exact long sum, one correctly-rounded
    // long→double cast and /1e6 — the same IEEE sequence both engines
    // execute bit for bit (replaces the DECIMAL(38,6) idiom: same
    // order-free exactness, no per-pair decimal allocation)
    def s(term: String, alias: String) =
      s"CAST(sum(CAST(round(($term) * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS $alias"
    seriesCte +
      s""", b AS (
         |  SELECT user_id, value, epoch_us(ts) AS us,
         |         min(epoch_us(ts)) OVER (PARTITION BY user_id) AS mnus
         |  FROM dd $seriesWhere
         |), t AS (
         |  SELECT user_id, us, value, (us - mnus) / 86400000000.0 AS t FROM b
         |), jn AS (
         |  SELECT i.user_id, i.us AS ius, i.t AS ti, i.value AS yi,
         |         j.t AS tj, j.value AS yj
         |  FROM t i LEFT JOIN t j ON i.user_id = j.user_id
         |    AND j.value IS NOT NULL AND abs(j.t - i.t) <= $supportDays
         |), ag AS (
         |  SELECT user_id, ius, any_value(ti) AS ti, any_value(yi) AS yi,
         |         count(yj) AS n,
         |         ${s(w, "s0")},
         |         ${s(s"$w * tj", "s1")},
         |         ${s(s"$w * tj * tj", "s2")},
         |         ${s(s"$w * yj", "sy")},
         |         ${s(s"$w * tj * yj", "sty")}
         |  FROM jn GROUP BY user_id, ius
         |), sv AS (
         |  SELECT *, s0*s2 - s1*s1 AS den FROM ag
         |), f1 AS (
         |  SELECT *, (s0*sty - s1*sy)/den AS b1 FROM sv
         |), f2 AS (
         |  SELECT *, (sy - b1*s1)/s0 AS b0 FROM f1
         |)
         |SELECT user_id, ius AS ts_us, yi AS value,
         |       round(CASE WHEN n >= 10 AND abs(den) > 1e-9 THEN b0 + b1*ti END, 6) AS l2_yhat,
         |       round(yi - (CASE WHEN n >= 10 AND abs(den) > 1e-9 THEN b0 + b1*ti END), 6) AS l2_resid
         |FROM f2""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // §2.4 step inference: per-series median positive timestamp delta.
    QueryDef("q_step_infer", Family, (s, dir) => {
      TimeIndex.inferStep(seriesWithDelta(s, dir), evSpec)
    }, Some((seriesCte + stepCte + "\nSELECT user_id, step_us FROM st"))),

    // §2.4 duplicate resolution by exact median (resolve_duplicates —
    // the standalone aggregate form; the shipped flow dedups
    // keep-first upstream so this exercises the raw table).
    QueryDef("q_dedup_median", Family, (s, dir) => {
      TimeIndex.resolveDuplicatesMedian(
        Tables.events(s, dir).select("user_id", "ts", "value"), evSpec)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("n_obs"))
    }, Some(
      """SELECT user_id, epoch_us(ts) AS ts_us, median(value) AS value,
        |       count(*) AS n_obs
        |FROM events GROUP BY user_id, ts""".stripMargin)),

    // §2.4/§2.5 flagship slice: dedup → delta → gap mask → seasonal
    // coverage stats (EP1's seasonal_stats leg).
    QueryDef("q_seasonal_summary", Family, (s, dir) => {
      val d = seriesWithDelta(s, dir)
      val step = TimeIndex.inferStep(d, evSpec)
      val clean = Gaps(d, evSpec, gapHours = 2.0)
      Seasonal.stats(clean, evSpec, step)
        .select("user_id", "season", "n_obs", "n_missing", "expected_pts",
          "coverage_pct", "nan_pct")
    }, Some(
      (seriesCte + stepCte +
        """, g AS (
          |  SELECT user_id, ts,
          |         CASE WHEN delta_us > 7200000000 THEN NULL ELSE value END AS value_clean,
          |         CASE WHEN month(ts) IN (12,1,2) THEN 'DJF'
          |              WHEN month(ts) IN (3,4,5) THEN 'MAM'
          |              WHEN month(ts) IN (6,7,8) THEN 'JJA'
          |              ELSE 'SON' END AS season
          |  FROM dd
          |), a AS (
          |  SELECT user_id, season, count(*) AS n_obs,
          |         count(*) - count(value_clean) AS n_missing,
          |         min(epoch_us(ts)) AS mn_us, max(epoch_us(ts)) AS mx_us
          |  FROM g GROUP BY user_id, season
          |)
          |SELECT a.user_id, a.season, a.n_obs, a.n_missing,
          |       greatest(1, CAST(floor((a.mx_us - a.mn_us + s.step_us) / s.step_us + 0.5) AS BIGINT)) AS expected_pts,
          |       round(100.0 * (a.n_obs - a.n_missing) / greatest(1, CAST(floor((a.mx_us - a.mn_us + s.step_us) / s.step_us + 0.5) AS BIGINT)), 6) AS coverage_pct,
          |       round(100.0 * a.n_missing / a.n_obs, 6) AS nan_pct
          |FROM a JOIN st s ON a.user_id = s.user_id""".stripMargin))),

    // §2.0/§2.5 RLE: flat-value runs on a quantized signal (raw random
    // doubles never repeat; bucketing models sensor quantization).
    QueryDef("q_flat_runs", Family, (s, dir) => {
      val q = Tables.eventsSeries(s, dir)
        .withColumn("value", round(col("value") / 20))
      Runs.flatValues(q, evSpec, minHours = 2.0, absTol = 0.0)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          round(col("hours"), 6).as("hours"), col("value"))
    }, Some(
      (seriesCte +
        """, q AS (
          |  SELECT user_id, ts, round(value/20) AS v FROM dd
          |), fz AS (
          |  SELECT user_id, ts, v,
          |         coalesce(abs(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts)) <= 0.0, false) AS xb
          |  FROM q
          |)""".stripMargin + markerCtes("f", "user_id", "fz") +
        """
          |SELECT user_id, epoch_us(ts) AS start_us, epoch_us(next_ts) AS end_us,
          |       round((epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0, 6) AS hours,
          |       v AS value
          |FROM fruns
          |WHERE xb AND (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 >= 2.0""".stripMargin))),

    // §2.5 binary-switch events (zero-runs with finite non-zero
    // neighbors); tol=1.0 = "near-zero reading" on this data.
    QueryDef("q_binary_switches", Family, (s, dir) => {
      Runs.binarySwitches(Tables.eventsSeries(s, dir), evSpec, zeroTol = 1.0)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          unix_micros(col("pre")).as("pre_us"),
          unix_micros(col("post")).as("post_us"),
          col("pre_val"), col("post_val"))
    }, Some(
      (seriesCte +
        """, bz AS (
          |  SELECT user_id, ts, value AS v,
          |         coalesce(value IS NOT NULL AND abs(value) <= 1.0, false) AS xb,
          |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts,
          |         lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev_val
          |  FROM dd
          |)""".stripMargin + markerCtes("b", "user_id", "bz", Seq("v")) +
        """
          |SELECT r.user_id, epoch_us(r.ts) AS start_us, epoch_us(e.e_ts) AS end_us,
          |       epoch_us(coalesce(r.prev_ts, r.ts)) AS pre_us,
          |       epoch_us(r.next_ts) AS post_us,
          |       CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END AS pre_val,
          |       r.next_v AS post_val
          |FROM bruns r
          |JOIN (SELECT user_id AS e_uid, rn AS e_rn, ts AS e_ts FROM bi) e
          |  ON r.user_id = e.e_uid AND e.e_rn = r.next_rn - 1
          |WHERE r.xb AND (r.next_rn - r.rn) >= 1
          |  AND (CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END) IS NOT NULL
          |  AND r.next_v IS NOT NULL
          |  AND ((CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END) <> 0.0 OR r.next_v <> 0.0)""".stripMargin))),

    // §2.5 isolated-group mask: short finite runs fenced by >3h gaps;
    // missing values modeled by masking low readings.
    QueryDef("q_isolated", Family, (s, dir) => {
      val d = seriesWithDelta(s, dir)
      val step = TimeIndex.inferStep(d, evSpec)
      val masked = d.withColumn("value",
        when(col("value") < 10, lit(null)).otherwise(col("value")))
      Runs.isolatedMask(masked, evSpec, step, gapHours = 3.0)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("isolated"))
    }, Some(
      (seriesCte + stepCte +
        """, iz AS (
          |  SELECT user_id, ts, delta_us,
          |         (CASE WHEN value < 10 THEN NULL ELSE value END IS NOT NULL) AS xb
          |  FROM dd
          |)""".stripMargin + markerCtes("i", "user_id", "iz", Seq("delta_us")) +
        """, qual AS (
          |  SELECT r.user_id AS q_uid, r.mkid AS q_mkid
          |  FROM iruns r JOIN st s ON r.user_id = s.user_id
          |  WHERE r.xb AND (r.next_rn - r.rn) <= greatest(1, CAST(floor(1800000000.0 / s.step_us + 0.5) AS BIGINT))
          |    AND r.delta_us > 10800000000 AND r.next_delta_us > 10800000000
          |)
          |SELECT b.user_id, epoch_us(b.ts) AS ts_us, (q.q_mkid IS NOT NULL) AS isolated
          |FROM ii b LEFT JOIN qual q ON b.user_id = q.q_uid AND b.mkid = q.q_mkid""".stripMargin))),

    // §2.2 sentinel detection + mask (count/fraction activation);
    // low readings re-encoded as the -9 sentinel to model sensor codes.
    QueryDef("q_sentinels", Family, (s, dir) => {
      // feeds both the per-series count aggregate and the join-back
      val d = graft.core.Caches.persisted(Tables.eventsSeries(s, dir)
        .withColumn("value", when(col("value") < 1, lit(-9.0)).otherwise(col("value"))))
      Sentinels.mask(d, evSpec)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("v_masked"), col("sentinel_flag"))
    }, Some(
      (seriesCte +
        """, s1 AS (
          |  SELECT user_id, ts, CASE WHEN value < 1 THEN -9.0 ELSE value END AS v FROM dd
          |), cnt AS (
          |  SELECT user_id, count(*) AS n,
          |         sum(CASE WHEN v = -9.0 THEN 1 ELSE 0 END) AS c0,
          |         sum(CASE WHEN v = -99.0 THEN 1 ELSE 0 END) AS c1,
          |         sum(CASE WHEN v = -999.0 THEN 1 ELSE 0 END) AS c2,
          |         sum(CASE WHEN v = -9999.0 THEN 1 ELSE 0 END) AS c3
          |  FROM s1 GROUP BY user_id
          |), act AS (
          |  SELECT user_id,
          |         (c0 >= 5 OR (n > 0 AND CAST(c0 AS DOUBLE)/n >= 0.001)) AS a0,
          |         (c1 >= 5 OR (n > 0 AND CAST(c1 AS DOUBLE)/n >= 0.001)) AS a1,
          |         (c2 >= 5 OR (n > 0 AND CAST(c2 AS DOUBLE)/n >= 0.001)) AS a2,
          |         (c3 >= 5 OR (n > 0 AND CAST(c3 AS DOUBLE)/n >= 0.001)) AS a3
          |  FROM cnt
          |)
          |SELECT s1.user_id, epoch_us(s1.ts) AS ts_us,
          |       CASE WHEN (s1.v = -9.0 AND a.a0) OR (s1.v = -99.0 AND a.a1)
          |                 OR (s1.v = -999.0 AND a.a2) OR (s1.v = -9999.0 AND a.a3)
          |            THEN NULL ELSE s1.v END AS v_masked,
          |       coalesce((s1.v = -9.0 AND a.a0) OR (s1.v = -99.0 AND a.a1)
          |                 OR (s1.v = -999.0 AND a.a2) OR (s1.v = -9999.0 AND a.a3), false) AS sentinel_flag
          |FROM s1 JOIN act a ON s1.user_id = a.user_id""".stripMargin))),

    // §2.5/§3 the 9-check QC fallback suite on the gap-cleaned series.
    // The cleaned base is persisted: the suite's run-mask stages
    // (plateau, isolated) are self-joins of base-derived aggregates
    // against the base, and an unpersisted base gets re-planned — and
    // re-scanned — once per branch (4 parquet scans, 8 shuffles in the
    // static plan; PlanGuardSpec pins the persisted shape; the
    // measured trade is recorded in COVERAGE.md).
    QueryDef("q_qc_suite", Family, (s, dir) => {
      val d = seriesWithDelta(s, dir)
      val step = TimeIndex.inferStep(d, evSpec)
      val clean = graft.core.Caches.persisted(Gaps(d, evSpec, gapHours = 24.0))
      val cfg = QcConfig(rangeMin = Some(0.0), rangeMax = Some(100.0),
        flatHours = 2.0, kVariance = 6, kZscore = 8, jumpThresh = 5.0)
      QcSuite(clean, evSpec, step, cfg)
        .select((Seq(col("user_id"), unix_micros(col("ts")).as("ts_us")) ++
          QcSuite.FlagCols.map(col) :+ col("qc_flag")): _*)
    }, Some(
      (seriesCte + stepCte +
        """, x AS (
          |  SELECT user_id, ts, delta_us,
          |         CASE WHEN delta_us > 86400000000 THEN NULL ELSE value END AS v
          |  FROM dd
          |), zm AS (
          |  SELECT *, CASE WHEN count(v) OVER wz >= 5 THEN median(v) OVER wz END AS med
          |  FROM x WINDOW wz AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)
          |), zd AS (
          |  SELECT *, CASE WHEN count(abs(v - med)) OVER wz >= 5 THEN median(abs(v - med)) OVER wz END AS mad
          |  FROM zm WINDOW wz AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)
          |), base AS (
          |  SELECT user_id, ts, delta_us, v,
          |         coalesce(v < 0.0 OR v > 100.0, false) AS flag_range,
          |         (v IS NULL) AS flag_missing,
          |         coalesce(abs(v - lag(v) OVER wo) >= 5.0, false) AS flag_jumps,
          |         coalesce((CASE WHEN count(v) OVER wv >= 3 THEN var_samp(v) OVER wv END) <= 1e-12, false) AS flag_variance,
          |         coalesce(abs(0.6745 * (v - med) / (CASE WHEN mad = 0.0 THEN NULL ELSE mad END)) >= 4.0, false) AS flag_zscore
          |  FROM zd
          |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts),
          |         wv AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING)
          |), pz AS (
          |  SELECT user_id, ts, v,
          |         coalesce(abs(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts)) <= 0.0, false) AS xb
          |  FROM x
          |)""".stripMargin + markerCtes("p", "user_id", "pz") +
        """, pq AS (
          |  SELECT r.user_id AS q_uid, r.mkid AS q_mkid FROM pruns r
          |  WHERE r.xb AND (epoch_us(r.next_ts) - epoch_us(r.ts)) / 3600000000.0 >= 2.0
          |), pmask AS (
          |  SELECT b.user_id, b.ts, (q.q_mkid IS NOT NULL) AS in_run
          |  FROM pi b LEFT JOIN pq q ON b.user_id = q.q_uid AND b.mkid = q.q_mkid
          |), pm2 AS (
          |  SELECT user_id, ts,
          |         (in_run OR coalesce(lag(in_run) OVER (PARTITION BY user_id ORDER BY ts), false)) AS flag_plateau
          |  FROM pmask
          |), iz AS (
          |  SELECT user_id, ts, delta_us, (v IS NOT NULL) AS xb FROM x
          |)""".stripMargin + markerCtes("i", "user_id", "iz", Seq("delta_us")) +
        """, iqual AS (
          |  SELECT r.user_id AS q_uid, r.mkid AS q_mkid
          |  FROM iruns r JOIN st s ON r.user_id = s.user_id
          |  WHERE r.xb AND (r.next_rn - r.rn) <= greatest(1, CAST(floor(1800000000.0 / s.step_us + 0.5) AS BIGINT))
          |    AND r.delta_us > 10800000000 AND r.next_delta_us > 10800000000
          |), imsk AS (
          |  SELECT b.user_id, b.ts, (q.q_mkid IS NOT NULL) AS flag_isolated
          |  FROM ii b LEFT JOIN iqual q ON b.user_id = q.q_uid AND b.mkid = q.q_mkid
          |)
          |SELECT b.user_id, epoch_us(b.ts) AS ts_us,
          |       b.flag_range, b.flag_missing,
          |       p.flag_plateau AS flag_constants, p.flag_plateau,
          |       b.flag_variance, b.flag_zscore, b.flag_jumps,
          |       i.flag_isolated, b.flag_zscore AS flag_unilof,
          |       CASE WHEN b.flag_range OR b.flag_missing OR p.flag_plateau OR b.flag_variance
          |              OR b.flag_zscore OR b.flag_jumps OR i.flag_isolated THEN 255 ELSE 0 END AS qc_flag
          |FROM base b
          |JOIN pm2 p ON b.user_id = p.user_id AND b.ts = p.ts
          |JOIN imsk i ON b.user_id = i.user_id AND b.ts = i.ts""".stripMargin))),

    // §2.5 closed-form rolling OLS slope (±12-row frame, finite-pair
    // restricted, time in seconds from series start).
    QueryDef("q_rolling_slope", Family, (s, dir) => {
      Slope.rollingLinSlope(Tables.eventsSeries(s, dir), evSpec, win = 25, minp = 8)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("slope"), 9).as("slope"))
    }, Some(
      (seriesCte + slopeCte +
        "\nSELECT user_id, epoch_us(ts) AS ts_us, round(slope, 9) AS slope FROM s"))),

    // §2.5 flat-slope runs (|slope| <= 0.05 sessionized, >=2h).
    QueryDef("q_flat_slopes", Family, (s, dir) => {
      Slope.flatSlopes(Tables.eventsSeries(s, dir), evSpec,
        minHours = 2.0, win = 25, absSlope = 0.05)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"), round(col("hours"), 6).as("hours"))
    }, Some(
      (seriesCte + slopeCte +
        """, sz AS (
          |  SELECT user_id, ts, coalesce(abs(slope) <= 0.05, false) AS xb FROM s
          |)""".stripMargin + markerCtes("g", "user_id", "sz") +
        """
          |SELECT user_id, epoch_us(ts) AS start_us, epoch_us(next_ts) AS end_us,
          |       round((epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0, 6) AS hours
          |FROM gruns
          |WHERE xb AND (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 >= 2.0""".stripMargin))),

    // §2.4 decimal-fraction uniformity chi-square (p excluded: DuckDB
    // has no chi2 CDF; the engine's chi2_sf UDF is unit-tested).
    QueryDef("q_decimal_uniformity", Family, (s, dir) => {
      Diagnostics.decimalUniformity(Tables.eventsSeries(s, dir), evSpec, withP = false)
        .select("user_id", "n_finite", "chisq")
    }, Some(
      (seriesCte +
        """, fin AS (
          |  SELECT user_id, value FROM dd WHERE value IS NOT NULL
          |), pb AS (
          |  SELECT user_id, CAST(floor((value % 1.0) * 10) AS INT) AS bin, count(*) AS h
          |  FROM fin GROUP BY user_id, CAST(floor((value % 1.0) * 10) AS INT)
          |), tot AS (
          |  SELECT user_id, CAST(sum(h) AS BIGINT) AS n_finite, count(*) AS present,
          |         CAST(sum(h) AS DOUBLE) / 10 AS e
          |  FROM pb GROUP BY user_id
          |)
          |SELECT pb.user_id,
          |       any_value(t.n_finite) AS n_finite,
          |       round(sum(pow(pb.h - t.e, 2) / t.e) + (10 - any_value(t.present)) * any_value(t.e), 6) AS chisq
          |FROM pb JOIN tot t ON pb.user_id = t.user_id
          |GROUP BY pb.user_id""".stripMargin))),

    // §2.4 dominant two-digit decimal (mode with smallest-code ties).
    QueryDef("q_dominant_decimal", Family, (s, dir) => {
      Diagnostics.dominantDecimal(Tables.eventsSeries(s, dir), evSpec)
        .select("user_id", "dom", "dom_frac")
    }, Some(
      (seriesCte +
        """, fin AS (
          |  SELECT user_id, CAST(round((value % 1.0) * 100) AS INT) AS code
          |  FROM dd WHERE value IS NOT NULL
          |), cnt AS (
          |  SELECT user_id, code, count(*) AS c FROM fin GROUP BY user_id, code
          |), tot AS (
          |  SELECT user_id, CAST(sum(c) AS BIGINT) AS total FROM cnt GROUP BY user_id
          |), rk AS (
          |  SELECT cnt.user_id, cnt.code, cnt.c, t.total,
          |         row_number() OVER (PARTITION BY cnt.user_id ORDER BY cnt.c DESC, cnt.code ASC) AS rk
          |  FROM cnt JOIN tot t ON cnt.user_id = t.user_id
          |)
          |SELECT user_id, code AS dom, CAST(c AS DOUBLE) / total AS dom_frac
          |FROM rk WHERE rk = 1""".stripMargin))),

    // §2.4 quantization-step estimate on a 5-unit-quantized signal.
    QueryDef("q_quant_step", Family, (s, dir) => {
      val q = Tables.eventsSeries(s, dir)
        .withColumn("value", round(col("value") / 5) * 5)
      Diagnostics.quantStep(q, evSpec)
        .select("user_id", "quant_step", "is_quantized")
    }, Some(
      (seriesCte +
        """, q0 AS (
          |  SELECT user_id, ts, round(value/5)*5 AS v FROM dd
          |), dq AS (
          |  SELECT user_id, abs(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts)) AS d FROM q0
          |), dpos AS (
          |  SELECT user_id, d FROM dq WHERE d > 0
          |), qs AS (
          |  SELECT user_id, quantile_cont(d, 0.1) AS q10, quantile_cont(d, 0.25) AS q25,
          |         quantile_cont(d, 0.5) AS q50
          |  FROM dpos GROUP BY user_id
          |), cand AS (
          |  SELECT user_id, 0 AS pos, q10 AS cand FROM qs
          |  UNION ALL SELECT user_id, 1, q25 FROM qs
          |  UNION ALL SELECT user_id, 2, q50 FROM qs
          |  UNION ALL SELECT user_id, 3, q50/2 FROM qs
          |  UNION ALL SELECT user_id, 4, q50/3 FROM qs
          |  UNION ALL SELECT user_id, 5, q50/4 FROM qs
          |  UNION ALL SELECT user_id, 6, q50/5 FROM qs
          |  UNION ALL SELECT user_id, 7, q50/6 FROM qs
          |  UNION ALL SELECT user_id, 8, q50/7 FROM qs
          |  UNION ALL SELECT user_id, 9, q50/8 FROM qs
          |  UNION ALL SELECT user_id, 10, q50/9 FROM qs
          |), hit AS (
          |  SELECT c.user_id, c.pos, c.cand,
          |         avg(CASE WHEN abs(d.d / c.cand - round(d.d / c.cand)) <= 1e-3 THEN 1.0 ELSE 0.0 END) AS hit
          |  FROM cand c JOIN dpos d ON c.user_id = d.user_id
          |  GROUP BY c.user_id, c.pos, c.cand
          |), rk AS (
          |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY hit DESC, pos ASC) AS rk FROM hit
          |)
          |SELECT user_id, CASE WHEN hit > 0.7 THEN round(cand, 6) END AS quant_step,
          |       (hit > 0.7) AS is_quantized
          |FROM rk WHERE rk = 1""".stripMargin))),

    // §2.5 SentemQC engines: O2 (pct-uncertainty), pH (constant
    // uncertainty + median run-3), NO3 (nitrate unit round-trip).
    QueryDef("q_sentem_o2", Family, sentemQuery(400, isNitrate = false), Some(sentemOracleSql(400, isNitrate = false))),
    QueryDef("q_sentem_ph", Family, sentemQuery(410, isNitrate = false), Some(sentemOracleSql(410, isNitrate = false))),
    QueryDef("q_sentem_no3", Family, sentemQuery(2477034, isNitrate = true), Some(sentemOracleSql(2477034, isNitrate = true))),

    // §3 EP1 composition: dedup -> gap mask -> 9-check suite ->
    // accepted projection, over (user, event_type) series.
    QueryDef("q_pipeline", Family, (s, dir) => {
      val spec2 = SeriesSpec(Seq("user_id", "event_type"))
      val base = TimeIndex.dedupKeepFirst(
        Tables.events(s, dir).select("user_id", "event_type", "ts", "value", "event_id"),
        spec2, col("event_id")).drop("event_id")
      val vcfg = Seq("click", "error", "purchase", "signup", "view")
        .map(v => v -> VariableConfig(rangeMin = Some(0.0), rangeMax = Some(100.0))).toMap
      val cfg = PipelineConfig(gapHours = 72.0, kVariance = 6, kZscore = 8,
        applySentem = false, variables = vcfg)
      Pipeline.run(base, spec2, cfg, variableCol = Some("event_type")).timeseries
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("raw"), col("clean"), col("accepted"), col("saqc_flag"))
    }, Some(pipelineOracle)),

    // §2.3/§2.7 event-table union across the three detectors on the
    // quantized, gap-cleaned signal.
    QueryDef("q_events_all", Family, (s, dir) => {
      val (clean, _) = quantCleanSeries(s, dir)
      val evBin = Runs.binarySwitches(clean, evSpec)
        .withColumn("type", lit("binary_switch"))
      val evFlat = Runs.flatValues(clean, evSpec, minHours = 2.0).drop("value")
        .withColumn("type", lit("flat_values"))
      val evSlope = Slope.flatSlopes(clean, evSpec, minHours = 2.0,
        win = 25, absSlope = 0.05).withColumn("type", lit("flat_slopes"))
      evBin.unionByName(evFlat, allowMissingColumns = true)
        .unionByName(evSlope, allowMissingColumns = true)
        .select(col("user_id"), col("type"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          round(col("hours"), 6).as("hours"),
          unix_micros(col("pre")).as("pre_us"),
          unix_micros(col("post")).as("post_us"),
          col("pre_val"), col("post_val"))
    }, Some(
      (eventsChainsCte +
        """
          |SELECT user_id, 'binary_switch' AS type, epoch_us(start_ts) AS start_us,
          |       epoch_us(end_ts) AS end_us, CAST(NULL AS DOUBLE) AS hours,
          |       epoch_us(pre_t) AS pre_us, epoch_us(post_t) AS post_us, pre_val, post_val
          |FROM bin_ev
          |UNION ALL
          |SELECT user_id, 'flat_values', epoch_us(start_ts), epoch_us(end_ts),
          |       round(hours_raw, 6), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          |FROM flat_ev
          |UNION ALL
          |SELECT user_id, 'flat_slopes', epoch_us(start_ts), epoch_us(end_ts),
          |       round(hours_raw, 6), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          |FROM slope_ev""".stripMargin))),

    // §2.4 seasonal summary with flat/slope event counts (full
    // reference seasonal_stats shape).
    QueryDef("q_seasonal_events", Family, (s, dir) => {
      val (clean, step) = quantCleanSeries(s, dir)
      val evFlat = Runs.flatValues(clean, evSpec, minHours = 2.0)
      val evSlope = Slope.flatSlopes(clean, evSpec, minHours = 2.0,
        win = 25, absSlope = 0.05)
      Seasonal.statsWithEvents(clean, evSpec, step, evFlat, evSlope)
        .select("user_id", "season", "n_obs", "n_missing", "expected_pts",
          "coverage_pct", "nan_pct", "flat_values_events", "flat_slopes_events")
    }, Some(
      (eventsChainsCte +
        """, g2 AS (
          |  SELECT user_id, ts, v,
          |         CASE WHEN month(ts) IN (12,1,2) THEN 'DJF'
          |              WHEN month(ts) IN (3,4,5) THEN 'MAM'
          |              WHEN month(ts) IN (6,7,8) THEN 'JJA'
          |              ELSE 'SON' END AS season
          |  FROM xq
          |), a2 AS (
          |  SELECT user_id, season, count(*) AS n_obs, count(*) - count(v) AS n_missing,
          |         min(epoch_us(ts)) AS mn_us, max(epoch_us(ts)) AS mx_us
          |  FROM g2 GROUP BY user_id, season
          |), fcnt AS (
          |  SELECT user_id,
          |         CASE WHEN month(start_ts) IN (12,1,2) THEN 'DJF'
          |              WHEN month(start_ts) IN (3,4,5) THEN 'MAM'
          |              WHEN month(start_ts) IN (6,7,8) THEN 'JJA'
          |              ELSE 'SON' END AS season, count(*) AS c
          |  FROM flat_ev WHERE hours_raw >= 2.0 GROUP BY user_id, season
          |), scnt AS (
          |  SELECT user_id,
          |         CASE WHEN month(start_ts) IN (12,1,2) THEN 'DJF'
          |              WHEN month(start_ts) IN (3,4,5) THEN 'MAM'
          |              WHEN month(start_ts) IN (6,8,7) THEN 'JJA'
          |              ELSE 'SON' END AS season, count(*) AS c
          |  FROM slope_ev WHERE hours_raw >= 2.0 GROUP BY user_id, season
          |)
          |SELECT a2.user_id, a2.season, a2.n_obs, a2.n_missing,
          |       greatest(1, CAST(floor((a2.mx_us - a2.mn_us + s.step_us) / s.step_us + 0.5) AS BIGINT)) AS expected_pts,
          |       round(100.0 * (a2.n_obs - a2.n_missing) / greatest(1, CAST(floor((a2.mx_us - a2.mn_us + s.step_us) / s.step_us + 0.5) AS BIGINT)), 6) AS coverage_pct,
          |       round(100.0 * a2.n_missing / a2.n_obs, 6) AS nan_pct,
          |       coalesce(f.c, 0) AS flat_values_events,
          |       coalesce(sc2.c, 0) AS flat_slopes_events
          |FROM a2 JOIN st s ON a2.user_id = s.user_id
          |LEFT JOIN fcnt f ON a2.user_id = f.user_id AND a2.season = f.season
          |LEFT JOIN scnt sc2 ON a2.user_id = sc2.user_id AND a2.season = sc2.season""".stripMargin))),

    // Bounded-support kernel local regression (the SQL-expressible
    // WRTDS-family member): range self-join + micro-integer-quantized
    // kernel sums (exact longs) -> order-free, hence oracle-checkable
    // unlike the full proxy.
    QueryDef("q_wrtds_local", Family, (s, dir) => {
      Wrtds.local2(Tables.eventsSeries(s, dir), evSpec,
        htDays = 30.0, supportDays = 90.0, minp = 10)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("l2_yhat"), col("l2_resid"))
    }, Some(wrtdsLocalOracleSql())),

    // §2.5 WRTDS-proxy local regression + robust-z buster. No SQL
    // oracle (O(n^2) kernel regression) -> driver rows-only check;
    // q_wrtds_check below is its oracled semi-oracle companion.
    QueryDef("q_wrtds", Family, (s, dir) => {
      val d = Tables.eventsSeries(s, dir)
      val withFit = Wrtds.proxy(d, evSpec, minp = 30)
      Wrtds.buster(withFit, evSpec)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("wrtds_yhat"), 6).as("yhat"),
          round(col("wrtds_resid"), 6).as("resid"), col("wrtds_spike"))
    }, None),

    // semi-oracle companion for the rows-only q_wrtds (the
    // q_ann_ivf_recall pattern): the oracle reproduces the structural
    // counts EXACTLY — rows, valid values, series, and the relational
    // support count under the kernel's 1e-3 weight cutoff
    // (exp(-(dt/ht)²) > 1e-3 ⟺ (dt/ht)² < ln 1000; both engines
    // evaluate the square with identically-shaped IEEE ops against
    // the ln-1000 literal, so no libm call can perturb the count) —
    // and expects the three in-band assertions TRUE: prediction
    // coverage within max(2, 2%) of the relational support count
    // (the slack absorbs exp-boundary pairs and singular solves),
    // resid ≡ value − yhat bit-exactly, and residual RMS ≤ 1.5× the
    // per-series-centered RMS (a broken kernel fails outright; the
    // seasonal WLS actually lands well under the centered RMS).
    QueryDef("q_wrtds_check", Family, (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.eventsSeries(s, dir)
      val fit = Wrtds.proxy(d, evSpec, minp = 30)
      val wAll = Window.partitionBy(col("user_id"))
      val t = d.withColumn("__us", unix_micros(col("ts")))
        .withColumn("__t",
          (col("__us") - min(col("__us")).over(wAll)) / lit(86400e6))
      val vj = t.filter(col("value").isNotNull)
        .select(col("user_id"), col("__t").as("__tj"))
      val dtn = (col("__tj") - col("__t")) / lit(90.0)
      val nSupport = t.filter(col("value").isNotNull)
        .join(vj, Seq("user_id"))
        .filter(dtn * dtn < lit(6.907755278982137))
        .groupBy("user_id", "__us").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 30)
        .agg(count(lit(1)).as("n_support"))
      val agg = fit
        .withColumn("__mean",
          avg(when(col("value").isNotNull, col("value"))).over(wAll))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("value")).as("n_val"),
          countDistinct(col("user_id")).as("n_series"),
          count(col("wrtds_yhat")).as("n_pred"),
          max(when(col("wrtds_yhat").isNotNull,
            abs(col("value") - col("wrtds_yhat") - col("wrtds_resid"))))
            .as("__maxdev"),
          sqrt(avg(when(col("wrtds_yhat").isNotNull,
            col("wrtds_resid") * col("wrtds_resid")))).as("__rms_resid"),
          sqrt(avg(when(col("wrtds_yhat").isNotNull,
            (col("value") - col("__mean")) * (col("value") - col("__mean")))))
            .as("__rms_centered"))
      agg.crossJoin(broadcast(nSupport))
        .select(col("n_rows"), col("n_val"), col("n_series"),
          col("n_support"),
          (abs(col("n_pred") - col("n_support")) <=
            greatest(lit(2L), round(col("n_support") * 0.02, 0).cast("long")))
            .as("pred_cov_ok"),
          coalesce(col("__maxdev") === 0.0, lit(true)).as("resid_exact_ok"),
          coalesce(col("__rms_resid") <= col("__rms_centered") * 1.5,
            lit(true)).as("resid_rms_ok"))
    }, Some(
      // q_wrtds semi-oracle: exact structural counts (the support
      // predicate mirrors the engine's IEEE shapes — square vs the
      // ln-1000 literal, never exp) + in-band assertions TRUE.
      (seriesCte +
        """, b AS (
          |  SELECT user_id, value, epoch_us(ts) AS us,
          |         min(epoch_us(ts)) OVER (PARTITION BY user_id) AS mnus
          |  FROM dd
          |), t AS (
          |  SELECT user_id, us, value, (us - mnus) / 86400000000.0 AS t FROM b
          |), sup AS (
          |  SELECT i.user_id, i.us, count(*) AS cnt
          |  FROM t i JOIN t j ON i.user_id = j.user_id
          |   AND i.value IS NOT NULL AND j.value IS NOT NULL
          |   AND ((j.t - i.t) / 90.0) * ((j.t - i.t) / 90.0) < 6.907755278982137
          |  GROUP BY 1, 2
          |)
          |SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM dd) AS n_rows,
          |  (SELECT CAST(count(value) AS BIGINT) FROM dd) AS n_val,
          |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM dd) AS n_series,
          |  (SELECT CAST(count(*) AS BIGINT) FROM sup WHERE cnt >= 30) AS n_support,
          |  TRUE AS pred_cov_ok, TRUE AS resid_exact_ok,
          |  TRUE AS resid_rms_ok""".stripMargin))),

    // buster spike count, oracled: the robust-z buster run over
    // hash-exact l2 residuals, so the spike rule itself — per-series
    // median/MAD/|z| ≥ 4 — is replayed end to end by DuckDB on
    // identical 6-dp-grid inputs. Closes §2 row 36's last unoracled
    // sub-signal: q_wrtds's own spikes ride the O(n²) kernel's
    // declared contract, but the BUSTER's arithmetic is
    // kernel-independent and exact here — which is also why the
    // residual SOURCE is a reduced kernel (supportDays=30, even
    // user_id half): q_wrtds_local already pays the full 90-day
    // kernel once per pass; verifying ~1 s of spike arithmetic does
    // not need to pay it a second time (round-12 bench: 15.3 s →
    // target ≤5 s). The oracle slices identically.
    QueryDef("q_buster_check", Family, (s, dir) => {
      val loc = Wrtds.local2(
        Tables.eventsSeries(s, dir).filter(col("user_id") % 2 === 0), evSpec,
        htDays = 30.0, supportDays = 30.0, minp = 10)
      Wrtds.buster(loc, evSpec, residCol = "l2_resid", zThresh = 4.0,
        keepZ = true)
        .groupBy("user_id")
        .agg(count(col("l2_resid")).as("n_resid"),
          coalesce(sum(when(col("wrtds_spike"), 1L).otherwise(0L)), lit(0L))
            .as("n_spikes"),
          round(max(abs(col("wrtds_z"))), 6).as("max_abs_z"))
    }, Some(
      // buster replay over the exact-green l2 residuals: per-series
      // median/MAD/robust-z recomputed by DuckDB from the SAME 6-dp-grid
      // residual values (both engines interpolate even-count medians as
      // lower + (upper-lower)·0.5 — identical IEEE shape), spike
      // threshold |z| ≥ 4 compared on bit-identical doubles. max_abs_z
      // rounds an already de-gridded quotient (the lmScore-tail rule).
      // med/mad attach by LEFT join: a series whose residuals are ALL
      // NULL has no median row but must still emit (n_resid=0,
      // n_spikes=0, max_abs_z NULL) exactly as the engine does.
      // Residual source: supportDays=30 over the even-user_id series
      // half — the spike rule is kernel-independent, so the full
      // 90-day kernel (q_wrtds_local's 14.6 s) is not paid twice per
      // bench pass while the buster arithmetic stays exactly oracled.
      (s"WITH loc AS (\n${wrtdsLocalOracleSql(30.0, "WHERE user_id % 2 = 0")}\n)" +
        """, med AS (
          |  SELECT user_id, median(l2_resid) AS rmed
          |  FROM loc WHERE l2_resid IS NOT NULL GROUP BY user_id
          |), mad AS (
          |  SELECT l.user_id, median(abs(l.l2_resid - m.rmed)) AS rmad
          |  FROM loc l JOIN med m USING (user_id)
          |  WHERE l.l2_resid IS NOT NULL GROUP BY l.user_id
          |), z AS (
          |  SELECT l.user_id, l.l2_resid,
          |         (l.l2_resid - m.rmed) / (1.4826 * d.rmad + 1e-9) AS zv
          |  FROM loc l LEFT JOIN med m USING (user_id)
          |            LEFT JOIN mad d USING (user_id)
          |)
          |SELECT user_id,
          |       CAST(count(l2_resid) AS BIGINT) AS n_resid,
          |       CAST(COALESCE(SUM(CASE WHEN abs(zv) >= 4.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_spikes,
          |       round(max(abs(zv)), 6) AS max_abs_z
          |FROM z GROUP BY user_id""".stripMargin))),

    // §2.4 resample-median: epoch-aligned hourly buckets.
    QueryDef("q_resample", Family, (s, dir) =>
      Resample.medianBy(Tables.eventsSeries(s, dir), evSpec, freqUs = 3600000000L), Some(
      (seriesCte +
        """
          |SELECT user_id, epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
          |       median(value) AS med, count(value) AS n
          |FROM dd GROUP BY user_id, bucket_us""".stripMargin))),

    // §2.5 TIME-based (rangeBetween) centered rolling mean — the
    // faithful frame for irregular sampling; decimal sum keeps the
    // window aggregate evaluation-order-free across engines.
    QueryDef("q_rolling_time", Family, (s, dir) =>
      RollingStats.rollingMeanTime(Tables.eventsSeries(s, dir), evSpec,
        windowUs = 6L * 3600000000L, minp = 3, out = "tmean")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("tmean"), 6).as("tmean")), Some(
      (seriesCte +
        """
          |SELECT user_id, epoch_us(ts) AS ts_us,
          |       round(CASE WHEN count(value) OVER wt >= 3
          |             THEN CAST(sum(CAST(round(value, 3) AS DECIMAL(30,3))) OVER wt AS DOUBLE)
          |                  / count(value) OVER wt END, 6) AS tmean
          |FROM dd
          |WINDOW wt AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          |              RANGE BETWEEN 21600000000 PRECEDING AND 21600000000 FOLLOWING)""".stripMargin))),

    // §2.1 time-slice + §2.2 calibration offset + the reference's
    // availability/masked/flagged percentages (sentemqc.py:147-150,
    // :167-169): slice Jan 10-20, offset +0.5, <=0 pre-mask, >100
    // range flag, per-series scalar percentages.
    QueryDef("q_slice_stats", Family, (s, dir) => {
      def us(iso: String) = java.time.Instant.parse(iso).toEpochMilli * 1000L
      val d = Tables.eventsSeries(s, dir,
        sliceUs = Some((us("2024-01-10T00:00:00Z"), us("2024-01-20T00:00:00Z"))))
        .withColumn("obs_in", col("value") + 0.5)
        .withColumn("mask_pre", col("obs_in").isNull || col("obs_in") <= 0)
        .withColumn("obs", when(col("mask_pre"), lit(null)).otherwise(col("obs_in")))
        .withColumn("flagged", coalesce(col("obs") > 100.0, lit(false)))
      d.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        round(lit(100.0) * avg(when(col("obs_in").isNotNull, 1.0).otherwise(0.0)), 6)
          .as("avail_pct"),
        round(lit(100.0) * avg(when(col("mask_pre"), 1.0).otherwise(0.0)), 6)
          .as("mask_pct"),
        round(lit(100.0) * avg(when(col("flagged") && col("obs").isNotNull, 1.0)
          .otherwise(0.0)), 6).as("flag_pct"))
    }, Some(
      (seriesCte +
        """, sl AS (
          |  SELECT user_id, ts, value + 0.5 AS obs_in
          |  FROM dd
          |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
          |), m2 AS (
          |  SELECT *, (obs_in IS NULL OR obs_in <= 0) AS mask_pre,
          |         CASE WHEN obs_in IS NULL OR obs_in <= 0 THEN NULL ELSE obs_in END AS obs
          |  FROM sl
          |), f2 AS (
          |  SELECT *, coalesce(obs > 100.0, false) AS flagged FROM m2
          |)
          |SELECT user_id, count(*) AS n,
          |       round(100.0 * avg(CASE WHEN obs_in IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS avail_pct,
          |       round(100.0 * avg(CASE WHEN mask_pre THEN 1.0 ELSE 0.0 END), 6) AS mask_pct,
          |       round(100.0 * avg(CASE WHEN flagged AND obs IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS flag_pct
          |FROM f2 GROUP BY user_id""".stripMargin))),

    // §2.5 gaussian-compare data: 24h gap mask -> ffill/bfill ->
    // windowed gaussian smooth (sigma 4 rows, radius 16) -> residual.
    QueryDef("q_gaussian", Family, (s, dir) => {
      val d = seriesWithDelta(s, dir)
      val clean = Gaps(d, evSpec, gapHours = 24.0)
      val filled = TimeIndex.bfill(
        TimeIndex.ffill(clean, evSpec, "value", "yf0"), evSpec, "yf0", "yf")
      RollingStats.gaussianSmooth(filled, evSpec, "yf",
        sigmaPts = 4.0, radius = 16, out = "smooth")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("smooth"), 6).as("smooth"),
          round(col("value") - col("smooth"), 6).as("resid"))
    }, Some(
      {
      val wo = "OVER (PARTITION BY user_id ORDER BY ts)"
      def at(o: Int) =
        if (o < 0) s"lag(yf, ${-o}) $wo"
        else if (o > 0) s"lead(yf, $o) $wo"
        else "yf"
      val terms = graft.operators.RollingStats.gaussianWeights(4.0, 16)
      val num = terms.map { case (o, wt) =>
        s"coalesce(${at(o)}, 0.0)*$wt" }.mkString(" + ")
      val den = terms.map { case (o, wt) =>
        s"CASE WHEN ${at(o)} IS NOT NULL THEN $wt ELSE 0.0 END" }.mkString(" + ")
      seriesCte +
        s""", x AS (
           |  SELECT user_id, ts,
           |         CASE WHEN delta_us > 86400000000 THEN NULL ELSE value END AS v
           |  FROM dd
           |), y0 AS (
           |  SELECT *, last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0 FROM x
           |), y1 AS (
           |  SELECT *, first_value(f0 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS yf FROM y0
           |), g AS (
           |  SELECT user_id, ts, v,
           |         ($num) AS num, ($den) AS den
           |  FROM y1
           |)
           |SELECT user_id, epoch_us(ts) AS ts_us,
           |       round(CASE WHEN den > 0 THEN num / den END, 6) AS smooth,
           |       round(v - CASE WHEN den > 0 THEN num / den END, 6) AS resid
           |FROM g""".stripMargin
    }))
  )
}
