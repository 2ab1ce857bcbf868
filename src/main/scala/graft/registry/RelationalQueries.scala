package graft
package registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.{Dedup, Layout, Sessionize}
import graft.operators.{AsOf, Diagnostics, IntervalJoin}
import graft.sources.Tables

/** Relational and analytic queries on lineitem and events:
  * aggregates, joins, windows, fits, CDC/SCD and drift.
  */
object RelationalQueries {
  private val Family = "relational"

  /** DuckDB mirror of Diagnostics.groupedRobustFit on lineitem
    * (returnflag/linestatus, quantity→extendedprice, scale 100,
    * c=3.0): generates the pilot-fit CTE plus one
    * (residuals → scale → weights → weighted moments → fit) block per
    * IRLS round, so Spark and DuckDB replay the identical trajectory
    * of 6-dp-rounded coefficients.
    */
  private def robustFitSql(iters: Int): String = {
    val gk = "l_returnflag, l_linestatus"
    def fitBody(src: String, n: String, sx: String, sy: String,
        sxx: String, sxy: String): String =
      s"""  SELECT $gk,
         |       CASE WHEN CAST($n*$sxx - $sx*$sx AS DOUBLE) <> 0 THEN
         |         round(CAST($n*$sxy - $sx*$sy AS DOUBLE)
         |               / CAST($n*$sxx - $sx*$sx AS DOUBLE), 6) END AS b1,
         |       CASE WHEN CAST($n*$sxx - $sx*$sx AS DOUBLE) <> 0 THEN
         |         round(CAST($sy AS DOUBLE) / (CAST($n AS DOUBLE) * 100)
         |               - (CAST($n*$sxy - $sx*$sy AS DOUBLE)
         |                  / CAST($n*$sxx - $sx*$sx AS DOUBLE))
         |                 * (CAST($sx AS DOUBLE) / (CAST($n AS DOUBLE) * 100)), 6)
         |       END AS b0
         |  FROM $src""".stripMargin
    val sb = new StringBuilder
    sb ++=
      s"""WITH q AS (
         |  SELECT $gk,
         |         l_quantity AS xr, l_extendedprice AS yr,
         |         CAST(round(l_quantity * 100) AS HUGEINT) AS xq,
         |         CAST(round(l_extendedprice * 100) AS HUGEINT) AS yq
         |  FROM lineitem
         |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         |), m AS (
         |  SELECT $gk,
         |         CAST(count(*) AS HUGEINT) AS n,
         |         sum(xq) AS sx, sum(yq) AS sy,
         |         sum(xq * xq) AS sxx, sum(xq * yq) AS sxy
         |  FROM q GROUP BY 1, 2
         |), fit0 AS (
         |${fitBody("m", "n", "sx", "sy", "sxx", "sxy")}
         |)""".stripMargin
    for (k <- 1 to iters) {
      sb ++=
        s""", r$k AS (
           |  SELECT q.*, f.b1, q.yr - (f.b1 * q.xr + f.b0) AS r
           |  FROM q JOIN fit${k - 1} f USING ($gk)
           |), sca$k AS (
           |  SELECT $gk, quantile_cont(abs(r), 0.5) AS s
           |  FROM r$k GROUP BY 1, 2
           |), wr$k AS (
           |  SELECT r$k.*,
           |         CASE WHEN r$k.b1 IS NULL THEN NULL
           |              WHEN sca$k.s = 0 OR abs(r$k.r) <= 3.0 * sca$k.s
           |                THEN CAST(1000000 AS HUGEINT)
           |              ELSE CAST(round(3.0 * sca$k.s / abs(r$k.r) * 1000000) AS HUGEINT)
           |         END AS w
           |  FROM r$k JOIN sca$k USING ($gk)
           |), wm$k AS (
           |  SELECT $gk,
           |         CAST(count(*) AS BIGINT) AS n,
           |         sum(w) AS sw, sum(w * xq) AS swx, sum(w * yq) AS swy,
           |         sum(w * xq * xq) AS swxx, sum(w * xq * yq) AS swxy,
           |         CAST(sum(CASE WHEN w < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           |           AS n_downweighted
           |  FROM wr$k GROUP BY 1, 2
           |), fit$k AS (
           |${fitBody(s"wm$k", "sw", "swx", "swy", "swxx", "swxy")}
           |)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT f0.l_returnflag, f0.l_linestatus,
         |       f0.b1 AS slope_ols, f0.b0 AS intercept_ols,
         |       fN.b1 AS slope_robust, fN.b0 AS intercept_robust,
         |       wmN.n, wmN.n_downweighted
         |FROM fit0 f0
         |JOIN fit$iters fN USING ($gk)
         |JOIN wm$iters wmN USING ($gk)""".stripMargin
    sb.toString
  }

  val defs: Seq[QueryDef] = Seq(
    // §2.4 aggregation plumbing on lineitem (TPC-H Q1 shape).
    QueryDef("q1_pricing", Family, (s, dir) => {
      val ep = col("l_extendedprice").cast(DecimalType(12, 2))
      val disc = col("l_discount").cast(DecimalType(4, 2))
      val tax = col("l_tax").cast(DecimalType(4, 2))
      val one = lit(1).cast(DecimalType(3, 2))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum(ep).cast("double").as("sum_base_price"),
          sum(ep * (one - disc)).cast("double").as("sum_disc_price"),
          sum(ep * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
          avg("l_quantity").as("avg_qty"),
          count(lit(1)).as("count_order"))
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  avg(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // Skew-salted two-stage aggregation: event_type has 5 values over
    // the whole table (maximal key skew) — the salted shape spreads
    // each hot key over 32 sub-groups, and the decimal sum makes the
    // two-stage result bit-identical to the direct groupBy the oracle
    // runs.
    QueryDef("q_salted_agg", Family, (s, dir) => {
      graft.core.Salt.skewAgg(Tables.events(s, dir),
        keys = Seq("event_type"), valueCol = col("value"),
        saltOn = col("event_id"), nSalts = 32)
    }, Some(
      """SELECT event_type, count(value) AS n,
        |       CAST(sum(CAST(round(value, 3) AS DECIMAL(30,3))) AS DOUBLE) AS sum_val,
        |       min(value) AS min_val, max(value) AS max_val
        |FROM events GROUP BY event_type""".stripMargin)),

    // salted replicated JOIN on the (5-value, maximally skewed)
    // event_type key: big side salted, 5-row dim replicated 8x, join
    // on (key, salt) — row set identical to the plain join.
    QueryDef("q_salted_join", Family, (s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.select("event_type").distinct()
        .withColumn("type_rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("event_type"))))
      graft.core.Salt.skewJoin(ev.select(col("event_id"), col("event_type")),
        dim, Seq("event_type"), saltOn = col("event_id"), nSalts = 8)
        .select("event_id", "event_type", "type_rank")
    }, Some(
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(row_number() OVER (ORDER BY event_type) AS INT) AS type_rank
        |  FROM (SELECT DISTINCT event_type FROM events)
        |)
        |SELECT e.event_id, e.event_type, d.type_rank
        |FROM events e JOIN d ON e.event_type = d.event_type""".stripMargin)),

    // multi-level corpus scorecard in ONE pass: ROLLUP emits
    // (source, lang), per-source and grand-total rows from a single
    // expand+aggregate — no N-query subtotal fan-out; grouping_id
    // disambiguates subtotal NULLs from data NULLs.
    QueryDef("q_rollup", Family, (s, dir) =>
      Tables.documents(s, dir)
        .rollup("source", "lang")
        .agg(grouping_id().cast("int").as("grp"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars")), Some(
      """SELECT source, lang, CAST(GROUPING(source, lang) AS INT) AS grp,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin)),

    // CUBE: the full grouping-sets lattice — (source,lang), source,
    // lang, grand total — from one expand+aggregate pass; the lang-
    // only subtotal is what ROLLUP can't emit.
    QueryDef("q_cube", Family, (s, dir) =>
      Tables.documents(s, dir)
        .cube("source", "lang")
        .agg(grouping_id().cast("int").as("grp"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars")), Some(
      """SELECT source, lang, CAST(GROUPING(source, lang) AS INT) AS grp,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang)""".stripMargin)),

    // HLL approximate distinct: the sketch a 100 TB pipeline uses
    // where exact count-distinct would shuffle every key — fixed-size
    // state per group, map-side mergeable. The sketch value itself has
    // no SQL-exact oracle, so the query emits the error-bound ASSERTION
    // (|hll − exact|/exact ≤ 4%, generous vs rsd=0.01) alongside the
    // exact count; the oracle expects the bound column to be TRUE, so a
    // drifting sketch hash-mismatches. ExtSpec pins the same bound.
    QueryDef("q_approx_distinct", Family, (s, dir) =>
      // NOT fanned out (measured r15): parallelizing the scan split
      // duplicates the per-partition distinct/HLL partial state across
      // every partition (round-robin scatters each user over all of
      // them) and costs more than the serial scan it replaces
      // (2.5 s wall / 33 s task CPU at 32-way vs 1.6 s serial)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), rsd = 0.01)
          .as("__approx"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          // the 0-distinct edge (all-NULL user_ids) divides by zero →
          // NULL; a 0-vs-0 sketch is trivially in-bound
          ((col("exact_users") === 0 && col("__approx") === 0) ||
            abs(col("__approx") - col("exact_users")).cast("double") /
              col("exact_users") <= 0.04).as("approx_within_4pct")), Some(
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       count(*) AS n, TRUE AS approx_within_4pct
        |FROM events GROUP BY event_type""".stripMargin)),

    // corpus snapshot CDC: two versions simulated from the one
    // documents table IDENTICALLY on both sides — "old" lacks every
    // 9th doc and carries a ' v1' text suffix on every 7th (changed),
    // "new" lacks every 10th doc (removed) — so all four statuses
    // appear at every SF.
    QueryDef("q_snapshot_diff", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldV = docs.filter(col("doc_id") % 9 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val newV = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.snapshotDiff(oldV, newV, "doc_id", "text")
    }, Some(
      """WITH o AS (
        |  SELECT doc_id,
        |         md5(lower(trim(CASE WHEN doc_id % 7 = 0 THEN text || ' v1'
        |                             ELSE text END))) AS old_hash
        |  FROM documents WHERE doc_id % 9 <> 0
        |), n AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS new_hash
        |  FROM documents WHERE doc_id % 10 <> 0
        |)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN old_hash = new_hash THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       old_hash, new_hash
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin)),

    // CDC merge: reduce the event log to its live state table —
    // latest row per user wins, and a latest-'error' row is a
    // tombstone that removes the user entirely (resurrected only by a
    // later non-error event). Distinct from q_latest, which keeps the
    // latest row per (user, type) with no delete semantics.
    QueryDef("q_cdc_merge", Family, (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"))
      Sessionize.applyChangelog(ev, Seq("user_id"), "ts_us", "event_id",
        "event_type", deleteOp = "error")
    }, Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |         round(value, 6) AS value
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e
        |)
        |SELECT user_id, ts_us, event_id, event_type, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    // fixed-bin value histogram per event type: the distribution
    // monitor a data pipeline runs per batch; the heavy tail beyond
    // hi=200 clamps into the last bin (counts must sum to n).
    QueryDef("q_histogram", Family, (s, dir) =>
      Diagnostics.valueHistogram(Tables.events(s, dir), "event_type",
        "value", lo = 0.0, hi = 200.0, nBins = 20), Some(
      """WITH b AS (
        |  SELECT event_type,
        |         least(greatest(CAST(floor((value - 0.0) / 10.0) AS BIGINT),
        |                        0), 19) AS bin
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_type, bin, round(0.0 + bin * 10.0, 6) AS bin_lo,
        |       count(*) AS n
        |FROM b GROUP BY 1, 2""".stripMargin)),

    // per-group closed-form OLS (price vs quantity): trend monitoring
    // as ONE map-side-combined pass; all five moments are exact
    // integer sums over quantized values (decimal(38,0)), so the fit
    // is order-free and bit-portable — the one double division per
    // group happens on exact integers.
    QueryDef("q_linear_fit", Family, (s, dir) =>
      Diagnostics.groupedLinearFit(Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"),
        "l_quantity", "l_extendedprice"), Some(
      // mirrors groupedLinearFit's exact-integer moments: HUGEINT sums
      // ≡ Spark's decimal(38,0) sums for all in-range values, and the
      // final double expressions share the identical operation tree
      """WITH q AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_quantity * 100) AS HUGEINT) AS xq,
        |         CAST(round(l_extendedprice * 100) AS HUGEINT) AS yq
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), m AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(count(*) AS HUGEINT) AS n,
        |         sum(xq) AS sx, sum(yq) AS sy,
        |         sum(xq * xq) AS sxx, sum(xq * yq) AS sxy,
        |         sum(yq * yq) AS syy
        |  FROM q GROUP BY 1, 2
        |)
        |SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0 THEN
        |         round(CAST(n*sxy - sx*sy AS DOUBLE)
        |               / CAST(n*sxx - sx*sx AS DOUBLE), 6) END AS slope,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0 THEN
        |         round(CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 100)
        |               - (CAST(n*sxy - sx*sy AS DOUBLE)
        |                  / CAST(n*sxx - sx*sx AS DOUBLE))
        |                 * (CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 100)), 6)
        |       END AS intercept,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0
        |                 AND CAST(n*syy - sy*sy AS DOUBLE) <> 0 THEN
        |         round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
        |               / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
        |       END AS r2
        |FROM m""".stripMargin)),

    // Huber one-step IRLS on the same moment base: pilot OLS →
    // median-|residual| scale → quantized Huber weights → exact
    // decimal weighted refit. Three map-side-combined passes, group
    // tables broadcast back — order-free and engine-portable like the
    // OLS fit.
    // 2 IRLS rounds (down from 3): the coefficient drift between
    // rounds 2 and 3 on this data is below the 6-dp output grid
    // (spec-pinned in DiagnosticsSpec), so the third full
    // scale+moment pass bought nothing but bench wall.
    QueryDef("q_robust_fit", Family, (s, dir) =>
      Diagnostics.groupedRobustFit(Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"),
        "l_quantity", "l_extendedprice", iters = 2), Some(
      // mirrors groupedRobustFit round for round: the pilot fit is the
      // q_linear_fit expression tree (rounded 6), each IRLS round
      // recomputes residuals against the previous ROUNDED fit, the
      // scale is the exact median |r|, weights land on the same 1e-6
      // grid, and the weighted moments are HUGEINT ≡ Spark's
      // decimal(38,0); the CTE chain is generated for the same iters=3
      robustFitSql(iters = 2))),

    // PIVOT: per-user activity matrix — long event log to one wide
    // row per user with a column per event type. Explicit value list,
    // so no distinct-scan planning job; absent cells filled 0.
    QueryDef("q_pivot", Family, (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivot cells: a bare fill(0L) would also
        // rewrite a NULL user_id group key, diverging from GROUP BY
        .na.fill(0L,
          Seq("click", "error", "purchase", "signup", "view")), Some(
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'click') AS "click",
        |       count(*) FILTER (WHERE event_type = 'error') AS "error",
        |       count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
        |       count(*) FILTER (WHERE event_type = 'signup') AS "signup",
        |       count(*) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY user_id""".stripMargin)),

    // hopping-window event rates: 2-hour windows sliding every hour
    // (each event lands in exactly 2 windows), counted per type —
    // the batch form of the standard streaming rate monitor.
    QueryDef("q_hop_windows", Family, (s, dir) =>
      Sessionize.hoppingCounts(Tables.events(s, dir), "ts",
        "2 hours", "1 hour", Seq("event_type")), Some(
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us, event_type FROM events
        |), h AS (
        |  SELECT (us // 3600000000) * 3600000000 AS w_start_us, event_type
        |  FROM e
        |  UNION ALL
        |  SELECT ((us // 3600000000) - 1) * 3600000000 AS w_start_us, event_type
        |  FROM e
        |)
        |SELECT w_start_us, w_start_us + 7200000000 AS w_end_us,
        |       event_type, count(*) AS n
        |FROM h GROUP BY 1, 2, 3""".stripMargin)),

    // telemetry debounce: same-(user, type) rows within 30 min of the
    // previous row are flagged dropped (chained lag semantics); every
    // row keeps its audit columns.
    QueryDef("q_debounce", Family, (s, dir) =>
      Sessionize.debounce(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("ts_us")),
        Seq("user_id", "event_type"), "ts_us", "event_id",
        toleranceUs = 1800000000L), Some(
      // ORDER BY the truncated µs value, not raw ts: under a ns parquet
      // contract Spark orders by the µs truncation, and sub-µs order
      // must not break ties differently across engines
      """WITH b AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts), event_id)
        |           AS prev_gap_us
        |  FROM events
        |)
        |SELECT event_id, user_id, event_type, ts_us, prev_gap_us,
        |       (prev_gap_us IS NULL OR prev_gap_us > 1800000000) AS kept
        |FROM b""".stripMargin)),

    // SCD type-2 history: the changelog intervalized — every event
    // version carries [valid_from, valid_to) with valid_to = the next
    // version's ts (NULL while current); the is_current row per user
    // is exactly the row q_cdc_merge/q_latest keep.
    QueryDef("q_scd2", Family, (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value"), 6).as("value"))
      Sessionize.scdIntervals(ev, Seq("user_id"), "ts_us", "event_id")
    }, Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |         round(value, 6) AS value
        |  FROM events
        |)
        |SELECT user_id, ts_us, event_id, value,
        |       ts_us AS valid_from_us,
        |       lead(ts_us) OVER w AS valid_to_us,
        |       (lead(ts_us) OVER w IS NULL) AS is_current
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin)),

    // exact grouped percentiles (p50/p90/p99 latency-style summary):
    // Spark's exact percentile aggregate, linear interpolation —
    // same definition as the oracle's quantile_cont.
    QueryDef("q_percentiles", Family, (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"),
          count(col("value")).as("n")), Some(
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99,
        |       count(value) AS n
        |FROM events GROUP BY event_type""".stripMargin)),

    // approximate grouped percentiles: the sketch twin of
    // q_percentiles — approx_percentile keeps fixed-size mergeable
    // state per group where the exact aggregate buffers every value
    // (unbounded at 100 TB). Like the HLL distinct, the sketch value
    // has no SQL-exact oracle, so the query asserts the documented
    // rank-error contract in-band: accuracy=1000 bounds rank error by
    // n/1000, and the sketch returns a RAW data value while the exact
    // percentile interpolates, which shifts up to one more rank
    // (≈1/n). A p ± 0.02 band absorbs both for groups ≥ ~55 rows
    // (every event_type at every SF) while still catching gross
    // sketch drift. The oracle expects TRUE per band plus the exact
    // rounded percentiles.
    QueryDef("q_approx_percentiles", Family, (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(expr("approx_percentile(value, 0.5, 1000)").as("__a50"),
          expr("approx_percentile(value, 0.9, 1000)").as("__a90"),
          expr("approx_percentile(value, 0.99, 1000)").as("__a99"),
          expr("percentile(value, 0.48)").as("__lo50"),
          expr("percentile(value, 0.52)").as("__hi50"),
          expr("percentile(value, 0.88)").as("__lo90"),
          expr("percentile(value, 0.92)").as("__hi90"),
          expr("percentile(value, 0.97)").as("__lo99"),
          expr("percentile(value, 1.0)").as("__hi99"),
          round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
          round(expr("percentile(value, 0.9)"), 6).as("p90_exact"),
          round(expr("percentile(value, 0.99)"), 6).as("p99_exact"),
          count(col("value")).as("n"))
        .select(col("event_type"), col("n"),
          col("p50_exact"), col("p90_exact"), col("p99_exact"),
          // n=0 (all-NULL values) makes every percentile NULL; an
          // empty group is trivially in-band
          (col("n") === 0 || col("__a50").between(col("__lo50"), col("__hi50")))
            .as("p50_in_band"),
          (col("n") === 0 || col("__a90").between(col("__lo90"), col("__hi90")))
            .as("p90_in_band"),
          (col("n") === 0 || col("__a99").between(col("__lo99"), col("__hi99")))
            .as("p99_in_band")), Some(
      """SELECT event_type, count(value) AS n,
        |       round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |       round(quantile_cont(value, 0.9), 6) AS p90_exact,
        |       round(quantile_cont(value, 0.99), 6) AS p99_exact,
        |       TRUE AS p50_in_band, TRUE AS p90_in_band, TRUE AS p99_in_band
        |FROM events GROUP BY event_type""".stripMargin)),

    // PSI distribution drift: per event type, day-over-day population
    // stability of the value distribution (10 fixed bins over
    // [0, 500), half-count Laplace smoothing).
    QueryDef("q_psi_drift", Family, (s, dir) =>
      graft.operators.Diagnostics.psiDrift(
        Tables.events(s, dir).select(col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value")),
        Seq("event_type"), "ts_us", "value",
        windowUs = 86400000000L, lo = 0.0, hi = 500.0, nBins = 10), Some(
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS window_id,
        |         CAST(least(greatest(floor((value - 0.0) / 50.0), 0.0), 9.0)
        |              AS INT) AS bin
        |  FROM events WHERE value IS NOT NULL
        |), c AS (
        |  SELECT event_type, window_id, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2, 3
        |), w AS (
        |  SELECT event_type, window_id, CAST(sum(c) AS BIGINT) AS n
        |  FROM c GROUP BY 1, 2
        |), dense AS (
        |  SELECT w.event_type, w.window_id, b.bin,
        |         coalesce(c.c, 0) AS c, w.n
        |  FROM w CROSS JOIN (SELECT unnest(range(10)) AS bin) b
        |  LEFT JOIN c ON c.event_type = w.event_type
        |             AND c.window_id = w.window_id AND c.bin = b.bin
        |), j AS (
        |  SELECT cur.event_type, cur.window_id,
        |         prev.n AS n_prev, cur.n AS n_cur,
        |         CAST(round(
        |           ((cur.c + 0.5) / (cur.n + 0.5 * 10) -
        |            (prev.c + 0.5) / (prev.n + 0.5 * 10)) *
        |           ln(((cur.c + 0.5) / (cur.n + 0.5 * 10)) /
        |              ((prev.c + 0.5) / (prev.n + 0.5 * 10))), 9)
        |           AS DECIMAL(38,9)) AS t
        |  FROM dense cur JOIN dense prev
        |    ON prev.event_type = cur.event_type
        |   AND prev.window_id = cur.window_id - 1
        |   AND prev.bin = cur.bin
        |)
        |SELECT event_type, window_id, CAST(min(n_prev) AS BIGINT) AS n_prev,
        |       CAST(min(n_cur) AS BIGINT) AS n_cur,
        |       CAST(round(sum(t), 6) AS DOUBLE) AS psi
        |FROM j GROUP BY 1, 2""".stripMargin)),

    // gap-based sessionization of the event log (6h gap): one shuffle
    // on user_id; the window pass, session grouping and duration all
    // reuse that partitioning.
    QueryDef("q_sessionize", Family, (s, dir) =>
      Sessionize.sessionize(Tables.events(s, dir), "user_id", "ts",
        gapUs = 6L * 3600000000L), Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |), s AS (
        |  SELECT user_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                   OR us - lag(us) OVER w > 21600000000
        |              THEN 1 ELSE 0 END AS opens
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        |), x AS (
        |  SELECT user_id, us,
        |         CAST(sum(opens) OVER (PARTITION BY user_id ORDER BY us
        |                               ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
        |           AS session_idx
        |  FROM s
        |)
        |SELECT user_id, session_idx, min(us) AS start_us, max(us) AS end_us,
        |       count(*) AS n_events, max(us) - min(us) AS duration_us
        |FROM x GROUP BY user_id, session_idx""".stripMargin)),

    // ordered-step funnel view -> click -> purchase: per-user earliest
    // strictly-ordered traversal; N steps = N windows, ONE exchange.
    QueryDef("q_funnel", Family, (s, dir) =>
      Sessionize.funnel(Tables.events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase")), Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
        |), s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
        |              OVER (PARTITION BY user_id) AS t0 FROM e
        |), s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND us > t0 THEN us END)
        |              OVER (PARTITION BY user_id) AS t1 FROM s1
        |), s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > t1 THEN us END)
        |              OVER (PARTITION BY user_id) AS t2 FROM s2
        |)
        |SELECT user_id, min(t0) AS t_view_us, min(t1) AS t_click_us,
        |       min(t2) AS t_purchase_us,
        |       (CASE WHEN min(t0) IS NOT NULL THEN 1 ELSE 0 END
        |        + CASE WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END
        |        + CASE WHEN min(t2) IS NOT NULL THEN 1 ELSE 0 END)
        |         AS stages_completed
        |FROM s3 GROUP BY user_id""".stripMargin)),

    // co-located fact-fact join through a bucketed layout: both sides
    // materialized bucketed by the order key, join is exchange-free
    // (LayoutSpec pins the plan); rollup by priority.
    QueryDef("q_bucket_join", Family, (s, dir) =>
      Layout.bucketedOrdersJoin(s, dir, buckets = 8), Some(
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(30,2))) AS DOUBLE)
        |         AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(30,2))) AS DOUBLE)
        |         AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin)),

    // AS-OF join: each purchase enriched with the latest view at or
    // before it, per user — union-merge shape, ONE shuffle, no join
    // node (AsOfSpec pins both). The view side is pre-aggregated per
    // (user, ts) so the carried payload is tie-deterministic.
    QueryDef("q_asof", Family, (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("purchase_us"),
          round(col("value"), 6).as("purchase_value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("view_us"),
          col("value"))
        .groupBy("user_id", "view_us")
        .agg(round(max("value"), 6).as("view_value"))
      AsOf.asofJoin(purchases, views, "user_id", "purchase_us", "view_us",
        Seq("view_value"))
    }, Some(
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_us,
        |         round(value, 6) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id, epoch_us(ts) AS view_us,
        |         round(max(value), 6) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |)
        |SELECT l.user_id, l.purchase_us, l.purchase_value,
        |       r.view_us AS asof_view_us, r.view_value AS asof_view_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.purchase_us >= r.view_us""".stripMargin)),

    // range join: events against the session intervals they fall in,
    // via bucket decomposition (equi-join on (user, 6h-bucket) + exact
    // BETWEEN filter — never a per-key nested loop); rolled up per
    // interval, which must reproduce each session's event count.
    QueryDef("q_interval_join", Family, (s, dir) => {
      val ev = Tables.events(s, dir)
      val gap = 6L * 3600000000L
      val sess = Sessionize.sessionize(ev, "user_id", "ts", gapUs = gap)
        .select("user_id", "session_idx", "start_us", "end_us")
      val pts = ev.select(col("user_id"), unix_micros(col("ts")).as("us"))
      IntervalJoin.pointInInterval(pts, sess, "user_id", "us",
        "start_us", "end_us", bucketUs = gap)
        .groupBy("user_id", "session_idx", "start_us", "end_us")
        .agg(count(lit(1)).as("n_matched"))
    }, Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |), s AS (
        |  SELECT user_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                   OR us - lag(us) OVER w > 21600000000
        |              THEN 1 ELSE 0 END AS opens
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        |), x AS (
        |  SELECT user_id, us,
        |         CAST(sum(opens) OVER (PARTITION BY user_id ORDER BY us
        |                               ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
        |           AS session_idx
        |  FROM s
        |), sess AS (
        |  SELECT user_id, session_idx, min(us) AS start_us, max(us) AS end_us
        |  FROM x GROUP BY user_id, session_idx
        |)
        |SELECT sess.user_id, sess.session_idx, sess.start_us, sess.end_us,
        |       count(*) AS n_matched
        |FROM sess JOIN e ON e.user_id = sess.user_id
        |                AND e.us BETWEEN sess.start_us AND sess.end_us
        |GROUP BY 1, 2, 3, 4""".stripMargin)),

    // changelog compaction: latest state per (user, event_type) —
    // upsert/CDC semantics, rank-1 pushed map-side as WindowGroupLimit.
    QueryDef("q_latest", Family, (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          round(col("value"), 6).as("value"))
      Sessionize.compactLatest(ev, Seq("user_id", "event_type"),
        "ts_us", "event_id")
    }, Some(
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |         round(value, 6) AS value
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e
        |)
        |SELECT user_id, event_type, ts_us, event_id, value
        |FROM r WHERE rn = 1""".stripMargin))
  )
}
