package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log behavioral operators: gap-based sessionization and
  * ordered-step funnel analysis — the two standard reductions a
  * clickstream/training-telemetry pipeline runs over a users×events
  * table. Both are window-shaped: ONE shuffle on the user key, then
  * every window pass and the final aggregate reuse that partitioning
  * (Catalyst's EnsureRequirements sees the hash partitioning already
  * satisfies the grouping), so at 100 TB the cost is a single
  * repartition of the event log regardless of how many session /
  * funnel signals are derived.
  */
object Sessionize {

  /** Gap-based sessionization: a user's events, ordered by time, are
    * split into sessions wherever the gap to the previous event
    * exceeds `gapUs` microseconds. Session boundaries depend only on
    * the multiset of timestamps (ties carry a zero gap and can never
    * open a session), so the output is deterministic even with
    * duplicate event times.
    *
    * Output: user, session_idx (0-based, in time order per user),
    * start_us, end_us, n_events, duration_us.
    */
  def sessionize(df: DataFrame, user: String, ts: String,
      gapUs: Long): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive: $gapUs")
    val w = Window.partitionBy(col(user)).orderBy(col("__us"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("__us"), 1).over(w)
    val opens = when(prev.isNull || col("__us") - prev > gapUs, 1).otherwise(0)
    df.select(col(user), unix_micros(col(ts)).as("__us"))
      .withColumn("session_idx", sum(opens).over(wRun) - 1)
      .groupBy(col(user), col("session_idx"))
      .agg(min(col("__us")).as("start_us"),
        max(col("__us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  /** Ordered-step funnel: for each user, the earliest strictly-ordered
    * traversal of `steps` — t₀ = first event of steps(0), tᵢ = first
    * event of steps(i) AFTER tᵢ₋₁ (strictly later; a same-microsecond
    * event does not advance the funnel). Null propagates: once a step
    * is unreached, all later steps are too.
    *
    * Each step is one whole-partition window min over the same user
    * partitioning — N steps add N Window operators but zero extra
    * exchanges.
    *
    * Output: one row per user — user, t_<step>_us per step (nullable),
    * stages_completed.
    */
  def funnel(df: DataFrame, user: String, ts: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct: $steps")
    val w = Window.partitionBy(col(user))
    val stepCol = steps.map(s => s"t_${s}_us")
    val base = df.select(col(user), unix_micros(col(ts)).as("__us"),
      col(typeCol).as("__t"))
    val staged = steps.zipWithIndex.foldLeft(base) { case (acc, (s, i)) =>
      val reached = if (i == 0) col("__t") === s
        else col("__t") === s && col("__us") > col(stepCol(i - 1))
      acc.withColumn(stepCol(i), min(when(reached, col("__us"))).over(w))
    }
    staged.groupBy(col(user))
      .agg(min(col(stepCol.head)).as(stepCol.head),
        stepCol.tail.map(c => min(col(c)).as(c)): _*)
      .withColumn("stages_completed",
        stepCol.map(c => when(col(c).isNotNull, 1).otherwise(0))
          .reduce(_ + _))
  }

  /** Changelog compaction: the LATEST row per key tuple by
    * (ts desc, tiebreak desc) — upsert/CDC semantics (a state table
    * from an event log). The `tiebreak` column makes the pick
    * deterministic when a key has several rows at the same timestamp.
    *
    * Shape: `max_by` over a (ts, tiebreak) comparator struct. The
    * struct-typed buffer makes Spark plan a SortAggregate (struct
    * buffers don't fit the mutable hash-agg layout), but the PARTIAL
    * aggregate still combines map-side: each task emits one candidate
    * row per key, so the exchange moves O(keys) rows, not the log.
    * Measured 4.2× faster than the row_number()-window formulation at
    * 3.2M rows / 24k keys (1.0 s vs 4.16 s, compact at n=32 in the
    * events scale harness that commit e581814 still has) — the window
    * shape must shuffle-and-sort every surviving row where this
    * reduces before the wire; the gap widens with rows-per-key.
    */
  def compactLatest(df: DataFrame, keys: Seq[String], ts: String,
      tiebreak: String): DataFrame = {
    require(keys.nonEmpty, "compactLatest needs at least one key column")
    val allCols = df.columns.toSeq
    val payload = struct(allCols.map(col): _*)
    val ord = struct(col(ts), col(tiebreak))
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__m"))
      // getField, not col("__m.name"): a column name containing a dot
      // would otherwise be parsed as a nested-field path
      .select(allCols.map(c => col("__m").getField(c).as(c)): _*)
  }

  /** CDC changelog application: reduce an insert/update/delete event
    * log to the live state table it describes. The LATEST row per key
    * (by ts, tiebreak — same comparator as [[compactLatest]]) decides
    * the key's fate: if its `op` equals `deleteOp` the key is a
    * tombstone and is absent from the output; otherwise the latest
    * row's full payload survives. A delete followed by a later upsert
    * resurrects the key — last-writer-wins, the lakehouse MERGE /
    * compacted-topic contract.
    *
    * Same one-exchange max_by shape as [[compactLatest]]; the
    * tombstone filter runs post-aggregate on O(keys) rows, so deletes
    * cost nothing extra over compaction.
    */
  def applyChangelog(df: DataFrame, keys: Seq[String], ts: String,
      tiebreak: String, op: String, deleteOp: String): DataFrame =
    compactLatest(df, keys, ts, tiebreak)
      // null-safe: a NULL op is NOT a tombstone (plain =!= would
      // evaluate to NULL and silently drop the key)
      .filter(!(col(op) <=> lit(deleteOp)))

  /** SCD type-2 intervalization: turn a changelog into a slowly-
    * changing-dimension history table — each version row carries its
    * validity interval [valid_from_us, valid_to_us) with valid_to_us =
    * the next version's timestamp (NULL while current) and an
    * is_current flag. The (ts, tiebreak) order matches
    * [[compactLatest]], so the single is_current row per key is
    * exactly the row compactLatest keeps. One shuffle on the keys;
    * the lead() pass and the flag share the same window partitioning,
    * so N versions per key cost one per-key sort regardless of N.
    * Output: input columns + valid_from_us, valid_to_us, is_current.
    */
  def scdIntervals(df: DataFrame, keys: Seq[String], ts: String,
      tiebreak: String): DataFrame = {
    require(keys.nonEmpty, "scdIntervals needs at least one key column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).asc, col(tiebreak).asc)
    df.withColumn("valid_from_us", col(ts))
      .withColumn("valid_to_us", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Hopping (sliding tumbling) time-window counts over dimension
    * columns, via Spark's native `window()` generator: every event
    * lands in size/slide consecutive windows (epoch-aligned starts at
    * multiples of `slide`), then ONE map-side-combining aggregate
    * counts per (window, dims). `size` must be a whole multiple of
    * `slide` so the replication factor is integral and windows tile
    * exactly. The same expression is streaming-ready — `window()` over
    * a watermarked stream is the standard rate-monitor shape.
    * Output: w_start_us, w_end_us, dims*, n.
    */
  def hoppingCounts(df: DataFrame, ts: String, size: String,
      slide: String, dims: Seq[String]): DataFrame = {
    def us(s: String): Long = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      require(iv.months == 0, s"calendar-month hops are not fixed-width: $s")
      iv.days * 86400000000L + iv.microseconds
    }
    require(us(size) > 0 && us(size) % us(slide) == 0,
      s"size must be a whole multiple of slide for tiling windows: " +
        s"$size / $slide")
    val w = window(col(ts), size, slide)
    df.select((w.as("__w") +: dims.map(col)): _*)
      .groupBy((col("__w") +: dims.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .select((Seq(unix_micros(col("__w.start")).as("w_start_us"),
        unix_micros(col("__w.end")).as("w_end_us")) ++
        dims.map(col) :+ col("n")): _*)
  }

  /** Telemetry debounce — the duplicate-burst cleanup every event-log
    * ingest runs: a row whose timestamp is within `toleranceUs` of
    * the PREVIOUS row on the same key is flagged dropped (chained
    * lag semantics: in a burst where every consecutive gap is inside
    * the tolerance, only the first row survives, regardless of the
    * burst's total span — the standard debounce contract, and the one
    * `lag()` expresses exactly). Emits every input row with its keep
    * decision so both the cleaned set and the drop audit are
    * queryable. ONE shuffle on the key; the per-key sort is the
    * window's own. Tiebreak column makes equal-timestamp order
    * deterministic (engine-portable).
    * Output: input columns + prev_gap_us (NULL for the first row per
    * key) + kept.
    */
  def debounce(df: DataFrame, keys: Seq[String], tsUs: String,
      tiebreak: String, toleranceUs: Long): DataFrame = {
    require(toleranceUs >= 0, s"negative tolerance: $toleranceUs")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsUs).asc, col(tiebreak).asc)
    df.withColumn("prev_gap_us", col(tsUs) - lag(col(tsUs), 1).over(w))
      .withColumn("kept",
        col("prev_gap_us").isNull || col("prev_gap_us") > toleranceUs)
  }
}
