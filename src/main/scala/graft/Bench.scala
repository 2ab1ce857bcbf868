package graft
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

object Bench {

  /** Total JVM GC time in seconds across all collectors. */
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Aggregated task metrics for ONE measured sample, captured via a
    * SparkListener. Purpose: when a sample runs far over its committed
    * median in the driver environment (r13: two 75-100x spikes), the
    * artifact should carry enough signal to ATTRIBUTE the spike — GC
    * pause (task_gc/jvm_gc high), CPU starvation (wall >> task_run, or
    * task_run >> task_cpu), or spill (spill_mb > 0) — instead of
    * freezing a mysterious number. Listener delivery is async and
    * there is no public flush, so these are best-effort diagnostics,
    * not measurements; the wall number stays the measurement.
    */
  private final class TaskTraceListener
      extends org.apache.spark.scheduler.SparkListener {
    private var runMs = 0L; private var cpuNs = 0L; private var gcMs = 0L
    private var spillBytes = 0L; private var peakMs = 0L; private var nTasks = 0L
    def reset(): Unit = synchronized {
      runMs = 0; cpuNs = 0; gcMs = 0; spillBytes = 0; peakMs = 0; nTasks = 0
    }
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) synchronized {
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        peakMs = math.max(peakMs, m.executorRunTime)
        nTasks += 1
      }
    }
    def snapshotJson(wall: Double, jvmGc: Double): String = synchronized {
      f"""{"wall_sec":$wall%.2f,"jvm_gc_sec":$jvmGc%.2f,"task_run_sec":${runMs / 1e3}%.2f,"task_cpu_sec":${cpuNs / 1e9}%.2f,"task_gc_sec":${gcMs / 1e3}%.2f,"spill_mb":${spillBytes / 1048576.0}%.1f,"peak_task_sec":${peakMs / 1e3}%.2f,"n_tasks":$nTasks%d}"""
    }
  }

  /** Per-query medians from a committed BENCH_local.json — the
    * adjudication baseline. Missing/unparsable file, or a baseline
    * recorded at a DIFFERENT scale factor than this run (the outlier
    * rules are only meaningful same-SF), → empty map (every query then
    * records un-adjudicated, same as before).
    */
  private def committedMedians(path: String, sfDir: String): Map[String, Double] =
    try {
      import org.json4s._
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      val parsed = org.json4s.jackson.JsonMethods.parse(txt)
      val sfOk = parsed \ "sf" match {
        case JString(s) => s == sfDir
        case _ => false
      }
      if (!sfOk) Map.empty
      else parsed \ "queries" match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JDecimal(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }

  /** Budget pacing (r14): grant a query its second sample only when
    * the PROJECTED sweep total still fits the budget — charged wall so
    * far, plus one more sample of this query (at its charge cap), plus
    * the remaining queries' committed cost scaled by the observed
    * environment inflation (charged wall ÷ committed wall so far).
    * Rationale: the old rule (double-sample until wallSpent crosses
    * 1.0× budget) spends the whole budget on the cheap head of the
    * cheapest-first order under a uniformly slow environment — e.g.
    * the driver's LOWER-CORE-COUNT scaling run, where every query is
    * ~2× its 32-core committed median — and then skips the heavy tail
    * at 1.3×. Shedding SECOND SAMPLES early keeps every query present
    * (simulated on the committed medians: uniform 2.6× inflation now
    * completes 161/161 vs 5+ skipped before; quiet epochs still
    * double-sample ~115 of the ≥fastCut queries). n_samples records
    * what each number got.
    */
  private[graft] def allowSecondSample(wallSpent: Double, firstCharged: Double,
      committedDone: Double, committedTotal: Double, nextCharge: Double,
      budgetSec: Double): Boolean =
    if (committedTotal <= 0) wallSpent <= budgetSec // no baseline: r13 rule
    else if (committedDone <= 0) true
    else {
      // Inflation from FIRST samples only (ADVICE r14): the old
      // wallSpent numerator counted second samples and adjudication
      // re-measures against a denominator that counts each query once,
      // conflating sampling multiplicity with environment slowdown —
      // right after the JVM-warmup head it could transiently overshoot
      // and deny second samples in a quiet epoch. firstCharged is the
      // capped charge of each query's FIRST sample only, so the ratio
      // is the observed per-query slowdown.
      val inflation = firstCharged / committedDone
      val remaining = math.max(0.0, committedTotal - committedDone)
      wallSpent + nextCharge + remaining * inflation <= budgetSec
    }

  /** Median reported-statistic/committed ratio over queries whose
    * committed median is big enough to carry signal (≥ 0.2 s) — the
    * sweep-wide environment inflation. (The statistic, not the raw
    * first sample: immediately-adjudicated spikes report their healed
    * min, which reflects the environment's floor rather than its
    * spikes — exactly the level the 2.5× band should be scaled by.) Used to normalize the post-sweep 2.5×
    * adjudication band: in a uniformly slow environment (low-core run,
    * shared-host degradation) EVERY query sits above 2.5× its 32-core
    * quiet-epoch committed median, and re-measuring all of them proves
    * nothing about contention spikes while burning the remaining
    * budget. A genuine per-query spike still stands out against the
    * inflation-scaled threshold.
    */
  private[graft] def envInflation(ratios: Seq[Double]): Double =
    if (ratios.isEmpty) 1.0
    else {
      val s = ratios.sorted
      // true median: even sizes average the two middle elements
      // (ADVICE r14 — the upper-middle element marginally inflated the
      // adjudication band for even-sized inputs)
      val mid =
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      math.max(1.0, mid)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val tracer = new TaskTraceListener
    spark.sparkContext.addSparkListener(tracer)
    // Adjudication baseline: the curated committed medians (the
    // default OUT path is a different file — promoting a run to
    // baseline is an explicit copy).
    val basePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      "BENCH_local.json")
    val committed =
      if (basePath.isEmpty || basePath == "none") Map.empty[String, Double]
      else committedMedians(basePath, sfDir)
    // Dev-only subset filter (comma-separated names), like Verify's
    // query-name arguments: iterate on the heavy tail without paying
    // the full sweep. Unset = everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // CHEAPEST-FIRST execution order (committed medians ascending,
    // unknown/new queries last, name as deterministic tiebreak): the
    // first queries in a fresh JVM absorb global JIT warmup — with
    // hash-map order the r13a sweep happened to open on two heavy
    // queries and froze 10-25 s JIT-inflated numbers into their
    // records (q_dedup_simhash 10.9 vs 1.9 steady). The ~75 sub-second
    // queries warm the JVM at ~no cost before anything heavy runs —
    // the cheap replacement for the full warmup pass this harness
    // dropped.
    val queryMap = SparkEntry.queries
      .filter(kv => only.forall(_.contains(kv._1)))
      .toSeq
      .sortBy { case (name, _) =>
        (committed.getOrElse(name, Double.MaxValue), name)
      }

    // --- harness shape (r12 rc-124 + r13 46-skipped post-mortems) ---
    // Honest Force.force forcing stays — it IS the measurement. The
    // r13 layout (no warmup pass, adaptive sampling, wall budget)
    // stays too, with the r14 outlier rules below. Reported statistic
    // per query: 1 sample → that sample; even n → MIN (the timeit
    // convention); odd n → median. Every sample is a full honest
    // execution; n_samples records how many backed each number and
    // "stat_rule" names the convention in-artifact (the r13 methodology
    // break — min-of-2 vs the old warmup+median-of-3 — is now
    // self-describing instead of implicit).
    //
    // r14 outlier rules (BENCH_r13 post-mortem: two environmental
    // 75-100x samples — q_wrtds_check 191 s vs 1.84 s committed,
    // q_jpeg_neardup 157 s vs 1.81 s, both ~2.6 s when re-measured at
    // the same HEAD — consumed 58% of the budget, pushed wallSpent
    // past every gate, suppressed the post-sweep adjudication that
    // exists precisely for contention spikes, and evicted 46 queries):
    //  1. IMMEDIATE re-measure: a first sample >5x its committed
    //     median re-runs right away, while the contention window may
    //     have passed — not at end of sweep. The re-measure is exempt
    //     from budget suppression when the outlier itself consumed
    //     >10% of the budget (the case where suppression would
    //     otherwise be triggered BY the spike it should adjudicate).
    //  2. Capped budget charge: a sample's contribution to wallSpent
    //     is min(wall, 5x committed) — a spike pays its own real wall
    //     (wallTrue tracks it) but cannot evict dozens of queries'
    //     signal from the artifact.
    //  3. A query failure is RECORDED, not swallowed: the sample keeps
    //     its time-to-failure wall (real spent budget) and the
    //     artifact carries per-query "errors" so it can never read as
    //     a legitimate timing.
    //  4. Any >5x first sample logs a "slow_trace" (task-metric
    //     attribution) even when the re-measure clears it.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val fastCut = sys.env.getOrElse("SPARK_GRAFT_BENCH_FASTCUT", "0.5").toDouble
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "600").toDouble
    var wallSpent = 0.0 // budget-charged wall: outlier samples capped at 5x committed
    var wallTrue = 0.0 // actual measured wall

    final case class Sample(sec: Double, gc: Double, err: Option[String],
      trace: String)

    val slowTraces = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def sampleOnce(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Sample = {
      tracer.reset()
      val g0 = gcSeconds
      val t0 = System.nanoTime()
      val err =
        try { Force.force(fn(spark, sfDir)); None }
        catch { case e: Throwable =>
          Some((e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).replaceAll("[\"\\\\\n\r\t]", " ")
            .take(200))
        }
        finally graft.core.Caches.unpersistAll()
      val dt = (System.nanoTime() - t0) / 1e9
      val gcd = gcSeconds - g0
      wallTrue += dt
      wallSpent += committed.get(name)
        .fold(dt)(c => math.min(dt, math.max(c * 5, 0.5)))
      err.foreach(m => errors.getOrElseUpdate(name, m))
      Sample(dt, gcd, err, tracer.snapshotJson(dt, gcd))
    }
    // >5x committed AND past an absolute floor that SCALES with the
    // committed value (clamped to [0.1, 0.5] s) so sub-second noise
    // never triggers but a JIT-ramped cheap query still can.
    def isOutlier(name: String, sec: Double): Boolean =
      committed.get(name).exists(c =>
        sec > c * 5 && sec - c > math.min(0.5, math.max(0.1, c)))
    /** min for even sample counts, median for odd — both are honest
      * full executions; the artifact records how many samples backed
      * each number and stat_rule names the convention. Error-free
      * samples always outrank failed ones: a fast time-to-failure
      * must never win the min over an honest full run (the errors map
      * still flags the query either way).
      */
    def statistic(samples: Seq[Sample]): Sample = {
      val ok = samples.filter(_.err.isEmpty)
      val pool = if (ok.nonEmpty) ok else samples
      if (pool.size % 2 == 0) pool.minBy(_.sec)
      else pool.sortBy(_.sec).apply(pool.size / 2)
    }

    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val sampleCounts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // pacing state: committed cost of the queries measured so far (the
    // denominator of the observed-inflation estimate) and of the whole
    // selected sweep
    val committedTotal = queryMap.flatMap(kv => committed.get(kv._1)).sum
    var committedDone = 0.0
    // capped charge of each query's FIRST sample only — the pacing
    // inflation numerator (see allowSecondSample)
    var firstSampleCharged = 0.0
    // (first, remeasured) for every adjudicated query — immediate or
    // post-sweep — so the artifact always records both numbers.
    val adjudicated = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val queryLookup = queryMap.toMap

    def measure(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame, nSamples: Int): Seq[Sample] = {
      val first = sampleOnce(name, fn)
      committedDone += committed.getOrElse(name, 0.0)
      firstSampleCharged += committed.get(name)
        .fold(first.sec)(c => math.min(first.sec, math.max(c * 5, 0.5)))
      val samples = scala.collection.mutable.ArrayBuffer(first)
      if (first.err.isEmpty && isOutlier(name, first.sec)) {
        slowTraces(name) = first.trace
        val exempt = first.sec > budgetSec * 0.1
        if (wallSpent <= budgetSec * 1.3 || exempt) {
          val re = sampleOnce(name, fn)
          adjudicated(name) = (first.sec, re.sec)
          samples += re
        }
      }
      // each further sample would be budget-charged at most this much;
      // project for ALL the reps this grant would trigger (reps=3
      // grants two more samples, not one — under-projecting by half
      // defeats the pacing near the budget boundary)
      val chargePer = committed.get(name)
        .fold(first.sec)(c => math.min(first.sec, math.max(c * 5, 0.5)))
      val extraSamples = math.max(0, nSamples - samples.size)
      val n =
        if (first.sec < fastCut || first.err.nonEmpty || extraSamples == 0 ||
            !allowSecondSample(wallSpent, firstSampleCharged, committedDone,
              committedTotal, chargePer * extraSamples, budgetSec))
          samples.size
        else math.max(samples.size, nSamples)
      while (samples.size < n) samples += sampleOnce(name, fn)
      samples.toSeq
    }

    val firstPass = queryMap.flatMap { case (name, fn) =>
      if (wallSpent > budgetSec * 1.3) { skipped += name; None }
      else {
        val samples = measure(name, fn, reps)
        sampleCounts(name) = samples.size
        Some(name -> statistic(samples))
      }
    }
    // Post-sweep self-adjudication for the 2.5x-5x band (the round-8
    // lesson: a machine-contention spike frozen into the permanent
    // record with no way to tell). >5x outliers were already
    // re-measured immediately above; this pass catches milder ones
    // after whatever contended with them has passed. The artifact
    // records BOTH numbers; the reported per-query value is the min
    // (a lower later measurement proves the first was contention; a
    // remeasure that is still slow is real cost and stays).
    // Suppression shares the 1.3x-budget skip threshold — with capped
    // charging a spike can no longer push wallSpent there by itself.
    // The 2.5x band is scaled by the sweep-wide environment inflation
    // (median sample/committed ratio): in a uniformly slow environment
    // (the driver's lower-core scaling run, a degraded shared host)
    // every query exceeds 2.5x its quiet-epoch committed median and
    // re-measuring the whole registry proves nothing; a genuine
    // per-query spike still clears the scaled threshold.
    val infl = envInflation(firstPass.flatMap { case (name, s) =>
      committed.get(name).filter(_ >= 0.2).map(c => s.sec / c)
    })
    val suspects = firstPass.filter { case (name, s) =>
      !adjudicated.contains(name) && s.err.isEmpty &&
        committed.get(name).exists(c =>
          s.sec > c * 2.5 * infl && s.sec - c > math.min(0.5, math.max(0.1, c)))
    }
    val remeasured = suspects.flatMap { case (name, s) =>
      if (wallSpent > budgetSec * 1.3) None
      else {
        val re = sampleOnce(name, queryLookup(name))
        adjudicated(name) = (s.sec, re.sec)
        Some(name -> re)
      }
    }.toMap
    // a winning remeasure must itself be error-free, and it counts
    // into n_samples so the artifact's per-query sample count covers
    // every number that could have been reported
    val results = firstPass.map { case (name, s) =>
      remeasured.get(name) match {
        case Some(re) if re.err.isEmpty && re.sec < s.sec =>
          sampleCounts(name) = sampleCounts(name) + 1
          name -> re
        case _ => name -> s
      }
    }
    val adjJson = adjudicated.map { case (name, (first, rsec)) =>
      "\"" + name + "\":{\"first\":" + f"$first%.3f" +
        ",\"remeasured\":" + f"$rsec%.3f" + "}"
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, s) => s"\"" + k + "\":" + s.sec }
      .mkString("{", ",", "}")
    val gc = results.map { case (k, s) => s"\"" + k + "\":" + f"${s.gc}%.3f" }
      .mkString("{", ",", "}")
    val ns = sampleCounts.map { case (k, n) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => "\"" + k + "\":\"" + m + "\"" }
      .mkString("{", ",", "}")
    val traceJson = slowTraces.map { case (k, t) => "\"" + k + "\":" + t }
      .mkString("{", ",", "}")
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2.sec).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"gc_sec":$gc,"n_samples":$ns,"stat_rule":"n=1 single sample; n even min; n odd median; errored samples outranked by clean ones; an adjudicated row (see adjudicated) reports min(statistic, remeasure) and its remeasure counts into n_samples","adjudicated":$adjJson,"errors":$errJson,"slow_trace":$traceJson,"reps":$reps,"truncated":${skipped.nonEmpty},"skipped":$skippedJson,"wall_sec":${f"$wallTrue%.2f"},"wall_charged_sec":${f"$wallSpent%.2f"},"env_inflation":${f"$infl%.3f"},"sf":"$sfDir"}"""
    println(json)
    // Self-contained artifact: the driver captures only a stdout tail,
    // which truncated the round-5 record to 22/58 medians. Writing the
    // full JSON to a file keeps every per-query median recoverable.
    // Default out path is NOT the committed baseline: the r13 driver
    // run (truncated, carrying two 100x environmental outliers as
    // "medians") silently overwrote BENCH_local.json and poisoned the
    // next sweep's ordering and 2.5x adjudication triggers. Promoting
    // a run to baseline is now an explicit copy.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_last_run.json")
    if (outPath.nonEmpty && outPath != "none")
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"bench: could not write $outPath: $e") }
    spark.stop()
    // The driver records only a ~2000-char stdout tail; with 100+
    // queries the full JSON line above overflows it and rounds 5/7
    // lost their parsed totals. The LAST line is therefore a compact
    // summary guaranteed to fit the tail: total, count, slowest 5,
    // (capped at 5, slowest first) the adjudicated outliers, error
    // count, and the slow_trace for the single worst adjudicated row.
    val slowest = results.sortBy(-_._2.sec).take(5)
      .map { case (k, s) => "\"" + k + "\":" + f"${s.sec}%.2f" }
      .mkString("{", ",", "}")
    val adjTop = adjudicated.toSeq.sortBy { case (_, (first, _)) => -first }
      .take(5).map { case (k, (first, rsec)) =>
        "\"" + k + "\":{\"first\":" + f"$first%.2f" +
          ",\"remeasured\":" + f"$rsec%.2f" + "}"
      }.mkString("{", ",", "}")
    val worstTrace = adjudicated.toSeq.sortBy { case (_, (first, _)) => -first }
      .headOption.flatMap { case (k, _) => slowTraces.get(k).map(t =>
        "\"" + k + "\":" + t) }
      .map(e => "{" + e + "}").getOrElse("{}")
    val gcTotal = results.map(_._2.gc).sum
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","n_queries":${results.size}%d,"reps":$reps%d,"gc_sec_total":$gcTotal%.2f,"wall_sec":$wallTrue%.2f,"wall_charged_sec":$wallSpent%.2f,"env_inflation":$infl%.3f,"truncated":${skipped.nonEmpty}%s,"n_skipped":${skipped.size}%d,"n_adjudicated":${adjudicated.size}%d,"n_errors":${errors.size}%d,"adjudicated":$adjTop%s,"slowest":$slowest%s,"slow_trace":$worstTrace%s,"sf":"$sfDir%s"}""")
  }
}
