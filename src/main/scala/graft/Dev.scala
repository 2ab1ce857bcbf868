package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbridge.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode

/** Dev loupe for named registry queries, next to [[Bench]]'s sweep;
  * not part of the engine surface.
  *
  * Per query: one warm-up run (JIT / codegen-cache churn dominates a
  * cold run), then `--reps` reps. Each rep attributes its wall between
  * BUILD (driver rounds / bounded collects run eagerly while the
  * DataFrame is assembled), PLAN (analysis + optimization + physical
  * planning of the final frame) and EXEC (running the plan via
  * [[Force.force]], codegen included), with the scheduler jobs,
  * stages and tasks of each phase and the plan's exchange count. EXEC
  * splits again into time inside jobs and driver-only glue between
  * them (AQE replans, broadcast collects, codegen of the next
  * fragment). The last line per query is the median rep wall
  * (build + plan + exec).
  *
  * `--plans DIR` writes each query's formatted physical plan, as built
  * before execution, to `DIR/<query>[_<suffix>].txt`; with `--reps 0`
  * nothing runs and only the plans are written.
  *
  * Usage: tools/run_main.sh graft.Dev --sf DIR [--reps N]
  *   [--plans DIR [--suffix S]] q_a q_b ...
  */
object Dev {
  private val Usage =
    "usage: graft.Dev --sf DIR [--reps N] [--plans DIR [--suffix S]] query..."

  def main(args: Array[String]): Unit = {
    var opts = Map.empty[String, String]
    var names = Vector.empty[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case f if f.startsWith("--") && it.hasNext => opts += f.drop(2) -> it.next()
      case n => names :+= n
    }
    val unknown = (opts.keySet -- Set("sf", "reps", "plans", "suffix")).map("--" + _)
    require(opts.contains("sf") && names.nonEmpty && unknown.isEmpty,
      s"${unknown.map(u => s"unknown $u\n").mkString}$Usage")
    SparkEntry.requireKnown(names)
    val sf = opts("sf")
    val reps = opts.get("reps").map(_.toInt).getOrElse(3).max(0)
    val suffix = opts.get("suffix").map("_" + _).getOrElse("")
    opts.get("plans").foreach(d => Files.createDirectories(Paths.get(d)))

    val spark = Sessions.local()
    val sc = spark.sparkContext
    val counts = new Counts
    sc.addSparkListener(counts)
    def secs(a: Long, b: Long) = (b - a) / 1e9

    names.foreach { n =>
      try {
        val tw = System.nanoTime()
        val warm = SparkEntry.queries(n)(spark, sf)
        opts.get("plans").foreach { d =>
          Files.writeString(Paths.get(d, s"$n$suffix.txt"),
            warm.queryExecution.explainString(FormattedMode))
          println(s"[dev] $n plan written")
        }
        if (reps > 0) {
          Force.force(warm)
          println(f"[dev] $n%-24s warm-up ${secs(tw, System.nanoTime())}%6.2f s")
        }
        graft.core.Caches.unpersistAll(blocking = true)
        val walls = (1 to reps).map { r =>
          ListenerFlush.flush(sc)
          val c0 = counts.snap
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(n)(spark, sf)
          val t1 = System.nanoTime()
          ListenerFlush.flush(sc)
          val c1 = counts.snap
          val plan = df.queryExecution.executedPlan // forces planning
          val nExch = plan.toString.linesIterator.count(l =>
            l.contains("Exchange") && !l.contains("ReusedExchange"))
          val t2 = System.nanoTime()
          counts.spans.clear()
          Force.force(df)
          val t3 = System.nanoTime()
          ListenerFlush.flush(sc)
          val c2 = counts.snap
          val inJobs = counts.inJobsSeconds()
          graft.core.Caches.unpersistAll(blocking = true)
          println(f"[dev] $n%-24s rep $r  build ${secs(t0, t1)}%6.2f s (${c1.show(c0)})  plan ${secs(t1, t2)}%5.2f s  exec ${secs(t2, t3)}%6.2f s (${c2.show(c1)}, in-jobs $inJobs%5.2f s, glue ${secs(t2, t3) - inJobs}%5.2f s)  exch $nExch%2d")
          secs(t0, t3)
        }.sorted
        if (walls.nonEmpty)
          println(f"[dev] $n%-24s median ${walls(walls.size / 2)}%6.2f s over $reps reps")
      } catch {
        case NonFatal(t) => println(s"[dev] $n FAILED: $t")
      } finally graft.core.Caches.unpersistAll(blocking = true)
    }
    spark.stop()
  }

  private final case class Snap(jobs: Int, stages: Int, tasks: Int) {
    def show(from: Snap): String =
      f"${jobs - from.jobs}%3d jobs ${stages - from.stages}%3d stages ${tasks - from.tasks}%4d tasks"
  }

  /** Scheduler counts plus the wall intervals of jobs, for the phase
    * split (events arrive on the single listener-bus thread).
    */
  private final class Counts extends SparkListener {
    @volatile private var jobs = 0
    @volatile private var stages = 0
    @volatile private var tasks = 0
    private val starts = new ConcurrentHashMap[Int, Long]()
    val spans = new ConcurrentLinkedQueue[(Long, Long)]()

    def snap: Snap = Snap(jobs, stages, tasks)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1; starts.put(j.jobId, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val s = starts.remove(j.jobId)
      if (s != 0L) spans.add((s, j.time))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1; tasks += s.stageInfo.numTasks
    }

    /** Union of the recorded job intervals: scheduled work, as opposed
      * to driver-only time between jobs.
      */
    def inJobsSeconds(): Double = {
      var inJobs = 0L
      var end = Long.MinValue
      spans.asScala.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (a > end) { inJobs += b - a; end = b }
        else if (b > end) { inJobs += b - end; end = b }
      }
      inJobs / 1e3
    }
  }
}
