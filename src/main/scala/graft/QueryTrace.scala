package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.{JobTags, ListenerFlush}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** What one phase of a traced query cost: its wall, and the scheduler
  * work of the jobs it started; `peakMs` is the longest task's run.
  *
  * `codegenCompiles` and `codegenNs` are the classes Spark generated
  * and compiled during the phase, and the time it took, read from
  * Spark's JVM-wide codegen counters: runs traced at the same time see
  * each other's compiles.
  */
final class Phase {
  var wallSec = 0.0
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var peakMs = 0L
  var spillBytes = 0L; var shuffleWriteBytes = 0L
  var codegenCompiles = 0L; var codegenNs = 0L
  private[graft] val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** The union of the phase's job intervals: scheduled work, as opposed
    * to driver-only glue (AQE replans, codegen, driver rounds).
    */
  def inJobsSec: Double = {
    var inJobs = 0L
    var end = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { inJobs += b - a; end = b }
      else if (b > end) { inJobs += b - end; end = b }
    }
    inJobs / 1e3
  }

  /** Wall outside the phase's jobs: analysis, planning, codegen and
    * driver glue between jobs.
    */
  def driverSec: Double = math.max(0.0, wallSec - inJobsSec)

  def json: String =
    f"""{"wall_sec":$wallSec%.3f,"jobs":$jobs%d,"stages":$stages%d,"tasks":$tasks%d,"in_jobs_sec":$inJobsSec%.3f,"driver_sec":$driverSec%.3f,"codegen_compiles":$codegenCompiles%d,"codegen_sec":${codegenNs / 1e9}%.3f,"task_run_sec":${runMs / 1e3}%.3f,"task_cpu_sec":${cpuNs / 1e9}%.3f,"task_gc_sec":${gcMs / 1e3}%.3f,"spill_mb":${spillBytes / 1048576.0}%.1f,"shuffle_write_mb":${shuffleWriteBytes / 1048576.0}%.3f,"peak_task_sec":${peakMs / 1e3}%.3f}"""
}

/** One traced query run: BUILD (the generator call, with the driver
  * rounds and bounded collects it runs eagerly), PLAN (analysis,
  * optimization and physical planning of the final frame) and EXEC
  * ([[Force.force]] on that plan). `exchanges` counts the exchanges of
  * the plan as built before execution. If a phase threw, `error`
  * holds what it threw and the later phases stay empty.
  */
final case class Trace(build: Phase, plan: Phase, exec: Phase,
    exchanges: Int, error: Option[Throwable]) {
  def phases: Seq[Phase] = Seq(build, plan, exec)
  def wallSec: Double = phases.map(_.wallSec).sum
  def json: String =
    s"""{"build":${build.json},"plan":${plan.json},"exec":${exec.json},"exchanges":$exchanges}"""
}

/** The harness's one SparkListener, registered on `sc` when created
  * (Bench, Dev and OpsScaleBench create one per session; `Sessions`
  * does not). [[run]] runs a query under a job tag of its own and
  * rolls every job, stage and task carrying the tag up to the phase
  * the job started in: queries traced at once on two threads never
  * mix, and the jobs Spark runs for a query on its broadcast and
  * subquery threads, which inherit the caller's tags, count too.
  */
final class QueryTrace(sc: SparkContext) extends SparkListener {
  // Listener events arrive on the one listener-bus thread; `run`
  // switches phases from the query's thread. Both hold this lock.
  private val current = mutable.HashMap.empty[String, Phase]
  private val jobPhase = mutable.HashMap.empty[Int, (Phase, Long)]
  private val stagePhase = mutable.HashMap.empty[Int, Phase]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty(JobTags.Key)))
    tags.toSeq.flatMap(_.split(JobTags.Sep)).collectFirst(current).foreach { p =>
      p.jobs += 1
      jobPhase(e.jobId) = (p, e.time)
      e.stageIds.foreach(stagePhase.getOrElseUpdate(_, p))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobPhase.remove(e.jobId).foreach { case (p, start) => p.jobSpans += ((start, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagePhase.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (p <- stagePhase.get(e.stageId); m <- Option(e.taskMetrics)) {
      p.tasks += 1
      p.runMs += m.executorRunTime; p.cpuNs += m.executorCpuTime
      p.gcMs += m.jvmGCTime; p.peakMs = math.max(p.peakMs, m.executorRunTime)
      p.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      p.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Runs `build`, plans its frame and forces it, under a new job tag,
    * timing each of the three phases. After each phase the listener
    * bus is drained, so the phase's totals are complete when read.
    * Never throws: a failure ends the run and is returned in `error`.
    */
  def run(build: => DataFrame): Trace = {
    val tag = s"graft-trace-${java.util.UUID.randomUUID()}"
    val (b, p, x) = (new Phase, new Phase, new Phase)
    def phase[T](into: Phase)(body: => T): T = {
      synchronized { current(tag) = into }
      val (c0, n0) = (QueryTrace.compiles, QueryTrace.compileNs)
      val t0 = System.nanoTime()
      try body
      finally {
        into.wallSec = (System.nanoTime() - t0) / 1e9
        into.codegenCompiles = QueryTrace.compiles - c0
        into.codegenNs = QueryTrace.compileNs - n0
        ListenerFlush.flush(sc)
      }
    }
    var exchanges = 0
    sc.addJobTag(tag)
    val error =
      try {
        val df = phase(b)(build)
        exchanges = phase(p)(df.queryExecution.executedPlan).toString
          .linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
        phase(x)(Force.force(df))
        None
      } catch { case e: Throwable => Some(e) }
      finally {
        sc.removeJobTag(tag)
        synchronized {
          // later events (tasks of a cancelled stage) no longer count
          val mine = Set(b, p, x)
          current -= tag
          jobPhase.filterInPlace((_, jp) => !mine(jp._1))
          stagePhase.filterInPlace((_, sp) => !mine(sp))
        }
      }
    Trace(b, p, x, exchanges, error)
  }

  sc.addSparkListener(this)
}

object QueryTrace {

  /** Classes compiled by Spark's code generator in this JVM so far. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent compiling them. */
  def compileNs: Long = CodeGenerator.compileTime
}
