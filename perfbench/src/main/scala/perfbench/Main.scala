package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.core.Caches

/** The benchmark's JVM side: set up a session, run timed passes of one
  * workload and write every raw measurement to a JSON result file.
  * Medians, checks and the printed verdict are left to `run.py`.
  *
  * Usage (normally launched by run.py):
  *   perfbench.Main --kind qc|registry --input P --warm P --out DIR
  *     --result FILE --seconds S --trace 0|1
  *     qc:       --vars a,b --ranges a=lo:hi,.. --sentem a=code:nitrate,..
  *     registry: --queries name=family,..
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val kind = opts("kind")
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = opts("out")

    def pairs(key: String): Seq[(String, String)] =
      opts.getOrElse(key, "").split(",").toSeq.filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }
    val work: Work = kind match {
      case "qc" =>
        val vars = opts("vars").split(",").toSeq
        val ranges = pairs("ranges").map { case (k, v) =>
          val Array(lo, hi) = v.split(":"); k -> (lo.toDouble, hi.toDouble)
        }.toMap
        val sentem = pairs("sentem").map { case (k, v) =>
          val Array(code, nitrate) = v.split(":"); k -> (code.toInt, nitrate == "1")
        }.toMap
        new QcWork(QcJob(opts("input"), vars, ranges, sentem),
          QcJob(opts("warm"), vars, ranges, sentem), out)
      case "registry" =>
        new RegistryWork(opts("input"), opts("warm"), pairs("queries"), out)
    }

    // set-up, twice: JVM start (first only) -> session with the graft
    // extensions -> one untimed warm-up pass; setup_s is their median
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var listener: TagListener = null
    for (i <- 0 until 2) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Sessions.local()
      listener = new TagListener
      spark.sparkContext.addSparkListener(listener)
      work.warm(spark, i)
      Caches.unpersistAll(blocking = true)
      setupS += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
    }
    val sc = spark.sparkContext

    // timed passes for `seconds`, at least two; with --trace 1,
    // untraced and traced passes alternate, at least one of each
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traced = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spent = 0.0
    var i = 0
    while (spent < seconds || passes.size + traced.size < 2 ||
        (trace && traced.isEmpty)) {
      val tracer = if (trace && i % 2 == 1) Some(new Tracer(sc)) else None
      Engine.drain(sc)
      listener.reset()
      val t0 = System.nanoTime()
      sc.addJobTag("op")
      val r = try work.pass(spark, tracer, i) finally sc.removeJobTag("op")
      val wall = (System.nanoTime() - t0) / 1e9
      val cachedBytes = r.cachedBytes.getOrElse(Engine.cachedBytes(sc))
      Engine.drain(sc)
      val op = listener.get("op")
      val layers = tracer.map(layerMetrics(_, listener, sc.defaultParallelism))
      // untimed: outcome counts and output digests, before the unpersist
      val post = r.post()
      Caches.unpersistAll(blocking = true)
      val base = Map[String, Any](
        "wall_s" -> wall, "task_cpu_s" -> op.cpuNs / 1e9,
        "task_run_s" -> op.runMs / 1e3, "gc_s" -> op.gcMs / 1e3,
        "tasks" -> op.tasks, "failed_tasks" -> op.failedTasks,
        "cached_mb" -> cachedBytes / 1048576.0) ++ r.fields ++ post
      tracer match {
        case Some(tr) =>
          traced += base ++ Map(
            "layers" -> layers.get,
            "spans" -> tr.spans.map(s => Map("name" -> s.name,
              "parent" -> s.parent, "tag" -> s.tag,
              "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)))
        case None => passes += base
      }
      spent += wall
      i += 1
    }
    val t0 = System.nanoTime()
    val checks = work.finish(spark) +
      ("finish_s" -> (System.nanoTime() - t0) / 1e9)

    val result = Map(
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism,
        "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "jdk" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> spark.version),
      "setup_s" -> setupS,
      "passes" -> passes,
      "traced" -> traced,
      "checks" -> checks)
    Files.writeString(Paths.get(opts("result")), Json(result))
    spark.stop()
  }

  val QcLayers: Seq[String] = Seq("sources", "operators.clean",
    "operators.events", "operators.seasonal", "operators.qc_suite", "sentem",
    "pipeline.build", "pipeline.write")
  val RegistryLayers: Seq[String] =
    Seq("registry.build", "registry.plan", "registry.exec")

  /** The eight per-layer metrics of every span layer of one traced
    * pass, plus the registry's job counts and per-family task CPU.
    */
  def layerMetrics(tr: Tracer, l: TagListener, cores: Int): Map[String, Double] = {
    val exec = l.get("L:registry.exec")
    val registry = Map(
      "registry.jobs" -> RegistryLayers.map(n => l.get(s"L:$n").jobs).sum.toDouble,
      "registry.driver_s" -> (tr.wallS("registry.exec") - exec.jobBusyMs / 1e3))
    val families = l.tags.filter(_.startsWith("F:")).map { t =>
      s"family.${t.drop(2)}.task_cpu_s" -> l.get(t).cpuNs / 1e9
    }
    registry ++ families ++ (QcLayers ++ RegistryLayers).flatMap { name =>
      val t = l.get(s"L:$name")
      val wall = tr.wallS(name)
      Seq(
        s"$name.wall_s" -> wall,
        s"$name.task_cpu_s" -> t.cpuNs / 1e9,
        s"$name.busy_frac" -> (if (wall > 0) t.runMs / 1e3 / (wall * cores) else 0.0),
        s"$name.peak_task_s" -> t.peakTaskMs / 1e3,
        s"$name.shuffle_write_mb" -> t.shuffleWriteBytes / 1048576.0,
        s"$name.spill_mb" -> t.spillBytes / 1048576.0,
        s"$name.stages" -> t.stages.toDouble,
        s"$name.tasks" -> t.tasks.toDouble)
    }
  }
}

/** What one pass reports besides the engine totals: its own fields,
  * the peak cached bytes if it tracked them itself, and untimed
  * checks to run once the pass's wall and totals are taken.
  */
final case class PassOut(fields: Map[String, Any], cachedBytes: Option[Long] = None,
    post: () => Map[String, Any] = () => Map())

/** A workload the JVM side can warm up, time and check. */
trait Work {
  /** The untimed warm-up pass of set-up number `setup`. */
  def warm(spark: SparkSession, setup: Int): Unit
  def pass(spark: SparkSession, tracer: Option[Tracer], i: Int): PassOut
  /** Untimed checks after the last pass. */
  def finish(spark: SparkSession): Map[String, Any]
}

final class QcWork(job: QcJob, warmJob: QcJob, out: String) extends Work {
  private def dir(traced: Boolean) = s"$out/${if (traced) "traced" else "plain"}"

  def warm(spark: SparkSession, setup: Int): Unit =
    Qc.run(spark, warmJob, s"$out/warm")

  def pass(spark: SparkSession, tracer: Option[Tracer], i: Int): PassOut = {
    val o = dir(tracer.isDefined)
    tracer match {
      case None =>
        Qc.run(spark, job, o)
        PassOut(Map(), post = () =>
          if (i == 0) Map("digests" -> Qc.digests(spark, o)) else Map())
      case Some(tr) =>
        val outcomes = Qc.traced(spark, job, o, tr)
        PassOut(Map(), post = () =>
          Map("outcomes" -> outcomes(), "digests" -> Qc.digests(spark, o)))
    }
  }

  def finish(spark: SparkSession): Map[String, Any] =
    Map("digests" -> Qc.digests(spark, dir(traced = false)),
      "out" -> dir(traced = false))
}

final class RegistryWork(input: String, warmDir: String,
    queries: Seq[(String, String)], out: String) extends Work {

  private val names = queries.map(_._1)
  private var dumpErrors = Map.empty[String, String]

  /** The first set-up's warm-up writes every result for the oracle
    * comparison (run.py compares values on the warm-up tables and row
    * counts on the timed ones); later set-ups force, as the passes do.
    */
  def warm(spark: SparkSession, setup: Int): Unit =
    if (setup == 0) dumpErrors = Registry.dump(spark, warmDir, names, s"$out/results")
    else queries.foreach { case (n, f) => Registry.runOne(spark, warmDir, n, f, None) }

  def pass(spark: SparkSession, tracer: Option[Tracer], i: Int): PassOut = {
    val runs = queries.map { case (n, f) => Registry.runOne(spark, input, n, f, tracer) }
    val fields = Map[String, Any]("queries" -> runs.map(q => Map(
      "name" -> q.name, "family" -> q.family, "build_s" -> q.buildS,
      "plan_s" -> q.planS, "exec_s" -> q.execS, "wall_s" -> q.wallS,
      "rows" -> q.rows, "exchanges" -> q.exchanges, "error" -> q.error)))
    PassOut(fields, Some(runs.map(_.cachedBytes).max))
  }

  def finish(spark: SparkSession): Map[String, Any] =
    Map("dump_dir" -> s"$out/results", "dump_errors" -> dumpErrors,
      "oracle_sql" -> Registry.oracle(names))
}
