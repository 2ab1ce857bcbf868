package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

/** Dev loupe for named registry queries, next to [[Bench]]'s sweep;
  * not part of the engine surface.
  *
  * Per query: one warm-up run (JIT / codegen-cache churn dominates a
  * cold run), then `--reps` reps. Each rep runs under [[QueryTrace]]
  * and prints its [[Trace]] as JSON, the same fields Bench writes per
  * row: build / plan / exec wall, each phase's jobs, stages, tasks,
  * time in jobs, task run / CPU / GC, spill and shuffle bytes, and the
  * plan's exchange count. The last line per query is the median rep
  * wall (build + plan + exec).
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
    val tracer = new QueryTrace(spark.sparkContext)

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
          println(f"[dev] $n%-24s warm-up ${(System.nanoTime() - tw) / 1e9}%6.2f s")
        }
        graft.core.Caches.unpersistAll(blocking = true)
        val walls = (1 to reps).map { r =>
          val trace = tracer.run(SparkEntry.queries(n)(spark, sf))
          graft.core.Caches.unpersistAll(blocking = true)
          trace.error.foreach(throw _)
          println(f"[dev] $n%-24s rep $r  ${trace.wallSec}%6.2f s ${trace.json}")
          trace.wallSec
        }.sorted
        if (walls.nonEmpty)
          println(f"[dev] $n%-24s median ${walls(walls.size / 2)}%6.2f s over $reps reps")
      } catch {
        case NonFatal(t) => println(s"[dev] $n FAILED: $t")
      } finally graft.core.Caches.unpersistAll(blocking = true)
    }
    spark.stop()
  }
}
