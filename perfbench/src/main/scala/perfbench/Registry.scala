package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{Force, SparkEntry}
import graft.core.Caches

/** One registry query's run: wall per phase, rows, peak cached bytes,
  * exchanges in its executed plan, or the error it threw.
  */
final case class QueryRun(name: String, family: String, buildS: Double,
    planS: Double, execS: Double, rows: Long, cachedBytes: Long,
    exchanges: Int, error: Option[String]) {
  def wallS: Double = buildS + planS + execS
}

/** The registry workload: `SparkEntry.queries` entries run one at a
  * time, each split into build (the `queries(name)` call, with any
  * driver rounds it makes), plan (`executedPlan`) and exec
  * (`Force.force`). Every job of a query carries the query's family
  * tag `F:<family>`.
  */
object Registry extends AdaptiveSparkPlanHelper {

  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: Exchange => e }.size

  def runOne(spark: SparkSession, dir: String, name: String, family: String,
      tr: Option[Tracer]): QueryRun = {
    val sc = spark.sparkContext
    def phase[T](layer: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = tr.map(_.span(layer)(body)).getOrElse(body)
      (v, (System.nanoTime() - t0) / 1e9)
    }
    val famTag = s"F:$family"
    sc.addJobTag(famTag)
    try {
      val (df, b) = phase("registry.build")(SparkEntry.queries(name)(spark, dir))
      val (_, p) = phase("registry.plan")(df.queryExecution.executedPlan)
      val (rows, e) = phase("registry.exec")(Force.force(df))
      val ex = if (tr.isDefined) exchanges(df.queryExecution.executedPlan) else 0
      QueryRun(name, family, b, p, e, rows, Engine.cachedBytes(sc), ex, None)
    } catch {
      case t: Throwable =>
        QueryRun(name, family, 0, 0, 0, -1, 0, 0,
          Some(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(500)))
    } finally {
      sc.removeJobTag(famTag)
      Caches.unpersistAll(blocking = true)
    }
  }

  /** Write each query's result once for the oracle comparison. */
  def dump(spark: SparkSession, dir: String, names: Seq[String], out: String)
      : Map[String, String] = names.flatMap { name =>
    try {
      SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      None
    } catch {
      case t: Throwable => Some(name -> s"${t.getClass.getSimpleName}: ${t.getMessage}".take(500))
    } finally Caches.unpersistAll(blocking = true)
  }.toMap

  def oracle(names: Seq[String]): Map[String, String] =
    names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
}
