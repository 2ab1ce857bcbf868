package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every entry point (Cli, Verify,
  * Bench, Dev, the test suite) builds its session here, so the
  * configs cannot drift apart (Tables.events requires nanosAsLong at
  * session construction; bench parallelism must match shuffle
  * partitions; the DataFrame API needs [[GraftExtensions]]).
  *
  * The configs below are DEFAULTS, not overrides: anything already
  * set as a `spark.*` system property — by spark-submit (`--master`,
  * `--conf`, spark-defaults.conf) or by `-D` — wins. That covers
  * `spark.master`, the shuffle-partition count and the AQE partition
  * floor. The one exception is [[GraftExtensions]]: it is always
  * installed, appended to a caller-set `spark.sql.extensions` list
  * when it is not already on it.
  *
  * No session is cached here: `local()` after `stop()` builds a new
  * one.
  */
object Sessions {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  private val Extensions = "spark.sql.extensions"
  private val Graft = classOf[GraftExtensions].getName

  def local(nThreads: String = cpus): SparkSession = {
    // SparkConf loads the spark.* system properties: what spark-submit
    // and -D set
    val spark = SparkSession.builder()
      .config(settings(nThreads, new SparkConf())).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate hands back an already-running session, whose
    // extensions were fixed when it was built
    require(extensions(spark.conf.get(Extensions, "")).contains(Graft),
      s"the running SparkSession was built without $Graft; " +
        s"start it with --conf $Extensions=$Graft")
    spark
  }

  /** What [[local]] sets on the builder: each default `preset` lacks,
    * plus the `preset` extensions list with [[GraftExtensions]] on it.
    */
  private[graft] def settings(nThreads: String,
      preset: SparkConf): Map[String, String] = {
    val defaults = Seq(
      "spark.master" -> s"local[$nThreads]",
      "spark.sql.shuffle.partitions" -> nThreads,
      // AQE coalescing already prefers parallelism over the advisory
      // byte target (parallelismFirst=true, Spark's default), but its
      // 1 MB minPartitionSize floor re-serializes CPU-heavy small-byte
      // stages: a 33-tap convolution / interpolated-median window over
      // a few MB of narrow series rows coalesces to 1-2 tasks and runs
      // minutes of per-row work on one core (measured r15: q_gaussian
      // 2.7->1.7 s, q_buster_check 3.1->2.2 s, q_rolling_slope
      // 1.3->0.7 s at 256k vs the 1m default). The floor only governs
      // small shuffles — large ones are advisory-sized — so a low
      // floor is scale-neutral: at cluster scale it changes task
      // counts only for stages that are trivial either way. 256k, not
      // lower: 64k was also measured and re-splits the many tiny
      // shuffles of driver-round composites into pure task overhead
      // (q_split_safe_incr +0.9 s, q_vocab_prune +0.25 s). A byte-bound
      // deployment restores the 1m default with --conf (or at runtime:
      // it is a runtime SQL conf).
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val exts = extensions(preset.get(Extensions, ""))
    defaults.filterNot { case (k, _) => preset.contains(k) }.toMap +
      (Extensions -> (if (exts.contains(Graft)) exts else exts :+ Graft).mkString(","))
  }

  private def extensions(list: String): Seq[String] =
    list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
}
