package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.registry.QueryDef
/** Correctness dump: each registry query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py).
  *
  * Usage: graft.Verify sfDir outDir [query...] — with no query names
  * every query runs; with names, only those.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    SparkEntry.requireKnown(only)
    def selected(name: String) = only.isEmpty || only.contains(name)
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.defs.filter(d => selected(d.name)).foreach(dump(spark, sfDir, outDir, _))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes `d`'s result to `outDir/<name>`. The previous run's result
    * is deleted first, so a query that fails (at build or at run) leaves
    * no parquet for the compare to pick up. Returns whether it succeeded.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, d: QueryDef): Boolean = {
    val out = new java.io.File(outDir, d.name)
    org.apache.commons.io.FileUtils.deleteDirectory(out)
    try {
      d.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.getPath)
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      false
    } finally graft.core.Caches.unpersistAll()
  }
}
