package graft.sources

import java.io.IOException
import java.util.{Collections, LinkedHashMap => JLinkedHashMap, Map => JMap}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source-file schemas, inferred once per file version.
  *
  * A read that names no schema makes Spark infer one, and inference
  * runs a job while the DataFrame is built: one per parquet read (55–77
  * ms on a 4-core host, against 6–10 ms for the same read given its
  * schema), two per CSV read with `inferSchema` (the header, then a scan
  * of the whole file). A file's schema cannot change while the file
  * does not, so [[read]] infers it on the first read of a version and
  * hands it to `spark.read.schema(s)` on every later one.
  *
  * A version is the memo key:
  *   - the qualified path;
  *   - each leaf file under it as (path, length, modification time),
  *     from one Hadoop `FileSystem` listing;
  *   - the format and the read options;
  *   - the session confs that steer inference ([[InferenceConfs]]).
  * A file rewritten at the same path lists with another length or
  * modification time, so it is inferred again. A path that cannot be
  * listed is not memoized: the read falls through to Spark, so a
  * missing path still fails with Spark's `PATH_NOT_FOUND`. Entries are
  * immutable schemas of immutable versions, so queries reading at once
  * share the memo safely.
  */
object FileSchemas {

  /** At most this many versions are remembered, least recently read
    * out first. An entry is a schema (under 4 KB for the widest sf
    * table) and its key (about 200 bytes per leaf file), so 64
    * single-file entries hold well under 1 MB; a directory of f files
    * adds about f × 200 bytes to its entry.
    */
  val MaxEntries = 64

  /** Session SQL confs whose value can change an inferred schema. */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy")

  private final case class Version(format: String, options: Map[String, String],
      confs: Seq[Option[String]], path: String, files: Seq[(String, Long, Long)])

  private val memo: JMap[Version, StructType] = Collections.synchronizedMap(
    new JLinkedHashMap[Version, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: JMap.Entry[Version, StructType]): Boolean =
        size() > MaxEntries
    })

  /** Versions remembered now (at most [[MaxEntries]]). */
  private[graft] def entries: Int = memo.size()

  /** `spark.read.format(format).options(options).load(path)`, with the
    * schema inferred at most once per version of the files at `path`.
    */
  def read(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    version(spark, format, path, options) match {
      case None => reader.load(path)
      case Some(v) =>
        Option(memo.get(v)) match {
          case Some(schema) => reader.schema(schema).load(path)
          case None =>
            val df = reader.load(path)
            memo.put(v, df.schema)
            df
        }
    }
  }

  private def version(spark: SparkSession, format: String, path: String,
      options: Map[String, String]): Option[Version] = {
    val p = new Path(path)
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.getFileStatus(p)
      val leaves =
        if (!root.isDirectory) Seq(root)
        else {
          val it = fs.listFiles(p, true)
          val b = Seq.newBuilder[FileStatus]
          while (it.hasNext) b += it.next()
          b.result()
        }
      Some(Version(format, options, InferenceConfs.map(spark.conf.getOption),
        fs.makeQualified(p).toString,
        leaves.map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted))
    } catch {
      case _: IOException => None
    }
  }
}
