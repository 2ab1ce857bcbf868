package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.core.{SeriesSpec, TimeIndex}

/** Readers for the driver testdata plus the canonical long-form series
  * adapter. All scans are plain parquet relations so Catalyst pushes
  * filters/projections into the scan.
  *
  * Every reader reads through [[FileSchemas]]: a table's schema is
  * inferred on the first read of a version of its file (qualified path,
  * each leaf file's length and modification time, read options and the
  * inference confs) and given to every later read, so building a query
  * over tables read before runs no Spark job. The memo keeps at most
  * [[FileSchemas.MaxEntries]] versions. [[replicate]] reads raw: its
  * files are new on every run.
  */
object Tables {

  private def parquet(spark: SparkSession, dir: String, table: String): DataFrame =
    FileSchemas.read(spark, "parquet", s"$dir/$table.parquet")

  /** events.parquet: the canonical reader is schema-adaptive because the
    * driver has shipped `ts` under three parquet physical contracts over
    * time — TIMESTAMP(NANOS) (reads as Long ns under
    * spark.sql.legacy.parquet.nanosAsLong=true), TIMESTAMP(MICROS,
    * adjusted=false) (reads as TimestampNTZ), and TIMESTAMP(MICROS,
    * adjusted=true) (reads as Timestamp). All three canonicalize to a µs
    * TimestampType under the UTC session timezone, matching DuckDB's µs
    * TIMESTAMP bit-for-bit.
    *
    * Time-slices are expressed against the RAW column type so Catalyst
    * pushes them into the scan (row-group/page pruning at scale); a
    * filter on a derived/cast column cannot push through the conversion.
    */
  def events(spark: SparkSession, dir: String,
      sliceUs: Option[(Long, Long)] = None): DataFrame = {
    val raw = parquet(spark, dir, "events")

    def sliced(loLit: Long => Column): DataFrame = sliceUs match {
      case Some((lo, hi)) =>
        raw.filter(col("ts") >= loLit(lo) && col("ts") < loLit(hi))
      case None => raw
    }

    raw.schema("ts").dataType match {
      case LongType =>
        // Legacy ns-as-Long path. For positive epochs,
        // ts_us >= lo ⟺ ts_ns >= lo·1000 exactly; `div` truncation
        // matches DuckDB's ns→µs load truncation.
        sliced(us => lit(us * 1000))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // µs naive timestamps: compare against an NTZ literal (pushes to
        // the scan), then reinterpret as UTC-instant TimestampType —
        // micros-exact ONLY under a UTC session timezone (the cast reads
        // the naive wall-clock in the session zone), so guard loudly
        // instead of silently shifting every instant.
        require(
          spark.conf.get("spark.sql.session.timeZone", "") == "UTC",
          "events reader: timestamp[us] NTZ parquet requires " +
            "spark.sql.session.timeZone=UTC (Sessions.local sets it)")
        sliced { us =>
          lit(java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC))
        }.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>
        // timestamp_micros(lit) constant-folds, so the predicate still
        // reaches the scan as a pushed filter.
        sliced(us => timestamp_micros(lit(us)))
      case other =>
        sys.error(s"events.parquet: unsupported ts type $other")
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "region")
  /** documents is deliberately NOT fanned out here: a central FanOut
    * was A/B'd in r15 and lost — ~60 cheap consumers (driver-round
    * trainers re-executing the exchange every round, broadcast-side
    * builds) pay more in extra stages than the shuffle saves. The
    * CPU-heavy kernels (shingle/minhash/BM25/DSIR) fan out selectively
    * at their own entry instead.
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, "embeddings")

  /** The events stream as a canonical long-form series table:
    * `user_id` is the series key, `value` the measurement; duplicate
    * timestamps are dropped keep-first by event_id (the deterministic
    * stand-in for the reference's file-order keep-first,
    * ufz_water_qc_pipeline.py:74).
    */
  val eventsSpec: SeriesSpec = SeriesSpec(keys = Seq("user_id"))

  def eventsSeries(spark: SparkSession, dir: String,
      sliceUs: Option[(Long, Long)] = None): DataFrame =
    TimeIndex.dedupKeepFirst(
      events(spark, dir, sliceUs).select("user_id", "ts", "value", "event_id"),
      eventsSpec, col("event_id"))
      .drop("event_id")

  /** Replica r's id columns are offset by r times this. It is prime,
    * so replicas never land on one residue class of a sharding
    * modulus: an offset of 10^7 is divisible by 16 and put every
    * replica back on its original shard.
    */
  val ReplicaIdOffset = 10000019L

  /** The tables that grow with the replica count, each with its id and
    * key columns. The other sf tables are dimensions.
    */
  private val FactKeys = Seq(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"),
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"))
  private val Dimensions = Seq("customer", "supplier", "part", "nation", "region")

  /** Writes an `n`× copy of the sf dir `srcDir` to `outDir`, one
    * `<table>.parquet` file per table like the source, and returns each
    * table's row count there, facts first.
    *
    * A fact table is the union of `n` replicas. Replica 0 is the
    * table itself, so `n = 1` reads exactly the source data and fixed
    * query sets (`doc_id < 5`, `vec_id < 10`) stay fixed at any `n`.
    * Replica r offsets every id and key column by r·[[ReplicaIdOffset]]
    * (ids must lie in [0, offset), or replicas would collide); in
    * `documents` it also tags every word of `text` with `_r` and
    * recomputes `n_chars`, and in `embeddings` it rotates each vector
    * by r places (a rotation repeats once r reaches the dimension). So
    * no duplicate, match, session or join crosses replicas, unless a
    * query derives data from an id's value: q_jpeg_neardup draws its
    * images from `doc_id % 10^7`, so its replicas do match. Dimension
    * tables are copied unchanged.
    *
    * Tables are read with raw `spark.read.parquet` and keep their
    * physical types (the events `ts` contract). Row groups are capped
    * at 8 MB so a large replica file still splits across scan tasks.
    */
  def replicate(spark: SparkSession, srcDir: String, n: Int,
      outDir: String): Seq[(String, Long)] = {
    require(n >= 1, s"replica count must be at least 1: $n")
    Files.createDirectories(Paths.get(outDir))
    FactKeys.foreach { case (table, keys) =>
      val src = spark.read.parquet(s"$srcDir/$table.parquet")
      val bounds = keys.flatMap(k => Seq(min(k), max(k)))
      val range = src.agg(bounds.head, bounds.tail: _*).head()
      keys.indices.foreach { i =>
        val (lo, hi) = (range.getAs[Number](2 * i), range.getAs[Number](2 * i + 1))
        require(lo == null || (lo.longValue >= 0 && hi.longValue < ReplicaIdOffset),
          s"$srcDir/$table: ${keys(i)} spans $lo..$hi, outside " +
            s"[0, $ReplicaIdOffset), so replicas would collide")
      }
      writeFile((0 until n).map(r => replica(src, table, keys, r))
        .reduce(_ unionByName _), Paths.get(outDir, s"$table.parquet"))
    }
    Dimensions.foreach(t =>
      Files.copy(Paths.get(srcDir, s"$t.parquet"), Paths.get(outDir, s"$t.parquet")))
    (FactKeys.map(_._1) ++ Dimensions).map(t =>
      t -> spark.read.parquet(s"$outDir/$t.parquet").count())
  }

  private def replica(src: DataFrame, table: String, keys: Seq[String],
      r: Int): DataFrame =
    if (r == 0) src
    else {
      def typed(c: Column, name: String): (String, Column) =
        name -> c.cast(src.schema(name).dataType)
      val own = table match {
        case "documents" =>
          val text = regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1_$r"))
          Seq(typed(text, "text"), typed(length(text), "n_chars"))
        case "embeddings" =>
          val e = col("embedding")
          val k = lit(r) % size(e)
          val rotated = concat(slice(e, k + 1, size(e) - k), slice(e, lit(1), k))
          Seq(typed(rotated, "embedding"))
        case _ => Nil
      }
      val ids = keys.map(k => typed(col(k) + lit(r * ReplicaIdOffset), k))
      src.withColumns((ids ++ own).toMap)
    }

  /** `df` as one parquet file at `file`. */
  private def writeFile(df: DataFrame, file: Path): Unit = {
    val parts = file.resolveSibling(s"${file.getFileName}.parts")
    df.coalesce(1).write.option("parquet.block.size", 8L << 20).parquet(parts.toString)
    val part = parts.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, file)
    FileUtils.deleteDirectory(parts.toFile)
  }
}
