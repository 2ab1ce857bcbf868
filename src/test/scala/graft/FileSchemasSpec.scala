package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.{JobTags, ListenerFlush}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.sources.{FileSchemas, Ingest, Tables}

/** The source-schema memo: a file version is inferred once, a second
  * read builds without a job and reads what a plain read reads, a
  * rewrite is inferred again, and a missing path still fails as Spark's.
  */
class FileSchemasSpec extends SparkTestBase {

  private val csvOptions = Map("header" -> "true", "inferSchema" -> "true")

  /** `body`'s value and the Spark jobs it started on this thread. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"file-schemas-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(JobTags.Key)))
            .exists(_.split(JobTags.Sep).contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    sc.addJobTag(tag)
    try {
      val a = body
      ListenerFlush.flush(sc)
      (a, n.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(counter)
    }
  }

  /** `body` over a fresh temp dir, deleted after. */
  private def withDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("graft-file-schemas")
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def writeCsv(file: Path, lines: String*): Unit =
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** A one-file events table, written without Spark, whose `ts` has
    * the parquet logical type `tsType`; rows are (event_id, user_id,
    * ts, value), ts in that type's unit.
    */
  private def writeEvents(file: Path, tsType: String,
      rows: Seq[(Long, Long, Long, Double)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events { required int64 event_id; required int64 user_id;
         |  required int64 ts ($tsType); required double value; }""".stripMargin)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema).withConf(new Configuration())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { case (e, u, ts, v) =>
      w.write(g.newGroup().append("event_id", e).append("user_id", u)
        .append("ts", ts).append("value", v))
    } finally w.close()
  }

  test("parquet: a second read of an unchanged file runs no job, reads the plain read's rows") {
    withDir { dir =>
      val file = dir.resolve("t.parquet").toString
      spark.range(0, 40, 1, 2).select(col("id"), (col("id") * 1.5).as("x"),
        col("id").cast("string").as("s")).coalesce(1).write.parquet(file)
      val (first, firstJobs) = jobsOf(FileSchemas.read(spark, "parquet", file))
      val (second, secondJobs) = jobsOf(FileSchemas.read(spark, "parquet", file))
      assert(firstJobs >= 1, "the first read infers, with a job")
      assert(secondJobs == 0, s"the second read ran $secondJobs jobs")
      val plain = spark.read.parquet(file)
      assert(first.schema == plain.schema && second.schema == plain.schema)
      assert(rows(second) == rows(plain) && rows(plain).size == 40)
    }
  }

  test("csv: the QC ingest infers once per file version") {
    withDir { dir =>
      val file = dir.resolve("wide.csv")
      writeCsv(file, "timestamp,station,do,ph",
        "2024-01-01 00:00:00,S1,8.5,7.1", "2024-01-01 00:15:00,S1,8.4,",
        "2024-01-01 00:00:00,S2,9.0,7.3")
      val path = file.toString
      val (_, firstJobs) = jobsOf(Ingest.readCsvTimeSeries(spark, path))
      val (second, secondJobs) = jobsOf(Ingest.readCsvTimeSeries(spark, path))
      assert(firstJobs >= 1 && secondJobs == 0,
        s"jobs: first read $firstJobs, second read $secondJobs")
      val plain = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(path).withColumn("ts", to_timestamp(col("timestamp")))
      assert(second.schema == plain.schema)
      assert(rows(second) == rows(plain) && rows(plain).size == 3)
    }
  }

  test("a file rewritten at the same path with another schema is inferred again") {
    withDir { dir =>
      val csv = dir.resolve("a.csv")
      writeCsv(csv, "k,v", "1,2.5", "2,3.5")
      val before = FileSchemas.read(spark, "csv", csv.toString, csvOptions).schema
      assert(FileSchemas.read(spark, "csv", csv.toString, csvOptions).schema == before)
      writeCsv(csv, "k,v,label", "1,x,first", "2,y,second", "3,z,third")
      val (after, jobs) = jobsOf(FileSchemas.read(spark, "csv", csv.toString, csvOptions))
      assert(jobs >= 1, "the rewritten csv was not inferred again")
      assert(after.schema.fieldNames.toSeq == Seq("k", "v", "label"))
      assert(after.schema("v").dataType.typeName == "string")
      assert(after.count() == 3)

      val pq = dir.resolve("b.parquet").toString
      spark.range(0, 5).coalesce(1).write.parquet(pq)
      assert(FileSchemas.read(spark, "parquet", pq).schema.fieldNames.toSeq == Seq("id"))
      spark.range(0, 7).select(col("id"), lit("w").as("word"))
        .coalesce(1).write.mode("overwrite").parquet(pq)
      val (again, pqJobs) = jobsOf(FileSchemas.read(spark, "parquet", pq))
      assert(pqJobs >= 1)
      assert(again.schema.fieldNames.toSeq == Seq("id", "word") && again.count() == 7)
    }
  }

  test("a missing path still fails with PATH_NOT_FOUND, and is not remembered") {
    withDir { dir =>
      for ((format, file) <- Seq("parquet" -> "none.parquet", "csv" -> "none.csv")) {
        val e = intercept[AnalysisException](
          FileSchemas.read(spark, format, dir.resolve(file).toString, csvOptions))
        assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
      }
      val csv = dir.resolve("none.csv")
      writeCsv(csv, "a", "1")
      assert(FileSchemas.read(spark, "csv", csv.toString, csvOptions).count() == 1)
    }
  }

  test("Tables.events adapts to all three ts contracts, read through the memo") {
    withDir { dir =>
      val file = dir.resolve("events.parquet")
      val us = Seq(1700000000123456L, 1700000060000001L, 1700000120999999L)
      val contracts = Seq(
        // nanos: under nanosAsLong the reader truncates ns to µs
        "TIMESTAMP(NANOS,true)" -> us.map(_ * 1000 + 999),
        "TIMESTAMP(MICROS,false)" -> us,
        "TIMESTAMP(MICROS,true)" -> us)
      for ((tsType, raw) <- contracts) {
        writeEvents(file, tsType, raw.zipWithIndex.map { case (t, i) =>
          (i.toLong, 7L, t, i * 0.5) })
        Tables.events(spark, dir.toString)
        val (ev, jobs) = jobsOf(Tables.events(spark, dir.toString,
          sliceUs = Some((us.head, us.last))))
        assert(jobs == 0, s"$tsType: the second events read ran $jobs jobs")
        assert(ev.schema("ts").dataType == TimestampType, tsType)
        val got = ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
        assert(got.toSeq == us.init, s"$tsType: read $got")
      }
    }
  }

  test("the memo keeps at most MaxEntries file versions, parquet and csv alike") {
    withDir { dir =>
      (0 to FileSchemas.MaxEntries).foreach { i =>
        if (i % 2 == 0) {
          val f = dir.resolve(s"f$i.csv")
          writeCsv(f, "a,b", s"$i,x")
          FileSchemas.read(spark, "csv", f.toString, csvOptions)
        } else {
          val f = dir.resolve(s"f$i.parquet")
          writeEvents(f, "TIMESTAMP(MICROS,true)", Seq((i.toLong, 1L, 0L, 0.0)))
          FileSchemas.read(spark, "parquet", f.toString)
        }
        assert(FileSchemas.entries <= FileSchemas.MaxEntries)
      }
      assert(FileSchemas.entries == FileSchemas.MaxEntries)
    }
  }
}
