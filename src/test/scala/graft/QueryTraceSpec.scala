package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The harness trace: phases get the jobs they ran, by job tag. */
class QueryTraceSpec extends SparkTestBase with BeforeAndAfterAll {
  private lazy val tracer = new QueryTrace(spark.sparkContext)

  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(tracer)

  private def grouped(parts: Int, keys: Int): DataFrame =
    spark.range(0, 200000, 1, parts).groupBy(col("id") % keys)
      .agg(sum("id").as("s"), count(lit(1)).as("n"))

  private def ok(t: Trace): Trace = { t.error.foreach(throw _); t }

  test("a groupBy query reports its exchange, shuffle bytes and tasks in exec") {
    val t = ok(tracer.run(grouped(4, 97)))
    assert(t.exchanges >= 1)
    assert(t.exec.shuffleWriteBytes > 0)
    assert(t.exec.tasks > 0 && t.exec.jobs > 0 && t.exec.stages > 0)
    assert(t.build.jobs == 0 && t.plan.jobs == 0)
  }

  test("fixed cost is build and exec time outside jobs plus the plan wall") {
    val t = ok(tracer.run {
      spark.range(0, 1000, 1, 3).filter(col("id") % 7 === 0).collect()
      grouped(4, 31)
    })
    assert(t.jobs == t.build.jobs + t.exec.jobs && t.build.jobs >= 1 && t.exec.jobs >= 1)
    assert(t.fixedSec == t.build.driverSec + t.plan.wallSec + t.exec.driverSec)
    assert(t.fixedSec > 0 && t.fixedSec <= t.wallSec)
  }

  test("the broadcast job of a broadcast join counts in exec") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val all = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(all)
    val t =
      try {
        ListenerFlush.flush(sc)
        jobs.set(0)
        val small = spark.range(0, 50).withColumn("w", col("id") * 2)
        ok(tracer.run(spark.range(0, 100000, 1, 4)
          .join(broadcast(small), "id").agg(sum("w"))))
      } finally sc.removeSparkListener(all)
    // every job the run started carries the tag, the broadcast
    // collect (on Spark's broadcast thread) included
    assert(t.exec.jobs >= 2)
    assert(t.phases.map(_.jobs).sum == jobs.get)
  }

  test("jobs the generator runs eagerly land in build, not exec") {
    val plain = ok(tracer.run(grouped(4, 31)))
    val t = ok(tracer.run {
      val n = spark.range(0, 1000, 1, 3).filter(col("id") % 7 === 0).collect().length
      grouped(4, 31).withColumn("k", lit(n))
    })
    assert(t.build.jobs >= 1 && t.build.tasks >= 3)
    assert(t.exec.jobs == plain.exec.jobs && t.exec.tasks == plain.exec.tasks)
  }

  test("two queries traced at once on two threads each get their serial task count") {
    val queries = Seq(() => grouped(4, 97), () => grouped(7, 13).orderBy(col("s")))
    val serial = queries.map(q => ok(tracer.run(q())))
    val barrier = new CyclicBarrier(2)
    val traces = new Array[Trace](2)
    val threads = queries.indices.map { i =>
      new Thread(() => {
        barrier.await()
        traces(i) = tracer.run(queries(i)())
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    traces.foreach(ok)
    for ((s, c) <- serial.zip(traces); (sp, cp) <- s.phases.zip(c.phases)) {
      assert(cp.tasks == sp.tasks)
      assert(cp.jobs == sp.jobs)
    }
    assert(serial(0).exec.tasks != serial(1).exec.tasks)
  }

  test("registry sweep queries and the verify family build without a job") {
    // the benchmark's sweep set, read from its registry
    val py = new String(Files.readAllBytes(Paths.get("perfbench/registry.py")), "UTF-8")
    val block = py.substring(py.indexOf("SWEEP = {"))
    val sweep = "\"(q\\w+)\":".r.findAllMatchIn(block.take(block.indexOf("}")))
      .map(_.group(1)).toSeq
    assert(sweep.size == 10 && sweep.contains("q_dedup_minhash"))
    val sfDir = "/root/testdata/sf0.001"
    try (sweep ++ Seq("q_dedup_ngram_capped", "q_containment")).foreach { name =>
      // one warm read: each table's schema is inferred on its first read
      SparkEntry.queries(name)(spark, sfDir)
      graft.core.Caches.unpersistAll()
      val t = ok(tracer.run(SparkEntry.queries(name)(spark, sfDir)))
      assert(t.build.jobs == 0, s"$name ran ${t.build.jobs} jobs while it built")
      graft.core.Caches.unpersistAll()
    } finally graft.core.Caches.unpersistAll()
  }
}
