package graft

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.sources.Tables

/** `Tables.replicate`, the input of `graft.Dev --scale`: an n× replica
  * keeps the source schemas, grows every fact table exactly n× with
  * distinct ids, reads as the source itself at n = 1, and keeps every
  * match inside its replica.
  */
class ScaleSpec extends SparkTestBase with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private val facts = Seq(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"),
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"))

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  private lazy val replicas: Map[Int, String] = Seq(1, 3).map { n =>
    val dir = Files.createTempDirectory(s"scale_spec_$n")
    dirs += dir
    Tables.replicate(spark, sfDir, n, dir.toString)
    n -> dir.toString
  }.toMap

  override def afterAll(): Unit = {
    dirs.foreach(d => FileUtils.deleteDirectory(d.toFile))
    super.afterAll()
  }

  private def table(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")

  /** Order-insensitive digest of a query's output. */
  private def digest(name: String, dir: String): String = {
    val rows = SparkEntry.queries(name)(spark, dir).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    graft.core.Caches.unpersistAll()
    MessageDigest.getInstance("MD5").digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("a replica keeps every table's schema") {
    val dir = replicas(3)
    (facts.map(_._1) ++ Seq("customer", "supplier", "part", "nation", "region"))
      .foreach(t => assert(table(dir, t).schema == table(sfDir, t).schema, t))
  }

  test("at n = 3 each fact table has 3x the rows, and no id is shared by two replicas") {
    facts.foreach { case (t, keys) =>
      val (rep, src) = (table(replicas(3), t), table(sfDir, t))
      assert(rep.count() == 3 * src.count(), t)
      keys.foreach(k =>
        assert(rep.select(k).distinct().count() == 3 * src.select(k).distinct().count(), k))
    }
    // doc_id, vec_id, event_id and o_orderkey are unique in the source
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id",
        "orders" -> "o_orderkey").foreach { case (t, k) =>
      val rep = table(replicas(3), t)
      assert(rep.select(k).distinct().count() == rep.count(), k)
    }
  }

  test("at n = 1 queries read exactly the source data") {
    Seq("q_dedup_exact", "q_sessionize", "q_latest").foreach(q =>
      assert(digest(q, replicas(1)) == digest(q, sfDir), q))
  }

  test("at n = 3 duplicates and sessions are exactly 3x: no match crosses replicas") {
    def dups(dir: String) = SparkEntry.queries("q_dedup_exact")(spark, dir)
      .filter(col("is_duplicate")).count()
    def sessions(dir: String) = SparkEntry.queries("q_sessionize")(spark, dir).count()
    // sf0.001 has no exact duplicates, so any duplicate at n = 3 would
    // be a replica's text matching another replica's
    assert(dups(replicas(3)) == 3 * dups(replicas(1)))
    assert(sessions(replicas(1)) > 0)
    assert(sessions(replicas(3)) == 3 * sessions(replicas(1)))
    graft.core.Caches.unpersistAll()
  }
}
