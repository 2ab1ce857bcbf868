package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {

  private val Ext = "spark.sql.extensions"
  private val Floor = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val CodegenCache = "spark.sql.codegen.cache.maxEntries"

  test("with nothing preset, the local defaults apply and GraftExtensions is installed") {
    val s = Sessions.settings("4", new SparkConf(false))
    assert(s("spark.master") == "local[4]")
    assert(s("spark.sql.shuffle.partitions") == "4")
    assert(s(Floor) == "256k")
    assert(s(CodegenCache) == "1000")
    assert(s(Ext) == "graft.GraftExtensions")
  }

  test("a preset master, partition count and AQE floor win; extensions are appended to") {
    val preset = new SparkConf(false).setMaster("local[2]")
      .set("spark.sql.shuffle.partitions", "7").set(Floor, "1m")
      .set(Ext, "a.Ext")
    val s = Sessions.settings("4", preset)
    assert(!s.contains("spark.master") && !s.contains("spark.sql.shuffle.partitions") &&
      !s.contains(Floor))
    assert(s("spark.sql.session.timeZone") == "UTC")
    assert(s(Ext) == "a.Ext,graft.GraftExtensions")
    val listed = new SparkConf(false).set(Ext, "graft.GraftExtensions, a.Ext")
    assert(Sessions.settings("4", listed)(Ext) == "graft.GraftExtensions,a.Ext")
  }

  test("a preset codegen cache size wins over the default") {
    val preset = new SparkConf(false).set(CodegenCache, "100")
    assert(!Sessions.settings("4", preset).contains(CodegenCache))
  }
}
