package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils

import graft.registry.QueryDef

class VerifySpec extends SparkTestBase {

  private def withOutDir(body: String => Unit): Unit = {
    val out = Files.createTempDirectory("verify_spec").toFile
    try body(out.getPath) finally FileUtils.deleteDirectory(out)
  }

  test("dump removes the previous result of a query that fails to build") {
    withOutDir { out =>
      val stale = new File(out, "q_boom")
      spark.range(3).toDF("id").write.parquet(stale.getPath)
      assert(stale.exists())
      val boom = QueryDef("q_boom", "qc",
        (_, _) => throw new IllegalStateException("analysis failed"), None)
      assert(!Verify.dump(spark, "unused", out, boom))
      assert(!stale.exists())
    }
  }

  test("dump writes a query's result in place of the previous one") {
    withOutDir { out =>
      spark.range(3).toDF("id").write.parquet(s"$out/q_ok")
      val ok = QueryDef("q_ok", "qc", (s, _) => s.range(5).toDF("id"), None)
      assert(Verify.dump(spark, "unused", out, ok))
      assert(spark.read.parquet(s"$out/q_ok").count() == 5)
    }
  }
}
