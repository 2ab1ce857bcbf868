package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The registry's shape, checked without running a Spark job: names,
  * oracle coverage, the derived maps, and the family labels the
  * benchmark reports under.
  */
class RegistrySpec extends AnyFunSuite {
  import SparkEntry.defs

  test("161 queries with unique names") {
    assert(defs.size == 161)
    assert(defs.map(_.name).distinct.size == defs.size)
  }

  test("every query has an oracle except rows-only q_wrtds") {
    assert(defs.filter(_.oracle.isEmpty).map(_.name) == Seq("q_wrtds"))
    assert(SparkEntry.oracleSql.contains("q_wrtds_check"))
  }

  test("queries and oracleSql are the views of defs") {
    assert(SparkEntry.queries.keySet == defs.map(_.name).toSet)
    assert(defs.forall(d => SparkEntry.queries(d.name) eq d.build))
    assert(SparkEntry.oracleSql == defs.flatMap(d => d.oracle.map(d.name -> _)).toMap)
  }

  test("unknown query names are rejected by name") {
    SparkEntry.requireKnown(Seq("q1_pricing", "q_wrtds"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.requireKnown(Seq("q1_pricing", "q_nope", "q_typo")))
    assert(e.getMessage.contains("q_nope") && e.getMessage.contains("q_typo"))
    assert(!e.getMessage.contains("q1_pricing"))
  }

  test("each query's family matches perfbench/registry.py") {
    val py = new String(Files.readAllBytes(Paths.get("perfbench/registry.py")), "UTF-8")
    val block = py.substring(py.indexOf("_FAMILY_NAMES = {"))
    val benchFamily = "\"(\\w+)\":\\s*\"\"\"([^\"]*)\"\"\"".r.findAllMatchIn(block)
      .flatMap(m => m.group(2).split("\\s+").filter(_.nonEmpty).map(_ -> m.group(1)))
      .toMap
    assert(benchFamily.size == defs.size)
    val drift = defs.filterNot(d => benchFamily.get(d.name).contains(d.family))
      .map(d => s"${d.name}: ${d.family} vs ${benchFamily.get(d.name)}")
    assert(drift.isEmpty, drift.mkString("\n"))
  }
}
