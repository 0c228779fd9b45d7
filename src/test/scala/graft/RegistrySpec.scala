package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query-registry collision guard (r14): the registry merges
  * ~26 operator-module maps, and before the guard a name declared twice
  * silently kept only the later module's factory — the earlier operator
  * dropped out of the verified surface with every record still green
  * (it happened twice: ts_changepoint and rel_stratified_sample each
  * shadowed an older operator for a full round). No SparkSession needed
  * — the guard must fire before any plan is built. */
class RegistrySpec extends AnyFunSuite {

  test("duplicate query names across modules fail loudly, naming both") {
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.mergedUnique(Seq(
        "ModA" -> Map("q1" -> 1, "q2" -> 2),
        "ModB" -> Map("q2" -> 3, "q3" -> 4)))
    }
    assert(ex.getMessage.contains("q2"))
    assert(ex.getMessage.contains("ModA") && ex.getMessage.contains("ModB"))
  }

  test("disjoint modules merge completely") {
    val m = SparkEntry.mergedUnique(Seq(
      "ModA" -> Map("q1" -> 1), "ModB" -> Map("q2" -> 2)))
    assert(m == Map("q1" -> 1, "q2" -> 2))
  }

  test("the live registries resolve without collisions, names aligned") {
    // first access runs the guard over the real modules
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(qs == os,
      s"query/oracle name drift: only-queries=${qs -- os} only-oracles=${os -- qs}")
  }

  test("every oracle renders: SELECT or WITH first, no unexpanded interpolation") {
    // a shared SQL fragment spliced into a string that lost its `s`
    // interpolator leaves `${name}` or `$name` in the text
    val unexpanded = """\$\{|\$[A-Za-z_]""".r
    val bad = SparkEntry.oracleSql.collect {
      case (k, sql) if !(sql.startsWith("SELECT") || sql.startsWith("WITH")) ||
          unexpanded.findFirstIn(sql).isDefined => k
    }
    assert(bad.isEmpty, s"oracles with a broken render: ${bad.toSeq.sorted}")
  }
}
