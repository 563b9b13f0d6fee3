package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The query registry: one [[QueryDef]] per query, and the driver maps
  * derived from that one list.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("the registry holds exactly 93 uniquely named defs") {
    assert(SparkEntry.defs.size == 93)
    assert(SparkEntry.defs.map(_.name).distinct.size == 93)
  }

  test("queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.defs.map(_.name).toSet)
  }

  test("every oracle is non-empty SQL") {
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("the derivation rejects a duplicate name instead of keeping the last") {
    val a = QueryDef("q_x", (s, _) => s.range(1).toDF(), "SELECT 1")
    val b = a.copy(build = (s, _) => s.range(2).toDF(), oracleSql = "SELECT 2")
    val e = intercept[IllegalArgumentException](QueryDef.index(Seq(a, b))(_.oracleSql))
    assert(e.getMessage.contains("q_x"))
    assert(QueryDef.index(Seq(a))(_.oracleSql) == Map("q_x" -> "SELECT 1"))
  }
}
