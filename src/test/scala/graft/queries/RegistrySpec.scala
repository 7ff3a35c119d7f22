package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The query registry's construction rules. No session is needed: specs
  * are values, and nothing here runs a query.
  */
class RegistrySpec extends AnyFunSuite {

  private def spec(name: String, sql: String) =
    QuerySpec(name, (s, _) => s.emptyDataFrame, sql)

  test("a registry with two specs under one name fails at construction") {
    val e = intercept[IllegalArgumentException] {
      new QueryRegistry(Seq(spec("q_a", "SELECT 1"), spec("q_b", "SELECT 2"),
        spec("q_a", "SELECT 3")))
    }
    assert(e.getMessage.contains("q_a"))
  }

  test("every registered query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 202)
  }
}
