package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the size of the query registry and of its DuckDB oracle set. A
  * refactor that drops a query or an oracle fails here, instead of
  * turning "273/273" parity into "272/272" with nothing failing.
  */
class RegistrySpec extends AnyFunSuite {

  test("the registry holds 279 queries, 273 of them with a DuckDB oracle") {
    assert(SparkEntry.allQueries.size == 279)
    assert(SparkEntry.oracleSql.size == 273)
  }

  test("every oracle belongs to a registered query and is non-empty") {
    val names = SparkEntry.allQueries.map(_.name).toSet
    assert(SparkEntry.oracleSql.keySet.diff(names).isEmpty)
    assert(SparkEntry.oracleSql.values.forall(_.nonEmpty))
  }
}
