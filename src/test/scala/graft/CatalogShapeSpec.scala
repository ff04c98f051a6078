package graft

import org.scalatest.funsuite.AnyFunSuite

/** The catalog's shape, checked without a Spark session: building the
  * query and oracle maps runs no query. The oracle differential compares
  * only the keys it is given, so a refactor that dropped a query together
  * with its oracle would still read all-green there; and `Map ++` keeps
  * the last of two equal keys, so a key repeated across two families (or
  * inside one family's `Map(...)` literal) would hide a query. */
class CatalogShapeSpec extends AnyFunSuite {

  test("the catalog holds 488 queries, each with oracle SQL, and no family shadows a key") {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    assert(queries.size == 488)
    assert(queries.keySet == oracles.keySet,
      s"queries without oracle SQL: ${queries.keySet -- oracles.keySet}; " +
        s"oracle SQL without a query: ${oracles.keySet -- queries.keySet}")
    assert(SparkEntry.families.map(_._1().size).sum == 488)
    assert(SparkEntry.families.map(_._2().size).sum == 488)
  }
}
