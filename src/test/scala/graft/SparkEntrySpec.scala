package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's shape, checked without a Spark session. */
class SparkEntrySpec extends AnyFunSuite {

  test("every query has a non-empty oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql
    assert(queries.size == 57)
    assert(oracles.keySet == queries,
      s"no oracle: ${queries -- oracles.keySet}; no query: ${oracles.keySet -- queries}")
    assert(oracles.forall(_._2.trim.nonEmpty), oracles.filter(_._2.trim.isEmpty).keys)
  }
}
