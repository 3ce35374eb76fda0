package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry` pairs every query with its DuckDB mirror: a query
  * with no oracle entry would never be cross-checked, and an entry with
  * no query would check nothing. Needs no Spark session. */
class OracleCoverageSpec extends AnyFunSuite {

  test("every query has exactly one oracle entry and every entry a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries with no oracle entry")
    assert((oracles -- queries).isEmpty, "oracle entries with no query")
  }
}
