package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's shape, checked without a SparkSession: every
  * family's specs index once, the facades agree on one key set, and no
  * row lacks its oracle SQL. */
class QueryRegistrySpec extends AnyFunSuite {

  test("a repeated query name fails registry construction, naming the query") {
    val spec = QuerySpec("dup_row", (_, _) => throw new IllegalStateException("never built"),
      "SELECT 1")
    val e = intercept[IllegalArgumentException](
      QueryRegistry.index(Seq(spec, QuerySpec("other_row", spec.build, "SELECT 2"), spec)))
    assert(e.getMessage.contains("dup_row"))
  }

  test("queries and oracleSql share one key set of 322 rows") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 322)
  }

  test("scale probes are disjoint from the oracle rows") {
    assert(SparkEntry.scaleProbes.nonEmpty)
    assert(SparkEntry.scaleProbes.keySet.intersect(SparkEntry.queries.keySet).isEmpty)
  }

  test("every oracle string is non-empty") {
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"rows with empty oracle SQL: ${empty.mkString(", ")}")
  }
}
