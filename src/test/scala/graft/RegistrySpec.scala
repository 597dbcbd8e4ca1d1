package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's invariants hold by construction: a name is
  * declared once, and every query is declared with its oracle.
  */
class RegistrySpec extends AnyFunSuite {
  // Queries the DuckDB oracle cannot express (each would get the
  // driver's weaker rows-only check).
  private val noOracle = Set.empty[String]

  test("unique rejects a name declared twice and names every duplicate") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.unique("q2" -> 1, "q1" -> 2, "q2" -> 3, "q3" -> 4, "q1" -> 5))
    assert(e.getMessage.endsWith(": q1, q2"), e.getMessage)
    assert(SparkEntry.unique("q1" -> 1, "q2" -> 2) == Map("q1" -> 1, "q2" -> 2))
  }

  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(noOracle.subsetOf(queries), noOracle -- queries)
    assert(queries -- noOracle == oracles,
      s"no oracle: ${(queries -- noOracle -- oracles).toSeq.sorted}; " +
        s"no query: ${(oracles -- queries).toSeq.sorted}; " +
        s"exempt but with an oracle: ${(noOracle & oracles).toSeq.sorted}")
  }

  test("the registry holds 202 queries") {
    assert(SparkEntry.queries.size == 202)
  }
}
