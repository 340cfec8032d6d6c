package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gate integrity of the oracle contract: every oracle string belongs to
  * a query, and the rows-only set (queries without an oracle) is exactly
  * the one intended — an orphaned oracle or a silently dropped gate
  * fails here, not only in tools/compare_oracle.py.
  */
class OracleGateSpec extends AnyFunSuite {
  test("oracleSql keys are queries; the rows-only set is exactly the intended four") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.subsetOf(queries),
      s"oracle SQL without a query: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
    assert((queries -- oracles) === Set("kg_clusters", "kg_clusters_grid", "kg_mosaics",
      "kg_similar_edges"))
  }
}
