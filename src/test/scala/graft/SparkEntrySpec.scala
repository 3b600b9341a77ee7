package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's coverage: every oracle checks a registered query,
  * and the only queries without one are the fits whose `_check`
  * companions and sf0.1 invariants check them instead.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracle names a query, and only the fit primaries lack one") {
    val (queries, oracles) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert(oracles.subsetOf(queries), s"oracles without a query: ${oracles -- queries}")
    assert(queries -- oracles ==
      Set("emb_kmeans", "ml_classifiers", "ml_kmeans_purity", "storage_codec_cr"))
  }
}
