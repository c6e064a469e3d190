package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY` parsing, shared by every main through
  * [[SparkEntry.selectedEntries]]: a name that is no entry must fail
  * loudly instead of selecting nothing (an empty dump checks clean). */
class EntrySelectionSpec extends AnyFunSuite {

  test("unset selects every entry") {
    assert(SparkEntry.selectedEntries(None) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.selectedEntries(None).toSet))
  }

  test("items are trimmed and blank items dropped, in the given order") {
    assert(SparkEntry.selectedEntries(Some(" graph_louvain ,, graph_coreness,  ,")) ==
      Seq("graph_louvain", "graph_coreness"))
  }

  test("an unknown name throws and the message names it") {
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.selectedEntries(Some("graph_louvain,graph_louvian"))
    }
    assert(ex.getMessage.contains("graph_louvian"), ex.getMessage)
  }

  test("a list naming no entry throws") {
    intercept[IllegalArgumentException](SparkEntry.selectedEntries(Some(" , ")))
  }
}
