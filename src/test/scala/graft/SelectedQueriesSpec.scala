package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY`, the local-iteration subset Bench and Verify share:
  * comma-separated substrings of query names. */
class SelectedQueriesSpec extends AnyFunSuite {
  private def names(only: Option[String]) = SparkEntry.selected(only).map(_._1)

  test("unset selects every declared query, sorted by name") {
    assert(names(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("each comma-separated part matches as a substring of a query name") {
    val etl = names(Some("etl_"))
    assert(etl.nonEmpty)
    assert(etl == SparkEntry.queries.keys.filter(_.contains("etl_")).toSeq.sorted)
    assert(names(Some("q01_filter,q02_filter")) == Seq("q01_filter_eq", "q02_filter_range"))
    // an exact name still selects its query (and any name it is part of)
    assert(names(Some("q09_sort")) == Seq("q09_sort"))
    assert(names(Some("no_such_query")).isEmpty)
  }
}
