package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY` selection, shared by Bench and Verify. */
class LedgerRunnerSpec extends AnyFunSuite {

  private def names(only: Option[String]) = LedgerRunner.select(only).map(_._1)

  test("no allowlist selects every ledger entry in ledger order") {
    assert(names(None) == SparkEntry.queries.keys.toSeq)
  }

  test("an allowlist selects exactly its names, blanks trimmed") {
    val two = Set("q01_pricing_summary", "d12_containment")
    assert(names(Some(" q01_pricing_summary , d12_containment ")) ==
      SparkEntry.queries.keys.toSeq.filter(two))
    assert(names(Some("d12_containment")) == Seq("d12_containment"))
  }

  test("an unknown name is dropped") {
    assert(names(Some("d12_containment,no_such_query")) ==
      Seq("d12_containment"))
    assert(names(Some("no_such_query")).isEmpty)
  }
}
