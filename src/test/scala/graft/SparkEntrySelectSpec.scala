package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one query-name selector behind Bench's, Verify's and PlanDump's
  * name lists: known names come back in the order given, and an unknown
  * name fails the call instead of silently dropping its query. */
class SparkEntrySelectSpec extends AnyFunSuite {
  test("known names come back in the order given") {
    val got = SparkEntry.select("q62_pagerank,q01_pricing_summary")
    assert(got.map(_._1) === Seq("q62_pagerank", "q01_pricing_summary"))
  }

  test("every unknown name is listed in the error") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select("q01_pricing_summary,q01_pricing_sumary,no_such_query")
    }
    assert(e.getMessage.contains("q01_pricing_sumary, no_such_query"), e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary"), e.getMessage)
  }
}
