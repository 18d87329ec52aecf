package graft.etl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The reference inputs' location is spelt once, in [[ReferenceData]]:
  * queries, oracles, `Verify` and specs all read through its `root`. */
class ReferenceDataSpec extends AnyFunSuite {
  test("the reference-data root is spelt only in ReferenceData.scala") {
    val offenders = TestSpark.spelledOutside(ReferenceData.root, "ReferenceData.scala")
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
