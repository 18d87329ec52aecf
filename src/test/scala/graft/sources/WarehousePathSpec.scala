package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Every path under the fixture root comes from [[Fixture]]: the warehouse
  * directory's name appears in no other source file, so no code writes to
  * a fixed checkout path and no oracle reads one. */
class WarehousePathSpec extends AnyFunSuite {
  test("the warehouse directory's name appears only in Fixture.scala") {
    val offenders = TestSpark.spelledOutside("spark" + "-warehouse", "Fixture.scala")
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
