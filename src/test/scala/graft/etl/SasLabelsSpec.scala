package graft.etl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class SasLabelsSpec extends AnyFunSuite {
  private lazy val dims =
    SasLabels.load(TestSpark.spark, s"${ReferenceData.root}/I94_SAS_Labels_Descriptions.SAS")

  test("country dim has 289 entries incl. sentinels") {
    assert(dims.countries.count() === 289L)
    val m = dims.countries.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m(236) === "AFGHANISTAN")
    assert(m(687) === "ARGENTINA") // trailing space in source must be trimmed
    assert(m(996) === "No Country Code (996)")
  }

  test("port dim has ~660 entries with city/state split") {
    val n = dims.ports.count()
    assert(n > 600 && n < 700, s"port count $n")
    val alc = dims.ports.where("code = 'ALC'").head()
    assert(alc.getAs[String]("city") === "ALCAN")
    assert(alc.getAs[String]("state") === "AK")
  }

  test("mode/state/visa dims") {
    assert(dims.modes.count() === 4L)
    assert(dims.states.count() === 55L)
    assert(dims.visas.count() === 3L)
    assert(dims.states.where("code = '99'").head().getString(1) === "All Other Codes")
    assert(dims.modes.where("code = 9").head().getString(1) === "Not reported")
  }

  test("parser round-trips quoted quotes and numeric codes") {
    val blocks = SasLabels.parseBlocks("value t 1='a''b' 2 = 'c' ;")
    assert(blocks("t") === Vector(SasLabels.Entry("1", "a'b"), SasLabels.Entry("2", "c")))
  }
}
