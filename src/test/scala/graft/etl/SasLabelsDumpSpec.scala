package graft.etl

import graft.TestSpark
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The dims dump is a fixture keyed by its labels file: rewritten only when
  * its marker is missing or stale. */
class SasLabelsDumpSpec extends AnyFunSuite {
  test("a second dump rewrites nothing; a dump without a marker rebuilds") {
    val labels = Paths.get(TestSpark.tempDir(), "labels.sas")
    Files.writeString(
      labels,
      """value i94cntyl 236 = 'AFGHANISTAN' ;
        |value $i94prtl 'ALC' = 'ALCAN, AK' ;
        |value i94model 1 = 'Air' ;
        |value i94addrl 'AL' = 'ALABAMA' ;
        |""".stripMargin
    )
    val out = s"${TestSpark.tempDir()}/graft_dims"
    val marker = Paths.get(out, "src_key")
    def stamp = Files.getLastModifiedTime(marker)
    SasLabels.dump(TestSpark.spark, labels.toString, out)
    val first = stamp
    Thread.sleep(20)
    SasLabels.dump(TestSpark.spark, labels.toString, out)
    assert(stamp === first)
    Files.delete(marker)
    SasLabels.dump(TestSpark.spark, labels.toString, out)
    assert(Files.exists(marker) && stamp != first)
    assert(TestSpark.spark.read.parquet(s"$out/ports").where("state = 'AK'").count() === 1L)
  }
}
