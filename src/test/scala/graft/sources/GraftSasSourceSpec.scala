package graft.sources

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SAS7BDAT reader as a DataSource V2 (x306): parity with the
  * function-shaped reader on both fixture layouts (uncompressed + RLE),
  * decode-level column pruning visible on the scan, multi-partition page
  * ranges. */
class GraftSasSourceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("parity with Sas7bdat.read on the uncompressed fixture") {
    SasFixture.ensure(spark)
    val mine = spark.read.format("graft-sas7bdat").load(SasFixture.sasPath)
    val ref = Sas7bdat.read(spark, SasFixture.sasPath)
    assert(mine.schema === ref.schema)
    assert(sortedRows(mine) === sortedRows(ref))
  }

  test("parity on the RLE-compressed fixture") {
    SasFixture.ensure(spark)
    val mine = spark.read.format("graft-sas7bdat").load(SasFixture.sasRlePath)
    val ref = Sas7bdat.read(spark, SasFixture.sasRlePath)
    assert(mine.schema === ref.schema)
    assert(sortedRows(mine) === sortedRows(ref))
  }

  test("column pruning reaches the scan; pruned read stays exact") {
    SasFixture.ensure(spark)
    val df = spark.read
      .format("graft-sas7bdat")
      .load(SasFixture.sasPath)
      .select("category", "value")
    val scan = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }
      .get.scan.asInstanceOf[GraftSasScan]
    assert(scan.readSchema().fieldNames.toSet === Set("category", "value"))
    val ref = Sas7bdat.read(spark, SasFixture.sasPath).select("category", "value")
    assert(sortedRows(df) === sortedRows(ref))
    // count(*) spine: empty projection still counts
    assert(
      spark.read.format("graft-sas7bdat").load(SasFixture.sasPath).count()
        === Sas7bdat.read(spark, SasFixture.sasPath).count())
  }
}
