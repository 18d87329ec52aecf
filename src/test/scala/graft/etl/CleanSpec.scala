package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CleanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("SAS epoch decode: 20566 days after 1960-01-01 is 2016-04-22") {
    val d = Seq(20566.0).toDF("x").select(Clean.sasDate(col("x")).as("d")).head().getDate(0)
    assert(d.toString === "2016-04-22")
  }

  test("date parsers null out sentinels and junk") {
    val df = Seq(("20160422", "D/S"), ("badbadxx", "07302016"))
      .toDF("dtadfile", "dtaddto")
      .select(
        Clean.yyyymmdd(col("dtadfile")).as("a"),
        Clean.mmddyyyy(col("dtaddto")).as("b")
      )
      .collect()
    assert(df(0).getDate(0).toString === "2016-04-22")
    assert(df(0).isNullAt(1)) // D/S sentinel
    assert(df(1).isNullAt(0)) // unparseable
    assert(df(1).getDate(1).toString === "2016-07-30")
  }

  test("full clean on the reference 1000-row sample") {
    val raw = Ingest
      .csv(spark, s"${ReferenceData.root}/immigration_data_sample.csv", Schemas.immigrationSample)
      .drop("_row")
    val dims = SasLabels.load(spark, s"${ReferenceData.root}/I94_SAS_Labels_Descriptions.SAS")
    val states = dims.states.select("code").as[String].collect().toSeq
    val cleaned = Clean.immigration(raw, states)

    assert(cleaned.count() === 1000L)
    // April-2016 extract: every decoded arrival date lands in 2016-04
    val outOfMonth = cleaned
      .where(date_format(col("arrival_date"), "yyyy-MM") =!= "2016-04")
      .count()
    assert(outOfMonth === 0L, "SAS epoch decode put arrivals outside Apr 2016")
    // dtadfile (date added) mostly coincides with arrival; all 1000 rows parse
    assert(cleaned.where(col("date_added").isNull).count() === 0L)
    // sentinel policy: every state_code is either valid or '99'
    val badStates = cleaned.where(!col("state_code").isin(states :+ "99": _*)).count()
    assert(badStates === 0L)
    // typed keys
    assert(cleaned.schema("cicid").dataType.typeName === "long")
    assert(cleaned.schema("arrival_date").dataType.typeName === "date")
  }
}
