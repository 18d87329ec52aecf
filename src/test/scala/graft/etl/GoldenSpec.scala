package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end on the reference's FULL 3.1M-row fact table
  * (`ReferenceData.root/sas_data`, the Spark-written Parquet the reference
  * ships — SURVEY.md §5.2). Expected values pinned independently with
  * DuckDB over the same files. */
class GoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val raw = Ingest.parquet(spark, s"${ReferenceData.root}/sas_data")

  test("full fact table: 3,096,313 rows, cicid unique") {
    assert(raw.count() === 3096313L)
    assert(Quality.uniqueKey(raw, "cicid").passed)
  }

  test("cleaned + decoded star schema reproduces pinned golden aggregates") {
    val dims = SasLabels.load(spark, s"${ReferenceData.root}/I94_SAS_Labels_Descriptions.SAS")
    val cleaned = Clean.immigration(raw, dims.states.select("code").as[String].collect().toSeq)
    val star = Model.build(spark, cleaned, dims)

    // top-3 ports by arrivals (DuckDB-pinned)
    val top = star
      .groupBy("port_code")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("port_code"))
      .limit(3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq === Seq(("NYC", 485916L), ("MIA", 343941L), ("LOS", 310163L)))

    // SAS-epoch decode: Apr 2016 file spans 20545..20574 → 2016-04-01..2016-04-30
    val dates = cleaned.agg(min("arrival_date"), max("arrival_date")).head()
    assert(dates.getDate(0).toString === "2016-04-01")
    assert(dates.getDate(1).toString === "2016-04-30")

    // mode decode: 2,994,505 Air arrivals (DuckDB-pinned)
    assert(star.where(col("mode_name") === "Air").count() === 2994505L)

    // visa decode: Business/Pleasure/Student split (DuckDB-pinned)
    val visas = star
      .groupBy("visa_name")
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(visas("Business") === 522079L)
    assert(visas("Pleasure") === 2530868L)
    assert(visas("Student") === 43366L)
  }
}
