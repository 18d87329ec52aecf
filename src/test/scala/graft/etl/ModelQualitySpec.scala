package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ModelQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dims = SasLabels.load(spark, s"${ReferenceData.root}/I94_SAS_Labels_Descriptions.SAS")
  private lazy val cleaned = {
    val raw = Ingest
      .csv(spark, s"${ReferenceData.root}/immigration_data_sample.csv", Schemas.immigrationSample)
      .drop("_row")
    Clean.immigration(raw, dims.states.select("code").as[String].collect().toSeq)
  }

  test("star schema decodes codes to names via broadcast joins") {
    val star = Model.build(spark, cleaned, dims)
    assert(star.count() === 1000L)
    // every row with a known visa code gets a visa name
    assert(star.where(col("visa_code").isin(1, 2, 3) && col("visa_name").isNull).count() === 0L)
    // mode decode matches the SAS block
    val air = star.where(col("mode_code") === 1).select("mode_name").distinct().collect()
    assert(air.map(_.getString(0)).toSet === Set("Air"))
    // plan: all six dim joins must be broadcast, never shuffle the fact
    val plan = star.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), "dim join fell back to sort-merge")
  }

  test("demographics aggregate to state grain") {
    val demo = Ingest.demographics(spark, s"${ReferenceData.root}/us-cities-demographics.csv")
    assert(demo.count() === 2891L)
    val byState = Model.stateDemographics(demo)
    val n = byState.count()
    assert(n > 40 && n <= 60, s"state count $n")
    assert(byState.where(col("state_code") === "CA").head().getAs[Long]("total_population") > 1000000L)
  }

  test("quality checks pass on the cleaned sample and fail when they should") {
    assert(Quality.nonEmpty(cleaned, "imm").passed)
    assert(Quality.uniqueKey(cleaned, "cicid").passed)
    assert(Quality.fkCoverage(cleaned, "visa_code", dims.visas, "code").passed)
    assert(!Quality.uniqueKey(cleaned.select(col("visa_code").as("k")), "k").passed)
    val ratios = Quality.nullRatios(cleaned, Map("cicid" -> 0.0, "occupation" -> 0.5))
    assert(ratios.find(_.check.contains("cicid")).get.passed)
    assert(!ratios.find(_.check.contains("occupation")).get.passed) // occup is ~100% null
  }

  test("pipeline runs jobs in order, retries, halts downstream on failure") {
    val log = scala.collection.mutable.ArrayBuffer[String]()
    var attempts = 0
    val jobs = Seq(
      Pipeline.Job("a", _ => log += "a"),
      Pipeline.Job("flaky", _ => { attempts += 1; if (attempts < 2) sys.error("boom"); log += "flaky" }),
      Pipeline.Job("fails", _ => sys.error("always"), retries = 1),
      Pipeline.Job("skipped", _ => log += "never")
    )
    val rs = Pipeline.run(spark, jobs)
    assert(log.toSeq === Seq("a", "flaky"))
    assert(rs.map(_.name) === Seq("a", "flaky", "fails"))
    assert(rs(1).attempts === 2 && rs(1).ok)
    assert(!rs(2).ok && rs(2).attempts === 2)
  }
}
