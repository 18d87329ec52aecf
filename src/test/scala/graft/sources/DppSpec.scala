package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** x131 dynamic partition pruning: joining the month-partitioned fact to a
  * filtered month dimension must push the dim's runtime values into the
  * fact scan's PartitionFilters (a `dynamicpruning` subquery in the plan),
  * and the pruned read must return exactly the rows a statically-filtered
  * read returns. */
class DppSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def dimFor(year: Int) =
    graft.Graft
      .table(spark, sf, "orders")
      .where(expr(
        s"o_orderdate >= TIMESTAMP_NTZ '$year-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ '${year + 1}-01-01 00:00:00'"
      ))
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .distinct()

  test("the fact scan carries a dynamicpruning PartitionFilter") {
    val fact = MonthStore.read(spark, sf)
    val joined = fact.join(dimFor(1997), Seq("ship_month")).groupBy("ship_month").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(4000))
  }

  test("DPP-pruned join content equals the statically filtered read") {
    val fact = MonthStore.read(spark, sf)
    val viaDpp = fact
      .join(dimFor(1997), Seq("ship_month"))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n"), sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val viaStatic = fact
      .where(col("ship_month").between("1997-01", "1997-12"))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n"), sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(viaDpp === viaStatic)
    assert(viaDpp.nonEmpty && viaDpp.size <= 12)
  }

  test("partitioned layout: one directory per month, static pruning reads a strict subset") {
    val dirs = new java.io.File(s"${MonthStore.ensure(spark, sf)}/data")
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ship_month="))
    assert(dirs.length > 12) // multi-year fixture: pruning must matter
    val pruned = MonthStore
      .read(spark, sf)
      .where(col("ship_month") === "1997-06")
      .queryExecution
      .executedPlan
      .toString
    assert(pruned.matches("(?s).*PartitionFilters: \\[[^\\]]*ship_month[^\\]]*\\].*"), pruned.take(2000))
  }
}
