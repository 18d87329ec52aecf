package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke of the driver contract at sf0.001: every declared query runs and
  * returns a sane result; every oracle key points at a real query. The
  * value-level check is the DuckDB oracle gate (scripts/check_oracle.py). */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }

  test("oracle keys are a subset of query keys") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracleSql without query: $dangling")
  }

  test("every query runs at sf0.001 with stable schema") {
    // every query is smoke-tested and every failure reported in one
    // assertion (sorted), rather than stopping at the first in map order
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      scala.util.Try {
        val df = fn(spark, d)
        if (df.count() < 0L) Some("negative count")
        else if (df.schema.fieldNames.isEmpty) Some("empty schema")
        else None
      }.fold(e => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n')}"), identity)
        .map(why => s"$name: $why")
    }
    assert(failures.isEmpty, s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("spot values at sf0.001") {
    val q17 = SparkEntry.queries("q17_rollup")(spark, d).where("status = 'ALL' AND priority = 'ALL'").head()
    assert(q17.getAs[Long]("n_orders") === 1500L) // grand total row = full orders table
    val x01 = SparkEntry.queries("x01_dedup_exact")(spark, d).head()
    assert(x01.getAs[Long]("total_docs") === 500L)
  }
}
