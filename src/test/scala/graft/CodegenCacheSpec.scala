package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Pins the generated-class cache size set by `Graft.session`: a working
  * set larger than Spark's default 100 entries must be compiled once, not
  * once per pass. Each literal is inlined into the generated code, so
  * every projection below is its own class. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a second pass over 150 distinct generated classes compiles nothing") {
    val queries = (1 to 150).map(i => spark.range(10).selectExpr(s"id * $i AS v"))
    def pass(): Unit = queries.zipWithIndex.foreach { case (df, i) =>
      assert(df.collect().map(_.getLong(0)).sum === 45L * (i + 1))
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val afterFirst = compiles
    pass()
    assert(compiles - afterFirst === 0L, "second pass recompiled evicted classes")
  }
}
