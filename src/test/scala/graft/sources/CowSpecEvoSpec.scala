package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** x117 partition-spec evolution: the evolve commit writes zero data, old
  * and new specs coexist in one snapshot, reads and key-range pruning are
  * spec-agnostic, and time travel to the pre-evolution layout survives. */
class CowSpecEvoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val se = CowSpecEvo

  private def contentOf(v: Int): Map[Long, Long] =
    se.read(spark, sf, v).collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents")).toMap

  test("evolution commit is metadata-only; v3 mixes both specs correctly") {
    se.ensure(spark, sf)
    // v2 = v1 manifest verbatim, and no v2 data directory exists
    assert(se.entriesOf(spark, sf, 2) === se.entriesOf(spark, sf, 1))
    assert(!new java.io.File(s"${se.root(sf)}/v2").exists())
    val es = se.entriesOf(spark, sf, 3)
    val (s1, s2) = es.partition(_.specId == 1)
    assert(s1.nonEmpty && s2.nonEmpty, "v3 must mix carried spec-1 and new spec-2 files")
    assert(s1.forall(_.path.contains("/v1/")), "carried entries must reference v1 files")
    assert(s2.forall(_.path.contains("/v3/")), "rewritten entries must live under v3")
    // spec-2 buckets are 4096-wide: min/max of each entry fit one super bucket
    assert(s2.forall(e => e.minKey / se.W2 == e.bucket && e.maxKey / se.W2 == e.bucket))
    assert(s1.forall(e => e.minKey / se.W1 == e.bucket && e.maxKey / se.W1 == e.bucket))
  }

  test("v3 content equals the in-memory merge recompute; v1 time travel intact") {
    se.ensure(spark, sf)
    val base = graft.Graft
      .table(spark, sf, "orders")
      .select(col("o_orderkey").as("k"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val expected = base.map { case (k, c) =>
      k -> (if (k % 89 == 0 && (k / 1024) % 3 == 1) k * 3 + 7 else c)
    } ++ (0 until se.InsertCount).map(i => (se.InsertBase + i) -> (5000L + i * 11L))
    assert(contentOf(3) === expected)
    assert(contentOf(1) === base) // pre-evolution snapshot unchanged
  }

  test("key-range pruning is spec-agnostic") {
    se.ensure(spark, sf)
    val es = se.entriesOf(spark, sf, 3)
    // a carried spec-1 bucket's block selects exactly that one file
    val c1 = es.filter(_.specId == 1).minBy(_.bucket)
    val hit1 = se.pruneEntries(spark, sf, 3, c1.bucket * se.W1, (c1.bucket + 1) * se.W1 - 1)
    assert(hit1.map(_.path) === Seq(c1.path))
    // a range spanning a spec boundary selects files of BOTH specs
    val c2 = es.filter(_.specId == 2).minBy(_.bucket)
    val lo = math.min(c1.minKey, c2.minKey)
    val hi = math.max(c1.maxKey, c2.maxKey)
    val hitSpan = se.pruneEntries(spark, sf, 3, lo, hi)
    assert(hitSpan.exists(_.specId == 1) && hitSpan.exists(_.specId == 2))
    // soundness: the pruned scan over any range equals the full filter
    val full = se.read(spark, sf, 3).where(col("k").between(lo, hi)).count()
    val pruned = spark.read
      .parquet(hitSpan.map(_.path): _*)
      .where(col("k").between(lo, hi))
      .count()
    assert(pruned === full)
  }
}
