package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Single-JVM optimistic-concurrency commit for the CowTable format:
  * manifest publication is an atomic rename (CAS — exactly one writer
  * claims a version), a loser with a DISJOINT bucket footprint rebases
  * onto the winner and commits the next version without rewriting data,
  * a loser whose footprint INTERSECTS the winner's aborts with the
  * conflict set, and the committed chain stays linear through both
  * simulated-stale and genuinely-threaded races. */
class CowOccSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root = Fixture.scratch("graft_cow_occ")

  private def df(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "cents")
  }

  private def contents(v: Int): Map[Long, Long] =
    CowTable.read(spark, v, root).collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents")).toMap

  // fresh table per run: v0 empty, v1 = 4 buckets of 16 keys each
  private lazy val setup: Unit = {
    val f = new java.io.File(root)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    graft.streaming.CowStream.init(spark, root)
    val base = (0 until 4).flatMap(b => (0 until 16).map(i => (b * CowTable.BucketWidth + i, b * 1000L + i)))
    CowTable.merge(spark, 0, 1, df(base), root = root)
    ()
  }

  test("stale writer with a disjoint footprint rebases; both commits land; chain is linear") {
    setup
    val a = CowTable.occCommit(spark, root, df(Seq((5L, 777L))), writerId = "wa") // bucket 0
    assert(a === Right(2))
    // writer B pinned the OLD snapshot (v1) — its CAS at v2 must lose,
    // then rebase onto A's v2 and commit v3, data files untouched
    val b = CowTable.occCommit(
      spark, root, df(Seq((3 * CowTable.BucketWidth + 7, 888L))), writerId = "wb", atVersion = Some(1))
    assert(b === Right(3))
    val v3 = contents(3)
    assert(v3(5L) === 777L) // A's write survived B's rebase
    assert(v3(3 * CowTable.BucketWidth + 7) === 888L)
    assert(CowTable.latestVersion(root) === 3)
    // linear chain: every version 0..3 committed exactly once, parents intact
    for (v <- 0 to 3) assert(new java.io.File(s"$root/manifest_v$v").exists())
    assert(contents(2)(5L) === 777L) // time travel into the chain still works
  }

  test("stale writer with an intersecting footprint aborts with the conflict set") {
    setup
    // bucket 0 was rewritten by A (v1→v2); a writer still on v1 touching
    // bucket 0 must abort, and the chain must not advance
    val before = CowTable.latestVersion(root)
    val c = CowTable.occCommit(spark, root, df(Seq((9L, 999L))), writerId = "wc", atVersion = Some(1))
    assert(c === Left(Set(0L)))
    assert(CowTable.latestVersion(root) === before)
  }

  test("threaded race on one version: exactly one direct winner, both commit, chain linear") {
    setup
    val start = CowTable.latestVersion(root)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fa = Future(CowTable.occCommit(spark, root, df(Seq((1L * CowTable.BucketWidth + 3, 111L))), writerId = "t1"))
    val fb = Future(CowTable.occCommit(spark, root, df(Seq((2L * CowTable.BucketWidth + 3, 222L))), writerId = "t2"))
    val ra = Await.result(fa, 120.seconds)
    val rb = Await.result(fb, 120.seconds)
    assert(ra.isRight && rb.isRight)
    val versions = Set(ra.toOption.get, rb.toOption.get)
    val end = CowTable.latestVersion(root)
    assert(end === start + 2 && versions === Set(start + 1, start + 2))
    val fin = contents(end)
    assert(fin(1L * CowTable.BucketWidth + 3) === 111L)
    assert(fin(2L * CowTable.BucketWidth + 3) === 222L)
    // no version gap, no orphan claim: each manifest in the chain readable
    for (v <- 0 to end) assert(CowTable.entries(spark, v, root) != null)
  }
}
