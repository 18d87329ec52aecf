package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** WAP laws the x123 gate can't re-run (it keeps its fixture branches):
  *   - staging is INVISIBLE: main's latest version and byte content are
  *     unchanged while a branch is staged;
  *   - abort removes every trace of a branch and never touches main;
  *   - publish is the OCC CAS: a conflicting branch aborts with the
  *     bucket set, a disjoint one rebases onto the winner;
  *   - published content equals the staged read exactly (metadata-only
  *     publish — same files).
  */
class CowWapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root = Fixture.scratch("graft_cow_wap_spec")

  private def df(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "cents")
  }

  private def contents(v: Int): Map[Long, Long] =
    CowTable.read(spark, v, root).collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents")).toMap

  private lazy val setup: Unit = {
    val f = new java.io.File(root)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    graft.streaming.CowStream.init(spark, root)
    val base = (0 until 4).flatMap(b => (0 until 16).map(i => (b * CowTable.BucketWidth + i, b * 1000L + i)))
    CowTable.merge(spark, 0, 1, df(base), root = root)
    ()
  }

  test("staging is invisible to main; staged read sees the branch; abort removes every trace") {
    setup
    val v1 = contents(1)
    val latestBefore = CowTable.latestVersion(root)
    CowTable.stageBranch(spark, "tmp", df(Seq((5L, 4242L), (9000L, 1L))), root = root)
    assert(CowTable.latestVersion(root) === latestBefore, "staging advanced main")
    assert(contents(latestBefore) === v1, "staging changed main's content")
    val staged = CowTable
      .readStaged(spark, "tmp", root)
      .collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents"))
      .toMap
    assert(staged(5L) === 4242L)
    assert(staged(9000L) === 1L)
    assert(staged.size === v1.size + 1)
    CowTable.abortStaged(spark, "tmp", root)
    assert(!new java.io.File(s"$root/wap_tmp").exists())
    assert(!new java.io.File(s"$root/wap_manifest_tmp").exists())
    assert(!new java.io.File(s"$root/wap_base_tmp").exists())
    assert(contents(latestBefore) === v1, "abort changed main's content")
  }

  test("publish is the OCC CAS: conflicting branch aborts, disjoint branch rebases") {
    setup
    // both branches staged against v1; A touches bucket 0, B touches
    // bucket 0 too (conflict), C touches bucket 3 (disjoint)
    CowTable.stageBranch(spark, "a", df(Seq((5L, 111L))), root = root)
    CowTable.stageBranch(spark, "b", df(Seq((6L, 222L))), root = root)
    CowTable.stageBranch(spark, "c", df(Seq((3 * CowTable.BucketWidth + 7, 333L))), root = root)
    assert(CowTable.publishStaged(spark, "a", root) === Right(2))
    assert(CowTable.publishStaged(spark, "b", root) === Left(Set(0L)))
    assert(CowTable.publishStaged(spark, "c", root) === Right(3))
    val v3 = contents(3)
    assert(v3(5L) === 111L, "winner's write lost in the rebase")
    assert(v3(6L) !== 222L, "conflicting branch leaked into main")
    assert(v3(3 * CowTable.BucketWidth + 7) === 333L)
    // published branch metadata consumed; aborted-conflict branch still staged
    assert(!new java.io.File(s"$root/wap_manifest_a").exists())
    assert(new java.io.File(s"$root/wap_manifest_b").exists())
    CowTable.abortStaged(spark, "b", root)
  }

  test("publish is metadata-only: published content equals the staged read") {
    setup // lazy-once per JVM: earlier tests may have advanced the chain
    val before = CowTable.latestVersion(root)
    CowTable.stageBranch(spark, "m", df(Seq((1L, 9L), (2L, 8L))), root = root)
    val staged = CowTable
      .readStaged(spark, "m", root)
      .collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents"))
      .toMap
    val stagedPaths = CowTable.stagedEntries(spark, "m", root).map(_.path).toSet
    assert(CowTable.publishStaged(spark, "m", root) === Right(before + 1))
    assert(contents(before + 1) === staged)
    val pubPaths = CowTable.entries(spark, before + 1, root).map(_.path).toSet
    assert(pubPaths === stagedPaths, "publish moved data files — it must carry by reference")
  }
}
