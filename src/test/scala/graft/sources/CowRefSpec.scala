package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Ref laws the x150 gate can't re-run (it keeps its fixture lineage):
  *   - a TAG is immutable: its read is bit-identical before and after
  *     main commits past it;
  *   - branch commits are invisible to main (latest version and content
  *     unchanged) until fast-forward;
  *   - fast-forward is metadata-only: the new main manifest references
  *     the branch head's FILES (path identity), and content matches the
  *     branch read exactly;
  *   - fast-forward REFUSES when main committed after the fork
  *     (divergence needs a merge, not a ref move).
  */
class CowRefSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root = Fixture.scratch("graft_cow_ref_spec")

  private def df(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "cents")
  }

  private def contents(v: Int): Map[Long, Long] =
    CowTable.read(spark, v, root).collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents")).toMap

  private def refContents(name: String): Map[Long, Long] =
    CowTable.refRead(spark, name, root).collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents")).toMap

  private lazy val setup: Unit = {
    val f = new java.io.File(root)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    graft.streaming.CowStream.init(spark, root)
    val base = (0 until 4).flatMap(b => (0 until 16).map(i => (b * CowTable.BucketWidth + i, b * 1000L + i)))
    CowTable.merge(spark, 0, 1, df(base), root = root)
    ()
  }

  test("tag pins its snapshot through later main commits; branch commits stay invisible to main") {
    setup
    val v1 = contents(1)
    CowTable.tagCreate(spark, "t1", 1, root)
    CowTable.merge(spark, 1, 2, df(Seq((5L, 777L))), root = root)
    assert(refContents("t1") === v1, "tag content drifted after a main commit")
    val v2 = contents(2)
    CowTable.branchCreate(spark, "b", 2, root)
    CowTable.branchCommit(spark, "b", df(Seq((7L, 888L), (9000L, 9L))), root = root)
    CowTable.branchCommit(spark, "b", df(Seq.empty[(Long, Long)]), deletes = df(Seq((3L, 0L))).select("k"), root = root)
    assert(CowTable.latestVersion(root) === 2, "branch commits advanced main")
    assert(contents(2) === v2, "branch commits changed main's content")
    assert(refContents("t1") === v1, "tag content drifted after branch commits")
    val exp = v2 + (7L -> 888L) + (9000L -> 9L) - 3L
    assert(refContents("b") === exp, "branch head content wrong")
    val ref = CowTable.readRefMeta(spark, "b", root)
    assert(ref.kind === "branch" && ref.seq === 2 && ref.baseVersion === 2)
  }

  test("refs are vacuum GC roots: branch-head files survive any retain set; deleting the ref frees them") {
    setup
    CowTable.branchCreate(spark, "gc", CowTable.latestVersion(root), root)
    CowTable.branchCommit(spark, "gc", df(Seq((0L, 1111L), (50000L, 5L))), root = root)
    val headOwn = CowTable
      .entriesAt(spark, CowTable.readRefMeta(spark, "gc", root).manifestPath)
      .map(_.path)
      .filter(_.contains("branch_gc_"))
    assert(headOwn.nonEmpty, "branch commit wrote no own files")
    // retain only main's latest: the un-published branch's files must be
    // protected by the ref, not listed as orphans
    val (orphans, all) = CowTable.vacuumPlan(spark, Seq(CowTable.latestVersion(root)), root)
    assert(headOwn.forall(all.contains), "branch data dirs are not vacuum candidates")
    assert(!orphans.exists(_.contains("branch_gc_")), "ref-reachable branch files marked orphan")
    // drop the ref → the branch lineage becomes collectable
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/refs/gc"))
    val (orphans2, _) = CowTable.vacuumPlan(spark, Seq(CowTable.latestVersion(root)), root)
    assert(headOwn.forall(orphans2.contains), "de-referenced branch files not collectable")
    // a branch whose NAME contains 'manifest' must still be a candidate
    // (review-found: a substring exclusion hid its data dirs forever)
    CowTable.branchCreate(spark, "manifest_fix", CowTable.latestVersion(root), root)
    CowTable.branchCommit(spark, "manifest_fix", df(Seq((1L, 7L))), root = root)
    val own2 = CowTable
      .entriesAt(spark, CowTable.readRefMeta(spark, "manifest_fix", root).manifestPath)
      .map(_.path)
      .filter(_.contains("branch_manifest_fix_v"))
    assert(own2.nonEmpty)
    val (_, all3) = CowTable.vacuumPlan(spark, Seq(CowTable.latestVersion(root)), root)
    assert(own2.forall(all3.contains), "'manifest'-named branch data dirs missing from candidates")
  }

  test("fast-forward is metadata-only (path identity) and refuses on divergence") {
    setup
    CowTable.branchCreate(spark, "ff", CowTable.latestVersion(root), root)
    CowTable.branchCommit(spark, "ff", df(Seq((1L, 4242L))), root = root)
    val headPaths = CowTable
      .entriesAt(spark, CowTable.readRefMeta(spark, "ff", root).manifestPath)
      .map(e => (e.bucket, e.path))
      .toSet
    val next = CowTable.fastForward(spark, "ff", root)
    assert(
      CowTable.entries(spark, next, root).map(e => (e.bucket, e.path)).toSet === headPaths,
      "fast-forward copied or rewrote data files"
    )
    assert(contents(next) === refContents("ff"), "fast-forwarded content differs from the branch head")
    // the publish re-bases the ref: a SECOND commit + fast-forward cycle
    // on the same branch must work — the branch's own publish is not
    // divergence (review-found)
    CowTable.branchCommit(spark, "ff", df(Seq((6L, 6L))), root = root)
    val next2 = CowTable.fastForward(spark, "ff", root)
    assert(next2 === next + 1)
    assert(contents(next2) === refContents("ff"), "second fast-forward content differs")
    // divergence: fork, then main commits independently → refusal
    CowTable.branchCreate(spark, "stale", next2, root)
    CowTable.branchCommit(spark, "stale", df(Seq((2L, 1L))), root = root)
    CowTable.merge(spark, next2, next2 + 1, df(Seq((4L, 2L))), root = root)
    val e = intercept[IllegalStateException](CowTable.fastForward(spark, "stale", root))
    assert(e.getMessage.contains("divergent"))
    // and a tag can never fast-forward or take commits
    CowTable.tagCreate(spark, "frozen", next2, root)
    intercept[IllegalArgumentException](CowTable.branchCommit(spark, "frozen", df(Seq((1L, 1L))), root = root))
    intercept[IllegalArgumentException](CowTable.fastForward(spark, "frozen", root))
  }
}
