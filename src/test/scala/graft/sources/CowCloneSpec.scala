package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** x104 zero-copy CLONE: the clone commit itself writes no data files, the
  * cloned snapshot reads identical to its source, divergence rewrites only
  * the clone's touched buckets under the clone root, and the source stays
  * byte-identical afterwards. */
class CowCloneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def rowsOf(version: Int, root: String): Map[Long, Long] =
    CowTable
      .read(spark, version, root)
      .collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents"))
      .toMap

  test("clone commit is metadata-only and reads identical to the source snapshot") {
    CowTable.ensure(spark, sf)
    val tmpDir = TestSpark.tempDir()
    val tmp = tmpDir + "/clone_probe"
    CowTable.cloneTable(spark, srcVersion = 2, dstRoot = tmp, srcRoot = CowTable.dir(sf))
    try {
      // metadata only: the clone root holds a manifest (and optional schema
      // metadata), never a data directory
      val entries = new java.io.File(tmp).listFiles().map(_.getName).toSet
      assert(entries.contains("manifest_v1"))
      assert(!entries.exists(_.startsWith("v")), s"clone wrote data dirs: $entries")
      // every referenced path is a source path, none under the clone root
      val es = CowTable.entries(spark, 1, tmp)
      assert(es.nonEmpty)
      assert(es.forall(!_.path.startsWith(tmp)))
      assert(rowsOf(1, tmp) === rowsOf(2, CowTable.dir(sf)))
    } finally {
      // the clone registered itself in the shared gate table: take it out
      CowTable.deregisterClone(CowTable.dir(sf), tmp)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpDir))
    }
  }

  test("diverged clone rewrites only touched buckets; source snapshot is unchanged") {
    CowTable.ensureClone(spark, sf)
    val srcBefore = rowsOf(2, CowTable.dir(sf))
    val clone = rowsOf(2, CowTable.cloneDir(sf))
    // expected clone content: source v2 + upsert formula + inserts
    val expected = srcBefore.map { case (k, c) =>
      val hit = k % 113 == 0 && (k / CowTable.BucketWidth) % 11 == 4
      k -> (if (hit) 70000L + k % 1000 else c)
    } ++ (0 until CowTable.CloneInsertCount)
      .map(i => (CowTable.CloneInsertBase + i) -> (200000L + i * 11L))
    assert(clone === expected)
    // provenance: own files exactly where the delta touched
    val es = CowTable.entries(spark, 2, CowTable.cloneDir(sf))
    val touched = srcBefore.keySet
      .filter(k => k % 113 == 0 && (k / CowTable.BucketWidth) % 11 == 4)
      .map(_ / CowTable.BucketWidth) + CowTable.CloneInsertBase / CowTable.BucketWidth
    es.foreach { e =>
      assert(
        e.path.startsWith(CowTable.cloneDir(sf)) === touched.contains(e.bucket),
        s"bucket ${e.bucket}: path ${e.path}"
      )
    }
    // the source reads identically after the clone diverged
    assert(rowsOf(2, CowTable.dir(sf)) === srcBefore)
  }
}
