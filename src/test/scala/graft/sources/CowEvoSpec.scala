package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** x97 merge-on-read deletion vectors + x99 schema evolution: the MOR
  * delete must move ZERO data files and still read identically to the COW
  * rewrite of the same logical delete; DV re-deletes must be no-ops; new
  * deletes must OR into existing vectors; foldDv must rewrite exactly the
  * DV-carrying buckets; and reads of every snapshot must project through
  * the field-id map of THAT snapshot's schema. */
class CowEvoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private def root = CowEvo.dir(sf)
  private val W = CowTable.BucketWidth

  private def contents(version: Int): Map[Long, Long] = {
    val df = CowTable.read(spark, version, root)
    val valueCol = df.columns.filter(_ != "k").head // cents or amount_cents
    df.collect().map(r => r.getAs[Long]("k") -> r.getAs[Long](valueCol)).toMap
  }

  private def baseRows(): Map[Long, Long] = {
    CowTable.read(spark, 1, root).collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents")).toMap
  }

  private def stripe(k: Long): Boolean = k % 13 == 0 && (k / W) % 3 == 1

  test("MOR delete == COW delete of the same keys; MOR moved zero data files") {
    CowEvo.ensure(spark, sf)
    val mor = contents(2)
    val cow = contents(30)
    assert(mor === cow)
    val expected = baseRows().filter { case (k, _) => !stripe(k) }
    assert(mor === expected)
    // zero data files moved: no v2 data dir exists, every v2 manifest
    // entry still points into /v1/, and DV'd entries carry honest counts
    assert(!new java.io.File(s"$root/v2").exists())
    val es = CowTable.entries(spark, 2, root)
    assert(es.forall(_.path.contains("/v1/")))
    val delByBucket = baseRows().keySet.filter(stripe).groupBy(_ / W).map { case (b, ks) => b -> ks.size.toLong }
    for (e <- es) {
      assert(e.nDel === delByBucket.getOrElse(e.bucket, 0L))
      assert((e.dvPath.nonEmpty) === delByBucket.contains(e.bucket))
    }
    // while the COW twin rewrote exactly the stripe-hit buckets
    val cowEs = CowTable.entries(spark, 30, root)
    assert(cowEs.filter(_.path.contains("/v30/")).map(_.bucket).toSet === delByBucket.keySet)
  }

  test("re-delete of already-deleted keys is a no-op: manifest carried verbatim, no new DV dir") {
    import spark.implicits._
    CowEvo.ensure(spark, sf)
    val delKeys = baseRows().keySet.filter(stripe).toSeq.sorted
    try {
      CowTable.morDelete(spark, 2, 90, delKeys.toDF("k"), root)
      assert(CowTable.entries(spark, 90, root) === CowTable.entries(spark, 2, root))
      assert(!new java.io.File(s"$root/dv_v90").exists())
    } finally cleanup(90)
  }

  test("second MOR delete ORs into the existing vector; old deletes stay masked") {
    import spark.implicits._
    CowEvo.ensure(spark, sf)
    val v2 = contents(2)
    val dvBuckets = CowTable.entries(spark, 2, root).filter(_.dvPath.nonEmpty).map(_.bucket).toSet
    assert(dvBuckets.nonEmpty)
    val victim = v2.keySet.filter(k => dvBuckets.contains(k / W)).min
    try {
      CowTable.morDelete(spark, 2, 91, Seq(victim).toDF("k"), root)
      assert(contents(91) === v2 - victim)
      val e91 = CowTable.entries(spark, 91, root).map(e => e.bucket -> e).toMap
      val e2 = CowTable.entries(spark, 2, root).map(e => e.bucket -> e).toMap
      assert(e91(victim / W).dvPath.endsWith("dv_v91"))
      assert(e91(victim / W).nDel === e2(victim / W).nDel + 1)
      // untouched DV'd buckets keep their ORIGINAL vector reference
      for (b <- dvBuckets - victim / W) assert(e91(b) === e2(b))
    } finally cleanup(91)
  }

  test("MOR delete of a bucket's every live key drops the bucket from the manifest") {
    import spark.implicits._
    CowEvo.ensure(spark, sf)
    val v2 = contents(2)
    val victim = v2.keySet.groupBy(_ / W).head
    try {
      CowTable.morDelete(spark, 2, 92, victim._2.toSeq.toDF("k"), root)
      val buckets92 = CowTable.entries(spark, 92, root).map(_.bucket).toSet
      assert(!buckets92.contains(victim._1))
      assert(buckets92 === CowTable.entries(spark, 2, root).map(_.bucket).toSet - victim._1)
    } finally cleanup(92)
  }

  test("foldDv rewrites exactly the DV-carrying buckets and preserves content") {
    CowEvo.ensure(spark, sf)
    assert(contents(5) === contents(4))
    val e4 = CowTable.entries(spark, 4, root).map(e => e.bucket -> e).toMap
    val e5 = CowTable.entries(spark, 5, root).map(e => e.bucket -> e).toMap
    assert(e4.keySet === e5.keySet)
    for ((b, before) <- e4) {
      val after = e5(b)
      if (before.dvPath.nonEmpty) {
        assert(after.path.contains("/v5/") && after.dvPath.isEmpty && after.nDel === 0L)
        assert(after.nRows === before.nRows - before.nDel)
      } else assert(after === before)
    }
  }

  private def ups(k: Long): Boolean = k % 17 == 0 && (k / W) % 3 == 1

  test("MOR upsert == COW upsert of the same changes; MOR rewrote zero base files") {
    CowEvo.ensure(spark, sf)
    val mor = contents(6)
    val cow = contents(31)
    assert(mor === cow)
    val expected = baseRows()
      .filter { case (k, _) => !stripe(k) }
      .map { case (k, c) => k -> (if (ups(k)) c + CowEvo.UpsBump else c) } ++
      (0 until CowEvo.UpsCount).map(i => (CowEvo.UpsBase + i) -> (300000L + i * 13L))
    assert(mor === expected)
    // every v6 entry is a carried /v1/ base file or a /delta_v6/ file —
    // nothing was rewritten; updated buckets carry a merged DV
    val es = CowTable.entries(spark, 6, root)
    assert(es.forall(e => e.path.contains("/v1/") || e.path.contains("/delta_v6/")))
    val updBuckets = baseRows().keySet.filter(k => ups(k) && !stripe(k)).map(_ / W)
    assert(updBuckets.nonEmpty)
    for (b <- updBuckets) {
      val ofBucket = es.filter(_.bucket == b)
      assert(ofBucket.exists(e => e.path.contains("/v1/") && e.dvPath.nonEmpty))
      assert(ofBucket.exists(e => e.path.contains("/delta_v6/") && e.dvPath.isEmpty))
    }
    // the pure-insert bucket is delta-only, no DV
    val insBucket = CowEvo.UpsBase / W
    assert(es.filter(_.bucket == insBucket).forall(e => e.path.contains("/delta_v6/") && e.dvPath.isEmpty))
  }

  test("delete after upsert masks per lineage group: only the targeted version dies") {
    import spark.implicits._
    CowEvo.ensure(spark, sf)
    val v6 = contents(6)
    val updated = v6.keySet.filter(k => ups(k) && !stripe(k) && k < CowEvo.UpsBase)
    assert(updated.nonEmpty)
    val victim = updated.min
    // deleting an UPDATED key must remove its NEW (delta) version
    try {
      CowTable.morDelete(spark, 6, 93, Seq(victim).toDF("k"), root)
      assert(contents(93) === v6 - victim)
    } finally cleanup(93)
    // deleting a NON-updated neighbor in the same bucket must leave the
    // updated key's delta row alive — a snapshot-wide key mask (or DV
    // lineage groups collapsed into one shared vector) would kill it
    val neighbor = v6.keySet.filter(k => k / W == victim / W && !updated(k)).min
    try {
      CowTable.morDelete(spark, 6, 94, Seq(neighbor).toDF("k"), root)
      val v94 = contents(94)
      assert(v94 === v6 - neighbor)
      assert(v94(victim) === v6(victim))
    } finally cleanup(94)
  }

  test("foldDv after a MOR upsert folds base masks and carries delta entries verbatim") {
    CowEvo.ensure(spark, sf)
    try {
      CowTable.foldDv(spark, 6, 95, root)
      assert(contents(95) === contents(6))
      val e95 = CowTable.entries(spark, 95, root)
      assert(e95.forall(_.dvPath.isEmpty))
      val deltas6 = CowTable.entries(spark, 6, root).filter(e => e.path.contains("/delta_v6/") && e.dvPath.isEmpty)
      assert(deltas6.nonEmpty && deltas6.forall(e95.contains))
    } finally cleanup(95)
  }

  test("rollback to v2 is metadata-only: manifest verbatim, content restored, undone versions travelable") {
    CowEvo.ensure(spark, sf)
    assert(CowTable.entries(spark, 7, root) === CowTable.entries(spark, 2, root))
    assert(contents(7) === contents(2))
    assert(!new java.io.File(s"$root/v7").exists())
    assert(!new java.io.File(s"$root/delta_v7").exists())
    // the rolled-back-over lineage is still fully readable
    assert(contents(6).nonEmpty && contents(4).nonEmpty)
  }

  test("reads project through the snapshot's OWN schema: rename + add survive time travel") {
    CowEvo.ensure(spark, sf)
    assert(CowTable.read(spark, 1, root).columns.toSeq === Seq("k", "cents"))
    assert(CowTable.read(spark, 3, root).columns.toSeq === Seq("k", "cents", "qty"))
    assert(CowTable.read(spark, 4, root).columns.toSeq === Seq("k", "amount_cents", "qty"))
    // the COW twin branch has no version meta: legacy as-written read
    assert(CowTable.read(spark, 30, root).columns.toSeq === Seq("k", "cents"))
    val v4 = CowTable.read(spark, 4, root).collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[java.lang.Long]("qty")).map(_.toLong)).toMap
    // pre-evolution rows read qty as NULL; insert rows carry the formula
    assert(v4(baseRows().keySet.filter(k => !stripe(k)).head) === None)
    for (i <- 0 until CowEvo.AddCount)
      assert(v4(CowEvo.AddBase + i) === Some(3L + i % 7))
  }

  test("snapshot diff across a MOR delete classifies the stripe as D rows") {
    CowEvo.ensure(spark, sf)
    val got = CowTable
      .snapshotDiff(spark, 1, 2, root)
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"), r.getAs[Long]("old_cents"), r.getAs[Long]("new_cents")))
      .toSet
    val expected = baseRows().collect { case (k, c) if stripe(k) => (k, "D", c, -1L) }.toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  private def cleanup(version: Int): Unit = {
    val exact = Set(s"v$version", s"manifest_v$version", s"dv_v$version", s"meta_v$version", s"delta_v$version")
    for (
      f <- Option(new java.io.File(root).listFiles()).getOrElse(Array.empty[java.io.File])
      // multi-lineage-group deletes suffix their vectors dv_vN_gI
      if exact.contains(f.getName) || f.getName.startsWith(s"dv_v${version}_g")
    ) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
}
