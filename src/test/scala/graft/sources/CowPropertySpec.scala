package graft.sources

import graft.{TempSources, TestSpark}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Model-based property test for the COW MERGE: arbitrary upsert/delete
  * batches applied through the distributed merge must equal the trivial
  * in-memory map model (upserts replace-or-insert, deletes win, absent
  * deletes no-op) — and the CDC diff must equal the model's row diff. */
class CowPropertySpec extends AnyFunSuite with TempSources {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // the merges commit scratch versions: they go to a private table built
  // from a copy of sf0.001's orders, never to the gate table
  private lazy val scratch: String = CowTable.ensure(spark, tempCopy(sf, "orders"))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong * 7)))

  test("arbitrary merge batches equal the in-memory model; diff equals the model diff") {
    import spark.implicits._
    val base: Map[Long, Long] = CowTable
      .read(spark, 2, scratch)
      .collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents"))
      .toMap
    val keys = base.keySet.toVector.sorted
    val opGen = for {
      nUp <- Gen.choose(0, 12)
      ups <- Gen.listOfN(
        nUp,
        for {
          existing <- Gen.oneOf(true, false)
          k <- if (existing) Gen.oneOf(keys) else Gen.choose(0L, keys.max + 5000L).suchThat(!base.contains(_))
          v <- Gen.choose(1L, 999999L)
        } yield (k, v)
      )
      nDel <- Gen.choose(0, 8)
      dels <- Gen.listOfN(
        nDel,
        Gen.oneOf(Gen.oneOf(keys), Gen.choose(50000000L, 50001000L)) // existing or absent
      )
    } yield (ups.distinctBy(_._1), dels.distinct)
    samples(opGen, 6).zipWithIndex.foreach { case ((ups, dels), i) =>
      val v = 80 + i
      try {
        CowTable.merge(
          spark, 2, v,
          changes = ups.toDF("k", "cents"),
          deletes = dels.toDF("k"),
          root = scratch
        )
        val expected = (base ++ ups.toMap) -- dels
        val got = CowTable
          .read(spark, v, scratch)
          .collect()
          .map(r => r.getAs[Long]("k") -> r.getAs[Long]("cents"))
          .toMap
        assert(got === expected, s"sample $i content")
        // CDC diff vs the model diff (same-value rewrites excluded)
        val gotDiff = CowTable
          .snapshotDiff(spark, 2, v, scratch)
          .collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"), r.getAs[Long]("old_cents"), r.getAs[Long]("new_cents")))
          .toSet
        val expDiff =
          (expected.keySet ++ base.keySet).flatMap { k =>
            (base.get(k), expected.get(k)) match {
              case (None, Some(n)) => Some((k, "I", -1L, n))
              case (Some(o), None) => Some((k, "D", o, -1L))
              case (Some(o), Some(n)) if o != n => Some((k, "U", o, n))
              case _ => None
            }
          }
        assert(gotDiff === expDiff, s"sample $i diff")
      } finally {
        for (n <- Seq(s"v$v", s"manifest_v$v")) {
          val f = new java.io.File(s"$scratch/$n")
          if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
        }
      }
    }
  }
}
