package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** x229 fixture: a table whose history spans the FULL round-7 feature
  * era — deletion-vector sidecars, fold compactions, a registered
  * shallow clone — so the full-era vacuum has every reachability class
  * to adjudicate:
  *
  *   v1    base buckets from `orders`
  *   v2    [[CowTable.morDelete]] of stripe A (k%97, bucket%5) → dv_v2
  *   clone [[CowTable.cloneTable]] of v2 into [[cloneDir]] (registers a
  *         back-pointer at the source — the x229 contract)
  *   v3    [[CowTable.foldDv]]: stripe-A buckets rewritten, DV dropped
  *   v4    morDelete of stripe B (k%89, bucket%3, live keys) → dv_v4
  *   v5    foldDv again: stripe-B buckets rewritten
  *
  * With retain={5}: dv_v4 and the v3 dirs of stripe-A∩B buckets are
  * true orphans; the v1 dirs of every rewritten bucket and dv_v2 are
  * alive ONLY through the clone — the refusal CowGcSpec proves by
  * executing the vacuum and reading the clone afterwards.
  */
object CowGc {
  /** the clone shares the fixture's files and is built with it */
  private def cloneDir(d: String): String = Fixture.dir("graft_cow_gc_clone", Some(d))

  val DelA = s"k % 97 = 0 AND (k div ${CowTable.BucketWidth}L) % 5 = 0"
  val DelB = s"k % 89 = 0 AND (k div ${CowTable.BucketWidth}L) % 3 = 0"

  def ensure(s: SparkSession, d: String): String = Fixture("graft_cow_gc", Some(d), s"cowgc2tree|$DelA|$DelB") { dir =>
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cloneDir(d)))
    val base = graft.Graft
      .table(s, d, "orders")
      .select(
        col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")
      )
      .withColumn("bucket", expr(s"k div ${CowTable.BucketWidth}L"))
      .localCheckpoint() // v1 write + two delete stripes
    base.write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/v1")
    CowTable.writeManifestRows(s, 1, CowTable.statsOf(s, s"$dir/v1", schemaId = 1), dir)
    CowTable.morDelete(s, 1, 2, base.where(expr(DelA)).select("k"), dir)
    CowTable.cloneTable(s, 2, cloneDir(d), dir)
    CowTable.foldDv(s, 2, 3, dir)
    // dead stripe-A keys inside stripe B no-op in the DV probe, so the
    // closed-form key set equals "live 89-multiples" exactly
    CowTable.morDelete(s, 3, 4, base.where(expr(DelB)).select("k"), dir)
    CowTable.foldDv(s, 4, 5, dir)
  }
}
