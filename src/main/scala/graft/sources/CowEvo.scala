package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fixture chain for the merge-on-read + schema-evolution faces of the
  * [[CowTable]] format (x97/x99) — a SEPARATE table root so the x81–x86
  * artifact chain stays byte-stable. Versions:
  *
  *   - v1  base `orders` bucketed as `(k, cents)`, schema 1
  *   - v2  [[CowTable.morDelete]] of the [[DelFilter]] stripe — deletion-
  *         vector sidecars only, ZERO data files written (the x97 gate
  *         proves it from manifest provenance)
  *   - v30 the COW TWIN branch: the SAME logical delete from v1 via
  *         [[CowTable.merge]]'s rewrite path — x97 reads both and the
  *         oracle pins them to one truth
  *   - v3  add-column commit: schema 2 adds field 3 `qty`; [[AddCount]]
  *         new rows written under schema 2, every v2 file carried with
  *         its write-schema id (and its DV)
  *   - v4  rename commit: schema 3 renames field 2 `cents` →
  *         `amount_cents` — METADATA ONLY, the manifest is copied
  *         verbatim; reads resolve old files through the field-id map
  *   - v5  [[CowTable.foldDv]] compaction: DV-carrying buckets rewritten
  *         live-rows-only, dv references dropped, everything else carried
  *   - v6  [[CowTable.morUpsert]] from v2: the [[UpsFilter]] stripe's
  *         cents bumped + [[UpsCount]] fresh inserts — old versions masked
  *         by DVs MERGED with v2's delete vectors (same bucket class by
  *         construction), all new rows in one `delta_v6` file set, ZERO
  *         base files rewritten (the x126 gate proves it from provenance)
  *   - v31 the COW TWIN of v6: the same logical upsert from v2 via
  *         [[CowTable.merge]]'s rewrite path — x126 pins both to one truth
  *   - v7  [[CowTable.rollback]] to v2: the evolution/upsert lineage
  *         undone by a metadata-only commit — manifest rows carried
  *         VERBATIM (x130 pins v7's accounting ≡ v2's; the undone
  *         versions stay time-travelable)
  *
  * The chain composes the three table-format mechanisms deliberately:
  * x99 reads v4, so one query crosses a DV mask (schema-1 files), a
  * schema addition, and a rename at once.
  */
object CowEvo {

  def dir(d: String): String = Fixture.dir("graft_cow_evo", Some(d))

  /** MOR-deleted stripe: distinct moduli from every CowTable stripe so the
    * two fixtures can never shadow each other's coverage. */
  val DelFilter = s"k % 13 = 0 AND (k div ${CowTable.BucketWidth}L) % 3 = 1"

  /** add-column inserts: keys far above the base range, qty a small cycle */
  val AddBase = 20000000L
  val AddCount = 40

  /** MOR-upserted stripe (x126): SAME bucket class as [[DelFilter]] —
    * deliberately, so the update DVs must OR-merge into v2's existing
    * delete vectors — but a different key modulus; keys hit by BOTH
    * stripes (k % 221 == 0) are already deleted at v2 and the stripe is
    * built from the v2 READ, so they stay deleted. */
  val UpsFilter = s"k % 17 = 0 AND (k div ${CowTable.BucketWidth}L) % 3 = 1"
  val UpsBump = 7000L

  /** pure-insert half of the v6 upsert: a fresh key range far above both
    * the base table and the [[AddBase]] stripe, new buckets, no DVs */
  val UpsBase = 30000000L
  val UpsCount = 40

  val Schemas: Seq[(Int, Int, String, String)] = Seq(
    (1, 1, "k", "bigint"), (1, 2, "cents", "bigint"),
    (2, 1, "k", "bigint"), (2, 2, "cents", "bigint"), (2, 3, "qty", "bigint"),
    (3, 1, "k", "bigint"), (3, 2, "amount_cents", "bigint"), (3, 3, "qty", "bigint")
  )

  def ensure(s: SparkSession, d: String): String = Fixture(
    "graft_cow_evo",
    Some(d),
    s"${CowTable.BucketWidth}|$DelFilter|$AddBase|$AddCount|$UpsFilter|$UpsBump|$UpsBase|$UpsCount|evo4tree"
  ) { dir =>

    // ---- v1: base table, schema 1
    val base = graft.Graft
      .table(s, d, "orders")
      .select(
        col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")
      )
      .withColumn("bucket", expr(s"k div ${CowTable.BucketWidth}L"))
    base.write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/v1")
    CowTable.writeManifestRows(s, 1, CowTable.statsOf(s, s"$dir/v1", schemaId = 1), dir)
    CowTable.writeSchemas(s, dir, Schemas)
    CowTable.writeVersionMeta(s, dir, 1, 1)

    // ---- v2: merge-on-read delete of the stripe (DV sidecars, no data)
    val delKeys = base.where(expr(DelFilter)).select("k")
    CowTable.morDelete(s, 1, 2, delKeys, dir)

    // ---- v30: the COW twin — same logical delete via the rewrite path
    import s.implicits._
    CowTable.merge(s, 1, 30, changes = Seq.empty[(Long, Long)].toDF("k", "cents"), deletes = delKeys, root = dir)

    // ---- v3: add-column commit (schema 2) + inserts carrying qty
    s.range(AddCount.toLong)
      .select(
        (col("id") + lit(AddBase)).as("k"),
        (lit(200000L) + col("id") * 11L).as("cents"),
        (lit(3L) + col("id") % 7L).as("qty")
      )
      .withColumn("bucket", expr(s"k div ${CowTable.BucketWidth}L"))
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(s"$dir/v3")
    CowTable.writeManifestRows(
      s, 3,
      CowTable.entries(s, 2, dir) ++ CowTable.statsOf(s, s"$dir/v3", schemaId = 2),
      dir
    )
    CowTable.writeVersionMeta(s, dir, 3, 2)

    // ---- v4: rename commit (schema 3) — metadata only, zero data moved
    CowTable.writeManifestRows(s, 4, CowTable.entries(s, 3, dir), dir)
    CowTable.writeVersionMeta(s, dir, 4, 3)

    // ---- v5: fold the deletion vectors back into data files
    CowTable.foldDv(s, 4, 5, dir)

    // ---- v6: merge-on-read UPSERT from v2 (updates + inserts, zero base
    // rewrites) and v31, its COW twin through the rewrite path. The
    // changes are built from the v2 READ, so keys the delete stripe
    // already masked are structurally excluded.
    val upserts = CowTable
      .read(s, 2, dir)
      .where(expr(UpsFilter))
      .select(col("k"), (col("cents") + lit(UpsBump)).as("cents"))
      .unionByName(
        s.range(UpsCount.toLong)
          .select((col("id") + lit(UpsBase)).as("k"), (lit(300000L) + col("id") * 13L).as("cents"))
      )
      .localCheckpoint() // three consumers: DV probe, delta write, COW twin
    CowTable.morUpsert(s, 2, 6, upserts, dir)
    CowTable.merge(s, 2, 31, changes = upserts, root = dir)

    // ---- v7: roll the table back to the v2 state, metadata only
    CowTable.rollback(s, 2, 7, dir)
  }
}
