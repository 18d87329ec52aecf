package graft.sources

import graft.Graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partition-spec evolution for the COW table format (x117) — the layout
  * counterpart of x99's schema evolution, and the remaining Iceberg
  * flagship the format lacked: the table's bucketing geometry can change
  * WITHOUT rewriting history. Spec 1 buckets keys at width 1024; an
  * evolution commit switches the CURRENT spec to width 4096 writing ZERO
  * data bytes (the manifest is carried verbatim, only the per-version
  * spec pointer changes); a later MERGE rewrites exactly its touched
  * old-spec buckets — and re-buckets them under the NEW spec — while
  * untouched spec-1 files ride along by reference. Reads union files of
  * both specs (the bucket id is layout, not content), and key-range
  * pruning is spec-AGNOSTIC because every manifest entry carries tight
  * min/max keys: a point/range probe selects the same files whether they
  * were laid out under width 1024 or 4096.
  *
  * Why this matters at 100 TB: partition geometry is always wrong
  * eventually (data grows, key density shifts). Without spec evolution
  * the only fix is a full-table rewrite; with it, old files age out
  * through ordinary merges/compaction, one touched bucket at a time.
  *
  * Standalone module on its own fixture root — the x99/CowEvo precedent:
  * the production write path (CowTable) stays byte-identical for every
  * existing gate query.
  */
object CowSpecEvo {

  def root(d: String): String = Fixture.dir("graft_cow_spec", Some(d))

  val W1 = 1024L // spec 1: the original bucket width
  val W2 = 4096L // spec 2: the evolved width (4 old buckets per new)

  /** update stripe (all keys exist in the base table by construction) and
    * insert block — both mirrored closed-form in the oracle */
  val UpdFilter = "k % 89 = 0 AND (k div 1024L) % 3 = 1"
  val UpdCents = "k * 3 + 7"
  val InsertBase = 20000000L
  val InsertCount = 40

  case class E(specId: Int, bucket: Long, path: String, minKey: Long, maxKey: Long, nRows: Long)

  private def manifestPath(d: String, v: Int) = s"${root(d)}/manifest_v$v"

  private def writeManifest(s: SparkSession, d: String, v: Int, rows: Seq[E]): Unit = {
    import s.implicits._
    rows
      .map(e => (e.specId, e.bucket, e.path, e.minKey, e.maxKey, e.nRows))
      .toDF("spec_id", "bucket", "path", "min_key", "max_key", "n_rows")
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestPath(d, v))
  }

  def entriesOf(s: SparkSession, d: String, v: Int): Seq[E] =
    Graft.parquet(s, manifestPath(d, v))
      .collect()
      .map(r =>
        E(
          r.getAs[Int]("spec_id"),
          r.getAs[Long]("bucket"),
          r.getAs[String]("path"),
          r.getAs[Long]("min_key"),
          r.getAs[Long]("max_key"),
          r.getAs[Long]("n_rows")
        )
      )
      .toSeq

  /** per-bucket stats of a freshly written `partitionBy("bucket")` dir —
    * one manifest entry per bucket dir (the file-count-sized pass). */
  private def statsOf(s: SparkSession, dataDir: String, specId: Int): Seq[E] =
    Graft.parquet(s, dataDir)
      // partition-column discovery infers INT for small bucket ids —
      // normalize before the Long-typed manifest
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
      .collect()
      .map(r =>
        E(
          specId,
          r.getAs[Long]("bucket"),
          s"$dataDir/bucket=${r.getAs[Long]("bucket")}",
          r.getAs[Long]("mn"),
          r.getAs[Long]("mx"),
          r.getAs[Long]("n")
        )
      )
      .toSeq

  /** snapshot read across specs: the union of every entry's file, keyed
    * columns only (bucket ids are layout, not content). */
  def read(s: SparkSession, d: String, v: Int): DataFrame = {
    val es = entriesOf(s, d, v)
    Graft.parquet(s, es.map(_.path): _*).select("k", "cents")
  }

  /** spec-agnostic key-range pruning: tight per-entry min/max make the
    * probe identical across layout generations. Driver-side planning over
    * file-count-sized metadata, the selectFiles shape. */
  def pruneEntries(s: SparkSession, d: String, v: Int, lo: Long, hi: Long): Seq[E] =
    entriesOf(s, d, v).filter(e => e.maxKey >= lo && e.minKey <= hi)

  /** v1 base (spec 1) → v2 evolution commit (metadata only) → v3 merge
    * under spec 2: a [[Fixture]] per source dir, returning its root. */
  def ensure(s: SparkSession, d: String): String = Fixture(
    "graft_cow_spec",
    Some(d),
    s"$W1|$W2|$UpdFilter|$UpdCents|$InsertBase|$InsertCount|spec1"
  ) { root =>
    // ---- v1: base table bucketed under spec 1
    val base = graft.Graft
      .table(s, d, "orders")
      .select(col("o_orderkey").as("k"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    base
      .withColumn("bucket", expr(s"k div ${W1}L"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$root/v1")
    writeManifest(s, d, 1, statsOf(s, s"$root/v1", specId = 1))

    // ---- v2: EVOLVE the partition spec — a pure metadata commit. The
    // manifest rows carry verbatim; no data dir exists for v2 at all.
    writeManifest(s, d, 2, entriesOf(s, d, 1))

    // ---- v3: merge under the NEW spec. Touched spec-1 buckets rewrite
    // (and re-bucket at width 4096); inserts land as spec-2 files;
    // untouched spec-1 files carry by reference.
    val updates = base.where(expr(UpdFilter)).select(col("k"), expr(UpdCents).as("cents"))
    val inserts = s
      .range(InsertCount.toLong)
      .select((col("id") + InsertBase).as("k"), (lit(5000L) + col("id") * 11L).as("cents"))
    val touched = updates
      .select(expr(s"k div ${W1}L").as("b"))
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toSet
    val man2 = entriesOf(s, d, 2)
    val (touchedEs, carried) = man2.partition(e => touched.contains(e.bucket))
    val cur = Graft.parquet(s, touchedEs.map(_.path): _*).select("k", "cents")
    val rewritten = cur
      .join(updates.select(col("k").as("uk"), col("cents").as("ucents")), col("k") === col("uk"), "left")
      .select(col("k"), coalesce(col("ucents"), col("cents")).as("cents"))
      .unionByName(inserts)
    rewritten
      .withColumn("bucket", expr(s"k div ${W2}L"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$root/v3")
    writeManifest(s, d, 3, statsOf(s, s"$root/v3", specId = 2) ++ carried)
  }
}
