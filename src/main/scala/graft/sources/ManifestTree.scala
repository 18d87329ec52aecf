package graft.sources

import graft.Graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style MANIFEST-LIST scan planning (x226) — the structural fix
  * for the one driver-bound piece of the lakehouse story the r7 verdict
  * flagged: [[CowTable.entries]] loads a snapshot's WHOLE manifest to the
  * driver before planning, which is correct at gate scale (tens–thousands
  * of files) but wrong at 100 TB, where the manifest itself is a dataset
  * (10⁶–10⁷ files). The Iceberg answer (spec v2 "manifest list" /
  * Snapshot → ManifestFile → DataFile) is a two-level metadata tree:
  *
  *   manifest_list  — ONE small file, one row per manifest file carrying
  *                    that manifest's partition-range stats
  *                    (min/max bucket, min/max key, file/row counts)
  *   manifests/g=G  — one manifest file per bucket GROUP, one row per
  *                    data file (bucket, path, min_key, max_key, n_rows)
  *   data/bucket=B  — immutable per-bucket data directories
  *
  * Scan planning for a key-range predicate is then a metadata PIPELINE:
  * prune the manifest list by range stats → open ONLY surviving manifest
  * files (a distributed parquet scan over their union) → prune entries by
  * file-level stats → the driver collects nothing but the FINAL task
  * list. The full entry set never materializes anywhere: a 10⁷-file
  * table whose query touches 3 bucket groups reads 1 list file + 3
  * manifest files, and ManifestTreeSpec proves the isolation physically —
  * it corrupts every non-overlapping manifest and data file on disk and
  * plans/reads through the wreckage untouched.
  *
  * Reference shape: Iceberg manifest lists (public spec). The reference
  * repo has no table format at all; this extends the CowTable family
  * (SURVEY §2.9) with the piece that keeps planning off the driver.
  */
object ManifestTree {

  /** key span covered by one data file (one bucket = one immutable dir) */
  val BucketWidth = 1024L

  /** buckets per manifest file — the manifest-list fan-out */
  val GroupSize = 8L

  /** A planned scan: tree-level accounting plus the final task list —
    * the ONLY thing the driver ever holds (Iceberg's planFiles contract).
    */
  case class Plan(
      nManifestsTotal: Long,
      nManifestsRead: Long,
      nFilesRead: Long,
      nRowsPlanned: Long,
      taskPaths: Seq[String]
  )

  /** Build the tree from `orders` (k = o_orderkey, cents payload):
    * per-bucket data dirs, per-group manifest files, one manifest list.
    * A [[Fixture]] per source dir; returns the tree's root.
    */
  def ensure(s: SparkSession, d: String): String = Fixture("graft_mtree", Some(d), s"mtree1|$BucketWidth|$GroupSize") { dir =>
    val base = graft.Graft
      .table(s, d, "orders")
      .select(
        col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")
      )
      .withColumn("bucket", expr(s"k div ${BucketWidth}L"))
    build(s, base, dir)
  }

  /** Tree writer over any (k, cents, bucket) frame (spec fixtures reuse
    * it at small scale). All three levels are DataFrame writes — stats
    * come from one map-side-combinable aggregation of the data, never a
    * driver loop over files.
    */
  def build(s: SparkSession, base: DataFrame, root: String): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath)) fs.delete(rootPath, true)
    // hash-repartition on bucket ⇒ each bucket's rows land in exactly one
    // task ⇒ exactly one part file per bucket directory
    base
      .repartition(col("bucket"))
      .write
      .partitionBy("bucket")
      .parquet(s"$root/data")
    val fstats = base
      .groupBy("bucket")
      .agg(min("k").as("min_key"), max("k").as("max_key"), count(lit(1)).as("n_rows"))
      .withColumn("path", concat(lit(s"$root/data/bucket="), col("bucket")))
      .withColumn("g", expr(s"bucket div ${GroupSize}L"))
      .localCheckpoint() // two refs: manifest write + list aggregation
    fstats
      .repartition(col("g"))
      .write
      .partitionBy("g")
      .parquet(s"$root/manifests")
    fstats
      .groupBy("g")
      .agg(
        min("bucket").as("min_bucket"),
        max("bucket").as("max_bucket"),
        min("min_key").as("min_key"),
        max("max_key").as("max_key"),
        count(lit(1)).as("n_files"),
        sum("n_rows").as("n_rows")
      )
      .withColumn("mpath", concat(lit(s"$root/manifests/g="), col("g")))
      .coalesce(1)
      .write
      .parquet(s"$root/manifest_list")
  }

  /** Plan a key-range scan through the tree. Driver materializes (a) the
    * manifest-count-sized list (the top of the tree — Iceberg reads it
    * too), (b) the PRUNED manifest paths, (c) the PRUNED task list.
    * Entries of non-overlapping manifests are never deserialized — their
    * files are never opened (spec-proven by corruption).
    */
  def planRange(s: SparkSession, lo: Long, hi: Long, root: String): Plan = {
    val list = Graft.parquet(s, s"$root/manifest_list").localCheckpoint() // count + prune
    val nTotal = list.count()
    val mpaths = list
      .where(col("max_key") >= lo && col("min_key") <= hi)
      .select("mpath")
      .collect()
      .map(_.getString(0))
      .sorted
      .toSeq
    if (mpaths.isEmpty) Plan(nTotal, 0L, 0L, 0L, Nil)
    else {
      val tasks = Graft.parquet(s, mpaths: _*)
        .where(col("max_key") >= lo && col("min_key") <= hi)
        .select("path", "n_rows")
        .collect()
      Plan(
        nTotal,
        mpaths.length.toLong,
        tasks.length.toLong,
        tasks.map(_.getAs[Long]("n_rows")).sum,
        tasks.map(_.getAs[String]("path")).sorted.toSeq
      )
    }
  }

  /** Execute a plan: scan exactly the planned files, residual-filter on k.
    */
  def readTasks(s: SparkSession, plan: Plan, lo: Long, hi: Long): DataFrame = {
    require(plan.taskPaths.nonEmpty, "readTasks on an empty plan (guard at the call site)")
    Graft.parquet(s, plan.taskPaths: _*).where(col("k") >= lo && col("k") <= hi)
  }

  /** The NAIVE path (every manifest file opened, every entry listed) —
    * the spec's equality twin only; nothing in the query surface calls it.
    */
  def readRangeNaive(s: SparkSession, lo: Long, hi: Long, root: String): DataFrame = {
    val all = Graft.parquet(s, s"$root/manifest_list")
      .select("mpath")
      .collect()
      .map(_.getString(0))
      .sorted
    val paths = Graft.parquet(s, all.toIndexedSeq: _*)
      .select("path")
      .collect()
      .map(_.getString(0))
      .sorted
    Graft.parquet(s, paths.toIndexedSeq: _*).where(col("k") >= lo && col("k") <= hi)
  }
}
