package graft.sources

import graft.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE over a snapshot-versioned parquet table — the
  * table-format WRITE path built from first principles, completing the
  * from-scratch lakehouse triptych: x47/x73 built the stats/skipping READ
  * path, x78 the OPTIMIZE/compaction pass, and this is MERGE INTO with
  * snapshot isolation (the Iceberg/Delta core idea re-derived from the
  * public literature: immutable data files + a versioned manifest that
  * lists them; writers never mutate, they rewrite touched files and
  * publish a new manifest that carries untouched files BY REFERENCE).
  *
  * The 100 TB shape, concretely:
  *   - the table is bucketed by key range (`bucket = k div BucketWidth`), one
  *     directory of immutable parquet per bucket, and the manifest is one
  *     row per bucket (path, min/max key, rows) — file-count-sized
  *     control metadata, the same class as the x73 manifest;
  *   - MERGE prunes with the manifest FIRST: only buckets whose key range
  *     intersects the change keys are read or rewritten. A localized
  *     update against a 10⁶-file table touches a handful of files;
  *     everything else moves to the new snapshot as a manifest row, zero
  *     bytes copied;
  *   - matched keys update, unmatched keys insert (new buckets appended);
  *     the rewrite is per-bucket and embarrassingly parallel — no join
  *     against the full table, no global barrier;
  *   - old snapshots stay readable forever (time travel) because nothing
  *     is overwritten: x82 reads snapshot v1 AFTER the v2 merge and must
  *     reproduce the original table hash-exactly — the gate-level proof
  *     of immutability.
  *
  * Like every fixture artifact, the build is fingerprint-guarded
  * ([[Compaction.ensure]] pattern): steady-state calls are a marker-file
  * read and the gate measures the read/merge result, not the build.
  *
  * == Design note: the CAS on a raw object store (S3) ==
  *
  * (Expanded with failure-mode parity and pre-conditional-write
  * fallbacks in `/root/repo/DESIGN_S3_COMMIT.md`.)
  *
  * The implemented commit (`publishAtomic`) needs exactly one primitive:
  * "create `manifest_vN` iff it does not exist, atomically" — local
  * `rename(2)` / HDFS RENAME2 here. Raw object stores have no rename,
  * but since 2024 S3 exposes the SAME primitive directly: conditional
  * PUT with `If-None-Match: *` (GCS: `x-goog-if-generation-match: 0`;
  * Azure: `If-None-Match: *`) — exactly one of N racing `PUT
  * manifest_vN` requests succeeds, the rest get 412. The mapping is
  * mechanical because the commit OBJECT is already a single list (group
  * files under `mfiles/` are immutable, absolute-referenced, written
  * before the CAS):
  *
  *   1. serialize the staged LIST to one object body (today it is a
  *      directory of list rows; on S3 it becomes one concatenated
  *      object — the list format is already line-oriented);
  *   2. `PUT manifest_vN` with `If-None-Match: *`: 200 = the commit
  *      (linearized by S3's strong consistency); 412 = lost the race →
  *      the existing casLoop rebase/conflict logic unchanged;
  *   3. readers `GET manifest_vN` until 404 — the same latest-version
  *      probe `latestVersion` does with a listing, minus the listing
  *      (ListObjectsV2 is eventually-ordered but manifest version probes
  *      can binary-search GETs instead).
  *
  * No ETag juggling is needed for the happy path because versions are
  * never rewritten (append-only manifest chain); `If-Match: <etag>`
  * would only matter for in-place ref updates (`refs/<name>`), which map
  * to read-ETag → conditional-PUT compare-and-swap the same way. What
  * does NOT port: `occ_*` scratch cleanup relies on prefix listing
  * (eventually consistent is fine — scratch is writer-owned), and the
  * vacuum's existence checks become HEADs. This note is the design;
  * the implementation stays out of scope while the repo has no S3
  * endpoint to test against (zero-egress environment).
  */
object CowTable {

  /** key-range bucket width (stand-in for a production file's key span) */
  val BucketWidth: Long = 1024L

  /** the gate table's root for the source dir `d` */
  def dir(d: String): String = Fixture.dir("graft_cow", Some(d))

  /** updated keys: every 97th order key, but only in every 5th bucket —
    * localized updates keep the carried/rewritten split meaningful at any
    * scale factor (scattered updates would touch every bucket). Both the
    * predicate and the cents bump are mirrored in the oracle. */
  val UpdateFilter = s"k % 97 = 0 AND (k div ${BucketWidth}L) % 5 = 0"
  val UpdateBump = 1000L

  /** inserted keys: 50 rows in a key range far above the base table */
  val InsertBase = 10000000L
  val InsertCount = 50

  /** v3 three-clause merge: upsert stripe and delete stripe live in
    * disjoint bucket classes (mod 7), so a key can never be both */
  val Upsert3Filter = s"k % 103 = 0 AND (k div ${BucketWidth}L) % 7 = 3"
  val Delete3Filter = s"k % 101 = 0 AND (k div ${BucketWidth}L) % 7 = 1"

  private def manifestPath(version: Int, root: String) = s"$root/manifest_v$version"

  // ------------------------------------------------ filesystem (Hadoop API)
  // Commit, marker, ref and manifest-walk IO goes through the Hadoop
  // FileSystem API (r9 verdict item: the last single-node assumption in
  // the scale story), so the table works unchanged on HDFS — including
  // the atomic-rename CAS. Raw-object-store conditional-put (S3 without a
  // rename layer) remains the documented non-goal. Fixture BUILDERS
  // (ensure* markers) stay java.io — they are test-rig-local by design.
  // Child paths are built from the PARENT STRING + child name, never from
  // FileStatus.getPath.toString, so path strings keep the caller's form
  // (no scheme injection) and stay comparable with manifest entry paths.

  private def hconf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def hfs(path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(hconf), p)
  }

  private def pathExists(path: String): Boolean = { val (fs, p) = hfs(path); fs.exists(p) }

  private def deleteDir(path: String): Unit = {
    val (fs, p) = hfs(path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def deleteFile(path: String): Unit = {
    val (fs, p) = hfs(path)
    if (fs.exists(p)) fs.delete(p, false)
  }

  private def listNames(path: String): Seq[String] = {
    val (fs, p) = hfs(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq.sorted
  }

  private def listDirNames(path: String): Seq[String] = {
    val (fs, p) = hfs(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  private def writeSmall(path: String, content: String): Unit = {
    val (fs, p) = hfs(path)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  private def readSmall(path: String): String = {
    val (fs, p) = hfs(path)
    val len = fs.getFileStatus(p).getLen.toInt
    val in = fs.open(p)
    try { val buf = new Array[Byte](len); in.readFully(0, buf); new String(buf, "UTF-8") }
    finally in.close()
  }

  /** single-writer rename (list swaps whose target was just removed) */
  private def renameInto(src: String, dst: String): Unit = {
    val (fs, sp) = hfs(src)
    if (!fs.rename(sp, new org.apache.hadoop.fs.Path(dst)))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** One manifest row: the planning unit. `dvPath` is the deletion-vector
    * sidecar directory masking this bucket ("" = none, the merge-on-read
    * half of the write path); `nDel` its masked-row count; `schemaId` the
    * table schema the data file was WRITTEN under (Iceberg-style id-based
    * column mapping — reads project old files through the id map, so time
    * travel survives add/rename-column). */
  case class Entry(
      bucket: Long,
      path: String,
      minKey: Long,
      maxKey: Long,
      nRows: Long,
      dvPath: String,
      nDel: Long,
      schemaId: Int
  )

  // --------------------------------------------- two-level manifest tree
  // The x226 ManifestTree pattern EATEN by the write path (x263; the r8
  // verdict's top task): a manifest directory holds ONE small parquet —
  // the LIST, one row per bucket GROUP carrying that group's stats
  // (min/max bucket + key, file/row/dv counts) and the ABSOLUTE path of
  // an immutable group-manifest file under `$root/mfiles/<token>/`.
  // Group files hold the per-file [[Entry]] rows of `ManifestGroup`
  // consecutive buckets and NEVER move or change once written, so:
  //   - a commit rewrites only the groups its buckets touch and carries
  //     every other group BY REFERENCE (one list row, zero bytes read) —
  //     commit metadata cost tracks the CHANGE, not the table;
  //   - pruned planning ([[pruneEntries]]/[[pruneEntriesRange]]) opens
  //     only surviving groups' files and the driver collects nothing but
  //     the final task list — the full entry set never materializes;
  //   - the list directory is the atomic-rename COMMIT OBJECT (group
  //     files live outside it, absolute-referenced), which is what keeps
  //     [[occCommit]]'s CAS a single `rename(2)`.
  // At 10⁷ files a localized merge writes a handful of group files plus
  // one group-count-sized list; only FULL-snapshot scans (whose task list
  // IS the whole table — the Iceberg planFiles contract) ever enumerate
  // every entry. Reference shape: Iceberg spec v2 manifest lists.

  /** buckets per group-manifest file — the manifest-list fan-out */
  val ManifestGroup = 8L

  private val listCols =
    Seq("g", "mpath", "min_bucket", "max_bucket", "min_key", "max_key", "n_files", "n_rows", "n_dv")

  /** the raw manifest LIST (one row per group) */
  private def listDf(s: SparkSession, path: String): DataFrame = Graft.parquet(s, path)

  /** legacy FLAT manifests (pre-tree artifacts) carry entry rows directly */
  private def isTree(l: DataFrame): Boolean = l.columns.contains("mpath")

  // ------------------------------------------------------- manifest cache
  // The r9 bench showed every snapshot access re-reading list + group
  // parquet as fresh Spark jobs (x145 alone opens 9 snapshots, and carried
  // groups are SHARED between snapshots by path). Both layers are
  // memoizable: a published list never changes under its `manifest_vN`
  // path and group files are immutable once written — but fixture rebuilds
  // delete-and-recreate the same paths, so a hit is only trusted after a
  // cheap FS freshness check (listStatus names+lengths+mtimes — microseconds
  // against a Spark job's ~100 ms floor). Nothing needs explicit
  // invalidation: commits claim NEW paths, and any same-path rewrite
  // (fixture rebuild, re-staged WAP branch, vacuum) changes the signature.
  // Driver-size discipline: the list cache holds group-count-sized rows
  // (what the old code collect()ed anyway), the group cache holds entry
  // rows only for groups actually opened (ManifestGroup-bounded), and
  // manifests above [[MaxCachedEntries]] total files bypass the entry
  // cache entirely and keep the distributed read — a 10⁷-file table never
  // pins the driver. Both caches drop wholesale at a size bound (they
  // re-warm in one read; an LRU would buy nothing at these sizes).

  /** full-manifest entry sets above this bypass the cache (stay distributed) */
  val MaxCachedEntries: Long = 100000L

  private case class ListRow(
      g: Long, mpath: String, minBucket: Long, maxBucket: Long,
      minKey: Long, maxKey: Long, nFiles: Long, nRows: Long, nDv: Long)

  /** (signature, None = legacy flat manifest | Some(list rows)) per path */
  private val listCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Option[Seq[ListRow]])]()

  /** (signature, entry rows) per group-manifest path */
  private val groupCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Entry])]()

  /** cheap content signature of a manifest/group directory: child names +
    * lengths + mtimes. Computed BEFORE the read it guards, so a
    * concurrent rewrite can only leave a stale-signature entry (refused
    * on the next hit), never a fresh-signature stale payload. */
  private def dirSig(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted
      .mkString("|")
  }

  /** list rows of a tree manifest (None for legacy flat), cached. */
  private def listRowsOf(s: SparkSession, path: String): Option[Seq[ListRow]] = {
    val sig = dirSig(s, path)
    val hit = listCache.get(path)
    if (hit != null && hit._1 == sig) return hit._2
    val l = listDf(s, path)
    val v: Option[Seq[ListRow]] =
      if (!isTree(l)) None
      else
        Some(
          l.select(listCols.map(col): _*)
            .collect()
            .map(r =>
              ListRow(
                r.getAs[Long]("g"), r.getAs[String]("mpath"),
                r.getAs[Long]("min_bucket"), r.getAs[Long]("max_bucket"),
                r.getAs[Long]("min_key"), r.getAs[Long]("max_key"),
                r.getAs[Long]("n_files"), r.getAs[Long]("n_rows"), r.getAs[Long]("n_dv")))
            .toSeq
            .sortBy(_.g))
    if (listCache.size > 512) listCache.clear()
    listCache.put(path, (sig, v))
    v
  }

  /** Entry rows for each requested (g → mpath), cache-first; misses are
    * fetched in ONE batched parquet read (group files carry `g` as a data
    * column, so rows route back without filename games). */
  private def groupEntriesOf(s: SparkSession, byG: Seq[(Long, String)]): Map[Long, Seq[Entry]] = {
    val out = scala.collection.mutable.Map[Long, Seq[Entry]]()
    val missing = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    byG.foreach { case (g, mp) =>
      val sig = dirSig(s, mp)
      val hit = groupCache.get(mp)
      if (hit != null && hit._1 == sig) out(g) = hit._2
      else missing += ((g, mp, sig))
    }
    if (missing.nonEmpty) {
      val rows = Graft.parquet(s, missing.map(_._2).sorted.toIndexedSeq: _*)
        .select(
          col("g").cast("long"),
          col("bucket").cast("long"), col("path"),
          col("min_key").cast("long"), col("max_key").cast("long"),
          col("n_rows").cast("long"), col("dv_path"),
          col("n_del").cast("long"), col("schema_id").cast("int"))
        .collect()
        .map(r =>
          (r.getLong(0),
            Entry(r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4),
              r.getLong(5), r.getString(6), r.getLong(7), r.getInt(8))))
      val grouped = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(_._2).toSeq.sortBy(e => (e.bucket, e.path, e.dvPath))
      }
      if (groupCache.size > 4096) groupCache.clear()
      missing.foreach { case (g, mp, sig) =>
        val es = grouped.getOrElse(g, Seq.empty)
        groupCache.put(mp, (sig, es))
        out(g) = es
      }
    }
    out.toMap
  }

  /** normalize entry rows: legacy 5-column manifests (pre-DV stream
    * checkpoints) default to no DV / schema 1; types pinned. */
  private def normalizeEntries(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    df.select(
      col("bucket").cast("long").as("bucket"),
      col("path"),
      col("min_key").cast("long").as("min_key"),
      col("max_key").cast("long").as("max_key"),
      col("n_rows").cast("long").as("n_rows"),
      (if (cols("dv_path")) col("dv_path") else lit("")).as("dv_path"),
      (if (cols("n_del")) col("n_del").cast("long") else lit(0L)).as("n_del"),
      (if (cols("schema_id")) col("schema_id").cast("int") else lit(1)).as("schema_id")
    )
  }

  private def emptyEntriesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, String, Long, Long, Long, String, Long, Int)]
      .toDF("bucket", "path", "min_key", "max_key", "n_rows", "dv_path", "n_del", "schema_id")
  }

  /** Entry rows of exactly `groups`, distributed: the list is pruned to
    * those groups and ONLY their files are opened — entries of every
    * other group are never deserialized (CowManifestTreeSpec proves it
    * physically by corrupting them). */
  private def readGroups(s: SparkSession, path: String, groups: Set[Long]): DataFrame = {
    if (groups.isEmpty) return emptyEntriesDf(s)
    listRowsOf(s, path) match {
      case None =>
        normalizeEntries(listDf(s, path))
          .where(expr(s"bucket div ${ManifestGroup}L").isin(groups.toSeq.map(Long.box): _*))
      case Some(rows) =>
        val sel = rows.filter(r => groups(r.g))
        if (sel.isEmpty) emptyEntriesDf(s)
        else {
          val m = groupEntriesOf(s, sel.map(r => r.g -> r.mpath))
          entryDf(s, sel.flatMap(r => m(r.g)))
        }
    }
  }

  /** ALL entries of one manifest as a distributed frame (full-snapshot
    * scans and spec accounting; pruned ops go through [[pruneEntries]]).
    * Cache-served at gate sizes; manifests above [[MaxCachedEntries]]
    * files keep the distributed group read (driver materializes only the
    * group-count-sized path list). */
  def entriesDfAt(s: SparkSession, path: String): DataFrame = {
    listRowsOf(s, path) match {
      case None => normalizeEntries(listDf(s, path))
      case Some(rows) =>
        if (rows.isEmpty) emptyEntriesDf(s)
        else if (rows.map(_.nFiles).sum > MaxCachedEntries)
          normalizeEntries(Graft.parquet(s, rows.map(_.mpath).sorted.toIndexedSeq: _*))
        else {
          val m = groupEntriesOf(s, rows.map(r => r.g -> r.mpath))
          entryDf(s, rows.flatMap(r => m(r.g)))
        }
    }
  }

  /** (bucket, path, min_key, max_key, n_rows, dv_path, n_del, schema_id)
    * for one snapshot, distributed — the table-format planning unit. */
  def manifest(s: SparkSession, version: Int, root: String): DataFrame =
    entriesDfAt(s, manifestPath(version, root))

  /** Manifest rows as [[Entry]]s — the FULL set, for full-snapshot reads
    * (whose task list is the whole table) and spec accounting. */
  def entries(s: SparkSession, version: Int, root: String): Seq[Entry] =
    entriesAt(s, manifestPath(version, root))

  /** [[entries]] for an arbitrary manifest directory (staged WAP branches
    * live outside the `manifest_vN` namespace). */
  def entriesAt(s: SparkSession, path: String): Seq[Entry] =
    toEntries(entriesDfAt(s, path))

  private def toEntries(df: DataFrame): Seq[Entry] =
    df.collect()
      .map { r =>
        Entry(
          r.getAs[Long]("bucket"),
          r.getAs[String]("path"),
          r.getAs[Long]("min_key"),
          r.getAs[Long]("max_key"),
          r.getAs[Long]("n_rows"),
          r.getAs[String]("dv_path"),
          r.getAs[Long]("n_del"),
          r.getAs[Int]("schema_id")
        )
      }
      .toSeq
      .sortBy(e => (e.bucket, e.path, e.dvPath))

  /** Entries of exactly `buckets`, PRUNE-BEFORE-COLLECT: list rows filter
    * to the buckets' groups, only surviving group files open, the driver
    * holds a task-list-sized result — the planning primitive every
    * merge/MOR/diff path uses. */
  def pruneEntries(s: SparkSession, path: String, buckets: Set[Long]): Seq[Entry] = {
    if (buckets.isEmpty) return Seq.empty
    listRowsOf(s, path) match {
      case None =>
        toEntries(
          normalizeEntries(listDf(s, path)).where(col("bucket").isin(buckets.toSeq.map(Long.box): _*)))
      case Some(rows) =>
        val groups = buckets.map(_ / ManifestGroup)
        val sel = rows.filter(r => groups(r.g))
        if (sel.isEmpty) Seq.empty
        else {
          val m = groupEntriesOf(s, sel.map(r => r.g -> r.mpath))
          sel.flatMap(r => m(r.g)).filter(e => buckets(e.bucket)).sortBy(e => (e.bucket, e.path, e.dvPath))
        }
    }
  }

  /** Entries whose key range overlaps [lo, hi], stats-pruned at both
    * levels (the x226 planRange pipeline on the write-path manifests). */
  def pruneEntriesRange(s: SparkSession, path: String, lo: Long, hi: Long): Seq[Entry] = {
    listRowsOf(s, path) match {
      case None =>
        toEntries(
          normalizeEntries(listDf(s, path)).where(col("max_key") >= lo && col("min_key") <= hi))
      case Some(rows) =>
        val sel = rows.filter(r => r.maxKey >= lo && r.minKey <= hi)
        if (sel.isEmpty) Seq.empty
        else {
          val m = groupEntriesOf(s, sel.map(r => r.g -> r.mpath))
          sel
            .flatMap(r => m(r.g))
            .filter(e => e.maxKey >= lo && e.minKey <= hi)
            .sortBy(e => (e.bucket, e.path, e.dvPath))
        }
    }
  }

  /** number of group-manifest files the list references (plan accounting) */
  def groupCount(s: SparkSession, path: String): Long =
    listRowsOf(s, path) match {
      case Some(rows) => rows.size.toLong
      case None       => -1L
    }

  /** a snapshot's manifest directory (planning entry point for pruned
    * scans: pair with [[pruneEntries]]/[[pruneEntriesRange]] +
    * [[readEntries]]) */
  def manifestDir(version: Int, root: String): String = manifestPath(version, root)

  /** Execute a plan: DV-masked read of exactly the planned entries —
    * the x226 readTasks counterpart on the write-path tables. */
  def readEntries(s: SparkSession, es: Seq[Entry]): DataFrame = {
    require(es.nonEmpty, "readEntries on an empty plan (guard at the call site)")
    rawRead(s, es)
  }

  // ------------------------------------------------- schema registry (ids)
  // $root/schemas: (schema_id, field_id, name, ftype) — the whole registry,
  // rows-sized; $root/meta_vN: (schema_id) — the snapshot's CURRENT schema.
  // Data files carry the column NAMES of their write-time schema; reads
  // resolve names through field ids, so a rename is a metadata-only commit
  // and old files remain readable under the new names.

  def writeSchemas(s: SparkSession, root: String, rows: Seq[(Int, Int, String, String)]): Unit = {
    import s.implicits._
    rows.toDF("schema_id", "field_id", "name", "ftype").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/schemas")
  }

  def writeVersionMeta(s: SparkSession, root: String, version: Int, schemaId: Int): Unit = {
    import s.implicits._
    Seq(schemaId).toDF("schema_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/meta_v$version")
  }

  // r11 s3: the schema registry and per-version meta are the same class of
  // metadata as the manifest tree — tiny parquet whose content is pinned by
  // its directory listing — and the warehouse queries re-read them as fresh
  // ~100 ms Spark jobs on EVERY snapshot access (x145 alone: 9 reads × 2
  // jobs). Same discipline as listCache/groupCache: signature-validated
  // memo, a fixture rebuild changes the dir listing and refuses the hit.
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
  private val schemasCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Map[Int, Seq[(Int, String, String)]])]()

  /** the snapshot's CURRENT schema id, None for legacy/no-meta versions
    * (also surfaced by the x130 snapshots metadata table) */
  def versionSchemaId(s: SparkSession, version: Int, root: String): Option[Int] = {
    val path = s"$root/meta_v$version"
    if (!pathExists(path)) None
    else {
      val sig = dirSig(s, path)
      val hit = metaCache.get(path)
      if (hit != null && hit._1 == sig) Some(hit._2)
      else {
        val v = Graft.parquet(s, path).collect().head.getAs[Int]("schema_id")
        if (metaCache.size > 512) metaCache.clear()
        metaCache.put(path, (sig, v))
        Some(v)
      }
    }
  }

  /** field_id → (name, ftype) per schema, field-id-ordered. */
  private def schemaFields(s: SparkSession, root: String): Map[Int, Seq[(Int, String, String)]] = {
    val path = s"$root/schemas"
    val sig = dirSig(s, path)
    val hit = schemasCache.get(path)
    if (hit != null && hit._1 == sig) return hit._2
    val v = Graft.parquet(s, path)
      .collect()
      .map(r => (r.getAs[Int]("schema_id"), r.getAs[Int]("field_id"), r.getAs[String]("name"), r.getAs[String]("ftype")))
      .groupBy(_._1)
      .map { case (sid, rows) => sid -> rows.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq }
    if (schemasCache.size > 512) schemasCache.clear()
    schemasCache.put(path, (sig, v))
    v
  }

  /** Read one snapshot: union exactly the data directories its manifest
    * lists (carried entries point into older versions' directories — the
    * by-reference half of copy-on-write), anti-mask deletion vectors, and
    * — when the snapshot carries schema metadata — project every file
    * through the field-id map onto the snapshot's CURRENT schema (missing
    * fields read as typed NULL, renamed fields under their current name).
    * Legacy roots (no meta) emit columns as written. */
  def read(s: SparkSession, version: Int, root: String): DataFrame = {
    val es = entries(s, version, root)
    versionSchemaId(s, version, root) match {
      case None => rawRead(s, es)
      case Some(cur) =>
        val fields = schemaFields(s, root)
        val curFields = fields(cur)
        val keyName = curFields.find(_._1 == 1).get._2
        es.groupBy(_.schemaId)
          .toSeq
          .sortBy(_._1)
          .map { case (sid, grp) =>
            val written = fields(sid).map(f => f._1 -> f._2).toMap
            maskedRead(s, grp, keyName) { g =>
              Graft.parquet(s, g.map(_.path).sorted.toIndexedSeq: _*)
                .select(curFields.map { case (fid, name, ftype) =>
                  written.get(fid) match {
                    case Some(w) => col(w).as(name)
                    case None    => lit(null).cast(ftype).as(name)
                  }
                }: _*)
            }
          }
          .reduce(_.unionByName(_))
    }
  }

  /** Plain physical read of a set of manifest entries (columns as written,
    * no schema mapping) with deletion vectors applied — the merge/probe
    * path, which runs pre-evolution by contract. */
  private def rawRead(s: SparkSession, es: Seq[Entry]): DataFrame =
    maskedRead(s, es, "k")(g => Graft.parquet(s, g.map(_.path).sorted.toIndexedSeq: _*))

  /** Read manifest entries with deletion vectors anti-masked PER DV
    * LINEAGE GROUP: a DV masks only the files of the entries that
    * reference it, never the whole snapshot — a merge-on-read UPSERT's
    * delta file holds the NEW version of a key whose OLD version the base
    * entry's DV hides, so a snapshot-wide key anti-join would wrongly
    * delete the live row (the [[morUpsert]] correctness condition). DV
    * words expand to deleted keys (63-bit packed words over in-bucket
    * offsets, the x96 convention) and broadcast-anti-join on the key —
    * DV bytes are change-sized, so each mask costs a broadcast, never a
    * shuffle of the data. */
  private def maskedRead(s: SparkSession, es: Seq[Entry], keyCol: String)(
      reader: Seq[Entry] => DataFrame): DataFrame =
    es.groupBy(_.dvPath)
      .toSeq
      .sortBy(_._1)
      .map { case (dvp, grp) =>
        val df = reader(grp)
        if (dvp.isEmpty) df
        else {
          val deleted = Graft.parquet(s, dvp)
            .where(col("bucket").isin(grp.map(e => Long.box(e.bucket)): _*))
            .select(col("bucket"), col("w"), explode(sequence(lit(0), lit(62))).as("i"), col("word"))
            .where(expr("(word >> i) & 1 = 1"))
            .select((col("bucket") * lit(BucketWidth) + col("w") * lit(63L) + col("i")).as(keyCol))
          df.join(broadcast(deleted), Seq(keyCol), "left_anti")
        }
      }
      .reduce(_.unionByName(_))

  /** Build snapshot v1 from `orders` and snapshots v2/v3 by MERGE into
    * it: a [[Fixture]] per source dir, returning the table root. "mtree1"
    * salts the key for the two-level manifest tree (list + immutable
    * group files). */
  def ensure(s: SparkSession, d: String): String = Fixture(
    "graft_cow",
    Some(d),
    s"$BucketWidth|$UpdateFilter|$UpdateBump|$InsertBase|$InsertCount|$Upsert3Filter|$Delete3Filter|mtree1"
  ) { dir =>
    // ---- snapshot v1: bucket the base table, one immutable dir per bucket
    val base = graft.Graft
      .table(s, d, "orders")
      .select(
        col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")
      )
      .withColumn("bucket", expr(s"k div ${BucketWidth}L"))
    base.write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/v1")
    writeManifestRows(s, 1, statsOf(s, s"$dir/v1", schemaId = 1), dir)

    // ---- MERGE into v2: updates (matched) + inserts (not matched)
    val updates = base
      .where(expr(UpdateFilter))
      .select(col("k"), (col("cents") + lit(UpdateBump)).as("cents"))
    val inserts = s
      .range(InsertCount.toLong)
      .select(
        (col("id") + lit(InsertBase)).as("k"),
        (lit(100000L) + col("id") * 7L).as("cents")
      )
    merge(s, fromVersion = 1, toVersion = 2, changes = updates.unionByName(inserts), root = dir)

    // ---- MERGE into v3: the full three-clause shape — upserts with an
    // absolute value formula (no dependence on v2 state, so the oracle
    // stays closed-form) plus a DELETE clause over a different bucket
    // stripe; both predicates mirrored in the x83/x84 oracles
    val upserts3 = base
      .where(expr(Upsert3Filter))
      .select(col("k"), expr("50000L + k % 1000").as("cents"))
    val deletes3 = base.where(expr(Delete3Filter)).select("k")
    merge(s, fromVersion = 2, toVersion = 3, changes = upserts3, deletes = deletes3, root = dir)
  }

  // ------------------------------------------------ zero-copy CLONE (x104)

  /** Zero-copy CLONE: a new table root whose v1 manifest references the
    * source snapshot's data files (and DV sidecars) BY PATH — the
    * Delta/Iceberg shallow-clone shape. No data moves: the clone commit is
    * a manifest write plus (when present) a copy of the rows-sized schema
    * registry and current-schema pin. Subsequent merges on the clone write
    * THEIR files under the clone root and keep carrying untouched source
    * files by reference, so the two tables diverge independently while
    * sharing unchanged storage; a clone-side vacuum only ever lists the
    * clone root, so shared source files are structurally out of its reach. */
  def cloneTable(s: SparkSession, srcVersion: Int, dstRoot: String, srcRoot: String): Unit = {
    if (pathExists(s"$srcRoot/schemas"))
      Graft.parquet(s, s"$srcRoot/schemas").coalesce(1).write.mode("overwrite").parquet(s"$dstRoot/schemas")
    versionSchemaId(s, srcVersion, srcRoot).foreach(sid => writeVersionMeta(s, dstRoot, 1, sid))
    // metadata is zero-copy too: the clone's list shares the source's
    // immutable group files by reference — clone cost is one list write
    copyManifest(s, dstRoot, manifestPath(srcVersion, srcRoot), manifestPath(1, dstRoot), "clone_v1")
    // back-pointer registration: source-side GC must treat the clone's
    // referenced paths as live (x229) — a clone the source cannot SEE is
    // a clone the source can break
    registerClone(srcRoot, dstRoot)
  }

  def cloneDir(d: String): String = Fixture.dir("graft_cow_clone", Some(d))

  /** A table over the gate table's files (clone, WAP, refs): salted with the
    * gate table's build stamp, so a rebuild of the one rebuilds the other,
    * and built holding the gate table's lock, so no JVM rebuilds it under
    * the build. Locks nest derived → gate table. */
  private def derived(s: SparkSession, name: String, d: String, salt: String)(build: String => Unit): String = {
    val src = ensure(s, d)
    Fixture(name, Some(d), s"${Fixture.stamp(src)}|$salt")(out => Fixture.holding(src)(build(out)))
  }

  /** clone-side divergence delta (absolute formulas, closed-form oracle):
    * upsert stripe disjoint in form from the source's, plus 20 inserts in
    * a key range far above both the base and the source's inserts. */
  val CloneUpsertFilter = s"k % 113 = 0 AND (k div ${BucketWidth}L) % 11 = 4"
  val CloneInsertBase = 20000000L
  val CloneInsertCount = 20

  /** Gate fixture: clone source v2 into [[cloneDir]], then MERGE the
    * divergence delta into the clone (clone v1 → v2). Salted with the
    * source table's build stamp, so a source rebuild rebuilds the clone
    * once and steady-state calls are a marker read. */
  def ensureClone(s: SparkSession, d: String): String = derived(
    s,
    "graft_cow_clone",
    d,
    s"clone|$CloneUpsertFilter|$CloneInsertBase|$CloneInsertCount"
  ) { cloneDir =>
    cloneTable(s, srcVersion = 2, cloneDir, dir(d))
    val base = graft.Graft
      .table(s, d, "orders")
      .select(col("o_orderkey").as("k"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val upserts = base
      .where(expr(CloneUpsertFilter))
      .select(col("k"), expr("70000L + k % 1000").as("cents"))
    val inserts = s
      .range(CloneInsertCount.toLong)
      .select((col("id") + lit(CloneInsertBase)).as("k"), (lit(200000L) + col("id") * 11L).as("cents"))
    merge(s, fromVersion = 1, toVersion = 2, changes = upserts.unionByName(inserts), root = cloneDir)
  }

  def wapDir(d: String): String = Fixture.dir("graft_cow_wap", Some(d))

  /** WAP gate formulas (absolute, closed-form oracle): the good branch
    * re-prices one bucket-striped key class; the bad branch inserts each
    * of its keys TWICE — the planted uniqueness violation the audit must
    * catch before publish. */
  val WapGoodFilter = s"k % 127 = 0 AND (k div ${BucketWidth}L) % 9 = 2"
  val WapBadBase = 30000000L
  val WapBadCount = 12

  /** Gate fixture (x123): clone source v3 into [[wapDir]] (wap v1), stage
    * TWO branches off it, audit both ([[graft.etl.Quality.uniqueKey]]),
    * publish only the passing one (wap v2). The failing branch stays
    * STAGED so the gate re-audits it on every run and proves staged ≠
    * visible; abort and the frozen-main law are CowWapSpec territory.
    * The build itself enforces audit-before-publish: a regression that
    * makes the bad branch pass (or the good one fail) aborts the fixture,
    * not just the assertion. */
  def ensureWap(s: SparkSession, d: String): String = derived(
    s,
    "graft_cow_wap",
    d,
    s"wap|$WapGoodFilter|$WapBadBase|$WapBadCount"
  ) { wapDir =>
    cloneTable(s, srcVersion = 3, wapDir, dir(d))
    val good = graft.Graft
      .table(s, d, "orders")
      .select(col("o_orderkey").as("k"))
      .where(expr(WapGoodFilter))
      .select(col("k"), expr("90000L + k % 500").as("cents"))
    stageBranch(s, "good", good, atVersion = Some(1), root = wapDir)
    val badOnce = s
      .range(WapBadCount.toLong)
      .select((col("id") + lit(WapBadBase)).as("k"), (lit(300000L) + col("id")).as("cents"))
    val badTwice = badOnce.unionByName(
      badOnce.select(col("k"), (col("cents") + lit(100000L)).as("cents"))
    )
    stageBranch(s, "bad", badTwice, atVersion = Some(1), root = wapDir)
    val goodAudit = graft.etl.Quality.uniqueKey(readStaged(s, "good", wapDir), "k")
    val badAudit = graft.etl.Quality.uniqueKey(readStaged(s, "bad", wapDir), "k")
    require(goodAudit.passed, s"WAP fixture: good branch failed audit: ${goodAudit.detail}")
    require(!badAudit.passed, "WAP fixture: bad branch unexpectedly passed its audit")
    publishStaged(s, "good", wapDir) match {
      case Right(v) => require(v == 2, s"WAP publish landed at v$v, expected v2")
      case Left(c)  => throw new IllegalStateException(s"WAP publish conflicted on $c")
    }
  }

  /** The COW MERGE, all three clauses: manifest-prune to the touched
    * buckets, rewrite only those (matched keys take the change value,
    * unmatched change keys insert, `deletes` keys drop), append
    * wholly-new buckets, carry every untouched file into the new manifest
    * by reference — its stats copied verbatim, since the file is
    * immutable. A bucket whose every row is deleted vanishes from the new
    * manifest. `changes` is keep-latest keyed `(k, cents)`; `deletes` is
    * a `(k)` frame. Deletes of absent keys are true no-ops: candidate
    * buckets (manifest-present, key-range match) are PROBED by key first,
    * and a bucket none of whose rows actually match a delete key is
    * carried untouched — the probe reads those buckets once, which is the
    * floor for answering "is the key here?", but never rewrites them. */
  def merge(
      s: SparkSession,
      fromVersion: Int,
      toVersion: Int,
      changes: DataFrame,
      deletes: DataFrame = null,
      root: String
  ): Unit = {
    mergeCompute(
      s,
      root,
      manifestPath(fromVersion, root),
      manifestPath(toVersion, root),
      s"v$toVersion",
      changes,
      deletes,
      s"$root/v$toVersion"
    )
    ()
  }

  /** the merge COMPUTATION: writes rewritten/new data files under
    * `outRoot`, publishes the manifest at `outMan` (a copy-on-write
    * commit — untouched groups carry by reference), and returns the
    * touched-bucket footprint for the CAS machinery. Planning is
    * PRUNE-BEFORE-COLLECT throughout: only the touched buckets' groups
    * are ever opened, so a localized merge against a 10⁷-file table
    * costs its changed buckets at both the data AND the metadata level. */
  private def mergeCompute(
      s: SparkSession,
      root: String,
      fromMan: String,
      outMan: String,
      token: String,
      changes: DataFrame,
      deletes: DataFrame,
      outRoot: String
  ): Set[Long] = {
    val ch = changes.withColumn("bucket", expr(s"k div ${BucketWidth}L"))
    val del = Option(deletes).map(_.withColumn("bucket", expr(s"k div ${BucketWidth}L")))
    // change-side bucket lists: one row per touched bucket (dim-sized).
    // Delete buckets only count when the snapshot actually has them.
    val chBuckets = ch.select("bucket").distinct().collect().map(_.getLong(0)).toSet
    // delete-touched = candidate buckets (in the manifest AND key-ranged by
    // a delete key) that ACTUALLY hold a matching LIVE key — probed via
    // semi join over the DV-masked read, so tombstones of never-existing
    // (or already-deleted) keys don't churn buckets
    val delBuckets = del
      .map { dl =>
        val dlBuckets = dl.select("bucket").distinct().collect().map(_.getLong(0)).toSet
        val cand = pruneEntries(s, fromMan, dlBuckets)
        if (cand.isEmpty) Set.empty[Long]
        else
          rawRead(s, cand)
            .join(dl.select("k"), Seq("k"), "left_semi")
            .select(expr(s"k div ${BucketWidth}L").as("bucket"))
            .distinct()
            .collect()
            .map(_.getLong(0))
            .toSet
      }
      .getOrElse(Set.empty[Long])
    val allTouched = chBuckets ++ delBuckets
    val touched = pruneEntries(s, fromMan, allTouched)
    val newBuckets = chBuckets -- touched.map(_.bucket).toSet
    // rewrite pass: ONLY the touched buckets' files are read — the
    // manifest prune is what makes a small MERGE cheap on a huge table.
    // The read is DV-masked, so a COW rewrite of a merge-on-read bucket
    // FOLDS its deletion vector: the new file holds live rows only and
    // the new entry drops the dv reference.
    if (touched.nonEmpty) {
      val touchedSet = touched.map(_.bucket).toSet
      val cur = rawRead(s, touched)
        .withColumn("bucket", expr(s"k div ${BucketWidth}L"))
      val upd = ch.where(col("bucket").isin(touchedSet.toSeq.map(Long.box): _*))
      // keep-latest upsert via FULL outer join: matched keys replace,
      // unmatched current rows stay, and change keys with no current row
      // INSERT into the bucket they key-range into — a left join from the
      // current side would silently drop inserts that land inside an
      // existing bucket's range (review-found). Deletes drop last, via
      // anti join, so a key both upserted and deleted ends deleted.
      val upserted = cur
        .join(upd.select(col("k").as("uk"), col("cents").as("ucents")), col("k") === col("uk"), "full")
        .select(
          coalesce(col("k"), col("uk")).as("k"),
          coalesce(col("ucents"), col("cents")).as("cents")
        )
      del
        .fold(upserted)(dl => upserted.join(dl.select("k"), Seq("k"), "left_anti"))
        .withColumn("bucket", expr(s"k div ${BucketWidth}L"))
        .write
        .mode("overwrite")
        .partitionBy("bucket")
        .parquet(outRoot)
    }
    if (newBuckets.nonEmpty) {
      val fresh = ch.where(col("bucket").isin(newBuckets.toSeq.map(Long.box): _*))
      // delete-wins applies to NEW buckets too: a key both inserted and
      // deleted in one merge must not survive just because its bucket had
      // no prior file (review-found)
      del
        .fold(fresh)(dl => fresh.join(dl.select("k"), Seq("k"), "left_anti"))
        .write
        .mode(if (touched.nonEmpty) "append" else "overwrite")
        .partitionBy("bucket")
        .parquet(outRoot)
    }
    // new manifest: rewritten + inserted entries get fresh stats from ONE
    // scan of the new files; every untouched GROUP carries by reference
    // as a single list row — its entries never open (an all-carried merge
    // — empty changes — is a pure list copy). merge() is the
    // pre-evolution/stream write path, so fresh files are schema 1 by
    // contract; evolution commits have their own helpers.
    val freshRows =
      if (touched.isEmpty && newBuckets.isEmpty) Seq.empty else statsOf(s, outRoot, schemaId = 1)
    val footprint = allTouched ++ newBuckets
    writeManifestCow(s, root, fromMan, outMan, token, footprint, entryDf(s, freshRows))
    footprint
  }

  // -------------------------------------- optimistic concurrency (1 JVM)

  /** newest committed version: max N over `manifest_vN` directories (the
    * staging dirs carry a `.stage` suffix and never match) */
  def latestVersion(root: String): Int =
    listNames(root)
      .flatMap { n =>
        val m = "^manifest_v(\\d+)$".r.findFirstMatchIn(n)
        m.map(_.group(1).toInt)
      }
      .max

  /** Atomic manifest publication — the CAS: rename a staged LIST
    * directory onto `manifest_vN`; exactly one racing writer wins a
    * version. The list is the whole commit object (group files live under
    * `mfiles/`, absolute-referenced, and never move), which is what keeps
    * the CAS a single rename. Two scheme-specific paths, both atomic:
    *
    *   - local: kernel `rename(2)` via nio ATOMIC_MOVE, which fails on an
    *     existing non-empty target. Deliberately NOT
    *     `RawLocalFileSystem.rename` — that API has a copy fallback that
    *     would let a racing LOSER merge its staged list into the winner's
    *     published directory.
    *   - HDFS (and any scheme with a real AbstractFileSystem): the
    *     `FileContext` rename without OVERWRITE — the NameNode-serialized
    *     RENAME2 RPC, which atomically fails if the target exists.
    *
    * Raw object stores without atomic rename are the documented non-goal. */
  private def publishAtomic(version: Int, stagedList: String, root: String): Boolean = {
    val dst = manifestPath(version, root)
    val (fs, dstPath) = hfs(dst)
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // strip any file:// scheme before handing to java.nio —
        // `new java.io.File("file:/...")` would treat the scheme as a
        // path component and the rename would target a phantom directory
        def localPath(p: String): java.nio.file.Path = {
          val u = new org.apache.hadoop.fs.Path(p).toUri
          java.nio.file.Paths.get(if (u.getScheme != null) u.getPath else p)
        }
        try {
          java.nio.file.Files.move(
            localPath(stagedList),
            localPath(dst),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE
          )
          true
        } catch {
          // only target-exists means "lost the CAS race"; anything else
          // (permissions, missing parent, IO error) must fail loudly —
          // mapping it to false would burn every casLoop retry and
          // surface an environment failure as a bogus Left(conflict).
          // Linux maps ENOTEMPTY to a GENERIC FileSystemException (only
          // EEXIST gets the typed FileAlreadyExistsException), so the
          // robust discriminator is the postcondition: the rename failed
          // AND the destination exists = a winner already published.
          case _: java.nio.file.FileAlreadyExistsException => false // EEXIST
          case e: java.nio.file.FileSystemException =>
            if (java.nio.file.Files.exists(localPath(dst))) false else throw e
        }
      case _ =>
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(dstPath.toUri, hconf)
            .rename(new org.apache.hadoop.fs.Path(stagedList), dstPath)
          true
        } catch {
          // the NameNode's RENAME2 reports an existing target as
          // FileAlreadyExistsException — that is the lost race; for any
          // other IOException apply the same postcondition check (target
          // exists = a winner published), and rethrow otherwise —
          // including UnsupportedFileSystemException — so a missing
          // AbstractFileSystem / permission / connectivity failure is an
          // error, not an invented conflict
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: org.apache.hadoop.fs.UnsupportedFileSystemException => throw e
          case e: java.io.IOException =>
            if (fs.exists(dstPath)) false else throw e
        }
    }
  }

  /** Optimistic-concurrency MERGE: compute against a pinned snapshot
    * (`atVersion`, default the newest), write data under a WRITER-OWNED
    * directory (`occ_<writerId>_…` — racing writers can never clobber each
    * other's files), then CAS-publish the manifest. On losing the race:
    * if the winner's touched buckets are DISJOINT from ours, REBASE — the
    * new manifest is the winner's entries with our touched/new buckets
    * overlaid (no data rewrite needed, the files are already on disk) —
    * and retry at the next version; if they INTERSECT, abort with the
    * conflicting bucket set (`Left`). Returns `Right(version)` on commit.
    * The committed chain stays linear by construction: every version is
    * claimed by exactly one rename, and every commit's parent is the
    * version immediately below it. */
  def occCommit(
      s: SparkSession,
      root: String,
      changes: DataFrame,
      deletes: DataFrame = null,
      writerId: String = "w0",
      atVersion: Option[Int] = None,
      maxRetries: Int = 5
  ): Either[Set[Long], Int] = {
    val base = atVersion.getOrElse(latestVersion(root))
    val dataRoot = s"$root/occ_${writerId}_b$base"
    val mineMan = s"$root/occ_man_${writerId}_b$base"
    val myTouched =
      mergeCompute(s, root, manifestPath(base, root), mineMan, s"occ_${writerId}_b$base", changes, deletes, dataRoot)
    casLoop(s, root, base, mineMan, myTouched, writerId, maxRetries)
  }

  /** The CAS-publish/rebase/conflict loop shared by [[occCommit]] and
    * [[publishStaged]]: try to claim `base + 1` by renaming my staged
    * list; on losing, rebase onto the winner when bucket footprints are
    * disjoint (a LIST-level rewrite — shared groups rebuilt at entry
    * level since disjoint FOOTPRINTS can share a GROUP, everything else
    * carried by reference; zero data I/O), abort with the conflict set
    * when they intersect. The winner's footprint comes from
    * [[diffTouchedBuckets]], which opens only groups whose list rows
    * changed. On success the staged list is consumed (renamed) or
    * deleted; its group files live on under `mfiles/`, referenced by the
    * published manifest. */
  private def casLoop(
      s: SparkSession,
      root: String,
      base: Int,
      mineMan: String,
      myTouched: Set[Long],
      token: String,
      maxRetries: Int
  ): Either[Set[Long], Int] = {
    var parent = base
    var attempt = 0
    while (attempt <= maxRetries) {
      val candidate =
        if (parent == base) mineMan
        else {
          val c = s"${manifestPath(parent + 1, root)}.stage_${token}_a$attempt"
          deleteDir(c)
          writeManifestCow(
            s,
            root,
            manifestPath(parent, root),
            c,
            s"cas_${token}_a$attempt",
            myTouched,
            entryDf(s, pruneEntries(s, mineMan, myTouched))
          )
          c
        }
      if (publishAtomic(parent + 1, candidate, root)) {
        if (candidate != mineMan) deleteDir(mineMan)
        return Right(parent + 1)
      }
      if (candidate != mineMan) deleteDir(candidate)
      // lost the race: someone committed parent+1 (or further) — diff the
      // winner chain's footprint against ours
      val cur = latestVersion(root)
      val winnerTouched = diffTouchedBuckets(s, manifestPath(parent, root), manifestPath(cur, root))
      val conflict = winnerTouched.intersect(myTouched)
      if (conflict.nonEmpty) return Left(conflict)
      parent = cur
      attempt += 1
    }
    Left(Set.empty)
  }

  // ------------------------------------------------ write-audit-publish

  /** WAP staging (x123): the MERGE computation runs against a pinned base
    * and lands as a named BRANCH — data under `$root/wap_<name>`, the
    * would-be manifest under `$root/wap_manifest_<name>`. No reader
    * resolves that name (read/time-travel walk `manifest_vN` only), so
    * main stays bit-identical while any number of branches stage; audits
    * run against [[readStaged]]; [[publishStaged]] turns the branch into
    * the next snapshot as a METADATA-ONLY CAS (files carried by
    * reference); [[abortStaged]] deletes the two staging dirs — nothing
    * else ever pointed at them. Returns the pinned base version. */
  def stageBranch(
      s: SparkSession,
      name: String,
      changes: DataFrame,
      deletes: DataFrame = null,
      atVersion: Option[Int] = None,
      root: String
  ): Int = {
    val base = atVersion.getOrElse(latestVersion(root))
    mergeCompute(
      s,
      root,
      manifestPath(base, root),
      s"$root/wap_manifest_$name",
      s"wap_$name",
      changes,
      deletes,
      s"$root/wap_$name"
    )
    writeSmall(s"$root/wap_base_$name", base.toString)
    base
  }

  /** entries of a staged branch's manifest */
  def stagedEntries(s: SparkSession, name: String, root: String): Seq[Entry] =
    entriesAt(s, s"$root/wap_manifest_$name")

  /** DV-masked read of a staged branch (pre-evolution contract, like the
    * merge paths — WAP stages data changes, not schema changes). */
  def readStaged(s: SparkSession, name: String, root: String): DataFrame =
    rawRead(s, stagedEntries(s, name, root))

  /** Publish a staged branch as the next snapshot: the same CAS loop as
    * [[occCommit]] (rebase on disjoint winners, conflict set on overlap),
    * seeded from the manifest rows staged earlier — zero data I/O. */
  def publishStaged(
      s: SparkSession,
      name: String,
      root: String,
      maxRetries: Int = 5
  ): Either[Set[Long], Int] = {
    val base = readSmall(s"$root/wap_base_$name").trim.toInt
    val mineMan = s"$root/wap_manifest_$name"
    val myTouched = diffTouchedBuckets(s, manifestPath(base, root), mineMan)
    casLoop(s, root, base, mineMan, myTouched, s"wap_$name", maxRetries) match {
      case r @ Right(_) =>
        // branch list is consumed by the CAS (renamed or deleted); data
        // dir and group files live on, referenced by the published
        // manifest exactly like any merge output
        deleteFile(s"$root/wap_base_$name")
        r
      case l => l
    }
  }

  /** Abort a staged branch: delete manifest, base marker and data dir. */
  def abortStaged(s: SparkSession, name: String, root: String): Unit = {
    Seq(s"$root/wap_manifest_$name", s"$root/wap_$name").foreach(deleteDir)
    deleteFile(s"$root/wap_base_$name")
  }

  // ------------------------------------------------ named refs (x150)

  /** Iceberg-style named refs over the snapshot graph: a ref is a one-row
    * parquet pointer at `$root/refs/<name>` → (kind, manifest_path,
    * base_version, seq). A TAG pins a published snapshot immutably — a
    * metadata-only commit; readers through the tag see that snapshot
    * forever, whatever main does. A BRANCH is a mutable pointer with its
    * OWN commit chain: [[branchCommit]] runs the same [[mergeRows]]
    * computation against the branch head, lands data under
    * `$root/branch_<name>_v<seq>` and its manifest under
    * `$root/branch_<name>_manifest_v<seq>`, then advances only the ref —
    * the `manifest_vN` chain (what [[read]]/time travel resolve) never
    * moves, so main stays bit-identical while any number of branches
    * advance, sharing every untouched file by reference.
    * [[fastForward]] republishes the branch head's manifest rows as the
    * next MAIN version iff main has not committed since the fork — a
    * metadata-only commit, zero data copied; on divergence it refuses
    * (that needs a real merge, not a ref move). Unlike WAP staging
    * (one-shot audit → publish, branch metadata consumed), refs are
    * durable multi-commit lineages. */
  case class Ref(kind: String, manifestPath: String, baseVersion: Int, seq: Int)

  private def refPath(root: String, name: String) = s"$root/refs/$name"

  private def writeRef(s: SparkSession, root: String, name: String, ref: Ref): Unit = {
    import s.implicits._
    Seq((ref.kind, ref.manifestPath, ref.baseVersion, ref.seq))
      .toDF("kind", "manifest_path", "base_version", "seq")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(refPath(root, name))
  }

  def readRefMeta(s: SparkSession, name: String, root: String): Ref = {
    val r = Graft.parquet(s, refPath(root, name)).collect()(0)
    Ref(
      r.getAs[String]("kind"),
      r.getAs[String]("manifest_path"),
      r.getAs[Int]("base_version"),
      r.getAs[Int]("seq")
    )
  }

  def tagCreate(s: SparkSession, name: String, version: Int, root: String): Unit =
    writeRef(s, root, name, Ref("tag", manifestPath(version, root), version, 0))

  def branchCreate(s: SparkSession, name: String, fromVersion: Int, root: String): Unit =
    writeRef(s, root, name, Ref("branch", manifestPath(fromVersion, root), fromVersion, 0))

  /** MERGE into the branch head; advances the ref, never `manifest_vN`. */
  def branchCommit(
      s: SparkSession,
      name: String,
      changes: DataFrame,
      deletes: DataFrame = null,
      root: String
  ): Unit = {
    val ref = readRefMeta(s, name, root)
    require(ref.kind == "branch", s"ref $name is a ${ref.kind}, not a branch")
    val seq = ref.seq + 1
    val manPath = s"$root/branch_${name}_manifest_v$seq"
    mergeCompute(s, root, ref.manifestPath, manPath, s"branch_${name}_v$seq", changes, deletes,
      s"$root/branch_${name}_v$seq")
    writeRef(s, root, name, Ref("branch", manPath, ref.baseVersion, seq))
  }

  /** DV-masked read through a ref (pre-evolution contract, like the merge
    * paths — branch lineages here stage data changes, not schema ones). */
  def refRead(s: SparkSession, name: String, root: String): DataFrame =
    rawRead(s, entriesAt(s, readRefMeta(s, name, root).manifestPath))

  /** Publish the branch head as the next MAIN version (metadata-only,
    * files carried by reference). Refuses if main moved since the fork. */
  def fastForward(s: SparkSession, name: String, root: String): Int = {
    val ref = readRefMeta(s, name, root)
    require(ref.kind == "branch", s"ref $name is a ${ref.kind}, not a branch")
    val latest = latestVersion(root)
    if (latest != ref.baseVersion)
      throw new IllegalStateException(
        s"main is at v$latest but $name forked at v${ref.baseVersion}: divergent histories need a merge, not a fast-forward"
      )
    val next = latest + 1
    // metadata-only: the branch head's LIST republished as main's next
    // version; every group file carried by reference
    copyManifest(s, root, ref.manifestPath, manifestPath(next, root), s"ff_${name}_v$next")
    // re-base the ref onto the version it just became: the branch's own
    // publish is not divergence, so a later commit+fast-forward cycle on
    // the same branch must keep working (review-found — without this the
    // branch was permanently un-fast-forwardable after its first publish)
    writeRef(s, root, name, ref.copy(baseVersion = next))
    next
  }

  def refsDir(d: String): String = Fixture.dir("graft_cow_refs", Some(d))

  /** x150 fixture formulas (absolute, closed-form oracle): after cloning
    * source v2, main re-prices one stripe (v2); the branch forks at v2,
    * re-prices a disjoint-in-form stripe (commit 1), then deletes a third
    * stripe and inserts 15 far-range rows (commit 2); main fast-forwards
    * to the branch head (v3). The tag pins clone v1 through all of it. */
  val RefsMainFilter = s"k % 109 = 0 AND (k div ${BucketWidth}L) % 13 = 5"
  val RefsBranchUpsertFilter = s"k % 131 = 0 AND (k div ${BucketWidth}L) % 19 = 7"
  val RefsBranchDeleteFilter = s"k % 137 = 0 AND (k div ${BucketWidth}L) % 19 = 11"
  val RefsBranchInsertBase = 40000000L
  val RefsBranchInsertCount = 15

  /** Gate fixture (x150): tag + branch lifecycle over a clone of source
    * v2, marker-guarded like every fixture artifact. */
  def ensureRefs(s: SparkSession, d: String): String = derived(
    s,
    "graft_cow_refs",
    d,
    s"refs|$RefsMainFilter|$RefsBranchUpsertFilter|$RefsBranchDeleteFilter|$RefsBranchInsertBase|$RefsBranchInsertCount"
  ) { refsDir =>
    cloneTable(s, srcVersion = 2, refsDir, dir(d))
    tagCreate(s, "audit", 1, refsDir)
    val base = graft.Graft
      .table(s, d, "orders")
      .select(col("o_orderkey").as("k"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    merge(
      s,
      fromVersion = 1,
      toVersion = 2,
      changes = base.where(expr(RefsMainFilter)).select(col("k"), expr("80000L + k % 900").as("cents")),
      root = refsDir
    )
    branchCreate(s, "exp", 2, refsDir)
    branchCommit(
      s,
      "exp",
      base.where(expr(RefsBranchUpsertFilter)).select(col("k"), expr("90000L + k % 800").as("cents")),
      root = refsDir
    )
    branchCommit(
      s,
      "exp",
      changes = s
        .range(RefsBranchInsertCount.toLong)
        .select((col("id") + lit(RefsBranchInsertBase)).as("k"), (lit(300000L) + col("id") * 13L).as("cents")),
      deletes = base.where(expr(RefsBranchDeleteFilter)).select("k"),
      root = refsDir
    )
    fastForward(s, "exp", refsDir)
  }

  /** Merge-on-read DELETE: instead of rewriting the touched buckets, write
    * a deletion-vector sidecar (63-bit packed words over in-bucket key
    * offsets, the x96 machinery) and publish a manifest whose touched
    * entries reference it — ZERO data files move, which is the write-
    * amplification answer for frequent small deletes (GDPR, dedup-driven
    * removal) against a 100 TB table. The read path anti-masks
    * ([[maskedRead]]); a COW rewrite or [[foldDv]] compaction folds the DV
    * back into data files. Semantics match a COW delete exactly: keys are
    * probed against the LIVE (already-masked) rows, re-deletes are no-ops,
    * new bits OR into any existing DV, and a bucket whose every row is
    * deleted leaves the manifest. */
  def morDelete(
      s: SparkSession,
      fromVersion: Int,
      toVersion: Int,
      deletes: DataFrame,
      root: String
  ): Unit = {
    val fromMan = manifestPath(fromVersion, root)
    val dl = deletes.withColumn("bucket", expr(s"k div ${BucketWidth}L"))
    val dlBuckets = dl.select("bucket").distinct().collect().map(_.getLong(0)).toSet
    val cand = pruneEntries(s, fromMan, dlBuckets)
    val dvDir = s"$root/dv_v$toVersion"
    // ONE pass over the candidate buckets marks every live row hit/miss
    // (review-found: a separate semi probe + anti count read the data
    // twice); hit keys stay DISTRIBUTED (a delete batch is change-sized
    // but can still be large) — only bucket LISTS come to the driver
    val probe = Option(cand)
      .filter(_.nonEmpty)
      .map { c =>
        rawRead(s, c)
          .join(dl.select("k").distinct().withColumn("hit", lit(1)), Seq("k"), "left")
          .select(
            col("k"),
            expr(s"k div ${BucketWidth}L").as("bucket"),
            coalesce(col("hit"), lit(0)).as("hit")
          )
          .localCheckpoint() // three plan refs: bucket list, bit packing, live-left
      }
    val hitsDf = probe.map(_.where(col("hit") === 1).select("k", "bucket"))
    val hitBuckets = hitsDf
      .map(_.select("bucket").distinct().collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty[Long])
    if (hitBuckets.nonEmpty) {
      // fully-deleted-bucket check against the bucket's TOTAL live rows
      // (a bucket may hold several entries — base file + upsert deltas)
      val liveLeft = probe.get
        .where(col("hit") === 0)
        .groupBy("bucket")
        .count()
        .collect()
        .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("count"))
        .toMap
      val newBits = hitsDf.get
        .select(
          col("bucket"),
          expr(s"(k - bucket * ${BucketWidth}L) div 63").as("w"),
          expr(s"shiftleft(1L, CAST((k - bucket * ${BucketWidth}L) % 63 AS INT))").as("word")
        )
        .localCheckpoint() // one plan ref per lineage group below
      // One merged vector PER OLD DV LINEAGE GROUP ("" = the no-DV group):
      // a hit key's new bit lands in EVERY group of its bucket — masking a
      // key absent from a group's files is a no-op, while collapsing the
      // groups into ONE shared vector would let one group's old bits
      // wrongly mask another group's delta rows (the same key's NEW
      // version after a merge-on-read upsert). Single-group deletes keep
      // the historical `dv_vN` name; multi-group ones suffix `_gI`.
      val touched = cand.filter(e => hitBuckets.contains(e.bucket))
      val groups = touched.groupBy(_.dvPath).toSeq.sortBy(_._1)
      val dvOf: Map[String, (String, Map[Long, Long])] = groups.zipWithIndex.map {
        case ((oldDv, grp), gi) =>
          val out = if (groups.size == 1) dvDir else s"${dvDir}_g$gi"
          val grpBuckets = grp.map(_.bucket).distinct
          val bitsHere = newBits.where(col("bucket").isin(grpBuckets.map(Long.box): _*))
          val words =
            if (oldDv.isEmpty) bitsHere
            else
              Graft.parquet(s, oldDv)
                .where(col("bucket").isin(grpBuckets.map(Long.box): _*))
                .unionByName(bitsHere)
          words
            .groupBy("bucket", "w")
            .agg(expr("bit_or(word)").as("word"))
            .coalesce(1)
            .write
            .mode("overwrite")
            .parquet(out)
          // per-bucket masked counts from the merged words — popcount is
          // exact whether or not old and new deletes overlapped. (With
          // several entries of one bucket in one group the count is the
          // GROUP's masked total, an advisory upper bound per entry.)
          val nd = Graft.parquet(s, out)
            .groupBy("bucket")
            .agg(sum(expr("bit_count(word)")).as("nd"))
            .collect()
            .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("nd"))
            .toMap
          oldDv -> (out, nd)
      }.toMap
      // hit entries with their new DV references (fully-deleted buckets
      // get no replacement row and vanish); untouched GROUPS carry by
      // reference — the manifest commit cost tracks hit buckets, never
      // table size
      val modified = touched.flatMap { e =>
        if (liveLeft.getOrElse(e.bucket, 0L) == 0L) None // bucket fully deleted
        else {
          val (out, nd) = dvOf(e.dvPath)
          Some(e.copy(dvPath = out, nDel = nd(e.bucket)))
        }
      }
      writeManifestCow(
        s,
        root,
        fromMan,
        manifestPath(toVersion, root),
        s"mordel_v$toVersion",
        hitBuckets,
        entryDf(s, modified)
      )
    } else copyManifest(s, root, fromMan, manifestPath(toVersion, root), s"mordel_v$toVersion")
    versionSchemaId(s, fromVersion, root).foreach(writeVersionMeta(s, root, toVersion, _))
  }

  /** Merge-on-read UPSERT — the update half of the MOR write path
    * ([[morDelete]] is the delete half): matched keys' OLD versions are
    * masked through the same deletion-vector machinery (an update IS a
    * delete of the previous version), and ALL upsert rows — new versions
    * and inserts alike — land in one change-sized delta file set under
    * `$root/delta_vN`, registered as additional manifest entries in the
    * buckets they key-range into. Zero base data files are rewritten
    * (write amplification is O(changes), the merge-on-read contract), and
    * latest-wins needs no read-time fold logic because it is STRUCTURAL:
    * the old version is DV-masked, the new version is an ordinary manifest
    * entry, so [[read]], [[snapshotDiff]] and [[foldDv]] work unchanged.
    * Keys absent from the base insert cleanly — the DV probe's semi join
    * simply never hits them. Delta files are written under `fromVersion`'s
    * CURRENT schema names, so `upserts` must carry them. */
  def morUpsert(
      s: SparkSession,
      fromVersion: Int,
      toVersion: Int,
      upserts: DataFrame,
      root: String
  ): Unit = {
    morDelete(s, fromVersion, toVersion, upserts.select("k"), root)
    val deltaRoot = s"$root/delta_v$toVersion"
    upserts
      .withColumn("bucket", expr(s"k div ${BucketWidth}L"))
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(deltaRoot)
    val sid = versionSchemaId(s, fromVersion, root).getOrElse(1)
    // append the delta entries as a second COW manifest commit onto the
    // morDelete result: only the delta buckets' groups rewrite (their
    // current entries + the delta entries), everything else carries.
    // The new list lands beside the target and swaps in — group files
    // live under mfiles/ and never move, so the swap is list-only.
    val toMan = manifestPath(toVersion, root)
    val deltaStats = statsOf(s, deltaRoot, sid)
    val deltaBuckets = deltaStats.map(_.bucket).toSet
    val replacement = pruneEntries(s, toMan, deltaBuckets) ++ deltaStats
    val tmp = s"$toMan.append"
    writeManifestCow(s, root, toMan, tmp, s"delta_v$toVersion", deltaBuckets, entryDf(s, replacement))
    deleteDir(toMan)
    renameInto(tmp, toMan)
    ()
  }

  /** ROLLBACK (x134): publish `toVersion`'s manifest verbatim as
    * `asVersion` — the Iceberg rollback semantic. A METADATA-ONLY commit:
    * every data file and DV sidecar is carried by reference, the undone
    * versions stay fully time-travelable, and the restored snapshot's
    * schema meta rides along. Cost is one manifest copy at any table
    * size. */
  def rollback(s: SparkSession, toVersion: Int, asVersion: Int, root: String): Unit = {
    copyManifest(s, root, manifestPath(toVersion, root), manifestPath(asVersion, root), s"rb_v$asVersion")
    versionSchemaId(s, toVersion, root).foreach(writeVersionMeta(s, root, asVersion, _))
  }

  /** Compaction for merge-on-read buckets: rewrite exactly the DV-carrying
    * buckets with their masks applied (live rows only, written under the
    * original column names — folding is schema-neutral), drop the dv
    * references, carry everything else by reference. The x78 OPTIMIZE
    * pattern applied to deletion vectors: read cost and write cost both
    * track DV'd buckets, never table size. */
  def foldDv(s: SparkSession, fromVersion: Int, toVersion: Int, root: String): Unit = {
    val fromMan = manifestPath(fromVersion, root)
    // list-level prune: only groups whose n_dv stat is nonzero can carry
    // DV'd entries — clean groups' files never open
    val dvGroupEntries =
      listRowsOf(s, fromMan) match {
        case None => entriesAt(s, fromMan)
        case Some(rows) =>
          val dvGroups = rows.filter(_.nDv > 0).map(_.g).toSet
          toEntries(readGroups(s, fromMan, dvGroups))
      }
    val dvd = dvGroupEntries.filter(_.dvPath.nonEmpty)
    if (dvd.nonEmpty) {
      val sids = dvd.map(_.schemaId).distinct
      require(sids.size == 1, s"foldDv folds one write-schema at a time, got $sids")
      rawRead(s, dvd)
        .withColumn("bucket", expr(s"k div ${BucketWidth}L"))
        .write
        .mode("overwrite")
        .partitionBy("bucket")
        .parquet(s"$root/v$toVersion")
      val dvdBuckets = dvd.map(_.bucket).toSet
      // a DV'd bucket may ALSO hold clean entries (a post-fold delta):
      // they carry verbatim inside the rewritten group
      val cleanInDvdBuckets =
        dvGroupEntries.filter(e => e.dvPath.isEmpty && dvdBuckets.contains(e.bucket))
      val fresh = statsOf(s, s"$root/v$toVersion", schemaId = sids.head)
      writeManifestCow(
        s,
        root,
        fromMan,
        manifestPath(toVersion, root),
        s"fold_v$toVersion",
        dvdBuckets,
        entryDf(s, fresh ++ cleanInDvdBuckets)
      )
    } else copyManifest(s, root, fromMan, manifestPath(toVersion, root), s"fold_v$toVersion")
    versionSchemaId(s, fromVersion, root).foreach(writeVersionMeta(s, root, toVersion, _))
  }

  /** Row-level change-data-capture between two snapshots, reading ONLY
    * the buckets whose manifest entries differ (path inequality = the
    * bucket was rewritten between the versions; a bucket present on one
    * side only was created or dropped whole). Carried buckets share their
    * physical files, so they can't differ and are never read — diff cost
    * is proportional to changed files, not table size. Emits
    * `(k, change_type I|U|D, old_cents, new_cents)` with -1 standing in
    * for "no value" (sentinel keeps the gate free of nullable columns);
    * same-value rewrites are not changes and are excluded. */
  def snapshotDiff(s: SparkSession, fromVersion: Int, toVersion: Int, root: String): DataFrame = {
    val manO = manifestPath(fromVersion, root)
    val manN = manifestPath(toVersion, root)
    // the change unit is (data path, dv path): a rewritten bucket differs
    // by path, a merge-on-read delete differs by dv reference only — both
    // sides read DV-MASKED, so MOR deletes diff as D rows exactly like
    // COW deletes. Planning is tree-pruned twice: carried GROUPS share
    // their mpath (never opened), and within changed groups only the
    // entries differing per bucket read — diff cost tracks changed files,
    // never table size, at the metadata level too.
    val changed = diffTouchedBuckets(s, manO, manN)
    val allOld = pruneEntries(s, manO, changed)
    val allNew = pruneEntries(s, manN, changed)
    val oldSet = allOld.map(e => (e.bucket, e.path, e.dvPath)).toSet
    val newSet = allNew.map(e => (e.bucket, e.path, e.dvPath)).toSet
    val changedOld = allOld.filter(e => !newSet((e.bucket, e.path, e.dvPath)))
    val changedNew = allNew.filter(e => !oldSet((e.bucket, e.path, e.dvPath)))
    def readSide(es: Seq[Entry], kc: String, cc: String): DataFrame =
      if (es.isEmpty)
        s.range(0).select(col("id").as(kc), col("id").as(cc))
      else rawRead(s, es).select(col("k").as(kc), col("cents").as(cc))
    readSide(changedOld, "ko", "co")
      .join(readSide(changedNew, "kn", "cn"), col("ko") === col("kn"), "full")
      .where(col("ko").isNull || col("kn").isNull || col("co") =!= col("cn"))
      .select(
        coalesce(col("ko"), col("kn")).as("k"),
        when(col("ko").isNull, lit("I")).when(col("kn").isNull, lit("D")).otherwise(lit("U")).as("change_type"),
        coalesce(col("co"), lit(-1L)).as("old_cents"),
        coalesce(col("cn"), lit(-1L)).as("new_cents")
      )
  }

  /** Vacuum PLANNING over retained snapshots: every physical bucket
    * directory under the table root vs the paths the retained manifests
    * reference — the difference is garbage no retained snapshot can
    * reach, eligible for deletion once older snapshots expire. Planning
    * only (the x45-before-x78 split): executing it breaks time travel to
    * expired versions by design, so the gate never runs the delete —
    * CowTableSpec does, on the fixture, and rebuilds after. Driver-side
    * listing: file-count-sized metadata, the table-format shape.
    *
    * Named refs (x150) are GC ROOTS: every file reachable from any
    * branch/tag manifest is protected regardless of `retain` — a tag
    * pinning an expired version, or an unpublished branch head, must
    * survive vacuum (the Iceberg expire-snapshots contract; deleting the
    * ref is how its files become eligible). Branch data directories
    * (`branch_<name>_v<seq>`) are vacuum CANDIDATES like version dirs, so
    * an abandoned, de-referenced branch lineage is collectable. */
  // --------------------------------------- clone registry + full-era GC

  /** Register a clone back-pointer at the source root (idempotent; the
    * file name is a digest of the clone root). [[vacuumPlanFull]] walks
    * registered clones so a source-side vacuum can never delete a file a
    * live clone still references — the x104 shallow-clone contract's
    * missing half. */
  private def cloneRegName(dstRoot: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(dstRoot.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
      .take(16)

  def registerClone(srcRoot: String, dstRoot: String): Unit =
    writeSmall(s"$srcRoot/clones/${cloneRegName(dstRoot)}", dstRoot)

  /** Drop a clone registration (the clone was vacuumed away itself). */
  def deregisterClone(srcRoot: String, dstRoot: String): Unit =
    deleteFile(s"$srcRoot/clones/${cloneRegName(dstRoot)}")

  /** Registered clone roots of `root` (empty when none). */
  def registeredClones(root: String): Seq[String] =
    listNames(s"$root/clones").map(n => readSmall(s"$root/clones/$n")).sorted

  /** Full-era vacuum plan (x229) — [[vacuumPlan]] predates deletion
    * vectors, delta files and clones; this one covers them all:
    *   - CANDIDATES: data bucket dirs (v*, branch_*, delta_v*) AND DV
    *     sidecar dirs (dv_v*[ _g* ]) under the root.
    *   - REFERENCED: every entry's `path` AND `dvPath` from (a) retained
    *     versions' manifests, (b) every named ref (tag/branch), (c) every
    *     REGISTERED clone's every snapshot and ref — a clone pins the
    *     source files it shares, so source-side GC keeps them until the
    *     clone is deregistered.
    * Returns (orphans, candidates, keptByCloneOnly) — the third is the
    * audit trail: paths alive ONLY because a clone holds them.
    * Unpublished WAP stages are deliberately NOT reachable roots: an
    * abandoned stage is exactly what vacuum exists to collect.
    */
  def vacuumPlanFull(
      s: SparkSession,
      retain: Seq[Int],
      root: String
  ): (Seq[String], Seq[String], Seq[String]) = {
    def refsOfManifest(path: String): Seq[String] =
      entriesAt(s, path).flatMap(e => Seq(e.path) ++ (if (e.dvPath.nonEmpty) Seq(e.dvPath) else Nil))
    def namedRefManifests(r: String): Seq[String] =
      listNames(s"$r/refs").map(n => readRefMeta(s, n, r).manifestPath)
    def allVersionManifests(r: String): Seq[String] =
      listDirNames(r).filter(_.matches("^manifest_v\\d+$")).map(n => s"$r/$n")
    val localRefs =
      (retain.map(v => manifestPath(v, root)) ++ namedRefManifests(root)).flatMap(refsOfManifest)
    val cloneRefs = registeredClones(root).flatMap { cr =>
      (allVersionManifests(cr) ++ namedRefManifests(cr)).flatMap(refsOfManifest)
    }
    val localSet = localRefs.toSet
    val referenced = localSet ++ cloneRefs
    val rootDirNames = listDirNames(root)
    val dataDirs = rootDirNames
      .filter(n =>
        n.matches("^v\\d+$") ||
          n.matches("^delta_v\\d+$") ||
          (n.startsWith("branch_") && !n.matches("^branch_.*_manifest_v\\d+$")))
      .flatMap(n => listDirNames(s"$root/$n").filter(_.startsWith("bucket=")).map(b => s"$root/$n/$b"))
    val dvDirs = rootDirNames.filter(_.matches("^dv_v\\d+(_g\\d+)?$")).map(n => s"$root/$n")
    val candidates = (dataDirs ++ dvDirs).sorted
    val orphans = candidates.filterNot(referenced.contains)
    val keptByCloneOnly = candidates.filter(p => !localSet.contains(p) && referenced.contains(p))
    (orphans, candidates, keptByCloneOnly)
  }

  /** Execute the full-era plan: delete orphan dirs, return them. Clone-
    * and retention-referenced paths are structurally unreachable here —
    * the refusal the CowGcSpec proves. */
  def vacuumExecute(s: SparkSession, retain: Seq[Int], root: String): Seq[String] = {
    val (orphans, _, _) = vacuumPlanFull(s, retain, root)
    orphans.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    orphans
  }

  def vacuumPlan(s: SparkSession, retain: Seq[Int], root: String): (Seq[String], Seq[String]) = {
    val refNames = listNames(s"$root/refs")
    val referenced = (retain
      .flatMap(v => manifest(s, v, root).select("path").collect().map(_.getString(0))) ++
      refNames.flatMap(n => entriesAt(s, readRefMeta(s, n, root).manifestPath).map(_.path))).toSet
    val all = listDirNames(root)
      .filter(n =>
        n.matches("^v\\d+$") ||
          (n.startsWith("branch_") && !n.matches("^branch_.*_manifest_v\\d+$")))
      .flatMap(n => listDirNames(s"$root/$n").filter(_.startsWith("bucket=")).map(b => s"$root/$n/$b"))
    val orphans = all.filterNot(referenced.contains)
    (orphans.sorted, all.sorted)
  }

  /** per-bucket (bucket, path, min_key, max_key, n_rows) from ONE scan of
    * a snapshot root (basePath keeps the partition column; its inferred
    * type varies, hence the cast). An all-deletes rewrite can leave the
    * root with no bucket dirs at all → empty stats BY LISTING, never by
    * swallowing exceptions — a real read failure must fail the merge, not
    * silently publish a manifest missing every rewritten bucket. */
  def statsOf(s: SparkSession, root: String, schemaId: Int): Seq[Entry] = {
    if (!listDirNames(root).exists(_.startsWith("bucket="))) Seq.empty
    else statsOfUnsafe(s, root, schemaId)
  }

  private def statsOfUnsafe(s: SparkSession, root: String, schemaId: Int): Seq[Entry] =
    s.read
      .option("basePath", root)
      .parquet(root)
      .withColumn("bucket", col("bucket").cast("long"))
      .groupBy("bucket")
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
      .collect()
      .map(r => Entry(r.getAs[Long]("bucket"), s"$root/bucket=${r.getAs[Long]("bucket")}",
        r.getAs[Long]("mn"), r.getAs[Long]("mx"), r.getAs[Long]("n"), "", 0L, schemaId))
      .toSeq

  private def entryDf(s: SparkSession, rows: Seq[Entry]): DataFrame = {
    import s.implicits._
    rows
      .sortBy(e => (e.bucket, e.path, e.dvPath))
      .map(e => (e.bucket, e.path, e.minKey, e.maxKey, e.nRows, e.dvPath, e.nDel, e.schemaId))
      .toDF("bucket", "path", "min_key", "max_key", "n_rows", "dv_path", "n_del", "schema_id")
  }

  /** Write `df`'s entry rows as IMMUTABLE group files under
    * `$root/mfiles/<token>/` (auto-uniquified against reuse — stream
    * replays rewrite the same version with a fresh token) and return
    * their list rows. Group files never move once written: lists
    * reference them absolutely, later commits carry them by reference. */
  private def writeGroupFiles(s: SparkSession, root: String, token: String, df: DataFrame): DataFrame = {
    var out = s"$root/mfiles/$token"
    var i = 1
    while (pathExists(out)) { i += 1; out = s"$root/mfiles/${token}_$i" }
    val e = normalizeEntries(df)
      .withColumn("g", expr(s"bucket div ${ManifestGroup}L"))
      .localCheckpoint() // two refs: group-file write + list aggregation
    // one task per group ⇒ one file per group dir; `g` stays a DATA
    // column (group files are read by explicit path, partition dirs
    // only route the write)
    e.withColumn("gp", col("g")).repartition(col("gp")).write.partitionBy("gp").parquet(out)
    e.groupBy("g")
      .agg(
        min("bucket").as("min_bucket"),
        max("bucket").as("max_bucket"),
        min("min_key").as("min_key"),
        max("max_key").as("max_key"),
        count(lit(1)).as("n_files"),
        sum("n_rows").as("n_rows"),
        sum("n_del").as("n_dv")
      )
      .withColumn("mpath", concat(lit(s"$out/gp="), col("g")))
      .select(listCols.map(col): _*)
  }

  /** Publish list rows at `path` (replacing any previous list). The list
    * may derive from the path being replaced — materialized first. */
  private def writeListTo(s: SparkSession, path: String, list: DataFrame): Unit = {
    val rows = list.select(listCols.map(col): _*).localCheckpoint()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    rows.repartition(1).write.parquet(path)
  }

  /** Whole-manifest write: every group file fresh (fixture builds and
    * bootstrap manifests; incremental commits use [[writeManifestCow]]). */
  def writeManifestRows(s: SparkSession, version: Int, rows: Seq[Entry], root: String): Unit =
    writeListTo(s, manifestPath(version, root), writeGroupFiles(s, root, s"v$version", entryDf(s, rows)))

  /** COPY-ON-WRITE manifest commit — the metadata-level mirror of the
    * data-level merge: groups containing `touched` buckets are rebuilt
    * (their old entries minus touched buckets, plus `replacement`, which
    * REPLACES every entry of a touched bucket — a touched bucket with no
    * replacement row vanishes); every other group carries BY REFERENCE
    * as one verbatim list row, its file never opened. */
  private def writeManifestCow(
      s: SparkSession,
      root: String,
      fromMan: String,
      outMan: String,
      token: String,
      touched: Set[Long],
      replacement: DataFrame
  ): Unit = {
    import s.implicits._
    val repB = replacement.select("bucket").distinct().collect().map(_.getLong(0)).toSet
    val allTouched = touched ++ repB
    val tg = allTouched.map(_ / ManifestGroup)
    val anti =
      if (allTouched.isEmpty) emptyEntriesDf(s).select("bucket")
      else allTouched.toSeq.sorted.toDF("bucket")
    listRowsOf(s, fromMan) match {
      case None =>
        // legacy flat source: one-time full upgrade onto the tree
        val kept = normalizeEntries(listDf(s, fromMan)).join(broadcast(anti), Seq("bucket"), "left_anti")
        writeListTo(s, outMan, writeGroupFiles(s, root, token, kept.unionByName(normalizeEntries(replacement))))
      case Some(rows) =>
        val kept = readGroups(s, fromMan, tg).join(broadcast(anti), Seq("bucket"), "left_anti")
        val fresh = writeGroupFiles(s, root, token, kept.unionByName(normalizeEntries(replacement)))
        val carried = listRowsDf(s, rows.filter(r => !tg(r.g)))
        writeListTo(s, outMan, carried.unionByName(fresh))
    }
  }

  /** Metadata-only manifest copy: list rows verbatim, group files shared
    * by reference — clone/rollback/fast-forward cost one group-count-
    * sized list write at ANY table size. */
  private def copyManifest(s: SparkSession, root: String, fromMan: String, outMan: String, token: String): Unit =
    listRowsOf(s, fromMan) match {
      case None =>
        writeListTo(s, outMan, writeGroupFiles(s, root, token, normalizeEntries(listDf(s, fromMan))))
      case Some(rows) => writeListTo(s, outMan, listRowsDf(s, rows))
    }

  /** cached list rows back to a frame (carry paths in commits/copies) */
  private def listRowsDf(s: SparkSession, rows: Seq[ListRow]): DataFrame = {
    import s.implicits._
    rows
      .map(r => (r.g, r.mpath, r.minBucket, r.maxBucket, r.minKey, r.maxKey, r.nFiles, r.nRows, r.nDv))
      .toDF(listCols: _*)
  }

  /** Buckets whose entry set differs between two manifests, computed
    * WITHOUT reading unchanged groups: carried groups share their mpath,
    * so only groups whose list rows differ are opened and compared per
    * bucket on the (path, dv_path) entry signature. */
  private def diffTouchedBuckets(s: SparkSession, manA: String, manB: String): Set[Long] = {
    val la = listRowsOf(s, manA)
    val lb = listRowsOf(s, manB)
    val changedGroups: Set[Long] =
      (la, lb) match {
        case (Some(ra), Some(rb)) =>
          // carried groups share their mpath — only differing list rows count
          val ma = ra.map(r => r.g -> r.mpath).toMap
          val mb = rb.map(r => r.g -> r.mpath).toMap
          (ma.keySet ++ mb.keySet).filter(g => ma.get(g) != mb.get(g))
        case _ =>
          // legacy side: no carry metadata — compare every group
          (toEntries(entriesDfAt(s, manA)) ++ toEntries(entriesDfAt(s, manB)))
            .map(_.bucket / ManifestGroup)
            .toSet
      }
    if (changedGroups.isEmpty) return Set.empty
    def sig(man: String, out: String) =
      readGroups(s, man, changedGroups)
        .groupBy("bucket")
        .agg(sort_array(collect_list(concat_ws("\u0001", col("path"), col("dv_path")))).as(out))
    sig(manA, "sa")
      .join(sig(manB, "sb"), Seq("bucket"), "full_outer")
      .where(col("sa").isNull || col("sb").isNull || col("sa") =!= col("sb"))
      .select("bucket")
      .collect()
      .map(_.getLong(0))
      .toSet
  }

}
