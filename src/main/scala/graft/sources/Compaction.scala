package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Compaction EXECUTION — the write pass that cashes in x45's plan, the
  * same way x73's skipping scan cashes in x47's z-order layout. x45
  * computes per-partition target file counts (n_files = ⌈bytes/target⌉);
  * this operator actually rewrites the table that way: per lang partition,
  * a round-robin `repartition(n_files)` followed by one parquet write, so
  * the partition lands in exactly n_files near-equal files (the
  * Delta/Iceberg OPTIMIZE bin-packing shape — plan per partition, rewrite
  * per partition). The gate pins BOTH halves: read-back content equality
  * (per-lang doc counts + an order-free text digest against the raw
  * table) and the executed file count against the x45 formula, which the
  * oracle recomputes from the raw bytes.
  *
  * Scale shape: the plan is a |partitions|-row aggregate (driver-sized
  * control metadata, the same class as the x57 seed pull); each rewrite
  * is a distributed round-robin exchange of ONE partition's rows into
  * n_files tasks — no sort, no join, and partitions rewrite
  * independently, so a 100 TB table compacts partition-by-partition
  * without a global barrier. Steady-state invocations are a marker-file
  * read (the ivfEnsureGateIndex fingerprint pattern): the bench measures
  * the compacted READ path, not the rewrite.
  */
object Compaction {

  /** x45's constants: 64 KiB target file size standing in for the
    * production 128 MiB (same stand-in ratio as the gate fixtures). */
  val TargetBytes: Long = 64L * 1024

  /** Rewrite `documents` at `d` into `<fixture dir>/lang=<l>/` with the
    * x45 file counts; returns the fixture dir. A [[Fixture]]: steady-state
    * calls are a marker-file read. */
  def ensure(s: SparkSession, d: String): String = Fixture("graft_compacted", Some(d), s"$TargetBytes") { dir =>
    val docs = graft.Graft.table(s, d, "documents").select("doc_id", "lang", "text")
    // the x45 plan: per-partition byte volume → target file count. A
    // handful of rows (one per lang) — driver-sized control metadata.
    val plan = docs
      .groupBy("lang")
      .agg(sum(length(col("text")).cast("long")).as("n_bytes"))
      .select(col("lang"), expr(s"(n_bytes + ${TargetBytes}L - 1) div ${TargetBytes}L").as("n_files"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt)
    for ((lang, nFiles) <- plan.sortBy(_._1))
      docs
        .where(col("lang") === lang)
        .select("doc_id", "text") // lang is the partition directory
        .repartition(nFiles)
        .write
        .mode("overwrite")
        .parquet(s"$dir/lang=$lang")
  }

  /** Actual parquet file count per lang partition, from a driver fs
    * listing (file-count-sized metadata — the table-format planning
    * shape, same class as the x73 manifest read). */
  def fileCounts(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val base = new java.io.File(dir)
    base
      .listFiles()
      .toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
      .map { f =>
        val n = f.listFiles().count(x => x.getName.endsWith(".parquet"))
        (f.getName.stripPrefix("lang="), n.toLong)
      }
      .sortBy(_._1)
  }
}
