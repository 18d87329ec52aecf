package graft.sources

import graft.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level exactly-once ingestion — the bookkeeping every crawl-dump /
  * log-shipping pipeline runs in front of content-level dedup (x69): a
  * LEDGER of already-accepted input files (name + content fingerprint),
  * consulted before any bytes move. Offering a batch of files ingests
  * only the ones the ledger has never accepted; re-offers (retries,
  * overlapping dump manifests, duplicated upstream deliveries) are
  * recorded but move zero data. The corpus stays append-only — one
  * immutable directory per accepted file, the CowTable layout move — so
  * a crash mid-ingest re-offers cleanly: a file is accepted only when its
  * ledger row commits, and the ledger write is the LAST step.
  *
  * Scale shape: the ledger is file-count-sized control metadata (the x73
  * manifest class) and the accept decision is a driver-side set
  * difference over it; each accepted file's rows copy distributed, files
  * independent — a 100 TB backfill ingests file-by-file with no global
  * barrier, and a fully-duplicate re-offer costs one ledger read.
  */
object IngestLedger {

  private def ledgerPath(root: String) = s"$root/ledger"

  /** (file_id, fp, round_ingested, n_docs, n_offered) per accepted file;
    * empty frame if no ingest has run yet. */
  def ledger(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    // recovery: a crash between the swap's two renames leaves only .old
    if (new java.io.File(ledgerPath(root)).exists()) Graft.parquet(s, ledgerPath(root))
    else if (new java.io.File(ledgerPath(root) + ".old").exists())
      Graft.parquet(s, ledgerPath(root) + ".old")
    else
      Seq.empty[(Long, String, Int, Long, Long)].toDF("file_id", "fp", "round_ingested", "n_docs", "n_offered")
  }

  /** Offer `files` (id → input parquet path) as ingestion round `round`:
    * accept files that are unseen OR whose fingerprint changed since
    * acceptance (an upstream re-delivery re-ingests and overwrites),
    * increment `n_offered` for every offered file, return the count of
    * accepted files. Duplicate ids within one offer batch collapse to
    * one. Re-offering an unchanged file accepts nothing and moves no
    * data. NOTE: [[Fingerprint.of]] is a METADATA fingerprint — it hashes
    * the file listing (name, length, mtime), not the bytes — so a
    * re-delivery that preserves size AND mtime (rsync -t, an object-store
    * copy with preserved timestamps) is indistinguishable from a
    * duplicate and is skipped; upstreams that rewrite in place must touch
    * mtime (normal filesystem behavior) for the change to be seen. */
  def offer(s: SparkSession, root: String, round: Int, files: Seq[(Long, String)]): Int = {
    val led = ledger(s, root).collect()
    val knownFp = led.map(r => r.getAs[Long]("file_id") -> r.getAs[String]("fp")).toMap
    val batch = files.distinctBy(_._1) // a doubled manifest entry is one file
    val offered = batch.map(_._1).toSet
    // accept = unseen id, or seen id whose stored fingerprint no longer
    // matches the offered content (the fp is CONSULTED, not just stored)
    val withFp = batch.map { case (id, path) => (id, path, Fingerprint.of(s, path, salt = "")) }
    val fresh = withFp.filter { case (id, _, fp) => !knownFp.get(id).contains(fp) }
    val freshIds = fresh.map(_._1).toSet
    // accepted data first, ledger row LAST: a crash between the two means
    // the file is re-offered and overwrites its own directory — idempotent
    val freshRows = fresh.map { case (id, path, fp) =>
      val df = Graft.parquet(s, path)
      df.write.mode("overwrite").parquet(s"$root/corpus/file=$id")
      // count the SOURCE frame (parquet footer metadata), not a second
      // full read of the copy just written
      (id, fp, round, df.count(), 1L)
    }
    import s.implicits._
    val updated =
      led.collect {
        case r if !freshIds.contains(r.getAs[Long]("file_id")) =>
          val id = r.getAs[Long]("file_id")
          (id, r.getAs[String]("fp"), r.getAs[Int]("round_ingested"), r.getAs[Long]("n_docs"),
            r.getAs[Long]("n_offered") + (if (offered.contains(id)) 1L else 0L))
      }.toSeq ++ freshRows.map { case (id, fp, rd, n, _) =>
        // a content-update keeps its full offer history
        (id, fp, rd, n, knownFp.get(id).map(_ => ledOffered(led, id) + 1L).getOrElse(1L))
      }
    val tmp = s"${ledgerPath(root)}.next"
    updated.toDF("file_id", "fp", "round_ingested", "n_docs", "n_offered")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    // crash-safe swap (the EventStreams staged-rename discipline): demote
    // the live ledger to .old, promote .next, then clear .old — ledger()
    // recovers from .old if a crash lands between the two renames
    val dst = new java.io.File(ledgerPath(root))
    val old = new java.io.File(ledgerPath(root) + ".old")
    if (old.exists()) org.apache.commons.io.FileUtils.deleteDirectory(old)
    if (dst.exists()) require(dst.renameTo(old), s"ledger demote failed: $dst")
    require(new java.io.File(tmp).renameTo(dst), s"ledger promote failed: $tmp")
    if (old.exists()) org.apache.commons.io.FileUtils.deleteDirectory(old)
    fresh.size
  }

  private def ledOffered(led: Array[org.apache.spark.sql.Row], id: Long): Long =
    led.find(_.getAs[Long]("file_id") == id).map(_.getAs[Long]("n_offered")).getOrElse(0L)

  /** The whole ingested corpus (union of accepted files' rows). */
  def corpus(s: SparkSession, root: String): DataFrame =
    s.read.option("basePath", s"$root/corpus").parquet(s"$root/corpus")
}

/** Fixture for the x90 ingestion-ledger gate: 8 synthetic "dump files"
  * with formula content, offered in three calls — round 1 = files 0–4,
  * round 2 = files 2–7 (overlap skipped), round 2 re-run = files 2–7
  * again (everything skipped). Ground truth per file is closed-form:
  * round_ingested = 1 if id ≤ 4 else 2; n_offered = 1 (ids 0–1),
  * 3 (ids 2–4), 2 (ids 5–7); doc rows/cents follow formulas the oracle
  * replays. Fingerprint-guarded build (steady state = marker read). */
object IngestFixture {
  val dir = Fixture.dir("graft_ingest")

  def nDocsOf(id: Long): Int = 20 + (id * 7 % 30).toInt
  def centsOf(id: Long, j: Int): Long = 1000L + id * 13 + j * 7

  def ensure(s: SparkSession): Unit = Fixture.at(dir, "v1") {
    import s.implicits._
    for (id <- 0L until 8L) {
      (0 until nDocsOf(id)).map(j => (id * 1000 + j, centsOf(id, j)))
        .toDF("doc_id", "cents")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/input/file_$id")
    }
    val r1 = (0L to 4L).map(id => id -> s"$dir/input/file_$id")
    val r2 = (2L to 7L).map(id => id -> s"$dir/input/file_$id")
    require(IngestLedger.offer(s, dir, 1, r1) == 5)
    require(IngestLedger.offer(s, dir, 2, r2) == 3) // 2-4 skipped
    require(IngestLedger.offer(s, dir, 2, r2) == 0) // idempotent re-offer
  }
}
