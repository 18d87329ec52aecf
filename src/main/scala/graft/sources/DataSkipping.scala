package graft.sources

import graft.Graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-level data skipping over a z-ordered layout — the 100 TB payoff of
  * x47's clustering, demonstrated end to end: [[writeLayout]] writes the
  * fact rows range-partitioned on their 32-bit Morton key and then runs a
  * stats pass that records each FILE's min/max on both original dimensions
  * (the manifest — what Delta's transaction log and Iceberg's manifest
  * files carry); [[selectFiles]] prunes that manifest against a query's
  * rectangle BEFORE the scan, so a selective range query opens a handful
  * of files instead of the table. This is the file-granular complement of
  * directory-level partition pruning (asserted in ScaleDisciplineSpec):
  * partition dirs skip on ONE coarse column; the z-order manifest skips on
  * a 2-dim rectangle no single-column sort could bound.
  *
  * Scale shape: the manifest is file-count-sized metadata (64 rows here;
  * ~10^5 rows for a 100 TB table at 1 GiB files) — reading it on the
  * driver to plan the scan is exactly what every table format does; the
  * data itself never moves except through the pruned scan. Because a
  * z-range fixes the top interleaved bits of BOTH dims, a query window
  * inside one eighth-cell of each dim touches ~1/64 of the z-key space —
  * ScaleDisciplineSpec asserts the ≤ 1/8-of-files bound.
  */
object DataSkipping {

  /** Query rectangle + the scan bounds it was planned against. */
  final case class Rect(cLo: Long, cHi: Long, dLo: Long, dHi: Long)

  /** orders with the point-lookup key plus the two cluster dims — the ONE
    * definition of `days` the manifest and every query rectangle share. */
  def base(s: SparkSession, d: String): DataFrame =
    graft.Graft
      .table(s, d, "orders")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("days")
      )

  /** orders projected to the two cluster dims (the x47 projection). */
  def dims(s: SparkSession, d: String): DataFrame = base(s, d).drop("o_orderkey")

  /** Corpus bounds on both cluster dims: (cmin, cmax, dmin, dmax). */
  final case class Bounds(cMin: Long, cMax: Long, dMin: Long, dMax: Long)

  /** capped-dictionary size: a KMV sketch with fewer than [[DictK]]
    * retained hashes holds EVERY distinct hash of its file — it IS an
    * exact dictionary, which is what makes equality pruning sound. */
  val DictK = 64

  /** Write `orders` z-ordered into `dir/data` (64 range-partitioned files
    * on the Morton key) and the per-file stats manifest into
    * `dir/manifest`. The stats pass re-reads the written files grouped by
    * `_metadata.file_path` — the same second pass OPTIMIZE ZORDER runs.
    * Beyond min/max on both dims, each manifest row carries:
    *   - `n_null_promo`: null count of the sparse `promo` column (non-null
    *     only in one dy band) → `IS NOT NULL` skips all-null files;
    *   - `t_lo`/`t_hi` + `tag_sk`: min/max and the KMV sketch (x49's
    *     aggregate, k = [[DictK]]) of the 8-bit cell id `tag` — globally
    *     SCATTERED (min/max spans wide) but per-file LOW-NDV under the
    *     z-order, so the sketch is exact and equality predicates prune
    *     files min/max cannot.
    * Returns the corpus bounds (computed once — [[gateRect]] derives the
    * query rectangle from them, no second aggregation). */
  /** x113: per-file Bloom size/probes for the UNCLUSTERED high-NDV point
    * column (`o_orderkey`). 65 packed 63-bit words ≈ 4095 bits, k = 3
    * md5 probes (the x103 double-hash convention): at ~250 keys/file the
    * false-positive rate is ≈0.4%, so a point lookup opens ~1 file of 64.
    * min/max can't help (the key scatters across every z-file) and the
    * KMV dictionary overflows (NDV/file ≫ [[DictK]]) — the Bloom is the
    * only sound per-file filter at this NDV. */
  val BloomBits = 4095L
  val BloomK = 3

  private val NFiles = 64

  private def writeLayout(s: SparkSession, d: String, dir: String): Bounds = {
    val o = base(s, d)
    val b = o.agg(min("o_custkey"), max("o_custkey"), min("days"), max("days")).collect()(0)
    val bounds = Bounds(b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    o.withColumn("cx", expr(graft.operators.Sampling.scale16("o_custkey", s"${bounds.cMin}L", s"${bounds.cMax}L")))
      .withColumn("dy", expr(graft.operators.Sampling.scale16("days", s"${bounds.dMin}L", s"${bounds.dMax}L")))
      .withColumn("zkey", expr(graft.operators.Sampling.interleave16("cx", "dy")))
      // tag = (cx4, dy4) cell id: its VALUES scatter across 0..255 while
      // each z-range file covers only a few cells; promo = the sparse
      // column (one dy band non-null) for null-count skipping
      .withColumn("tag", expr("(cx div 4096) * 16 + (dy div 4096)"))
      .withColumn("promo", expr("CASE WHEN dy div 4096 = 6 THEN days ELSE CAST(NULL AS BIGINT) END"))
      .repartitionByRange(NFiles, col("zkey"))
      .select("o_orderkey", "o_custkey", "days", "tag", "promo")
      .write.mode("overwrite").parquet(s"$dir/data")
    val data = Graft.parquet(s, s"$dir/data")
    val stats = data
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(
        count(lit(1)).as("n_rows"),
        min("o_custkey").as("c_lo"),
        max("o_custkey").as("c_hi"),
        min("days").as("d_lo"),
        max("days").as("d_hi"),
        min("tag").as("t_lo"),
        max("tag").as("t_hi"),
        sum(when(col("promo").isNull, 1L).otherwise(0L)).as("n_null_promo"),
        graft.functions
          .KmvSketch(graft.functions.Hashing.md5Window15(col("tag").cast("string")), DictK)
          .as("tag_sk")
      )
    // the Bloom needs a 3× probe explode, which would skew the plain
    // aggregates above — a second file-grouped pass over the same scan,
    // joined on the file path (both aggs stay file-count-sized)
    val bloom = data
      .select(col("_metadata.file_path").as("file"), col("o_orderkey"))
      .withColumn("j", explode(array(lit(0), lit(1), lit(2))))
      .withColumn(
        "bitpos",
        graft.functions.Hashing
          .md5Bucket(concat(lit("fb"), col("j"), lit(":"), col("o_orderkey").cast("string")), BloomBits)
      )
      .groupBy(col("file"), expr("CAST(bitpos div 63 AS INT)").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(bitpos % 63 AS INT)))").as("word"))
      .groupBy("file")
      .agg(sort_array(collect_list(struct(col("w"), col("word")))).as("bloom"))
    stats
      .join(bloom, "file")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    bounds
  }

  /** the layout's directory for the corpus at `d` */
  def dir(d: String): String = Fixture.dir("graft_zorder", Some(d))

  /** Ensure the layout exists for the corpus at `d` (a [[Fixture]]:
    * steady-state calls are a marker-file read, so the bench measures the
    * READ path, not layout writes). Returns the corpus bounds, which the
    * build writes beside the layout. */
  def ensureLayout(s: SparkSession, d: String): Bounds = {
    // "stats3" salts for the enriched manifest (null counts + tag KMV +
    // the x113 per-file o_orderkey Bloom)
    val out = Fixture("graft_zorder", Some(d), s"$NFiles|stats3") { dir =>
      val b = writeLayout(s, d, dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/bounds"),
        s"${b.cMin}|${b.cMax}|${b.dMin}|${b.dMax}".getBytes("UTF-8")
      )
    }
    val p = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/bounds")), "UTF-8")
      .split('|').map(_.toLong)
    Bounds(p(0), p(1), p(2), p(3))
  }

  /** Manifest-driven file pruning: the files whose [min, max] box
    * intersects the query rectangle, plus the layout's total file count.
    * Driver-side by design — this is scan PLANNING over file-count-sized
    * metadata, the table-format shape, not a data pull. */
  def selectFiles(s: SparkSession, dir: String, r: Rect): (Seq[String], Int) = {
    val mf = Graft.parquet(s, s"$dir/manifest").select("file", "c_lo", "c_hi", "d_lo", "d_hi").collect()
    val hit = mf.collect {
      case m
          if m.getLong(2) >= r.cLo && m.getLong(1) <= r.cHi &&
            m.getLong(4) >= r.dLo && m.getLong(3) <= r.dHi =>
        m.getString(0)
    }
    (hit.toSeq, mf.length)
  }

  /** Pruned scan: only the manifest-selected files are opened; the
    * residual predicate still applies row-level (files straddle the
    * rectangle's boundary), and pushes down into the parquet scan. A
    * rectangle intersecting no file yields an empty frame with the scan
    * schema, not an error. */
  def prunedScan(s: SparkSession, dir: String, r: Rect): DataFrame = {
    val (files, _) = selectFiles(s, dir, r)
    val base =
      if (files.isEmpty) Graft.parquet(s, s"$dir/data").limit(0)
      else Graft.parquet(s, files: _*)
    base.where(col("o_custkey").between(r.cLo, r.cHi) && col("days").between(r.dLo, r.dHi))
  }

  /** the md5-window hash [[graft.functions.Hashing.md5Window15]] computes
    * column-side, replicated driver-side for manifest probes: first 15
    * hex chars of md5 parsed as a long. */
  private def md5w15(v: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(v.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** `IS NOT NULL` skipping: files whose every `promo` row is null can't
    * contribute — return (survivors, total). Driver-side manifest probe,
    * the [[selectFiles]] planning shape. */
  def selectFilesNotNull(s: SparkSession, dir: String): (Seq[String], Int) = {
    val mf = Graft.parquet(s, s"$dir/manifest").select("file", "n_rows", "n_null_promo").collect()
    (mf.collect { case m if m.getLong(2) < m.getLong(1) => m.getString(0) }.toSeq, mf.length)
  }

  /** Equality pruning on the scattered `tag` column, both ways at once:
    * (rangeHit, dictHit, total) where rangeHit uses min/max alone and
    * dictHit additionally requires the file's KMV dictionary to contain
    * hash(v) — sound because a sketch retaining < [[DictK]] hashes is the
    * file's EXACT distinct-hash set; a full sketch (possibly lossy) keeps
    * the file. dictHit ⊆ rangeHit by construction; ScaleDisciplineSpec
    * asserts the strict win on low-ndv file sets. */
  def selectFilesEq(s: SparkSession, dir: String, v: Long): (Seq[String], Seq[String], Int) = {
    val mf = Graft.parquet(s, s"$dir/manifest")
      .select("file", "t_lo", "t_hi", "tag_sk")
      .collect()
    val h = md5w15(v.toString)
    val range = mf.collect { case m if m.getLong(1) <= v && v <= m.getLong(2) => m.getString(0) }
    val dict = mf.collect {
      case m if m.getLong(1) <= v && v <= m.getLong(2) && {
            val sk = m.getSeq[Long](3)
            sk.length >= DictK || sk.contains(h)
          } =>
        m.getString(0)
    }
    (range.toSeq, dict.toSeq, mf.length)
  }

  /** Dictionary-pruned equality scan with the residual applied row-level. */
  def prunedScanEq(s: SparkSession, dir: String, v: Long): DataFrame = {
    val (_, files, _) = selectFilesEq(s, dir, v)
    val base =
      if (files.isEmpty) Graft.parquet(s, s"$dir/data").limit(0)
      else Graft.parquet(s, files: _*)
    base.where(col("tag") === v)
  }

  /** x113 point-lookup pruning on the unclustered `o_orderkey`: files
    * whose Bloom has all [[BloomK]] probe bits set — (survivors, total).
    * No false negatives by construction, so the pruned scan's CONTENT
    * equals the full point query (the gate pins exactly that); false
    * positives only open extra files. Driver-side manifest probe, the
    * [[selectFiles]] planning shape. */
  def selectFilesPoint(s: SparkSession, dir: String, v: Long): (Seq[String], Int) = {
    val bits = (0 until BloomK).map(j => md5w15(s"fb$j:$v") % BloomBits)
    val mf = Graft.parquet(s, s"$dir/manifest").select("file", "bloom").collect()
    val hit = mf.collect {
      case m if {
            val words = m
              .getSeq[org.apache.spark.sql.Row](1)
              .map(r => r.getInt(0) -> r.getLong(1))
              .toMap
            bits.forall(b => (words.getOrElse((b / 63).toInt, 0L) & (1L << (b % 63).toInt)) != 0L)
          } =>
        m.getString(0)
    }
    (hit.toSeq, mf.length)
  }

  /** Bloom-pruned point scan with the residual equality applied row-level. */
  def prunedScanPoint(s: SparkSession, dir: String, v: Long): DataFrame = {
    val (files, _) = selectFilesPoint(s, dir, v)
    val base =
      if (files.isEmpty) Graft.parquet(s, s"$dir/data").limit(0)
      else Graft.parquet(s, files: _*)
    base.where(col("o_orderkey") === v)
  }

  /** Null-count-pruned `promo IS NOT NULL` scan. */
  def prunedScanNotNull(s: SparkSession, dir: String): DataFrame = {
    val (files, _) = selectFilesNotNull(s, dir)
    val base =
      if (files.isEmpty) Graft.parquet(s, s"$dir/data").limit(0)
      else Graft.parquet(s, files: _*)
    base.where(col("promo").isNotNull)
  }

  /** The x73 gate rectangle: the second eighth-cell of each dim, derived
    * from the data bounds so it is identical at every SF — mirrored in
    * the oracle as (min + span*2 div 16, min + span*3 div 16). */
  def gateRect(b: Bounds): Rect =
    Rect(
      b.cMin + (b.cMax - b.cMin) * 2 / 16,
      b.cMin + (b.cMax - b.cMin) * 3 / 16,
      b.dMin + (b.dMax - b.dMin) * 2 / 16,
      b.dMin + (b.dMax - b.dMin) * 3 / 16
    )
}
