package graft.sources

import graft.Graft
import org.apache.spark.sql.SparkSession

/** Metadata-only COUNT(*) from parquet footers (x116) — the query path
  * every warehouse serves without touching data pages: each parquet footer
  * already carries exact per-row-group row counts, so a full-table count
  * is a FILE-LIST problem, not a scan problem. At 100 TB that is the
  * difference between reading ~10^5 footers (a few KiB each) and streaming
  * the table.
  *
  * Scale shape: the file list comes from the driver (file-count-sized, the
  * same metadata every table format's planning step reads); footer reads
  * distribute over the executors via `mapPartitions` on the list — no row
  * of table data moves. This is the same stats source the x73 manifest
  * pass aggregates, consumed directly instead of re-derived by scanning.
  */
object FooterStats {

  /** Exact row count of a parquet directory (or single file) from footers
    * only. */
  def rowCount(s: SparkSession, path: String): Long = {
    import s.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p)
          .map(_.getPath)
          .filter(q => q.getName.endsWith(".parquet") && !q.getName.startsWith("_"))
          .map(_.toString)
          .toSeq
      else Seq(path)
    if (files.isEmpty) return 0L
    files
      .toDS()
      .repartition(math.min(files.size, s.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.size() match {
            case 0 => 0L
            case _ =>
              var n = 0L
              val bs = r.getFooter.getBlocks
              var i = 0
              while (i < bs.size()) { n += bs.get(i).getRowCount; i += 1 }
              n
          } finally r.close()
        }
      }
      .reduce(_ + _)
  }

  /** (file, rowGroup, rows) lines for every parquet file under `path`,
    * recursively (partition dirs included) — the x256 layout-audit
    * grain. Footer reads distribute; only the file LIST is driver-side.
    */
  def layout(s: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) fs.listStatus(p).toSeq.flatMap(c => walk(c.getPath))
      else if (p.getName.endsWith(".parquet") && !p.getName.startsWith("_")) Seq(p.toString)
      else Seq.empty
    }
    val files = walk(root)
    require(files.nonEmpty, s"layout: no parquet files under $path")
    files
      .toDS()
      .repartition(math.min(files.size, s.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val bs = r.getFooter.getBlocks
            (0 until bs.size()).map(i => (f, i, bs.get(i).getRowCount)).toVector
          } finally r.close()
        }
      }
      .toDF("file", "rg", "rows")
  }

  // ---------------------------------------- row-group pruning (x124)

  /** One row-group's stats line: (file, rgIndex, minK, maxK, rows). */
  case class RgStat(file: String, rg: Int, minK: Long, maxK: Long, rows: Long)

  /** Per-row-group min/max/count of a required int64 column, footers only
    * — the grain BELOW the x73 file-level manifest: a single parquet file
    * of a 100 TB table holds many row groups, and a range probe decides
    * most of them from the footer without touching a data page. */
  def rgStats(s: SparkSession, path: String, column: String): Seq[RgStat] = {
    import s.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs
      .listStatus(p)
      .map(_.getPath)
      .filter(q => q.getName.endsWith(".parquet") && !q.getName.startsWith("_"))
      .map(_.toString)
      .toSeq
      .sorted
    files
      .toDS()
      .repartition(math.min(files.size, s.sparkContext.defaultParallelism))
      .flatMap { f =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val bs = r.getFooter.getBlocks
          (0 until bs.size()).map { i =>
            val b = bs.get(i)
            val cc = (0 until b.getColumns.size())
              .map(b.getColumns.get)
              .find(_.getPath.toDotString == column)
              .getOrElse(throw new IllegalArgumentException(s"no column $column in $f"))
            val st = cc.getStatistics
            require(st != null && !st.isEmpty, s"missing stats for $column in $f rg$i")
            RgStat(
              f,
              i,
              st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
              st.genericGetMax.asInstanceOf[java.lang.Long].longValue(),
              b.getRowCount
            )
          }
        } finally r.close()
      }
      .collect()
      .toSeq // row-group-count-sized: the planning unit, like a manifest
  }

  /** Range-COUNT with row-group pruning: every row group whose [min,max]
    * lies fully inside (or fully outside) [lo,hi] is decided from the
    * footer alone; only FILES holding at least one boundary row group are
    * scanned — with the predicate pushed down, so parquet's own row-group
    * filter skips their decided groups again inside the scan. Returns
    * (count, rgTotal, rgInside, rgOutside, rgBoundary, filesScanned,
    * filesTotal). */
  def rangeCount(
      s: SparkSession,
      path: String,
      column: String,
      lo: Long,
      hi: Long
  ): (Long, Long, Long, Long, Long, Long, Long) = {
    val stats = rgStats(s, path, column)
    val inside = stats.filter(g => g.minK >= lo && g.maxK <= hi)
    val outside = stats.filter(g => g.maxK < lo || g.minK > hi)
    // boundary FILES: any file with >= 1 undecided row group — their whole
    // count comes from a predicate scan (metadata for their decided groups
    // would double-count), every other file is footer-only
    val boundaryFiles = stats
      .filterNot(g => (g.minK >= lo && g.maxK <= hi) || g.maxK < lo || g.minK > hi)
      .map(_.file)
      .distinct
      .sorted
    val metaCount = inside.filterNot(g => boundaryFiles.contains(g.file)).map(_.rows).sum
    val scanCount =
      if (boundaryFiles.isEmpty) 0L
      else
        Graft.parquet(s, boundaryFiles: _*)
          .where(org.apache.spark.sql.functions.col(column).between(lo, hi))
          .count()
    (
      metaCount + scanCount,
      stats.size.toLong,
      inside.size.toLong,
      outside.size.toLong,
      (stats.size - inside.size - outside.size).toLong,
      boundaryFiles.size.toLong,
      stats.map(_.file).distinct.size.toLong
    )
  }

  /** x124 fixture: lineitem's (l_orderkey, cents) range-partitioned into 4
    * files SORTED by key, written with a small parquet block size so each
    * file holds several row groups — the layout where row-group-grain
    * skipping beats file grain. Fingerprint-guarded like every fixture. */
  def ensureSorted(s: SparkSession, d: String): String = Fixture("graft_rg", Some(d), "rg2") { dir =>
    graft.Graft
      .table(s, d, "lineitem")
      .select(
        org.apache.spark.sql.functions.col("l_orderkey").as("k"),
        org.apache.spark.sql.functions
          .expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
          .as("cents")
      )
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k")
      .write
      .option("parquet.block.size", 8 * 1024) // several row groups per file even at sf0.001
      .mode("overwrite")
      .parquet(s"$dir/data")
  } + "/data"
}
