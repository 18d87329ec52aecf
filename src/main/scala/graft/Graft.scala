package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * Design notes (100 TB discipline, SURVEY.md §7.4):
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *     and dynamic join-strategy switching replace hand-tuned partition counts
  *     when the same plans run on a 1000-executor cluster.
  *   - `spark.sql.shuffle.partitions` defaults to the local core count here;
  *     on a real cluster it is a deploy-time knob (AQE coalesces down anyway).
  *   - No `inferSchema` anywhere: schema inference is a full extra scan at
  *     100 TB. Parquet carries its schema, read from one footer on the
  *     driver ([[parquet]]), so planning a read runs no job; CSV readers
  *     take explicit `StructType`s (see [[graft.etl.Ingest]]).
  *   - The generated-class cache is sized to graft's working set
  *     ([[CodegenCacheEntries]]). Spark's default keeps 100 classes in one
  *     JVM-wide LRU, fewer than any repeated workload needs, so every pass
  *     evicted and recompiled (Janino) what the last one built. The conf
  *     is STATIC: `CodeGenerator` reads it once, from the first session in
  *     the JVM, so it can only be set here on the builder.
  */
object Graft {
  /** `spark.sql.codegen.cache.maxEntries`: about twice the distinct
    * generated classes of the largest single-JVM run measured — 9.6k for
    * the test suite, 6.3-6.8k for `Verify` over every query at sf0.01
    * (its `codegen_compiles` with nothing evicted) — so growth of the
    * suite does not bring the recompiles back. */
  val CodegenCacheEntries: Int = 20000

  def session(appName: String = "graft", cores: String = defaultCores): SparkSession = {
    // A/B instrument + deploy hook: extra session confs from the
    // environment, "key=value;key=value" (measurement discipline — config
    // experiments run against the same binary, and cluster deploys can
    // override any knob without a rebuild)
    val extra = sys.env
      .get("SPARK_GRAFT_EXTRA_CONF")
      .toSeq
      .flatMap(_.split(";"))
      .map(_.trim)
      .filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val b0 = SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // r11 (guide §3.1): let AQE rewrite sort-merge → shuffled-hash when
      // every post-shuffle partition's map output is under 64 MB — a
      // RUNTIME-size-aware rewrite (default 0 = off), so it removes the
      // per-partition sorts on fixture-scale joins and self-disables at
      // 100 TB where partitions exceed the threshold. A deploy overrides
      // it through SPARK_GRAFT_EXTRA_CONF like any other knob.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // graft's Catalyst surface is session-wide since r11: native
      // functions in SQL, the top-k strategy+rewrite, eager-agg, and the
      // stats-fed join rules (the r10 StatsTrial earned them the default —
      // 0/403 hash breaks with every rule live; the stats rules stay inert
      // until JoinStats.ensure wires a provider)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    val spark = extra.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def defaultCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Read one of the driver-generated testdata tables (TESTDATA.md):
    * region nation customer supplier part orders lineitem events documents
    * embeddings. Parquet scan → vectorized reader, pushdown + pruning free.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** A plain parquet read that plans without a Spark job: the schema comes
    * from one footer read on the driver, then `spark.read.schema(s)`.
    * `spark.read.parquet` infers the same schema in a one-task job per read.
    *
    * The footer is the one Spark's non-merging inference
    * (`ParquetUtils.inferSchema`) reads: of the leaves listed with
    * `InMemoryFileIndex`'s hidden-name rule, `_common_metadata`, else
    * `_metadata`, else the first data file by full path. It is converted by
    * the function and converter flags that inference task uses, so
    * `nanosAsLong`, INT96, NTZ inference and Spark's own schema key in the
    * footer behave the same. Partition columns still come from Spark's
    * discovery. Spark infers the schema itself, job and all, when nothing
    * can be read (its `UNABLE_TO_INFER_SCHEMA`) or a leaf sits under a
    * directory that is not a `k=v` partition. A missing path fails with
    * Spark's `PATH_NOT_FOUND`; globs expand as in any read.
    *
    * Reads with options (`mergeSchema`, `basePath`, a given schema) stay on
    * `spark.read`; a session with `spark.sql.parquet.mergeSchema` on is
    * refused, since one footer cannot stand for a merge. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    require(
      !Bridge.sqlConf(spark).isParquetSchemaMergingEnabled,
      "Graft.parquet reads one footer: spark.sql.parquet.mergeSchema must be off"
    )
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = Bridge.hadoopConf(spark)
    // (leaf, whether a non-partition directory lies between it and its root)
    def leaves(fs: FileSystem, dir: Path, plain: Boolean): Seq[(FileStatus, Boolean)] =
      fs.listStatus(dir).toSeq.filterNot(st => Bridge.hiddenName(st.getPath.getName)).flatMap { st =>
        if (st.isDirectory) leaves(fs, st.getPath, plain || !st.getPath.getName.contains("="))
        else Seq(st -> plain)
      }
    val found = Bridge.readPaths(paths, conf).flatMap(root => leaves(root.getFileSystem(conf), root, plain = false))
    if (found.exists(_._2)) return None
    val sorted = found.map(_._1).sortBy(_.getPath.toString)
    def named(name: String) = sorted.find(_.getPath.getName == name)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(sorted.find(f => !summaries(f.getPath.getName)))
      .map { file =>
        val sql = Bridge.sqlConf(spark)
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sql.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
          nanosAsLong = sql.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation
        )
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS
        )
        ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
      }
  }

  /** `events` with `ts` normalized to a microsecond TIMESTAMP_NTZ whatever
    * physical type the generator wrote it as. Seen in the wild across
    * driver rounds: TIMESTAMP(NANOS) read as a nano long (needs
    * `spark.sql.legacy.parquet.nanosAsLong=true`, then the same micros
    * truncation DuckDB applies casting timestamp_ns → timestamp),
    * TIMESTAMP(MICROS) read natively as TIMESTAMP_NTZ (pass-through), and
    * the tz-adjusted variant (cast; session tz is pinned UTC so the cast
    * is deterministic). Schema-adaptive so every downstream query and its
    * DuckDB oracle (`epoch_ns(ts)` / `ts::TIMESTAMP` — valid on any of
    * these) see one stable shape. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case org.apache.spark.sql.types.TimestampNTZType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
}
