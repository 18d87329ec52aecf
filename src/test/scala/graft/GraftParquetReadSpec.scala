package graft

import graft.sources.CowTable
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.graftbridge.JobCounter
import org.apache.spark.sql.types.MetadataBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** [[Graft.parquet]] plans a read without a Spark job and gives exactly
  * what `spark.read.parquet` infers: the same schema (names, types,
  * nullability, metadata), the same rows, and the same errors. Every
  * option-free parquet read in src/main goes through it; tests keep
  * Spark's inference as their oracle. */
class GraftParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def rowHashes(df: DataFrame): Seq[Long] = {
    import df.sparkSession.implicits._
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)).as[Long].collect().toSeq.sorted
  }

  /** The read starts no job and matches Spark's inferred read. */
  private def assertParity(s: SparkSession, paths: String*): Unit = {
    val (df, jobs) = JobCounter(s)(Graft.parquet(s, paths: _*))
    assert(jobs === 0, s"Graft.parquet(${paths.mkString(", ")}) started $jobs jobs")
    val inferred = s.read.parquet(paths: _*)
    assert(df.schema === inferred.schema) // field equality covers nullability and metadata
    assert(rowHashes(df) === rowHashes(inferred))
  }

  private def error(read: => DataFrame): (String, String) =
    intercept[Exception](read) match {
      case e: SparkThrowable => (e.getCondition, e.getMessage)
      case e => fail(s"not a Spark error: $e")
    }

  test("every testdata table reads with Spark's inferred schema and no job") {
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.contains("events.parquet") && tables.size >= 10)
    tables.foreach(t => assertParity(spark, s"$sf/$t"))
  }

  test("events follows the session's nanosAsLong either way") {
    Seq("true", "false").foreach { v =>
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      assertParity(s, s"$sf/events.parquet")
    }
  }

  test("a Spark-written file carries Spark's schema key, and its nullability and metadata survive") {
    val dir = TestSpark.tempDir()
    val meta = new MetadataBuilder().putString("comment", "order key").build()
    spark
      .range(40)
      .select(col("id").as("k", meta), (col("id") % 3).cast("decimal(9,2)").as("d"), col("id").cast("string").as("s"))
      .coalesce(2)
      .write
      .parquet(s"$dir/t")
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(new java.io.File(s"$dir/t").listFiles().filter(_.getName.startsWith("part-")).head.getPath),
        new org.apache.hadoop.conf.Configuration()
      )
    )
    try assert(footer.getFooter.getFileMetaData.getKeyValueMetaData.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally footer.close()
    assert(new java.io.File(s"$dir/t/_SUCCESS").exists())
    assertParity(spark, s"$dir/t")
    assert(Graft.parquet(spark, s"$dir/t").schema("k").metadata === meta)
  }

  test("an Ingest.writeParquet output partitioned by (year, month)") {
    val dir = TestSpark.tempDir()
    val df = spark
      .range(200)
      .selectExpr(
        "id as cicid",
        "cast(2015 + id % 2 as int) as year",
        "cast(1 + id % 4 as int) as month",
        "date_add(date'2016-01-01', cast(id as int)) as arrival_date",
        "concat('P', id % 7) as port_code"
      )
    graft.etl.Ingest.writeParquet(df, s"$dir/star", Seq("year", "month"))
    assertParity(spark, s"$dir/star")
    assert(graft.etl.Ingest.parquet(spark, s"$dir/star").columns.takeRight(2).toSeq === Seq("year", "month"))
  }

  test("a multi-path read of copy-on-write entry files") {
    val root = CowTable.ensure(spark, sf)
    val files = CowTable.entries(spark, CowTable.latestVersion(root), root).map(_.path).sorted
    assert(files.size > 1)
    assertParity(spark, files: _*)
  }

  test("a directory of part files beside _SUCCESS, and a glob over it") {
    val dir = TestSpark.tempDir()
    spark.range(30).selectExpr("id", "id * 2 as v").repartition(3).write.parquet(s"$dir/t")
    assert(new java.io.File(s"$dir/t/_SUCCESS").exists())
    assertParity(spark, s"$dir/t")
    assertParity(spark, s"$dir/t/part-*")
  }

  test("a leaf under a directory that is not a partition leaves the read to Spark") {
    val dir = TestSpark.tempDir()
    spark.range(5).selectExpr("id").write.parquet(s"$dir/t")
    spark.range(5).selectExpr("id", "id as extra").write.parquet(s"$dir/t/sub")
    val df = Graft.parquet(spark, s"$dir/t")
    assert(df.schema === spark.read.parquet(s"$dir/t").schema)
    assert(rowHashes(df) === rowHashes(spark.read.parquet(s"$dir/t")))
  }

  test("a missing path and an empty directory fail with Spark's own errors") {
    val dir = TestSpark.tempDir()
    val missing = s"$dir/nope"
    assert(error(Graft.parquet(spark, missing)) === error(spark.read.parquet(missing)))
    assert(error(Graft.parquet(spark, missing))._1 === "PATH_NOT_FOUND")
    new java.io.File(s"$dir/empty").mkdir()
    assert(error(Graft.parquet(spark, s"$dir/empty")) === error(spark.read.parquet(s"$dir/empty")))
    assert(error(Graft.parquet(spark, s"$dir/empty"))._1 === "UNABLE_TO_INFER_SCHEMA")
  }

  test("the plain read.parquet form appears in src/main only in Graft.scala") {
    // on one line or split after `read`; reads with options or a
    // `.schema(` stay on spark.read
    val offenders = TestSpark.matchesOutside(Seq("src/main"), """\bread\s*\.parquet\(""".r, Seq("Graft.scala"))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("a session that merges schemas is refused") {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    intercept[IllegalArgumentException](Graft.parquet(s, s"$sf/region.parquet"))
  }
}
