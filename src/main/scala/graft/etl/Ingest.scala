package graft.etl

import graft.Graft
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Source/sink surface (SURVEY.md §2.1).
  *
  * Covers the reference's scan/sink operators S1-S5 with explicit schemas
  * instead of inference: CSV and JSON readers take a `StructType`, and the
  * parquet read takes the schema its footer carries ([[Graft.parquet]]),
  * with no inference job. S6 (S3 object copy) is a path-scheme concern
  * (`s3a://` URIs work through the same readers); S3-the-SAS-binary-format
  * is deliberately replaced by Parquet as the canonical ingest format — the
  * reference itself ships the Spark-converted output (`sas_data/`, notebook
  * cell 6), see SURVEY.md §7.3.
  */
object Ingest {

  /** S1: CSV scan, header row, comma delimiter, explicit schema
    * (reference `dags/transform/airport.py:4-5`, minus `inferSchema`). */
  def csv(spark: SparkSession, path: String, schema: StructType, sep: String = ","): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", sep)
      .schema(schema)
      .csv(path)

  /** S2: the `;`-delimited demographics CSV (reference `us-cities-demographics.csv:1`). */
  def demographics(spark: SparkSession, path: String): DataFrame =
    csv(spark, path, Schemas.demographics, sep = ";")

  /** S5: Parquet scan (reference notebook cell 6 reads `sas_data`), its
    * schema read from one footer on the driver by [[Graft.parquet]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    Graft.parquet(spark, path)

  /** CSV sink (header on) — the reverse of S1 for interchange exports. */
  def writeCsv(df: DataFrame, path: String, sep: String = ","): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").option("sep", sep).csv(path)

  /** JSON-lines source/sink — beyond the reference's surface but standard
    * for document pipelines; schema explicit on read, like every source. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** S4: Parquet sink, overwrite mode (reference `dags/transform/airport.py:6-7`).
    * `partitionBy` defaults to the fact table's natural (year, month) — at
    * 100 TB a partitioned layout is what makes downstream month-range
    * queries prune instead of full-scan. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}
