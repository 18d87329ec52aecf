package graft.etl

/** Where the reference project's input files live: the I94 SAS labels,
  * the immigration sample CSV, the demographics CSV and the Spark-written
  * `sas_data` parquet. Queries, their DuckDB oracles, `Verify` and the etl
  * specs all read through [[root]], so the location is spelt once. */
object ReferenceData {
  val root = "/root/reference"
}
