package graft.sources

import graft.Graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Month-partitioned lineitem (x131) — the layout that makes DYNAMIC
  * PARTITION PRUNING a plan feature rather than a hope: the fact is laid
  * out by `ship_month` (the standard time-partitioned warehouse shape),
  * and a join against a FILTERED month dimension must prune the fact's
  * partition directories at RUNTIME from the dim's build-side values —
  * Spark inserts a `dynamicpruning` subquery into the scan's
  * PartitionFilters (asserted in DppSpec), so a 100 TB table joined to
  * "the 12 months of 1997" reads 12 directories, not 80.
  *
  * Scale shape: the write is a one-pass projection (dynamic-partition
  * sort per task only); ~one partition dir per month keeps directory
  * listings metadata-sized at any SF. Keyed per source dir and
  * fingerprint-guarded (the x74/x106 artifact discipline).
  */
object MonthStore {

  def ensure(s: SparkSession, d: String): String = Fixture("graft_bymonth", Some(d), "month1") { dir =>
    graft.Graft
      .table(s, d, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_quantity"),
        col("l_extendedprice"),
        col("l_discount"),
        col("l_shipdate"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month")
      )
      .write
      .mode("overwrite")
      .partitionBy("ship_month")
      .parquet(s"$dir/data")
  }

  def read(s: SparkSession, d: String): DataFrame = Graft.parquet(s, s"${ensure(s, d)}/data")
}
