package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ORC as a second columnar store format (x106) — the interchange shape a
  * warehouse user hits when upstream systems (Hive-era pipelines, Trino
  * clusters) publish ORC instead of parquet. The engine's contract is that
  * format choice is invisible to query results: the same projection written
  * to ORC and read back must hash-match the parquet original on every
  * query, while keeping the scan-side scale features parquet enjoys —
  * predicate pushdown into stripe/row-group skipping, partition-directory
  * pruning, and column pruning (all plan-asserted in OrcStoreSpec).
  *
  * Scale shape: the ORC write is a one-pass, shuffle-free projection of the
  * source scan (partitionBy adds only a dynamic-partition sort within each
  * task); reads are vectorized (`spark.sql.orc.enableVectorizedReader`
  * defaults on) with the same pushdown surface the parquet scans get. At
  * 100 TB the format conversion is embarrassingly parallel and the query
  * side is format-agnostic by construction.
  *
  * The artifact is keyed per source dir (the x74 lesson: any oracle that
  * reads mutable fixture state must key that state by its source) and
  * fingerprint-guarded so it rebuilds exactly when the fixture changes.
  */
object OrcStore {

  def dirFor(d: String): String = Fixture.dir("graft_orc", Some(d))

  /** Write the lineitem projection to zlib ORC, partitioned by return flag
    * (so partition pruning is exercisable), once per fixture fingerprint. */
  def ensure(s: SparkSession, d: String): Unit = Fixture("graft_orc", Some(d), "orc1") { dir =>
    graft.Graft
      .table(s, d, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity"),
        col("l_extendedprice"),
        col("l_discount"),
        col("l_shipdate"),
        col("l_linestatus"),
        col("l_returnflag")
      )
      .write
      .mode("overwrite")
      .option("compression", "zlib")
      .partitionBy("l_returnflag")
      .orc(s"$dir/data")
  }

  def read(s: SparkSession, d: String): DataFrame = s.read.orc(s"${dirFor(d)}/data")

  /** x301 fixture: the orders keys SORTED into one small-stripe ORC file,
    * so stripe statistics windows are disjoint and range probes can skip
    * whole stripes. Fingerprint-guarded like everything else.
    */
  def ensureSorted(s: SparkSession, d: String): String = Fixture("graft_orc_sorted", Some(d), "orc_sorted1") { dir =>
    graft.Graft
      .table(s, d, "orders")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderpriority")
      )
      .coalesce(1)
      .sortWithinPartitions("o_orderkey")
      .write
      .option("compression", "zlib")
      .option("orc.stripe.size", (64 * 1024).toString)
      .mode("overwrite")
      .orc(s"$dir/data")
  } + "/data"
}
