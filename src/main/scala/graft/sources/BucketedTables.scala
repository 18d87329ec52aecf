package graft.sources

import graft.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Bucketed-table fixtures for the shuffle-free co-located join (x121).
  *
  * Bucketing is THE 100 TB join discipline the brief names explicitly:
  * pay the shuffle once at ingest (`bucketBy` on the join key), and every
  * later equi-join or aggregation on that key is exchange-free — the
  * planner proves both sides' output partitioning matches and plans a
  * sort-merge join with ZERO ShuffleExchange, reading co-located buckets
  * pairwise. On a 1000-executor cluster that turns the nightly
  * fact-to-fact join from the dominant network cost into a local merge;
  * bucket-pruning additionally turns point lookups on the bucket key into
  * 1-of-N file reads (`SelectedBucketsCount` in the scan).
  *
  * Fixture shape: `orders` bucketed+sorted by `o_orderkey` and `lineitem`
  * by `l_orderkey`, both `Buckets` buckets, one file per bucket (the
  * pre-write `repartition` matches task grain to bucket grain, so the
  * merge join needs no per-file sort either). Tables are external
  * catalog entries named per source dir over the fixture's files.
  *
  * SMB-discipline assertions (zero exchanges vs the shuffled plain-parquet
  * twin, bucket pruning) live in SmbJoinSpec; the driver gate pins the
  * bucketed round trip's CONTENT (join result hash vs the parquet
  * original, the x106 ORC pattern).
  */
object BucketedTables {

  val Buckets = 8

  /** (ordersTable, lineitemTable) for the given source dir. The bucketed
    * files are a [[Fixture]]; each session registers them as external
    * catalog tables on first use (the in-memory catalog forgets entries
    * across JVMs while the files persist). */
  def ensure(s: SparkSession, d: String): (String, String) = {
    val tag = new java.io.File(d).getName.replace(".", "_")
    val tables = Seq(
      (s"graft_bkt_orders_$tag", "orders", "o_orderkey"),
      (s"graft_bkt_lineitem_$tag", "lineitem", "l_orderkey")
    )
    val dir = Fixture("graft_bkt", Some(d), s"bkt$Buckets") { dir =>
      for ((tbl, t, key) <- tables) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Graft
          .table(s, d, t)
          .repartition(Buckets, col(key))
          .write
          .mode("overwrite")
          .bucketBy(Buckets, key)
          .sortBy(key)
          .option("path", s"$dir/$t")
          .saveAsTable(tbl)
      }
    }
    for ((tbl, t, key) <- tables if !s.catalog.tableExists(tbl))
      s.sql(
        s"CREATE TABLE $tbl (${Graft.parquet(s, s"$dir/$t").schema.toDDL}) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS LOCATION '$dir/$t'"
      )
    (tables(0)._1, tables(1)._1)
  }
}
