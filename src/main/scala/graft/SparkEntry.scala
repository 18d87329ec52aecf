package graft

import graft.operators.{Advanced, Analytic, Curation, Dedup, Multimodal, Relational, Reshape, Sampling, Similarity, TextAnalysis, TopKPerKey, Warehouse}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query surface is assembled from the operator modules; every entry in
  * [[queries]] with a matching [[oracleSql]] entry is hash-checked by the
  * driver against DuckDB on the same tables.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (driver smoke-checks rows>0):
    * the minimum end-to-end slice of SURVEY.md §7.2 re-expressed on the
    * fixture star schema — scan → broadcast dim joins → agg → top-k. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Graft
      .table(spark, d, "customer")
      .join(broadcast(Graft.table(spark, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(Graft.table(spark, d, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("n_orders").desc, col("n_name"))
      .limit(10)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Advanced.queries ++ Dedup.queries ++ Similarity.queries ++
      TextAnalysis.queries ++ Multimodal.queries ++ Curation.queries ++ Sampling.queries ++
      TopKPerKey.queries ++ Reshape.queries ++ Warehouse.queries ++ Analytic.queries

  /** The [[queries]] named in a comma-separated list, in the order given.
    * Fails naming every unknown name, so a misspelt filter never silently
    * drops a query. */
  def select(names: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val wanted = names.split(",").toSeq
    val unknown = wanted.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    wanted.map(n => n -> all(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Advanced.oracles ++ Dedup.oracles ++ Similarity.oracles ++
      TextAnalysis.oracles ++ Multimodal.oracles ++ Curation.oracles ++ Sampling.oracles ++
      TopKPerKey.oracles ++ Reshape.oracles ++ Warehouse.oracles ++ Analytic.oracles
}
