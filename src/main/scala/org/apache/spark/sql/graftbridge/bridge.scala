package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin bridge into Spark's `private[sql]` Column↔Expression converters so
  * graft's native Catalyst expressions (e.g. [[graft.functions.CosineSimF32]])
  * can be used as ordinary `Column`s from the public DataFrame API. Lives
  * under `org.apache.spark.sql` purely for access; contains no logic.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The materialized RDD behind a `localCheckpoint`ed frame (or a narrow
    * projection of one). `Dataset.unpersist` only talks to the CacheManager
    * and never frees checkpoint blocks — [[graft.operators.Iterate]]
    * unpersists the underlying RDD directly once a round's blocks have no
    * more readers.
    * Returns None for plans not backed by an RDD scan. */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Wrap a DataFrame in a [[TopKPerKeyNode]] (keys/order arrive as columns
    * of `df`; unresolved attributes are resolved by the analyzer against the
    * child). Installs [[TopKPerKeyStrategy]] on the session's experimental
    * strategies if absent — idempotent, so the operator is self-contained on
    * any session (the `spark.sql.extensions` path in
    * [[graft.plans.GraftExtensions]] covers extension-built sessions). */
  def topKPerKey(
      df: org.apache.spark.sql.DataFrame,
      keys: Seq[Column],
      order: Seq[Column],
      k: Int
  ): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
    // Eager ColumnNode→Catalyst conversion: the lazy ColumnNodeExpression
    // from ExpressionUtils.expression is a driver-side shim that custom nodes
    // never get rewritten out of (and it is not serializable into tasks).
    def catalystExpr(c: Column): Expression =
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
    val sortOrders = order.map(catalystExpr).map {
      case so: org.apache.spark.sql.catalyst.expressions.SortOrder => so
      case e =>
        org.apache.spark.sql.catalyst.expressions.SortOrder(
          e,
          org.apache.spark.sql.catalyst.expressions.Ascending
        )
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark,
      TopKPerKeyNode(keys.map(catalystExpr), sortOrders, k, ds.queryExecution.analyzed)
    )
  }

  /** Apply [[EagerAggRule]] to a frame's analyzed plan and return the
    * rewritten frame plus whether the rule fired — the explicit,
    * session-isolated invocation the x160 gate uses (the
    * `spark.sql.extensions` / `experimental.extraOptimizations` paths
    * apply the same rule session-wide). */
  def eagerAgg(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Boolean) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val analyzed = ds.queryExecution.analyzed
    val rewritten = EagerAggRule(analyzed)
    (
      org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, rewritten),
      !rewritten.fastEquals(analyzed)
    )
  }

  /** Apply [[StatsJoinRule]] to a frame's analyzed plan and return the
    * rewritten frame plus whether it changed — the explicit, session-
    * isolated invocation the x265 gate uses (the `spark.sql.extensions`
    * path applies the same rule session-wide behind
    * spark.graft.statsJoin.enabled). */
  def statsJoin(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Boolean) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val analyzed = ds.queryExecution.analyzed
    val rewritten = StatsJoinRule.rewrite(analyzed)
    (
      org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, rewritten),
      !rewritten.fastEquals(analyzed)
    )
  }

  /** explicit StatsSkewRule invocation (x273) — rewrite + did-it-fire */
  def statsSkew(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Boolean) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val analyzed = ds.queryExecution.analyzed
    val rewritten = StatsSkewRule.rewrite(analyzed)
    (
      org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, rewritten),
      !rewritten.fastEquals(analyzed)
    )
  }

  /** does a frame's logical plan carry x273's salt projection? */
  def saltAudit(df: org.apache.spark.sql.DataFrame): Boolean =
    analyzedPlan(df)
      .collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project
            if p.projectList.exists(_.name == "_gsalt") =>
          true
      }
      .getOrElse(false)

  /** a frame's analyzed logical plan (plan-audit hook) */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]].queryExecution.analyzed

  /** a frame's OPTIMIZED logical plan — what session-injected rules have
    * already transformed (the toggle-path audit hook) */
  def optimizedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]].queryExecution.optimizedPlan

  /** Register a function builder on a live session (the runtime counterpart
    * of wiring `spark.sql.extensions=graft.plans.GraftExtensions` at
    * session build time). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
      .functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  private def sessionState(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** The session's SQL conf ([[graft.Graft.parquet]] builds its schema
    * converter from it, as Spark's inference task does). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    sessionState(spark).conf

  /** The Hadoop conf a file read of this session plans with. */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    sessionState(spark).newHadoopConf()

  /** A file read's root paths as `DataFrameReader.load` resolves them:
    * qualified, globbed, and `PATH_NOT_FOUND` for a missing one. */
  def readPaths(
      paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration
  ): Seq[org.apache.hadoop.fs.Path] =
    org.apache.spark.sql.execution.datasources.DataSource.checkAndGlobPathIfNecessary(
      paths,
      conf,
      checkEmptyGlobPath = true,
      checkFilesExist = true,
      enableGlobbing = true
    )

  /** `InMemoryFileIndex`'s listing rule: `_`/`.` names are hidden, except
    * `=` partition directories and the two parquet summary files. */
  def hiddenName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
