package graft.sources

import graft.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{GraftColStats, GraftTableStats, StatsJoinRule}

/** The persisted optimizer-statistics artifact feeding
  * [[org.apache.spark.sql.graftbridge.StatsJoinRule]] (x265) — the r8
  * verdict's "statistics as input" task: the engine already COMPUTES
  * optimizer-grade statistics as gate-checked instruments (x129 equi-depth
  * histograms with a selectivity estimator, x132 count-min join-size
  * estimates); this persists exactly those shapes per (table, join/filter
  * column) and wires them into a planning decision.
  *
  * One aggregation pass per fixture table computes, per column: NDV
  * (exact), a 16-bucket equi-depth boundary array (the x129 shape —
  * approximate boundaries are fine here: stats feed DECISIONS, results
  * are untouched by construction), and a depth-4 count-min sketch (the
  * x132 shape; inner products across tables estimate join sizes, sharing
  * one string-keyed hash family so l_orderkey⨝o_orderkey aligns).
  * Persisted parquet, fingerprint-guarded on the SOURCE files (the x74/
  * x170 artifact discipline) — regenerated sources invalidate the stats,
  * and [[ensure]] re-wires the rule's provider only after the artifact
  * matches the current fingerprint, so the rule never plans on stale
  * statistics.
  */
object JoinStats {

  def dir(d: String): String = Fixture.dir("graft_joinstats", Some(d))

  val Depth = 4
  val Width = 8192
  val Buckets = 16

  /** join-key and filter columns per fixture table */
  val specs: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "nation" -> Seq("n_nationkey"),
    "region" -> Seq("r_regionkey")
  )

  /** warehouse-path tables included in the artifact (x273's persisted skew
    * fixture — ensuring it here keeps fixture and statistics in lockstep) */
  private def pathSpecs(s: SparkSession, d: String): Seq[(String, String, Seq[String])] = {
    val root = SkewFixture.ensure(s, d)
    Seq(
      ("skewfact", s"$root/skewfact.parquet", Seq("skey")),
      ("skewdim", s"$root/skewdim.parquet", Seq("skey"))
    )
  }

  /** Ensure the skew fixture, then build (if stale) and LOAD the stats,
    * wiring the rule's provider. Steady-state calls are two marker reads +
    * one small parquet load. A build ensures the skew fixture again inside
    * this fixture's lock: locks nest JoinStats → SkewFixture, never the
    * other way round. */
  def ensure(s: SparkSession, d: String): Unit = {
    SkewFixture.ensure(s, d)
    load(s, Fixture("graft_joinstats", Some(d), s"joinstats2|$Depth|$Width|$Buckets|${SkewFixture.Salt}") { dir =>
      StatsJoinRule.provider = Map.empty // never plan on stale stats mid-build
      build(s, d, dir)
    })
  }

  private def build(s: SparkSession, d: String, dir: String): Unit = {
    val qs = (0 to Buckets).map(i => i.toDouble / Buckets)
    val sources: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])] =
      specs.map { case (t, cols) => (t, graft.Graft.table(s, d, t), cols) } ++
        pathSpecs(s, d).map { case (t, p, cols) => (t, Graft.parquet(s, p), cols) }
    val frames = sources.map { case (t, df, cols) =>
      // TWO passes by necessity, not style (16×-probe-found): countDistinct
      // plans through EXPAND, turning the partial aggregate's grouping into
      // the distinct keys — and a TypedImperativeAggregate in the same agg
      // then carries its 256 KB sketch buffer PER EXPANDED GROUP (a ~600 GB
      // shuffle at 16×). Sketch/percentile aggregates stay global here;
      // the distinct census runs alone (the ordinary q12 expand shape).
      val aggs = cols.flatMap { c =>
        Seq(
          graft.functions.CountMin(col(c).cast("string"), Depth, Width).as(s"${c}__cm"),
          percentile_approx(col(c).cast("double"), lit(qs.toArray), lit(2000)).as(s"${c}__bounds")
        )
      } :+ count(lit(1)).as("__rows")
      val ndvAggs = cols.map(c => countDistinct(col(c)).as(s"${c}__ndv"))
      val rNdv = df.agg(ndvAggs.head, ndvAggs.tail: _*).collect().head
      val r = df.agg(aggs.head, aggs.tail: _*).collect().head
      import s.implicits._
      cols
        .map { c =>
          (
            t,
            c,
            r.getAs[Long]("__rows"),
            rNdv.getAs[Long](s"${c}__ndv"),
            Option(r.getAs[scala.collection.Seq[Any]](s"${c}__bounds"))
              .map(_.map(v => if (v == null) Double.NaN else v.asInstanceOf[Number].doubleValue()).toArray)
              .getOrElse(Array.empty[Double]),
            Option(r.getAs[scala.collection.Seq[Any]](s"${c}__cm"))
              .map(_.map(_.asInstanceOf[Number].longValue()).toArray)
              .getOrElse(Array.empty[Long])
          )
        }
        .toDF("table", "column", "n_rows", "ndv", "bounds", "cm")
    }
    frames.reduce(_.unionByName(_)).coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** load the artifact at `dir` into the rule's provider map */
  def load(s: SparkSession, dir: String): Unit = {
    val rows = Graft.parquet(s, s"$dir/stats").collect()
    val byTable = rows.groupBy(_.getAs[String]("table")).map { case (t, rs) =>
      val cols = rs.map { r =>
        r.getAs[String]("column") -> GraftColStats(
          r.getAs[Long]("ndv"),
          Option(r.getAs[scala.collection.Seq[Double]]("bounds")).map(_.toArray).orNull,
          Option(r.getAs[scala.collection.Seq[Long]]("cm")).map(_.toArray).orNull,
          Depth,
          Width
        )
      }.toMap
      t -> GraftTableStats(rs.head.getAs[Long]("n_rows"), cols)
    }
    StatsJoinRule.provider = byTable
  }

  /** drop the wired stats (spec hook: "no stats, no rewrite") */
  def unload(): Unit = StatsJoinRule.provider = Map.empty

  /** Plan audit for the gate row and spec: a logical plan's DEEPEST
    * join's participating tables (sorted, comma-joined) and whether any
    * broadcast hint was injected. */
  def planAudit(df: org.apache.spark.sql.DataFrame): (String, Boolean) =
    planAudit(org.apache.spark.sql.graftbridge.Bridge.analyzedPlan(df))

  def planAudit(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): (String, Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def tables(p: LogicalPlan): Seq[String] = p.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.headOption.map(_.getName.stripSuffix(".parquet")).getOrElse("?")
          case _ => "?"
        }
    }
    val joins = plan.collect { case j: Join => j }
    // deepest = a join with no Join descendant (collect includes self)
    val deepest = joins.filter(j => j.collect { case x: Join => x }.size == 1)
    val pair = deepest.headOption.map(j => tables(j).sorted.mkString(",")).getOrElse("")
    val bcast = joins.exists(j =>
      j.hint.leftHint.exists(_.strategy.nonEmpty) || j.hint.rightHint.exists(_.strategy.nonEmpty)
    )
    (pair, bcast)
  }
}
