package graft.plans

import graft.TestSpark
import graft.sources.JoinStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Stats-fed join planning (x265): the rule must change PLANS exactly when
  * the statistics justify it and NEVER change results — every positive
  * test pins the rewritten result against the untouched twin, every
  * bail-out pins the plan unchanged. */
class StatsJoinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def misordered: DataFrame = {
    val li = graft.Graft
      .table(spark, d, "lineitem")
      .select(col("l_orderkey"), expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val ord = graft.Graft.table(spark, d, "orders").select("o_orderkey", "o_custkey")
    val cust =
      graft.Graft.table(spark, d, "customer").where(col("c_custkey") < 15).select("c_custkey", "c_nationkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_items"), sum("cents").as("revenue_cents"))
  }

  test("mis-ordered chain: reorder + broadcast hint fire; result equals the untouched twin") {
    JoinStats.ensure(spark, d)
    val q = misordered
    val (on, fired) = Bridge.statsJoin(q)
    assert(fired)
    val (pairOn, bcastOn) = JoinStats.planAudit(on)
    val (pairOff, bcastOff) = JoinStats.planAudit(q)
    assert(pairOn === "customer,orders", "the selective pair must move to the bottom of the chain")
    assert(bcastOn, "the 15-customer stripe must carry a broadcast hint")
    assert(pairOff === "lineitem,orders" && !bcastOff, "the twin must stay as written")
    val a = on.orderBy("c_nationkey").collect().toSeq
    val b = q.orderBy("c_nationkey").collect().toSeq
    assert(a === b, "the rule may change the plan, never the result")
    assert(a.nonEmpty)
  }

  test("bail-outs: outer joins, non-equi conditions, missing stats all leave the plan untouched") {
    JoinStats.ensure(spark, d)
    val li = graft.Graft.table(spark, d, "lineitem").select("l_orderkey")
    val ord = graft.Graft.table(spark, d, "orders").select("o_orderkey", "o_custkey")
    val cust = graft.Graft.table(spark, d, "customer").where(col("c_custkey") < 15).select("c_custkey")
    // LEFT join: never rewritten (reorder is only sound for inner chains)
    val outer = li
      .join(ord, col("l_orderkey") === col("o_orderkey"), "left")
      .join(cust, col("o_custkey") === col("c_custkey"), "left")
    assert(!Bridge.statsJoin(outer)._2)
    // theta condition: bails
    val theta = li
      .join(ord, col("l_orderkey") < col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    val (_, thetaFired) = Bridge.statsJoin(theta)
    assert(!thetaFired)
    // no stats wired: nothing fires, even on the canonical shape
    JoinStats.unload()
    assert(!Bridge.statsJoin(misordered)._2)
    JoinStats.ensure(spark, d)
  }

  test("2-way join below the broadcast threshold gets a hint but no reorder") {
    JoinStats.ensure(spark, d)
    val ord = graft.Graft.table(spark, d, "orders").select("o_orderkey", "o_custkey")
    val cust = graft.Graft.table(spark, d, "customer").where(col("c_custkey") < 15).select("c_custkey")
    val q = ord.join(cust, col("o_custkey") === col("c_custkey"))
    val (on, fired) = Bridge.statsJoin(q)
    assert(fired)
    val (_, bcast) = JoinStats.planAudit(on)
    assert(bcast)
    assert(on.count() === q.count())
  }

  test("session default-on: the INJECTED rule reorders the plain chain with no Bridge call") {
    JoinStats.ensure(spark, d)
    // the optimized plan is where injected rules live — the reorder must
    // fire through the session pipeline (seeing through ColumnPruning's
    // inter-join Projects), not only via the explicit Bridge path
    val (pairOn, bcastOn) = JoinStats.planAudit(Bridge.optimizedPlan(misordered))
    assert(pairOn === "customer,orders", "session-path reorder must pull the selective pair down")
    assert(bcastOn, "the stripe must carry the injected broadcast hint")
    spark.conf.set("spark.graft.statsJoin.enabled", "false")
    val off =
      try {
        val (pairOff, bcastOff) = JoinStats.planAudit(Bridge.optimizedPlan(misordered))
        val rows = misordered.orderBy("c_nationkey").collect().toSeq
        (pairOff, bcastOff, rows)
      } finally spark.conf.set("spark.graft.statsJoin.enabled", "true")
    assert(off._1 === "lineitem,orders" && !off._2, "conf-off twin stays as written")
    assert(misordered.orderBy("c_nationkey").collect().toSeq === off._3,
      "the session rule may change the plan, never the result")
  }

  test("stale sources invalidate the artifact: ensure rebuilds and re-wires") {
    JoinStats.ensure(spark, d)
    assert(org.apache.spark.sql.graftbridge.StatsJoinRule.provider.nonEmpty)
    val tables = org.apache.spark.sql.graftbridge.StatsJoinRule.provider.keySet
    assert(tables.contains("lineitem") && tables.contains("customer"))
    // a poisoned marker forces a rebuild on the next ensure
    java.nio.file.Files.write(
      new java.io.File(s"${JoinStats.dir(d)}/src_key").toPath,
      "stale".getBytes("UTF-8")
    )
    JoinStats.ensure(spark, d)
    assert(org.apache.spark.sql.graftbridge.StatsJoinRule.provider.nonEmpty)
    // the rebuilt stats still drive the reorder
    val (_, fired) = Bridge.statsJoin(misordered)
    assert(fired)
  }
}
