package graft.operators

import graft.{Graft, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** x121's SMB discipline, on the shared [[graft.sources.BucketedTables]]
  * fixture (the gate entry pins content; the plan properties live here):
  *   - the fact-to-fact join over the bucketed tables is exchange-FREE
  *     while the identical join over raw parquet shuffles both sides;
  *   - aggregation on the bucket key reuses the bucketing (no exchange);
  *   - a point predicate on the bucket key prunes to 1 of N buckets
  *     (`SelectedBucketsCount`), the metadata-only point-lookup path;
  *   - bucketed content is row-identical to the parquet original.
  * ScaleDisciplineSpec keeps the from-scratch bucketBy smoke test; this
  * spec covers the production-shaped shared fixture the gate reads.
  */
class SmbJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def noBroadcast[T](f: org.apache.spark.sql.SparkSession => T): T = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    f(s2)
  }

  test("bucketed fact-to-fact join is exchange-free; raw parquet twin shuffles") {
    noBroadcast { s2 =>
      val (ot, lt) = graft.sources.BucketedTables.ensure(s2, sf)
      val bucketed = s2
        .table(lt)
        .join(s2.table(ot), col("l_orderkey") === col("o_orderkey"))
      val bPlan = bucketed.queryExecution.executedPlan.toString
      assert(!bPlan.contains("Exchange hashpartitioning"), s"bucketed join shuffled:\n$bPlan")
      assert(bPlan.contains("SortMergeJoin"), bPlan.take(2000))
      val raw = Graft
        .table(s2, sf, "lineitem")
        .join(Graft.table(s2, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      val rPlan = raw.queryExecution.executedPlan.toString
      assert(rPlan.contains("Exchange hashpartitioning"), "raw join unexpectedly shuffle-free")
      assert(bucketed.count() == raw.count())
    }
  }

  test("aggregation on the bucket key reuses the bucketing — no exchange") {
    noBroadcast { s2 =>
      val (ot, _) = graft.sources.BucketedTables.ensure(s2, sf)
      val agg = s2.table(ot).groupBy("o_orderkey").agg(sum("o_totalprice"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"bucketed agg shuffled:\n$plan")
    }
  }

  test("point lookup on the bucket key prunes to 1 of N buckets") {
    noBroadcast { s2 =>
      // a filter-only scan has no partitioning requirement, so the
      // DisableUnnecessaryBucketedScan rule would skip bucketed reading
      // (and with it the pruning display) — turn it off to pin pruning
      s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val (ot, _) = graft.sources.BucketedTables.ensure(s2, sf)
      val key = s2.table(ot).select(min("o_orderkey")).collect()(0).getLong(0)
      val plan = s2.table(ot).where(col("o_orderkey") === key).queryExecution.executedPlan.toString
      val n = graft.sources.BucketedTables.Buckets
      assert(
        plan.contains(s"SelectedBucketsCount: 1 out of $n"),
        s"no bucket pruning in:\n${plan.take(2000)}"
      )
    }
  }

  test("bucketed content is row-identical to the parquet original") {
    val (_, lt) = graft.sources.BucketedTables.ensure(spark, sf)
    val a = spark.table(lt).orderBy("l_orderkey", "l_linenumber").collect()
    val b = Graft
      .table(spark, sf, "lineitem")
      .select(spark.table(lt).columns.map(col).toIndexedSeq: _*)
      .orderBy("l_orderkey", "l_linenumber")
      .collect()
    assert(a.sameElements(b))
  }

  test("a session that finds the bucketed files already built registers them, still exchange-free") {
    noBroadcast { s2 =>
      val (ot, lt) = graft.sources.BucketedTables.ensure(s2, sf)
      // external tables: dropping the catalog entries keeps the files, as
      // a new JVM's empty catalog does
      s2.sql(s"DROP TABLE $ot")
      s2.sql(s"DROP TABLE $lt")
      assert(graft.sources.BucketedTables.ensure(s2, sf) === ((ot, lt)))
      val joined = s2.table(lt).join(s2.table(ot), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"re-registered tables shuffled:\n$plan")
      assert(joined.count() === Graft.table(s2, sf, "lineitem").count())
    }
  }
}
