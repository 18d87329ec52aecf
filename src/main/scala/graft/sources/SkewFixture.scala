package graft.sources

import graft.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** x273's persisted skew fixture: a deliberately skewed fact (70% of
  * lineitem's rows on one derived key — x270's construction, PERSISTED so
  * the join sides are real parquet leaves the optimizer rule can resolve
  * stats for) and its key dim. Written once per source dir,
  * fingerprint-guarded; [[JoinStats.ensure]] builds statistics for both
  * tables, which is what arms StatsSkewRule.
  */
object SkewFixture {

  val Salt = "skewfix-v1"

  def dir(d: String): String = Fixture.dir("graft_skewfix", Some(d))

  def ensure(s: SparkSession, d: String): String = Fixture("graft_skewfix", Some(d), Salt) { root =>
    val fact = graft.Graft
      .table(s, d, "lineitem")
      .select(
        expr("CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 997 END").as("skey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")
      )
    fact.write.mode("overwrite").parquet(s"$root/skewfact.parquet")
    Graft.parquet(s, s"$root/skewfact.parquet")
      .select(col("skey"))
      .distinct()
      .select(col("skey"), concat(lit("s"), col("skey")).as("sname"))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$root/skewdim.parquet")
  }
}
