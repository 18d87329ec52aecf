package graft

import org.apache.spark.sql.functions._

/** Scale-probe input generator (not part of the driver contract): writes
  * all 10 sf0.1 tables into a work dir, the fact tables replicated N× with
  * shifted keys (~10M lineitem rows at N=16), the dims copied as they are.
  * Probing is then an ordinary Bench run on the work dir, which shows
  * whether plans that pass correctness at sf0.01 still behave at 100× that
  * scale (no OOM, no quadratic blowup, runtimes ~linear in input):
  *
  *   runMain graft.ScaleProbe [N] [workDir]      (defaults 16, /tmp/graft_scaleprobe)
  *   SPARK_GRAFT_SF_DIR=<workDir> runMain graft.Bench [q1,q2,...]
  *
  * At 16× a full or large Bench run outgrows the default budget: raise
  * SPARK_GRAFT_BENCH_BUDGET_SEC so the warm sweep and both timed passes run.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(16)
    val work = args.lift(1).getOrElse("/tmp/graft_scaleprobe")
    val src = "/root/testdata/sf0.1"
    val spark = Graft.session("graft-scaleprobe")

    val copies = spark.range(n).toDF("rep")
    def scaleFact(name: String, keyCols: Seq[String]): Unit = {
      val t = Graft.table(spark, src, name)
      val scaled = t
        .crossJoin(broadcast(copies))
        .select(t.columns.map {
          case k if keyCols.contains(k) => (col(k) + col("rep") * 1000000000L).as(k)
          case c => col(c)
        }.toSeq: _*)
      scaled.write.mode("overwrite").parquet(s"$work/$name.parquet")
    }
    scaleFact("lineitem", Seq("l_orderkey"))
    scaleFact("orders", Seq("o_orderkey"))
    // customers scale for the record-linkage and graph queries (their
    // record universe and vertex set are customer-sized)
    scaleFact("customer", Seq("c_custkey"))
    // documents replicate with shifted ids but IDENTICAL text — deliberately
    // the dedup worst case: every doc gains n-1 exact clones, every shingle's
    // document frequency multiplies by n. The probe then shows the df cap
    // and signature-only comparisons absorbing it instead of going quadratic.
    scaleFact("documents", Seq("doc_id"))
    // events scale by replicating USERS (shifted user_id + event_id, same
    // timestamps): n x users with identical per-user session structure —
    // the realistic scale-out for sessionization/SCD2/variant queries,
    // which all partition by user or aggregate per event row
    locally {
      // raw read (NOT Graft.events): ts keeps the generator's physical type
      // so the workdir parquet round-trips through Graft.events' adaptive
      // normalization exactly like the source table does
      val t = Graft.table(spark, src, "events")
      t.crossJoin(broadcast(copies))
        .select(t.columns.map {
          case k @ ("user_id" | "event_id") => (col(k) + col("rep") * 1000000000L).as(k)
          case c => col(c)
        }.toSeq: _*)
        .write.mode("overwrite").parquet(s"$work/events.parquet")
    }
    // customer is NOT in this dim-copy list — it is fact-scaled above
    // (a copy here would clobber the N× table and silently run the
    // customer-sized queries at 1x)
    Seq("region", "nation", "supplier", "part", "embeddings")
      .foreach { t =>
        Graft.table(spark, src, t).write.mode("overwrite").parquet(s"$work/$t.parquet")
      }
    println(s"[probe] generated ${n}x facts at $work")
    spark.stop()
  }
}
