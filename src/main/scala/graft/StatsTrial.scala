package graft

/** Default-on trial for the stats-fed optimizer rules (r10, verdict task
  * 6): run EVERY gate query on an extension-built session
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) with
  * `spark.graft.statsJoin.enabled` / `spark.graft.skewSalt.enabled`
  * toggled OFF then ON per query, and report
  *
  *   - whether the result hash held (it must — the rules may change the
  *     PLAN, never the RESULT), and
  *   - which queries' optimized plans actually changed (the rules' real
  *     blast radius when they run session-wide, like AQE would).
  *
  * The provider is wired up front (JoinStats.ensure) so the whole suite
  * sees fresh statistics — the production posture under trial. Output: one
  * line per changed-or-broken query + a summary line; results land in
  * NOTES.md, plan-changed queries gain plan asserts (the verdict's Done
  * criterion). Not part of the driver contract — run manually:
  *   sbt 'runMain graft.StatsTrial /root/testdata/sf0.01'
  */
object StatsTrial {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Graft.session("graft-stats-trial")
    graft.sources.JoinStats.ensure(spark, sfDir)

    def hashOf(df: org.apache.spark.sql.DataFrame): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val rows = df.collect().map(_.toString).sorted
      md.digest(rows.mkString("").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }

    def withRules(on: Boolean)(body: => (String, String)): (String, String) = {
      spark.conf.set("spark.graft.statsJoin.enabled", on.toString)
      spark.conf.set("spark.graft.skewSalt.enabled", on.toString)
      try body
      finally {
        spark.conf.set("spark.graft.statsJoin.enabled", "false")
        spark.conf.set("spark.graft.skewSalt.enabled", "false")
      }
    }

    var broken = 0
    var changed = 0
    var errored = 0
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    names.foreach { case (name, fn) =>
      try {
        // expression IDs (#123) and temp/checkpoint identifiers differ
        // between two analyses of the SAME query — normalize them out or
        // every query reads as plan-changed
        def planOf(df: org.apache.spark.sql.DataFrame): String =
          org.apache.spark.sql.graftbridge.Bridge
            .optimizedPlan(df)
            .toString
            .replaceAll("#\\d+", "#_")
            .replaceAll("LogicalRDD \\[[^\\]]*\\]", "LogicalRDD")
            .replaceAll("rdd_\\d+", "rdd_")
            // three nondeterministic counters that differ between two
            // analyses of the SAME query (adjudicated in the r10 trial):
            // lambda variable ids, CSE aliases, JVM object addresses
            .replaceAll("lambda x_\\d+", "lambda x_")
            .replaceAll("_common_expr_\\d+", "_common_expr_")
            .replaceAll("@[0-9a-f]+", "@_")
            .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "LambdaX")
        val (hOff, pOff) = withRules(on = false) {
          val df = fn(spark, sfDir)
          (hashOf(df), planOf(df))
        }
        val (hOn, pOn) = withRules(on = true) {
          val df = fn(spark, sfDir)
          (hashOf(df), planOf(df))
        }
        val planChanged = pOff != pOn
        if (planChanged) changed += 1
        if (hOff != hOn) {
          broken += 1
          println(s"[trial] BROKEN $name: hash off=$hOff on=$hOn planChanged=$planChanged")
        } else if (planChanged) {
          println(s"[trial] plan-changed $name (hash held)")
        }
      } catch {
        case e: Throwable =>
          errored += 1
          println(s"[trial] ERROR $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"[trial] summary: ${names.size} queries, $changed plan-changed, $broken hash-broken, $errored errored")
    spark.stop()
  }
}
