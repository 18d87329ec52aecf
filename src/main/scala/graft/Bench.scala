package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. An optional argument, a
  * comma-separated list of query names
  * (`runMain graft.Bench q01_pricing_summary,q62_pagerank`) runs only those
  * through the same passes, guards and line, e.g. to time a few queries in
  * a fresh JVM; an unknown name fails before the session starts. Results
  * are forced through the `noop` sink so the full plan executes (a bare
  * `.count()` would let Catalyst prune the projected columns away and
  * under-measure scans).
  *
  * Artifact integrity: a single timed run is never trustworthy — even on
  * an idle machine, individual queries show 10-25x one-off JIT/GC spikes
  * between back-to-back clean passes, and co-tenant JVMs inflate whole
  * stretches of a pass (both classes documented in NOTES.md and observed
  * in the r4/r5 driver artifacts). So: one untimed warm sweep (codegen +
  * shuffle files), then up to TWO timed end-to-end suite passes,
  * publishing the per-query MINIMUM.
  *
  * Artifact availability (the r9/r10 lesson — two rounds of rc=124): at
  * 400+ queries even pass 1 can outgrow the driver's capture window when
  * co-tenant load steals the box. Defenses, in order of resort:
  *   1. STREAMING partials: during every timed pass, a `"partial":true`
  *      JSON line with all per-query results so far is printed to stdout
  *      (and flushed to bench_last.json) every 25 queries. A driver that
  *      takes the last parseable stdout line gets per-query data from a
  *      run killed at ANY point after the first 25 timed queries.
  *   2. The warm sweep is budget-gated: when warm-elapsed exceeds 40% of
  *      SPARK_GRAFT_BENCH_BUDGET_SEC the sweep is abandoned and the timed
  *      pass starts — half-warm numbers beat an empty artifact.
  *   3. The complete JSON line is printed AND file-flushed after the
  *      FIRST timed pass (`passes:1`), then overwritten after the second
  *      (`passes:2`). Pass 2 only runs if elapsed + measured-pass-1 time
  *      fits the budget.
  *   4. A JVM shutdown hook writes whatever per-query results exist to
  *      bench_last.json with `"partial":true` — a SIGTERM mid-pass still
  *      leaves a lift-able per-query record on disk.
  *
  * Truthfulness: a failed query yields NaN (never entered into the min —
  * a stopped SparkContext makes every "run" fail in ~0 s and a min()
  * against those would fabricate a fast tail), a stopped context aborts
  * the sweep, and queries that failed every timed attempt are listed in
  * the `"failed":[...]` field so a shrunken query set is machine-visible
  * rather than silently absent from the totals.
  */
object Bench {
  // suite-JVM drag telemetry: per-query cost crept 1.15→1.42 s/q over
  // rounds r8→r10 while one JVM executed an ever-growing suite —
  // publish the JVM-level costs so the drag is visible in the artifact
  // instead of masking operator regressions. `codegen_compiles` counts
  // Janino compiles (generated-class cache misses; a warm pass that adds
  // to it is recompiling evicted classes), `codegen_ms` their summed time.
  def jvmTelemetry: String = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jitMs =
      Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(-1L)
    def poolMb(name: String): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains(name))
      .map(_.getUsage.getUsed)
      .sum / (1 << 20)
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1 << 20)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = compiles.getSnapshot
    // the histogram's reservoir keeps at most 1028 samples: the sum is
    // exact below that and scaled up to the full count above it
    val codegenMs =
      if (snap.size == 0) 0L else snap.getValues.sum * compiles.getCount / snap.size
    s""""jvm":{"gc_ms":$gcMs,"jit_ms":$jitMs,"code_cache_mb":${poolMb("CodeHeap")},"heap_mb":$heapMb,""" +
      s""""metaspace_mb":${poolMb("Metaspace")},"codegen_compiles":${compiles.getCount},"codegen_ms":$codegenMs}"""
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.fold(SparkEntry.queries.toSeq.sortBy(_._1))(SparkEntry.select)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(1500.0)
    val wallStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wallStart) / 1e9
    val spark = Graft.session("graft-bench")
    def stopped: Boolean = spark.sparkContext.isStopped
    def run1(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame, name: String): Boolean =
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
    def timed(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame, name: String): Double = {
      val t0 = System.nanoTime()
      val ok = run1(fn, name)
      if (!ok || stopped) Double.NaN else (System.nanoTime() - t0) / 1e9
    }
    def loadavg: Double = {
      val v = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      math.round(v * 100) / 100.0
    }
    // best-known per-query seconds; the shutdown hook and the streaming
    // partial emitter read this concurrently, so it must be consistent at
    // every point (updated one entry at a time)
    val best = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    // queries whose every timed attempt so far failed (a later successful
    // pass removes them) — published so a missing entry is never silent
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def mkLine(passes: Int, loadStart: Double, waited: Int, partial: Boolean): String = {
      import scala.jdk.CollectionConverters._
      val entries = best.asScala.toSeq.sortBy(_._1)
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val total = entries.map(_._2).sum
      val partialField = if (partial) ""","partial":true""" else ""
      val failedField =
        if (failed.isEmpty) ""
        else failed.asScala.toSeq.sorted.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","passes":$passes,"loadavg_start":$loadStart,"loadavg_end":$loadavg,"waited_sec":$waited,$jvmTelemetry$failedField$partialField}"""
    }
    def writeFile(line: String): Unit =
      try { val w = new java.io.PrintWriter("bench_last.json"); w.println(line); w.close() }
      catch { case _: Throwable => () }

    // act on the contention signal instead of just reporting it (the r7
    // driver artifact published 2-4x-inflated queries at loadavg 7.92):
    // wait out co-tenant load in bounded 15 s steps — up to 10 min, then
    // run anyway (the waited_sec field + loadavg_start still tell the
    // reader exactly what happened). Load is what OTHER processes use
    // right now, sampled over one second: the 1-minute load average still
    // carries this run's own compile and JVM start.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def busyElsewhere: Double = {
      os.getCpuLoad; os.getProcessCpuLoad // both measure from here
      Thread.sleep(1000)
      math.max(0.0, os.getCpuLoad - os.getProcessCpuLoad) * Runtime.getRuntime.availableProcessors
    }
    val settleLimitSec = 600
    var waited = 0
    while (busyElsewhere > 2.0 && waited < settleLimitSec) {
      System.err.println(s"[bench] other processes keep > 2 cores busy — waiting (${waited}s/${settleLimitSec}s)")
      Thread.sleep(15000)
      waited += 15
    }
    val loadStart = loadavg
    @volatile var hookPasses = 0
    val hook = new Thread(() => writeFile(mkLine(hookPasses, loadStart, waited, partial = true)))
    Runtime.getRuntime.addShutdownHook(hook)
    // untimed warm sweep: one-time Janino codegen + plan-cache costs are
    // 0.9-6 s per query shape, independent of data size — noise at 100 TB,
    // dominant at sf0.1. Steady state is what the number should mean.
    // Budget-gated (r10 lesson): under co-tenant steal a full warm sweep
    // can eat the whole capture window before a single timed number
    // exists; past 40% of budget, abandon warm and start timing.
    val warmBudgetSec = budgetSec * 0.4
    var warmAbandoned = false
    names.iterator.takeWhile(_ => !stopped).foreach { case (name, fn) =>
      if (elapsedSec <= warmBudgetSec) run1(fn, name)
      else if (!warmAbandoned) {
        warmAbandoned = true
        System.err.println(f"[bench] warm budget guard: ${elapsedSec}%.0f s > ${warmBudgetSec}%.0f s (40%% of ${budgetSec}%.0f) — abandoning warm sweep at $name")
      }
    }
    // timed pass with streaming partials: every `streamEvery` queries,
    // print + flush a partial:true line so a killed run still lands
    // per-query data on stdout (not only in bench_last.json)
    val streamEvery = 25
    def timedPass(passNo: Int): Unit = {
      var n = 0
      names.iterator.takeWhile(_ => !stopped).foreach { case (name, fn) =>
        val t = timed(fn, name)
        if (!t.isNaN) {
          failed.remove(name)
          val prev = if (best.containsKey(name)) best.get(name) else Double.MaxValue
          best.put(name, math.min(prev, t))
        } else if (!stopped && !best.containsKey(name)) failed.add(name)
        n += 1
        if (n % streamEvery == 0) {
          val p = mkLine(passNo - 1, loadStart, waited, partial = true)
          println(p); Console.out.flush()
          writeFile(p)
        }
        if (n % 100 == 0)
          System.err.println(s"[bench] pass $passNo q$n: {$jvmTelemetry} loadavg=$loadavg")
      }
    }
    val pass1Start = elapsedSec
    timedPass(1)
    if (stopped) return // last streamed partial + the hook's line are the artifact
    val pass1Sec = elapsedSec - pass1Start
    hookPasses = 1
    val line1 = mkLine(1, loadStart, waited, partial = false)
    println(line1); Console.out.flush()
    writeFile(line1)
    // pass 2 publishes per-query min, but only if it fits the budget —
    // a lost artifact costs more than a slightly noisier one (r9: rc=124)
    val fits = elapsedSec + pass1Sec <= budgetSec
    if (fits) {
      timedPass(2)
      if (stopped) return // pass-1 line + the hook's partial both on disk
      hookPasses = 2
      val line2 = mkLine(2, loadStart, waited, partial = false)
      println(line2); Console.out.flush()
      writeFile(line2)
    } else {
      System.err.println(f"[bench] budget guard: elapsed ${elapsedSec}%.0f s + pass1 ${pass1Sec}%.0f s > budget ${budgetSec}%.0f s — skipping pass 2 (passes:1)")
    }
    Runtime.getRuntime.removeShutdownHook(hook)
    spark.stop()
  }
}
