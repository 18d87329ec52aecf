package graftbench

import graft.etl.{Clean, Ingest, Model, Quality, SasLabels, Schemas}
import graft.{Graft, SparkEntry}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Runs one workload in one JVM, closed loop, one step after another:
  *   - the session start, timed from the JVM's own start (with
  *     `--session-only <file>` the JVM stops here and writes that time to
  *     the file: `perfbench/run.py` starts several fresh JVMs to time set-up);
  *   - a cold pass, after each step of which the step's output is saved for
  *     the correctness check (untimed);
  *   - warm passes until `--seconds` have gone by and at least `--passes`
  *     untraced warm passes have run. With `--trace 1` every second warm pass
  *     is traced: every step's calls into construction, planning and
  *     execution become spans, and each Spark job is charged to the span that
  *     started it.
  *
  * Raw timings and counts go to `<out>/result.json` and spans to
  * `<out>/spans.jsonl`; `perfbench/run.py` turns them into metrics.
  */
object Main {

  /** Seven of the 43 analytic queries (22 `Relational`, 21 TPC-H-style in
    * `Advanced`), as many as fit a run: an aggregate, a filter, a shuffle
    * join, a window, JSON functions, and two TPC-H-style queries (Q21 and
    * Q2 shapes) that materialize a shared leg with `localCheckpoint` while
    * they are built. */
  val Olap: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q04_join_shuffle", "q08_window_rank",
    "q16_json", "q75_waiting_supplier", "q79_min_cost_supplier")

  /** Two loop operators whose rounds run eager jobs while the frame is built:
    * label propagation and k-means. */
  val Iterative: Seq[String] = Seq("x109_label_propagation", "x57_kmeans")

  /** One step of a pass. `run` calls into the program through `Calls`; the
    * returned closure, if any, saves what the correctness check needs and runs
    * untimed after the cold pass's step. */
  final case class Step(name: String, run: Calls => Option[() => Unit])

  /** Times a step's calls into each layer. Planning is forced as its own call
    * only when attributing; otherwise execution plans on demand. */
  final class Calls(tracer: Tracer, val attributing: Boolean) {
    var exchanges = 0
    def apply[T](layer: String)(body: => T): T = tracer.span(layer)(body)._2
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, seed, seconds) = (opt("workload"), opt("seed").toLong, opt("seconds").toDouble)
    val (trace, data, out) = (opt("trace") == "1", opt("data"), opt("out"))

    val s0 = System.nanoTime()
    val spark = Graft.session("graftbench")
    val setup = Map(
      "session_s" -> (System.nanoTime() - s0) / 1e9,
      "ready_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    if (opt.contains("session-only")) {
      spark.stop()
      Files.writeString(Paths.get(opt("session-only")), Json(setup))
      return
    }
    val tracer = new Tracer(spark.sparkContext)
    val t0 = System.nanoTime()

    // the cold pass runs the steps in their listed order, so the step that
    // pays the JVM's first-use costs is the same in every run
    val steps: Int => Seq[Step] = workload match {
      case "olap" => queries(spark, data, out, Olap, seed)
      case "iterative" => queries(spark, data, out, Iterative, seed)
      case "etl_i94" => _ => etl(spark, data, out)
      case w => sys.error(s"unknown workload $w")
    }

    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gc.map(_.getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def steal = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+")(8).toLong
    val passes = Seq.newBuilder[Map[String, Any]]
    def pass(no: Int, kind: String, attributing: Boolean): Unit = {
      tracer.attribute(attributing)
      val calls = new Calls(tracer, attributing)
      val (gc0, jit0, cpu0, st0) = (gcMs, jit.getTotalCompilationTime, os.getProcessCpuTime, steal)
      val stepRows = Seq.newBuilder[(Span, Either[String, Option[() => Unit]], Int)]
      val (passSpan, _) = tracer.span(s"pass$no") {
        steps(no).foreach { st =>
          calls.exchanges = 0
          val (s, r) = tracer.span(st.name) {
            try Right(st.run(calls))
            catch { case e: Throwable => Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}") }
          }
          stepRows += ((s, r, calls.exchanges))
          if (kind == "cold") r.foreach(_.foreach { check =>
            try check()
            catch { case e: Throwable => System.err.println(s"[graftbench] saving ${st.name} for the check failed: $e") }
          })
        }
      }
      val (gc1, jit1, cpu1, st1) = (gcMs, jit.getTotalCompilationTime, os.getProcessCpuTime, steal)
      tracer.drain()
      System.gc() // every pass starts from a collected heap
      val layersOf = tracer.spans.filter(_.id > passSpan.id).groupBy(_.parent)
      passes += Map(
        "no" -> no, "kind" -> kind, "traced" -> attributing, "wall_s" -> passSpan.seconds,
        "gc_s" -> (gc1 - gc0) / 1e3, "jit_s" -> (jit1 - jit0) / 1e3, "cpu_s" -> (cpu1 - cpu0) / 1e9,
        "steal" -> (st1 - st0),
        "steps" -> stepRows.result().map { case (s, r, exchanges) =>
          val layers = layersOf.getOrElse(s.id, Nil).groupBy(_.name).map { case (layer, ss) =>
            val c = new Counts
            ss.foreach(x => c += tracer.countsOf(x))
            layer -> (c.json + ("s" -> ss.map(_.seconds).sum))
          }
          Map("name" -> s.name, "s" -> s.seconds, "error" -> r.left.toOption, "exchanges" -> exchanges,
            "layers" -> layers)
        })
    }

    pass(0, "cold", trace)
    // with --trace 1 untraced and traced passes alternate, so both kinds see
    // the same stage of the JIT's warm-up and their difference is the trace's cost
    val start = System.nanoTime()
    var (no, warm) = (0, 0)
    do {
      no += 1
      val traced = trace && no % 2 == 0
      if (!traced) warm += 1
      pass(no, if (traced) "traced" else "warm", traced)
    } while ((warm < opt("passes").toInt || no < 2 || (System.nanoTime() - start) / 1e9 < seconds) &&
      !spark.sparkContext.isStopped)

    val result = Map(
      "workload" -> workload, "seed" -> seed, "setup" -> setup,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "cores" -> spark.sparkContext.defaultParallelism, "peak_rss_mb" -> peakRssMb, "passes" -> passes.result(),
      "oracle_sql" -> (Olap ++ Iterative).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
    if (trace) Files.write(Paths.get(s"$out/spans.jsonl"), tracer.lines(t0).asJava)
    spark.stop()
  }

  /** The query workloads: each pass runs every query once and collects its
    * rows; warm passes run them in an order drawn from the seed and the pass
    * number. The cold pass saves each result to `<out>/check_<query>.json`
    * for the DuckDB comparison. */
  def queries(spark: SparkSession, data: String, out: String, names: Seq[String], seed: Long)(pass: Int): Seq[Step] = {
    val all = SparkEntry.queries
    val order = if (pass == 0) names else new scala.util.Random(seed * 1000 + pass).shuffle(names)
    order.map { name =>
      val fn = all(name)
      Step(name, call => {
        val df = call("construct")(fn(spark, data))
        if (call.attributing) call("plan")(df.queryExecution.executedPlan)
        val rows = call("exec")(df.collect())
        if (call.attributing) call.exchanges = exchanges(df.queryExecution.executedPlan)
        Some(() => saveJson(out, name, Map("columns" -> df.columns, "rows" -> rows)))
      })
    }
  }

  /** The I94 pipeline: labels → CSV ingest → clean → star model → parquet
    * partitioned by (year, month), then the output read back for the quality
    * checks and two reports. The cold pass saves what the check compares. */
  def etl(spark: SparkSession, data: String, out: String): Seq[Step] = {
    val starDir = s"$out/star"
    var dims: SasLabels.Dims = null
    var star: DataFrame = null
    def report(name: String, build: DataFrame => DataFrame) = Step(name, call => {
      val df = call("construct")(build(star))
      if (call.attributing) call("plan")(df.queryExecution.executedPlan)
      val rows = call("exec")(df.collect())
      if (call.attributing) call.exchanges = exchanges(df.queryExecution.executedPlan)
      Some(() => saveJson(out, name, Map("columns" -> df.columns, "rows" -> rows)))
    })
    Seq(
      Step("etl.labels", call => {
        dims = call("construct")(SasLabels.load(spark, s"$data/labels.sas"))
        None
      }),
      Step("etl.load", call => {
        val model = call("construct") {
          val states = dims.states.select("code").collect().map(_.getString(0)).toSeq
          val raw = Ingest.csv(spark, s"$data/i94.csv", Schemas.immigrationSample).drop("_row")
          Model.build(spark, Clean.immigration(raw, states), dims)
        }
        if (call.attributing) {
          call("plan")(model.queryExecution.executedPlan)
          call.exchanges = exchanges(model.queryExecution.executedPlan)
        }
        call("exec")(Ingest.writeParquet(model, starDir, Seq("year", "month")))
        Some(() => saveJson(out, "output", Map("bytes" -> dirBytes(starDir))))
      }),
      Step("etl.quality", call => {
        star = call("construct")(Ingest.parquet(spark, starDir))
        val verdicts = call("exec")(
          Seq(
            Quality.nonEmpty(star, "immigration"),
            Quality.uniqueKey(star, "cicid"),
            Quality.fkCoverage(star, "state_code", dims.states, "code"),
            Quality.fkCoverage(star, "port_code", dims.ports, "code")) ++
            Quality.nullRatios(star, Map("cicid" -> 0.0, "arrival_date" -> 0.0, "port_code" -> 0.0, "departure_date" -> 0.1)))
        Some(() => saveJson(out, "quality", Map(
          "rows" -> star.count(),
          "verdicts" -> verdicts.map(v => Map("check" -> v.check, "passed" -> v.passed, "detail" -> v.detail)))))
      }),
      report("etl.report_state_demo", star => {
        val demo = Model.stateDemographics(Ingest.demographics(spark, s"$data/demographics.csv"))
        star.groupBy("state_code").agg(count(lit(1)).as("n_arrivals"))
          .join(broadcast(demo), Seq("state_code"), "left")
          .select(col("state_code"), col("n_arrivals"), col("total_population"), col("foreign_born"),
            round(col("median_age") * 100).cast("long").as("median_age_e2"))
          .orderBy("state_code")
      }),
      report("etl.report_top_ports", star =>
        star.groupBy("port_code", "port_city", "port_state").agg(count(lit(1)).as("n_arrivals"))
          .orderBy(col("n_arrivals").desc, col("port_code")).limit(10)))
  }

  def saveJson(out: String, name: String, v: Any): Unit =
    Files.writeString(Paths.get(s"$out/check_$name.json"), Json(v))

  /** Shuffle and broadcast exchanges in a plan, its subqueries and, under
    * AQE, its current stages. */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => 1 + s.plan.children.map(exchanges).sum
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case p => (p.children ++ p.subqueries).map(exchanges).sum
  }

  def dirBytes(dir: String): Long = {
    val files = Files.walk(Paths.get(dir))
    try files.iterator.asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).map(Files.size).sum
    finally files.close()
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
}
