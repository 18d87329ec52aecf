package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** What the jobs started under one span did, summed over their tasks. */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input, peakMem = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
    peakMem = math.max(peakMem, o.peakMem)
  }

  def json: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9, "task_gc_s" -> gcMs / 1e3,
    "shuffle_write_b" -> shuffleWrite, "shuffle_read_b" -> shuffleRead, "spill_b" -> spill,
    "input_b" -> input, "peak_mem_b" -> peakMem)
}

/** One timed call: a pass, a step of a pass, or a step's call into one layer. */
final case class Span(id: Int, parent: Int, name: String, start: Long) {
  var end = 0L
  def seconds: Double = (end - start) / 1e9
}

/** Keeps spans in memory. When attributing, each span's id is set as a
  * SparkContext local property for the duration of the call, and this
  * listener charges every job (with its stages and tasks) to the span that was
  * open on the thread that started it. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var attributing = false
  private val counts = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  def attribute(on: Boolean): Unit = if (on != attributing) {
    drain()
    attributing = on
    if (on) sc.addSparkListener(this) else sc.removeSparkListener(this)
  }

  /** Waits until every event posted so far has reached this listener. */
  def drain(): Unit = if (attributing) org.apache.spark.BenchBus.drain(sc)

  def span[T](name: String)(body: => T): (Span, T) = {
    val s = Span(spans.size, open.headOption.fold(-1)(_.id), name, System.nanoTime())
    spans += s
    open = s :: open
    if (attributing) sc.setLocalProperty(Prop, s.id.toString)
    try (s, body)
    finally {
      s.end = System.nanoTime()
      open = open.tail
      if (attributing) sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Counts charged to `s` by the events delivered so far (see [[drain]]). */
  def countsOf(s: Span): Counts = synchronized(counts.getOrElse(s.id, new Counts))

  private def at(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { id =>
      at(id.toInt).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id.toInt)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = at(span)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  /** Every span as one JSON line, with its self time (duration minus the part
    * its child spans cover; children never overlap on the one main thread). */
  def lines(t0: Long): Seq[String] = {
    val childSeconds = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.toSeq.map { s =>
      Json(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.start - t0) / 1e9, "dur_s" -> s.seconds,
        "self_s" -> (s.seconds - childSeconds.getOrElse(s.id, 0.0))) ++
        synchronized(counts.get(s.id)).fold(Map.empty[String, Any])(_.json))
    }
  }
}

/** Minimal JSON rendering for the harness's own output. Timestamps render
  * as `yyyy-MM-dd HH:mm:ss.SSSSSS`, dates and strings as strings. */
object Json {
  private val Timestamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case n: Number => n.toString
    case t: java.sql.Timestamp => apply(t.toLocalDateTime)
    case t: java.time.LocalDateTime => apply(Timestamp.format(t))
    case r: org.apache.spark.sql.Row => apply(r.toSeq)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}
