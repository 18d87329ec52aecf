package graft.streaming

import graft.Graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Structured-Streaming surface [EXT] (the reference is batch-only,
  * SURVEY.md §2.6; the `events` fixture reserves room for this slice).
  *
  * The transforms are defined on plain DataFrames so the SAME logic runs in
  * batch (driver's oracle check, `q20_events_window`) and as an incremental
  * streaming query — the idiomatic Spark pattern: one declarative plan, two
  * execution modes.
  */
object EventStreams {

  /** Tumbling 5-minute counts per event type with a 10-minute watermark —
    * late events beyond the watermark are dropped, state is bounded, so the
    * query runs forever at any input rate. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
  final case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful sessionization via mapGroupsWithState: per-user running
    * totals carried across micro-batches. State per key is O(1) — bounded
    * memory regardless of stream length. (Eviction of idle keys would add
    * `GroupStateTimeout.ProcessingTimeTimeout`; kept timeout-free so
    * `processAllAvailable` semantics stay deterministic in tests.) */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
          val (n, tot, last) = rows.foldLeft((prev.nEvents, prev.total, prev.lastTs)) { case ((c, t, l), e) =>
            (c + 1, t + e.value, math.max(l, e.ts.getTime))
          }
          state.update(SessionState(n, tot, last))
          SessionOut(user, n, tot)
      }
  }

  final case class TopKState(items: List[(Long, Long)]) // (score, event_id), ascending
  final case class TopKOut(event_type: String, rank: Int, event_id: Long, score: Long)

  /** Streaming top-k-per-key — the incremental face of the q51 bounded-heap
    * operator: per key, mapGroupsWithState carries ONLY the current top-k
    * (score, id) pairs across micro-batches (state O(k) per key regardless
    * of stream length — the same bounded-memory contract as the batch
    * exec's heaps), emitting each key's refreshed ranking. Scores are
    * integer cents with event_id tie-break, the gate's total-order
    * convention, so the ranking is deterministic under any batch split —
    * asserted in the spec by feeding the same rows in different batch
    * arrangements. */
  def streamingTopK(events: Dataset[Event], k: Int = 3): Dataset[TopKOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[TopKState, TopKOut](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (key: String, rows: Iterator[Event], state: GroupState[TopKState]) =>
        val incoming = rows.map(e => (math.round(e.value * 100), e.event_id))
        val merged = (state.getOption.map(_.items).getOrElse(Nil) ++ incoming)
          .sortBy { case (s, id) => (-s, -id) } // best first: high score, high id
          .take(k)
        state.update(TopKState(merged))
        merged.zipWithIndex.iterator.map { case ((s, id), i) => TopKOut(key, i + 1, id, s) }
      }
  }

  final case class GapState(start: Long, last: Long, n: Long, total: Double)
  final case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long, total_value: Double)

  /** Gap-based session windows via flatMapGroupsWithState — the streaming
    * face of the batch q36 sessionization, and the case mapGroupsWithState
    * cannot express: one invocation may emit ZERO sessions (gap still
    * open), or SEVERAL (a batch whose events straddle multiple gaps), so
    * the output arity must be an Iterator. Sessions close two ways:
    *   - in-batch, when consecutive events for a user are > `gapMinutes`
    *     apart (emitted immediately);
    *   - by event-time timeout, when the WATERMARK passes `last + gap` —
    *     the state is evicted and the final open session flushed. State
    *     per user is O(1) and the watermark bounds total state, so the
    *     query runs forever on an unbounded stream. */
  def gapSessions(events: Dataset[Event], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, ClosedSession](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[GapState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start, s.last, s.n, s.total))
          } else {
            // events within one micro-batch are unordered — sort before folding
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.Buffer.empty[ClosedSession]
            var st = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              st match {
                case Some(s) if t - s.last <= gapMs =>
                  st = Some(GapState(s.start, math.max(s.last, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += ClosedSession(user, s.start, s.last, s.n, s.total)
                  st = Some(GapState(t, t, 1L, e.value))
                case None =>
                  st = Some(GapState(t, t, 1L, e.value))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** NATIVE session-window aggregation in streaming mode — the built-in
    * complement of [[gapSessions]]' custom state machine (and the streaming
    * face of the q71 batch query: identical expression, identical inclusive
    * end-boundary semantics). Append mode emits each session exactly once,
    * when the watermark passes `last event + gap` and the window can no
    * longer grow; Spark's UpdatingSessions state merges in-place, so state
    * per user is one open session, watermark-bounded. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("user_id"),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events"),
        col("sum_value")
      )

  final case class RunningTotal(user_id: Long, event_id: Long, n_so_far: Long, cents_so_far: Long)

  /** Spark 4 `transformWithState` [EXT] — the modern arbitrary-state API
    * (successor to map/flatMapGroupsWithState): typed, composable state
    * variables managed per key. Running per-user totals emitted per event:
    * each input row reads + updates two `ValueState`s and emits the
    * cumulative position — the account-balance / feature-freshness shape.
    * In-batch order is pinned by sorting on event_id (micro-batch iterator
    * order is NOT a contract — same lesson as the CDC upsert sink).
    * Requires the RocksDB state store provider (set in the spec); state is
    * two longs per user, bounded by the key universe. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, RunningTotal] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    @transient private var nState: ValueState[Long] = _
    @transient private var centsState: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      centsState = getHandle.getValueState[Long]("cents", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[RunningTotal] = {
      var n = if (nState.exists()) nState.get() else 0L
      var cents = if (centsState.exists()) centsState.get() else 0L
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        n += 1
        cents += math.round(e.value * 100)
        RunningTotal(key, e.event_id, n, cents)
      }
      nState.update(n)
      centsState.update(cents)
      out.iterator
    }
  }

  /** Running per-user totals via transformWithState (see
    * [[RunningTotalsProcessor]]). */
  def runningTotals(events: Dataset[Event]): Dataset[RunningTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update()
      )
  }

  /** Streaming dedup [EXT]: the streaming face of the x01/x15 batch dedup
    * operators. `dropDuplicatesWithinWatermark` keeps per-key state only
    * until the watermark passes the key's event time — bounded state on an
    * unbounded stream (a plain dropDuplicates would grow state forever).
    * Dedup key defaults to the natural id; pass e.g. md5(text) upstream for
    * content dedup of a document stream. */
  def dedupStream(events: DataFrame, keys: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keys)

  /** Stream↔static enrichment join: per micro-batch hash join against a
    * (broadcastable) dimension — no streaming state at all, the standard
    * shape for decorating an event stream with slowly-changing dims. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream event-time join [EXT]: each purchase joined to the same
    * user's clicks within the preceding hour — the streaming face of the
    * q29 as-of/attribution join. Watermarks on BOTH sides plus the time
    * range let Spark evict join state once the watermark passes
    * `purchase_ts - 1 hour`, so state stays bounded on unbounded streams
    * (an unconstrained stream-stream join would buffer forever). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attributionJoined(clicks, purchases, "inner")

  /** shared wiring for both attribution faces — window, watermarks and
    * projection live ONCE (review-found duplication) */
  private def attributionJoined(clicks: DataFrame, purchases: DataFrame, joinType: String): DataFrame = {
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"), col("value"))
    p.join(
      c,
      expr("""p_user = c_user AND
             |click_ts >= purchase_ts - INTERVAL 1 HOUR AND
             |click_ts <= purchase_ts""".stripMargin),
      joinType
    ).select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"), col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** LEFT-OUTER stream-stream join [EXT] — the attribution join's other
    * face: every purchase emits, matched to its preceding clicks or with
    * NULL click columns once the join window can no longer match (organic
    * vs attributed purchases in one stream). The null-padded row cannot
    * emit eagerly — a matching click may still arrive — so Spark holds it
    * until BOTH watermarks pass the window end; same bounded state as the
    * inner join, plus that deferred emission. */
  def attributionJoinOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attributionJoined(clicks, purchases, "leftOuter")

  /** FULL-OUTER stream-stream join [EXT] — completes the streaming join
    * family (inner → left-outer → full): unmatched purchases null-pad the
    * click columns AND unmatched clicks null-pad the purchase columns
    * (the non-converting-click stream a funnel analysis needs), each
    * deferred until both watermarks prove its join window can no longer
    * match. State bound is identical to the inner join — the outer faces
    * add emission timing, not state classes. */
  def attributionJoinFull(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attributionJoined(clicks, purchases, "fullOuter")

  /** Streaming curation gate [EXT]: the per-document quality filter + PII
    * scrub as an incremental query — documents arriving on a stream are
    * token-counted, dropped when too short, and redacted, exactly the batch
    * x08/x17 semantics (the expressions are shared, not re-implemented).
    * Every transform is stateless/per-row, so there is NO state store at
    * all: the query sustains any input rate and never grows memory — the
    * ingest-time shape of a training-data pipeline that curates as data
    * lands rather than in a nightly batch. */
  def curateDocs(docs: DataFrame, minTokens: Int = 3): DataFrame =
    docs
      .withColumn("n_tokens", size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
      .where(col("n_tokens") >= minTokens)
      .select(
        col("doc_id"),
        col("n_tokens"),
        graft.operators.Curation.redact(col("text")).as("text")
      )

  final case class BandDoc(doc_id: Long, ts: java.sql.Timestamp, band: Int, k: Long, lo: Long, hi: Long)
  final case class BandState(entries: List[(Long, Long, Long)]) // (doc_id, lo, hi)
  final case class BandVerdict(doc_id: Long, band: Int, dup_of: Long)

  /** Streaming NEAR-duplicate gate [EXT] (x189's spec subject) — the
    * streaming face of x69's shard-vs-corpus ingestion gate: documents
    * arrive as a stream, and each must be checked against EVERYTHING seen
    * so far without re-scanning a corpus. Machinery is x04's lossless
    * SimHash banding (62-bit signature via the native codegen expression,
    * 4×15/16-bit bands — hamming ≤ 3 pigeonholes into ≥ 1 identical
    * band), and the "seen" side lives in PER-BAND-BUCKET streaming state
    * (`flatMapGroupsWithState`): a new doc probes only its 4 buckets'
    * entries, exactly the batch inverted-index discipline rendered as
    * state lookups. Emissions are per (doc, band) — dup_of = the SMALLEST
    * seen doc_id within hamming ≤ 3, or −1 — so the any-band fold is the
    * caller's (the per-doc verdict needs a second stateful agg; keeping
    * the operator single-stage keeps it in Append mode). State is
    * bounded twice over: entries per bucket cap at [[BandCap]] (the
    * x69/x02 hot-bucket discipline — a boilerplate bucket would
    * otherwise grow forever) and idle buckets evict on event-time
    * timeout 30 min past the watermark. Within a batch, docs probe in
    * doc_id order (micro-batch row order is not a contract). */
  val BandCap = 64

  def nearDedupStream(docs: DataFrame): Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    val bands = docs
      .withColumn("sig", graft.functions.SimHashSig(col("text")))
      .select(
        col("doc_id"),
        col("ts"),
        element_at(col("sig"), 1).as("lo"),
        element_at(col("sig"), 2).as("hi")
      )
      .withWatermark("ts", "10 minutes")
      .select(
        col("doc_id"),
        col("ts"),
        explode(
          array(
            struct(lit(0).as("band"), col("lo").bitwiseAND(lit(32767L)).as("k")),
            struct(lit(1).as("band"), shiftright(col("lo"), 15).as("k")),
            struct(lit(2).as("band"), col("hi").bitwiseAND(lit(32767L)).as("k")),
            struct(lit(3).as("band"), shiftright(col("hi"), 15).as("k"))
          )
        ).as("bk"),
        col("lo"),
        col("hi")
      )
      .select(col("doc_id"), col("ts"), col("bk.band"), col("bk.k"), col("lo"), col("hi"))
      .as[BandDoc]
    bands
      .groupByKey(b => (b.band, b.k))
      .flatMapGroupsWithState[BandState, BandVerdict](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
            val batch = rows.toSeq.sortBy(_.doc_id)
            val out = batch.map { d =>
              val m = entries.collect {
                case (id, lo, hi)
                    if java.lang.Long.bitCount(lo ^ d.lo) + java.lang.Long.bitCount(hi ^ d.hi) <= 3 =>
                  id
              }
              if (entries.size < BandCap) entries = entries :+ ((d.doc_id, d.lo, d.hi))
              BandVerdict(d.doc_id, d.band, if (m.isEmpty) -1L else m.min)
            }
            state.update(BandState(entries))
            // idle eviction 30 min after the bucket's LATEST event — the
            // first batch's watermark is epoch 0, so anchoring on the
            // watermark would expire every bucket immediately (the
            // gapSessions last-event anchoring, same lesson)
            val latest = batch.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(latest + 30L * 60 * 1000, state.getCurrentWatermarkMs() + 60000L))
            out.iterator
          }
      }
  }

  /** Streaming CDC upsert sink [EXT]: the streaming face of the q43 batch
    * merge. Each micro-batch of keyed changes is MERGEd into a parquet
    * target — existing rows for arriving keys are replaced, new keys
    * appended (keep-latest-per-key). `foreachBatch` is the standard
    * exactly-once-ish upsert shape on plain files: the merge itself is
    * idempotent (re-delivering a batch rewrites the same rows), which is
    * what makes checkpoint-replay after failure safe without a
    * transactional table format. Within a batch, ties on the same key are
    * broken by the monotonic `seq` column (last writer wins,
    * deterministically — micro-batch row order is not a contract).
    *
    * Scale note: the target is re-read and rewritten per batch — correct
    * and simple at dimension-table scale (the SCD/q56 use case); a fact-
    * scale target would partition by key range and rewrite only touched
    * partitions (dynamic partition overwrite), same merge law per
    * partition. */
  def upsertSink(
      changes: DataFrame,
      spark: SparkSession,
      checkpoint: String,
      tablePath: String,
      key: String = "event_id"
  ): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(key)
          .orderBy(col("seq").desc)
        val latest = batch
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .drop("rn")
        // Crash-safe swap: the staging dir always holds a COMPLETE merged
        // table, so every window is recoverable — (a) die before the target
        // delete: target still has batch N-1, checkpoint replays batch N
        // idempotently; (b) die between delete and rename: target is gone
        // but staging has the full batch-N table, and the read below falls
        // back to it; (c) die after the rename: target is the new table.
        // Directory rename is the atomicity primitive (local FS/HDFS); an
        // object store would need a manifest or transactional table format.
        val target = new java.io.File(tablePath)
        val staging = new java.io.File(tablePath + ".staging")
        val sourcePath =
          if (target.exists()) Some(tablePath)
          else if (staging.exists()) Some(staging.getPath) // recover window (b)
          else None
        val merged = sourcePath match {
          case Some(p) =>
            val cur = Graft.parquet(batch.sparkSession, p)
            cur.join(latest.select(key), Seq(key), "left_anti").unionByName(latest)
          case None => latest
        }
        val tmp = new java.io.File(tablePath + ".staging.next")
        merged.write.mode("overwrite").parquet(tmp.getPath)
        // promote: next → staging (the recovery copy), then swap into place
        if (staging.exists()) deleteRecursively(staging)
        require(tmp.renameTo(staging), s"rename ${tmp.getPath} -> ${staging.getPath} failed")
        if (target.exists()) deleteRecursively(target)
        require(staging.renameTo(target), s"rename ${staging.getPath} -> $tablePath failed")
      }
      .start()

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }

  /** Wire a streaming source through [[windowedCounts]] to a sink. */
  def run(spark: SparkSession, source: DataFrame, checkpoint: String, outPath: String): StreamingQuery =
    windowedCounts(source).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .start(outPath)
}
