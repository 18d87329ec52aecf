package graft.operators

import graft.Graft
import graft.sources.Fixture
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Warehouse temporal modeling (round 4): the dimension-maintenance shapes a
  * reference user runs downstream of ingestion.
  *
  * q56 SCD2 — slowly-changing-dimension type-2 interval construction from an
  * event log (gaps-and-islands): consecutive equal states per user collapse
  * into one validity interval `[valid_from, valid_to)`, the current interval
  * open-ended. This is the standard CDC→dimension materialization; the
  * reference's star-schema ETL (SURVEY.md §7.2) stops at snapshot dims, SCD2
  * is what production warehouses layer on top.
  * q57 arg-max/arg-min — `max_by`/`min_by` per group with an explicitly
  * deterministic composite ordering key (value then event_id), so ties can
  * never make the result engine- or partitioning-dependent.
  * x81–x86 copy-on-write table format — snapshot-versioned parquet with a
  * manifest-pruned rewrite ([[graft.sources.CowTable]]): three-clause
  * MERGE (x81 upsert/insert, x83 + delete), time travel (x82), row-level
  * snapshot CDC diff (x84), CDC-driven incremental MV maintenance (x85)
  * and retention vacuum planning (x86); the table-format write path from
  * first principles, paired with q43's plan-shape SCD1 merge and
  * x73/x78's read/compaction halves.
  *
  * Scale shape: q56 is two windows over the same `(user_id)` partitioning
  * (one ROWS running sum, one per-run lead) + one hash agg between them —
  * Catalyst reuses the exchange, so the log shuffles once; per-user
  * partitions are bounded (no global sort). q57 is a single hash agg with
  * map-side partial `max_by` — the shuffle carries one row per
  * (event_type), not the log. Timestamps cross the oracle gate as epoch
  * micros (invariant #6: never raw timestamp columns).
  */
object Warehouse {

  /** One SCD2 maintenance step (x135): fold a CHRONOLOGICAL batch of
    * events into a type-2 dimension `(user_id, event_type, vf, vt, cur)`.
    * Change points are the batch rows whose attribute differs from their
    * in-batch predecessor — seeded by the dimension's CURRENT row, so a
    * run continuing across the batch boundary opens nothing. Each changed
    * user's open row closes at their first new change (vt set, cur
    * dropped); new rows chain vt within the batch and the last one stays
    * current. Batches must be strictly later than the dimension's open
    * rows (the chronological-ingest contract). */
  private[operators] def scd2Apply(dim: DataFrame, batch: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val curr = dim.where(col("cur") === 1L).select(col("user_id"), col("event_type").as("cattr"))
    val changes = batch
      .join(curr, Seq("user_id"), "left")
      .withColumn("eff_prev", coalesce(lag("event_type", 1).over(w), col("cattr")))
      .where(col("eff_prev").isNull || col("event_type") =!= col("eff_prev"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts").as("vf"))
    val w2 = Window.partitionBy("user_id").orderBy("vf", "event_id")
    val newRows = changes
      .withColumn("vt", lead("vf", 1).over(w2))
      .select(
        col("user_id"),
        col("event_type"),
        col("vf"),
        col("vt"),
        when(col("vt").isNull, 1L).otherwise(0L).as("cur")
      )
    val firstChange = newRows.groupBy("user_id").agg(min("vf").as("close_ts"))
    val closed = dim
      .join(firstChange, Seq("user_id"), "left")
      .select(
        col("user_id"),
        col("event_type"),
        col("vf"),
        when(col("cur") === 1L && col("close_ts").isNotNull, col("close_ts")).otherwise(col("vt")).as("vt"),
        when(col("cur") === 1L && col("close_ts").isNotNull, 0L).otherwise(col("cur")).as("cur")
      )
    closed.unionByName(newRows)
  }


  /** Fold two consecutive CDC feeds (x84 schema: k, change_type,
    * old_cents, new_cents) into the single-hop equivalent (x188): I∘U→I,
    * I∘D→∅, U∘U→U(first old, last new), U∘D→D(first old), D∘I→U, then
    * net-zero cancellation (old = new ⇒ no change — the same-value
    * exclusion the direct diff applies). */
  private[graft] def composeDiffs(d12: DataFrame, d23: DataFrame): DataFrame =
    d12
      .select(col("k"), col("change_type").as("t1"), col("old_cents").as("o1"), col("new_cents").as("n1"))
      .join(
        d23.select(col("k"), col("change_type").as("t2"), col("old_cents").as("o2"), col("new_cents").as("n2")),
        Seq("k"),
        "full"
      )
      .select(
        col("k"),
        expr(
          "CASE WHEN t2 IS NULL THEN named_struct('ct', t1, 'o', o1, 'n', n1) " +
            "WHEN t1 IS NULL THEN named_struct('ct', t2, 'o', o2, 'n', n2) " +
            "WHEN t1 = 'I' AND t2 = 'U' THEN named_struct('ct', 'I', 'o', -1L, 'n', n2) " +
            "WHEN t1 = 'I' AND t2 = 'D' THEN CAST(NULL AS STRUCT<ct: STRING, o: BIGINT, n: BIGINT>) " +
            "WHEN t1 = 'U' AND t2 = 'U' THEN named_struct('ct', 'U', 'o', o1, 'n', n2) " +
            "WHEN t1 = 'U' AND t2 = 'D' THEN named_struct('ct', 'D', 'o', o1, 'n', -1L) " +
            "WHEN t1 = 'D' AND t2 = 'I' THEN named_struct('ct', 'U', 'o', o1, 'n', n2) " +
            "ELSE CAST(NULL AS STRUCT<ct: STRING, o: BIGINT, n: BIGINT>) END"
        ).as("c")
      )
      .where(col("c").isNotNull)
      .where(!(col("c.ct") === "U" && col("c.o") === col("c.n")))
      .select(
        col("k"),
        col("c.ct").as("change_type"),
        col("c.o").as("old_cents"),
        col("c.n").as("new_cents")
      )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Multi-touch attribution (x294) — the marketing-warehouse staple
    // beside q59's funnel / x141's retention / x172's paths: each purchase
    // closes a JOURNEY (the touches since the user's previous purchase;
    // error events are neither touch nor conversion), and four models
    // split its 1e6 ppm credit — first-touch, last-touch, linear, and
    // U-shaped (40/40/20) — with every floor-division remainder assigned
    // to an explicit position so each model's total credit is EXACTLY
    // n_conversions × 1e6 (`conserved` pins it). Trailing touches after
    // the last purchase attribute to nothing by construction.
    // Scale shape: one user-keyed window pass tags journeys, one
    // (user, journey)-keyed window ranks touches (co-partitioned — the
    // same exchange), then a 12-cell census; nothing row-shaped survives
    // the aggs.
    "x294_attribution" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .where(col("event_type") =!= "error")
        .select(
          col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id"),
          col("event_type")
        )
      val wPrev = Window
        .partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val tagged = ev
        .withColumn(
          "journey",
          coalesce(sum((col("event_type") === "purchase").cast("long")).over(wPrev), lit(0L))
        )
        .localCheckpoint() // touches + conversions legs
      val convs = tagged.where(col("event_type") === "purchase").select(col("user_id"), col("journey"))
      val nConv = convs.count() // 1 driver constant
      val wj = Window.partitionBy("user_id", "journey").orderBy(col("us"), col("event_id"))
      val ranked = tagged
        .where(col("event_type") =!= "purchase")
        .join(convs, Seq("user_id", "journey")) // only journeys a purchase closes
        .withColumn("rk", row_number().over(wj))
        .withColumn("nj", count(lit(1)).over(Window.partitionBy("user_id", "journey")))
        .localCheckpoint() // credits + the attributed-journey count
      // a back-to-back purchase closes a ZERO-touch journey: its credit is
      // unassignable, so conservation is n_attributed × 1e6, not n_conv
      val nAttr = ranked.select("user_id", "journey").distinct().count()
      val credits = ranked.select(
        col("event_type").as("channel"),
        when(col("rk") === 1, 1000000L).otherwise(0L).as("c_first"),
        when(col("rk") === col("nj"), 1000000L).otherwise(0L).as("c_last"),
        (expr("1000000L div nj") +
          when(col("rk") === col("nj"), lit(1000000L) - col("nj") * expr("1000000L div nj"))
            .otherwise(0L)).as("c_linear"),
        when(col("nj") === 1, 1000000L)
          .when(col("nj") === 2, 500000L)
          .when(col("rk") === 1, 400000L)
          .when(col("rk") === col("nj"), 400000L)
          .otherwise(
            expr("200000L div (nj - 2)") +
              when(col("rk") === col("nj") - 1, lit(200000L) - (col("nj") - 2) * expr("200000L div (nj - 2)"))
                .otherwise(0L)
          )
          .as("c_ushape")
      )
      val cells = credits
        .selectExpr(
          "channel",
          "stack(4, 'first', c_first, 'last', c_last, 'linear', c_linear, 'ushape', c_ushape) AS (model, credit)"
        )
        .groupBy("model", "channel")
        .agg(count(lit(1)).as("n_touches"), sum("credit").as("credit_ppm"))
        .localCheckpoint() // cells + per-model conservation
      val conserved = cells
        .groupBy("model")
        .agg((sum("credit_ppm") === lit(nAttr * 1000000L)).as("conserved"))
      cells
        .join(broadcast(conserved), "model")
        .withColumn("n_conv", lit(nConv))
        .withColumn("n_attr", lit(nAttr))
        .orderBy("model", "channel")
    }),
    "q56_scd2_intervals" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val runs = ev
        .withColumn(
          "chg",
          when(lag("event_type", 1).over(w).isNull || col("event_type") =!= lag("event_type", 1).over(w), 1L)
            .otherwise(0L)
        )
        .withColumn("run_id", sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "run_id", "event_type")
        .agg(min("ts").as("vf"), count(lit(1)).as("n_events"))
      val w2 = Window.partitionBy("user_id").orderBy("run_id")
      runs
        .withColumn("vt", lead("vf", 1).over(w2))
        .select(
          col("user_id"),
          col("event_type"),
          // vf/vt are TIMESTAMP_NTZ; the session TZ is pinned UTC, so the
          // cast reads the naive value as UTC — same convention as DuckDB's
          // epoch_us over naive timestamps.
          unix_micros(col("vf").cast("timestamp")).as("valid_from_us"),
          coalesce(unix_micros(col("vt").cast("timestamp")), lit(-1L)).as("valid_to_us"),
          when(col("vt").isNull, 1L).otherwise(0L).as("is_current"),
          col("n_events")
        )
        .orderBy("user_id", "valid_from_us")
    }),

    // SCD2 dimension MAINTENANCE (x135) — the incremental face of q56:
    // q56 derives type-2 intervals from full history in one pass; real
    // warehouses maintain the dimension by folding CHRONOLOGICAL change
    // batches into it (the MERGE close-old/open-new verb). Three batches
    // (fixed date cutoffs) flow through [[scd2Apply]], and the final
    // dimension must equal the full-history derivation EXACTLY — the
    // x85 incremental-vs-batch equivalence discipline: a run crossing a
    // batch boundary must NOT reopen (seeded by the current row), and a
    // batch's first change must close the previously-open row. Scale
    // shape per batch: one window over the batch (change-sized), one
    // user-keyed join against current rows, one fold join back — the
    // dimension is never rebuilt, cost tracks batch size.
    "x135_scd2_merge" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .localCheckpoint() // three batch slices
      val dim0 = ev
        .where(lit(false))
        .select(
          col("user_id"),
          col("event_type"),
          col("ts").as("vf"),
          col("ts").as("vt"),
          lit(0L).as("cur")
        )
      val batches = Seq(
        ev.where(expr("ts < TIMESTAMP_NTZ '2024-01-11 00:00:00'")),
        ev.where(expr(
          "ts >= TIMESTAMP_NTZ '2024-01-11 00:00:00' AND ts < TIMESTAMP_NTZ '2024-01-21 00:00:00'"
        )),
        ev.where(expr("ts >= TIMESTAMP_NTZ '2024-01-21 00:00:00'"))
      )
      val dim = Iterate(dim0, batches)(scd2Apply)
      dim.select(
        col("user_id"),
        col("event_type"),
        unix_micros(col("vf").cast("timestamp")).as("valid_from_us"),
        coalesce(unix_micros(col("vt").cast("timestamp")), lit(-1L)).as("valid_to_us"),
        col("cur").as("is_current")
      ).orderBy("user_id", "valid_from_us", "event_type", "valid_to_us")
    }),

    // Rolling 7-day EXACT distinct users (x143) — DAU/WAU, the metric
    // sliding-window COUNT DISTINCT can't do natively (distinct doesn't
    // compose over a range frame): each (user, active-day) census row
    // broadcasts itself to the ≤ 7 target days it supports (a BOUNDED
    // explode, the x93/x142 stencil discipline), one DISTINCT collapses
    // (user, target) and one hash agg counts — exact, no window, no
    // quadratic self-join, at any scale. Days are integer epoch-day.
    "x143_rolling_distinct" -> ((s, d) => {
      val days = graft.Graft
        .events(s, d)
        .select(col("user_id"), expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("day"))
        .distinct()
        .localCheckpoint() // two plan refs: day census, target explode
      val bounds = days.agg(min("day").as("d0"), max("day").as("d1"))
      // days is already distinct on (user_id, day): a plain count is the
      // same number without the two-phase distinct agg (review-found)
      val dau = days.groupBy("day").agg(count(lit(1)).as("dau"))
      val rolling = days
        .withColumn("target", explode(expr("sequence(day, day + 6)")))
        .select(col("user_id"), col("target").as("day"))
        .distinct()
        .groupBy("day")
        .agg(count(lit(1)).as("wau"))
      dau
        .join(rolling, Seq("day"))
        .crossJoin(broadcast(bounds))
        // edge days with a partial trailing window are real rows too; the
        // bounds columns make the window coverage explicit in the gate
        .where(col("day") <= col("d1"))
        .select(col("day"), col("dau"), col("wau"), col("d0"), col("d1"))
        .orderBy("day")
    }),

    // Grid-bucketed INTERVAL-OVERLAP join (x142) — the scalable shape for
    // interval × interval joins (user sessions × promo windows): naive
    // overlap is a quadratic theta join, so both interval sets explode
    // onto a 6 h time grid (bounded — a session spans few buckets, a
    // promo window ≤ ~a month's worth), candidates meet in an EQUI-join
    // per bucket, the true overlap predicate filters, and DISTINCT
    // collapses pairs sharing several buckets — the temporal face of
    // x93's spatial grid decomposition. Epoch-micro integers throughout;
    // overlap durations are exact; touching intervals count with 0.
    "x142_interval_overlap_join" -> ((s, d) => {
      import s.implicits._
      val bkt = 6L * 3600 * 1000000
      val ev = graft.Graft
        .events(s, d)
        .select(col("user_id"), col("event_id"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val sessions = ev
        .withColumn(
          "new_session",
          when(lag("us", 1).over(w).isNull || col("us") - lag("us", 1).over(w) > 30L * 60 * 1000000, 1L)
            .otherwise(0L)
        )
        .withColumn("session_no", sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_no")
        .agg(min("us").as("s_start"), max("us").as("s_end"))
      val promos = Seq(
        (1L, "2024-01-02 00:00:00", "2024-01-04 00:00:00"),
        (2L, "2024-01-05 12:00:00", "2024-01-06 00:00:00"),
        (3L, "2024-01-10 00:00:00", "2024-01-17 00:00:00"),
        (4L, "2024-01-16 18:00:00", "2024-01-19 06:00:00"),
        (5L, "2024-01-25 00:00:00", "2024-01-25 06:00:00")
      ).toDF("promo_id", "p_start_s", "p_end_s")
        .select(
          col("promo_id"),
          expr("unix_micros(CAST(p_start_s AS TIMESTAMP))").as("p_start"),
          expr("unix_micros(CAST(p_end_s AS TIMESTAMP))").as("p_end")
        )
      val sB = sessions.withColumn("bkt", explode(expr(s"sequence(s_start div ${bkt}L, s_end div ${bkt}L)")))
      val pB = promos.withColumn("bkt", explode(expr(s"sequence(p_start div ${bkt}L, p_end div ${bkt}L)")))
      sB.join(broadcast(pB), Seq("bkt"))
        .where(col("s_start") <= col("p_end") && col("p_start") <= col("s_end"))
        .select("user_id", "session_no", "s_start", "s_end", "promo_id", "p_start", "p_end")
        .distinct()
        .groupBy("promo_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          countDistinct("user_id").as("n_users"),
          sum(least(col("s_end"), col("p_end")) - greatest(col("s_start"), col("p_start"))).as("overlap_us")
        )
        .orderBy("promo_id")
    }),

    // Cohort RETENTION matrix (x141) — the product-analytics staple next
    // to funnels (q59) and sessions (q36): users cohort by their FIRST
    // event's week, and cell (cohort, offset) counts how many of that
    // cohort were active `offset` weeks later. Weeks are integer epoch-
    // day div 7 (floor — both engines agree on non-negative days), so
    // the whole matrix is exact integers; retention crosses as ppm floor
    // division. Shape: one per-user min (first week), one distinct
    // (user, week) census, one join on user_id (co-partitioned with the
    // census shuffle), two hash aggs — no self-join, no window.
    // Distribution-drift report (x157) — the monitoring verb between two
    // data populations (here: even-day vs odd-day events, the A/B split a
    // nightly pipeline compares against yesterday): cells are
    // (event_type × 6h-bucket), drift = total variation distance in EXACT
    // ppm (Σ|share_a − share_b| / 2 — the integer-exact face of the PSI
    // family; PSI's log factor rides along per cell as the add-1
    // floor-log2 count LLR, the x61/x149 quantization). One scan → ONE
    // shuffle: both sides aggregate in the same pass via conditional
    // sums (no self-join, no outer join for missing cells — a cell absent
    // on one side is a 0 count in the same row); totals and the 1-row
    // TVD broadcast back onto the 20-cell frame.
    "x157_drift_report" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(
          col("event_type"),
          expr("hour(ts) div 6").as("hour_bucket"),
          (pmod(expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT)"), lit(2L)) === 0L)
            .as("side_a")
        )
      val cells = ev
        .groupBy("event_type", "hour_bucket")
        .agg(
          sum(when(col("side_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("side_a"), 1L).otherwise(0L)).as("cb")
        )
        .localCheckpoint() // three plan refs: totals, tvd, output frame
      val totals = cells.agg(sum("ca").as("na"), sum("cb").as("nb"))
      val shares = cells
        .crossJoin(broadcast(totals))
        .withColumn("share_a_ppm", expr("(ca * 1000000) div na"))
        .withColumn("share_b_ppm", expr("(cb * 1000000) div nb"))
        .localCheckpoint() // feeds tvd + output
      val tvd = shares.agg(expr("sum(abs(share_a_ppm - share_b_ppm)) div 2").as("tvd_ppm"))
      shares
        .withColumn(
          "llr_bits",
          ((length(bin(col("ca") + 1)) - 1) - (length(bin(col("cb") + 1)) - 1)).cast("long")
        )
        .crossJoin(broadcast(tvd))
        .select("event_type", "hour_bucket", "ca", "cb", "share_a_ppm", "share_b_ppm", "llr_bits", "tvd_ppm")
        .orderBy("event_type", "hour_bucket")
    }),

    // A/B experiment evaluation (x162) — the two-proportion z-test the
    // product-analytics stack runs on every experiment: users split into
    // arms by the module's md5 hash, conversion = ≥1 purchase, and the
    // test statistic is carried as z² in EXACT rational arithmetic —
    // z² = (c₁n₂−c₂n₁)²·N / (n₁·n₂·C·(N−C)) after clearing every
    // denominator (pooled p̂ never materializes, no sqrt anywhere; χ²(1)
    // form, so the 95% line is z² > 3.8416 via integer cross-multiply).
    // DECIMAL(38,0) headroom for the squared cross term (HUGEINT-class
    // in the oracle). Scale shape: one per-user census agg (the corpus
    // shuffle), one 2-row arm agg, 1-row stats broadcast back.
    "x162_ab_test" -> ((s, d) => {
      val users = graft.Graft
        .events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
        .select(
          col("user_id"),
          graft.functions.Hashing.md5Bucket(col("user_id").cast("string"), 2L).as("arm"),
          // ≥14 ≈ the per-user purchase median at the fixture's constant
          // event/user density — both outcomes populated at every SF
          when(col("purchases") >= 14, 1L).otherwise(0L).as("conv")
        )
      val arms = users
        .groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
        .withColumn("rate_ppm", expr("(n_conv * 1000000) div n_users"))
        .localCheckpoint() // two plan refs: output frame, stats
      val stats = arms
        .agg(
          sum(when(col("arm") === 0, col("n_users")).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("n_conv")).otherwise(0L)).as("c1"),
          sum(when(col("arm") === 1, col("n_users")).otherwise(0L)).as("n2"),
          sum(when(col("arm") === 1, col("n_conv")).otherwise(0L)).as("c2")
        )
        .select(
          expr("(c1 * 1000000) div n1 - (c2 * 1000000) div n2").as("diff_ppm"),
          expr(
            // degenerate pooled variance (all or no users converted) ⇒ 0
            "CAST(IF(c1 + c2 = 0 OR c1 + c2 = n1 + n2, 0, " +
              "(CAST(c1 AS DECIMAL(38,0)) * n2 - CAST(c2 AS DECIMAL(38,0)) * n1) * " +
              "(CAST(c1 AS DECIMAL(38,0)) * n2 - CAST(c2 AS DECIMAL(38,0)) * n1) * (n1 + n2) * 10000 div " +
              "(CAST(n1 AS DECIMAL(38,0)) * n2 * (c1 + c2) * (n1 + n2 - c1 - c2))) AS BIGINT)"
          ).as("z2_e4")
        )
        .withColumn("significant_95", col("z2_e4") > 38416L)
      arms.crossJoin(broadcast(stats)).orderBy("arm")
    }),

    // Seasonal decomposition (x183) — the classical additive
    // trend/seasonal/residual split completing the time-series kit (x161
    // sequential alarm, x166 periodicity, x173 robust trend, x110
    // resample): trend = 7-day CENTERED moving average on the calendar
    // grid (only days with all 7 neighbors present — gaps break windows,
    // the x166 calendar-join semantics), seasonal = per-weekday mean of
    // the detrended series, residual = the rest; the anomaly flag fires
    // when |residual| > 2× the mean |residual|. The fixture's series is
    // flat, so the regimes are PLANTED in-query (the x101 device, both
    // spec-asserted): weekends doubled (seasonality the weekday means
    // must recover) and one mid-series day tripled (the residual spike
    // the flag must catch — a seasonal-aware detector; x161's CUSUM
    // would alarm on the weekend pattern itself). All e3 integer floors.
    // Scale shape: the corpus collapses to one row per day in ONE agg;
    // every downstream join/window runs on the calendar-bounded day
    // table (the x166/x173 documented class).
    "x183_seasonal_decompose" -> ((s, d) => {
      val raw = graft.Graft
        .events(s, d)
        .select(expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("day"))
        .groupBy("day")
        .agg(count(lit(1)).as("x0"))
      val minDay = raw.agg(min("day").as("md"))
      val daily = raw
        .crossJoin(broadcast(minDay))
        .select(
          col("day"),
          expr(
            "x0 * (CASE WHEN pmod(day + 3, 7) IN (5, 6) THEN 2 ELSE 1 END)" +
              " * (CASE WHEN day = md + 10 THEN 3 ELSE 1 END)"
          ).as("x")
        )
        .localCheckpoint() // trend join probes both sides + output
      val offs = (-3 to 3).map(k => lit(k.toLong))
      val trend = daily
        .select(col("day"), explode(array(offs: _*)).as("k"))
        .select((col("day") + col("k")).as("nd"), col("day"))
        .join(daily.select(col("day").as("nd"), col("x").as("nx")), "nd")
        .groupBy("day")
        .agg(count(lit(1)).as("w"), sum("nx").as("sx"))
        .where(col("w") === 7)
        .select(col("day"), expr("(sx * 1000) div 7").as("trend_e3"))
      val dt = daily
        .join(trend, "day")
        .select(col("day"), col("x"), col("trend_e3"), (col("x") * 1000 - col("trend_e3")).as("dt_e3"))
        .localCheckpoint() // seasonal agg + residual output
      val seasonal = dt
        .groupBy(expr("pmod(day + 3, 7)").as("wd"))
        .agg(sum("dt_e3").as("sdt"), count(lit(1)).as("nw"))
        .select(col("wd"), expr("(sdt - pmod(sdt, nw)) div nw").as("seasonal_e3"))
      val resid = dt
        .withColumn("wd", expr("pmod(day + 3, 7)"))
        .join(broadcast(seasonal), "wd")
        .withColumn("resid_e3", col("dt_e3") - col("seasonal_e3"))
        .localCheckpoint() // threshold agg + output
      val thresh = resid
        .agg(sum(abs(col("resid_e3"))).as("sa"), count(lit(1)).as("n"))
        .select(expr("(2 * sa - pmod(2 * sa, n)) div n").as("thr_e3"))
      resid
        .crossJoin(broadcast(thresh))
        .select(
          col("day"),
          col("x"),
          col("trend_e3"),
          col("seasonal_e3"),
          col("resid_e3"),
          col("thr_e3"),
          (abs(col("resid_e3")) > col("thr_e3")).as("anomaly")
        )
        .orderBy("day")
    }),

    // Chi-squared independence test (x181, Pearson 1900) — the r×c
    // categorical companion of x162's two-proportion z (which is the
    // 2×2 special case): is order priority independent of order status?
    // Exactness: E_ij = R_i·C_j/N never materializes — each cell's
    // contribution clears to (O_ij·N − R_i·C_j)²/(N·R_i·C_j), floored
    // per cell to e6 (deterministic floored-cell statistic, both engines
    // identical; O·N ~ 1.5e9 squares past int64, so DECIMAL(38,0)/
    // HUGEINT carry the numerator). The χ² sum, df = (r−1)(c−1) and the
    // 95% significance verdict (χ²₀.₀₅ critical values inlined for the
    // fixture's df range) ride every row broadcast — the in-query-eval
    // discipline. One cell census (map-side combine), margins are
    // row/column-count-sized aggs of it, everything downstream is
    // metadata-sized.
    "x181_chi2_independence" -> ((s, d) => {
      // two tests in one result: test 0 = priority × status (the fixture
      // draws them independently — the null holds, significant FALSE);
      // test 1 = priority × a PLANTED dependent column (⅓ of rows copy
      // the priority's leading digit — the x101/x128 planted discipline,
      // so the significant TRUE path is load-bearing too)
      val base = graft.Graft
        .table(s, d, "orders")
        .select(
          col("o_orderpriority").as("prio"),
          col("o_orderstatus").as("status"),
          when(
            graft.functions.Hashing
              .md5Bucket(concat(col("o_orderkey").cast("string"), lit("#m")), 3L) === 0L,
            substring(col("o_orderpriority"), 1, 1)
          ).otherwise(
            graft.functions.Hashing
              .md5Bucket(concat(col("o_orderkey").cast("string"), lit("#d")), 3L)
              .cast("string")
          ).as("dep")
        )
      val cells = base
        .groupBy(lit(0L).as("test_id"), col("prio"), col("status").as("b"))
        .agg(count(lit(1)).as("o"))
        .unionByName(
          base
            .groupBy(lit(1L).as("test_id"), col("prio"), col("dep").as("b"))
            .agg(count(lit(1)).as("o"))
        )
        .localCheckpoint() // margins + output rows
      val rm = cells.groupBy("test_id", "prio").agg(sum("o").as("r"))
      val cm = cells.groupBy("test_id", "b").agg(sum("o").as("c"))
      val tot = cells
        .groupBy("test_id")
        .agg(sum("o").as("n"), countDistinct("prio").as("nr"), countDistinct("b").as("nc"))
      val contrib = cells
        .join(broadcast(rm), Seq("test_id", "prio"))
        .join(broadcast(cm), Seq("test_id", "b"))
        .join(broadcast(tot), "test_id")
        .withColumn(
          "contrib_e6",
          expr(
            "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) * " +
              "(CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) * 1000000 div " +
              "(CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
          )
        )
        .localCheckpoint() // output + chi2 sum
      val chi2 = contrib
        .groupBy("test_id")
        .agg(sum("contrib_e6").as("chi2_e6"), max(expr("(nr - 1) * (nc - 1)")).as("df"))
      contrib
        .select("test_id", "prio", "b", "o", "r", "c", "n", "contrib_e6")
        .join(broadcast(chi2), "test_id")
        // χ²₀.₀₅ critical values ·1e6, df 1..20 (Abramowitz & Stegun
        // table 26.8): the verdict is exact given the floored statistic
        .withColumn(
          "crit_e6",
          expr(
            "element_at(array(3841459, 5991465, 7814728, 9487729, 11070498, " +
              "12591587, 14067140, 15507313, 16918978, 18307038, 19675138, " +
              "21026070, 22362032, 23684791, 24995790, 26296228, 27587112, " +
              "28869299, 30143527, 31410433), CAST(df AS INT))"
          )
        )
        .withColumn("significant_95", col("chi2_e6") > col("crit_e6"))
        .orderBy("test_id", "prio", "b")
    }),

    // CUSUM change-point detection (x161, Page 1954) — the SEQUENTIAL
    // drift detector complementing x157's two-population snapshot: daily
    // counts walk the classic recursions S⁺ = max(0, S⁺ + (x−μ−κ)) /
    // S⁻ = max(0, S⁻ + (μ−x−κ)) and alarm when either exceeds h. All e3
    // integer fixed point (μ, κ = μ/20, h = μ/2 — floor divisions both
    // engines share). The monitored series carries a PLANTED level shift
    // (purchase counts, plus error counts from day 19738 on — the
    // x128/x139 planted-anomaly discipline), so the alarm fires at a
    // provable point and the gate pins the full S⁺/S⁻ trajectories, not
    // just the alarm day. Scale shape: the corpus collapses to ONE row
    // per day in a single conditional-sum agg; the recursion is
    // inherently sequential and runs as one codegen'd fold over the
    // collected ≤31-element array (day-count-bounded, the x148 class);
    // oracle = linear recursive CTE over the same day index.
    "x161_cusum_changepoint" -> ((s, d) => {
      val daily = graft.Graft
        .events(s, d)
        .select(
          expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("day"),
          col("event_type")
        )
        .groupBy("day")
        .agg(
          (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) +
            sum(when(col("event_type") === "error", 1L).otherwise(0L) * when(col("day") >= 19738L, 1L).otherwise(0L)))
            .as("x")
        )
      val stats = daily.agg(
        expr("(sum(x) * 1000) div count(1)").as("mu_e3"),
        count(lit(1)).as("n_days")
      )
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("ser"))
        .crossJoin(broadcast(stats))
        .select(
          col("mu_e3"),
          expr("mu_e3 div 20").as("k_e3"),
          expr("mu_e3 div 2").as("h_e3"),
          expr(
            """aggregate(
              |  ser,
              |  CAST(array() AS ARRAY<STRUCT<day: BIGINT, x: BIGINT, sp: BIGINT, sn: BIGINT>>),
              |  (acc, e) -> concat(acc, array(named_struct(
              |    'day', e.day, 'x', e.x,
              |    'sp', greatest(CAST(0 AS BIGINT),
              |            IF(size(acc) = 0, CAST(0 AS BIGINT), element_at(acc, -1).sp)
              |            + (e.x * 1000 - mu_e3 - (mu_e3 div 20))),
              |    'sn', greatest(CAST(0 AS BIGINT),
              |            IF(size(acc) = 0, CAST(0 AS BIGINT), element_at(acc, -1).sn)
              |            + (mu_e3 - e.x * 1000 - (mu_e3 div 20)))))))""".stripMargin
          ).as("walk")
        )
        .select(col("mu_e3"), col("k_e3"), col("h_e3"), explode(col("walk")).as("w"))
        .select(
          col("w.day").as("day"),
          col("w.x").as("x"),
          col("w.sp").as("s_pos"),
          col("w.sn").as("s_neg"),
          (col("w.sp") > col("h_e3")).as("alarm_hi"),
          (col("w.sn") > col("h_e3")).as("alarm_lo"),
          col("mu_e3"),
          col("k_e3"),
          col("h_e3")
        )
        .orderBy("day")
    }),

    // Autocorrelation function (x166) — the periodicity/persistence
    // diagnostic completing the time-series kit (x161 CUSUM sequential,
    // x157 two-population snapshot, x110 resample): lag-k autocorrelation
    // of the daily event-count series for k = 1..7, EXACT integers by
    // clearing the mean's denominator — with S = Σx and n = days,
    // num_k = Σ_t (n·x_t − S)(n·x_{t+k} − S) over true calendar pairs
    // (day+k, so a gap breaks the pair — time-series semantics, not row
    // adjacency), den = Σ_t (n·x_t − S)², acf_ppm = ⌊num·10⁶/den⌋
    // (posmod-cleared floor, num can be negative). Products ride
    // DECIMAL(38,0) (the x25 headroom rule: n·x ~ days·volume brushes
    // int64 on big corpora). Scale shape: the corpus collapses to one
    // row per day in one agg; the lag pairing is a 7-way bounded explode
    // of the DAY table (never the corpus) joined to itself on day+k.
    "x166_autocorrelation" -> ((s, d) => {
      val daily = graft.Graft
        .events(s, d)
        .select(expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("day"))
        .groupBy("day")
        .agg(count(lit(1)).as("x"))
        .localCheckpoint() // three plan refs: stats, both join sides
      val stats = daily
        .agg(count(lit(1)).as("n"), sum("x").as("s"))
        .localCheckpoint() // two plan refs: den, mean column
      val den = daily
        .crossJoin(broadcast(stats))
        .agg(
          sum(expr("(CAST(n AS DECIMAL(38,0)) * x - s) * (CAST(n AS DECIMAL(38,0)) * x - s)")).as("dend")
        )
        .select(expr("CAST(dend AS DECIMAL(38,0))").as("dend"))
      val lagged = daily
        .crossJoin(broadcast(stats))
        .select(col("day"), col("x"), col("n"), col("s"), explode(expr("sequence(1, 7)")).as("lag"))
        .withColumn("dayk", col("day") + col("lag"))
        .join(daily.select(col("day").as("dayk"), col("x").as("xk")), Seq("dayk"))
      lagged
        .groupBy("lag")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(expr("(CAST(n AS DECIMAL(38,0)) * x - s) * (CAST(n AS DECIMAL(38,0)) * xk - s)")).as("numd")
        )
        .crossJoin(broadcast(den))
        .crossJoin(broadcast(stats.select(expr("(s * 1000) div n").as("mean_e3"))))
        .select(
          col("lag").cast("long").as("lag"),
          col("n_pairs"),
          col("mean_e3"),
          // a constant series has zero variance: acf := 0 by convention,
          // guarded identically in the oracle (the x162 degenerate-case
          // discipline — unguarded, Spark nulls and DuckDB errors)
          expr(
            "CAST(IF(dend = 0, 0, " +
              "((numd * 1000000) - (((numd * 1000000) % dend + dend) % dend)) div dend) AS BIGINT)"
          ).as("acf_ppm")
        )
        .orderBy("lag")
    }),

    // Theil–Sen robust trend (x173, Sen 1968) — the outlier-resistant
    // slope estimator completing the trend kit (q46's OLS is moment-based
    // and one wild day drags it; the median-of-pairwise-slopes has 29%
    // breakdown): p25/p50/p75 ORDER STATISTICS of the pairwise-slope
    // distribution over the daily event series. Exactness: order stats
    // commute with monotone maps, so ranking may use the DOUBLE ratio
    // dy/dx (distinct day-pair fractions with dx ≤ n_days differ by
    // ≥ 1/(dx₁·dx₂) — far above double resolution; ties break on
    // (dy, dx) and equal fractions floor to the SAME ppm anyway) while
    // the EMITTED value is the integer posmod-floor dy·10⁶ div dx of the
    // rank-selected pair. Scale shape: the corpus collapses to one row
    // per day; the pair explode is days² — calendar-bounded (≈500 pairs
    // per month window), the deliberate bounded-quadratic class (x153
    // baskets); the global rank window runs on that bounded table only.
    "x173_theil_sen" -> ((s, d) => {
      val daily = graft.Graft
        .events(s, d)
        .select(expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("day"))
        .groupBy("day")
        .agg(count(lit(1)).as("x"))
        .localCheckpoint() // two plan refs: both pair sides
      val pairs = daily
        .select(col("day").as("d1"), col("x").as("x1"))
        .join(daily.select(col("day").as("d2"), col("x").as("x2")), expr("d2 > d1"))
        .select((col("x2") - col("x1")).as("dy"), (col("d2") - col("d1")).as("dx"))
      val ranked = pairs
        .withColumn("rk", row_number().over(Window.orderBy(expr("CAST(dy AS DOUBLE) / dx"), col("dy"), col("dx"))))
        .localCheckpoint() // two plan refs: count, rank probe
      val cnt = ranked.agg(count(lit(1)).as("np"))
      val nd = daily.agg(count(lit(1)).as("n_days"))
      import s.implicits._
      Seq(25, 50, 75)
        .toDF("p")
        .crossJoin(broadcast(cnt))
        .crossJoin(broadcast(nd))
        .withColumn("k", expr("((np - 1) * p) div 100 + 1"))
        .join(ranked, col("rk") === col("k"))
        .select(
          col("p").cast("long").as("p"),
          col("n_days"),
          col("np").as("n_pairs"),
          expr("((dy * 1000000) - (((dy * 1000000) % dx + dx) % dx)) div dx").as("slope_ppm_per_day")
        )
        .orderBy("p")
    }),

    // Point-in-time SCD2 dimension join (x174) — the READ verb the SCD2
    // builders (q56 derivation, x135 incremental maintenance) exist for:
    // each fact row joins the dimension VERSION valid at its event time.
    // State stream = signup/view/error events run-collapsed into type-2
    // intervals (q56's change-point rule); facts = purchase events; a
    // purchase before any state adopts 'none' (left semantics). The
    // ORACLE is the canonical interval join (vf ≤ ts < vt) — but a range
    // join shuffles nothing co-located and degenerates to a per-row probe
    // at scale, so the ENGINE side is the q29 union trick: dim versions
    // and facts union into ONE stream, a single per-user window ordered
    // by (ts, kind, event_id) picks last(state) IGNORE NULLS — dim rows
    // sort before a same-instant fact (kind 0 < 1), so a version opening
    // exactly at the fact's timestamp is already visible (ts ≥ vf
    // inclusive), matching the oracle's boundary exactly; a zero-width
    // interval (two changes at one instant) is dead in both formulations.
    // Scale shape: ONE user_id shuffle feeds the change-point window, the
    // union window and nothing else; per-user partitions are bounded. No
    // join materializes at all — at 100 TB this is the difference between
    // a window pass and an interval-join blowup.
    "x174_pit_scd2_join" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("event_type")
        )
        .localCheckpoint() // two plan refs: state stream, fact stream
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val dim = ev
        .where(col("event_type").isin("signup", "view", "error"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNull || col("event_type") =!= col("prev"))
        .select(
          col("user_id"),
          col("ts_us"),
          col("event_id"),
          lit(0L).as("kind"),
          col("event_type").as("state"),
          col("ts_us").as("vf_us")
        )
      val facts = ev
        .where(col("event_type") === "purchase")
        .select(
          col("user_id"),
          col("ts_us"),
          col("event_id"),
          lit(1L).as("kind"),
          lit(null).cast("string").as("state"),
          lit(null).cast("long").as("vf_us")
        )
      val wPit = Window
        .partitionBy("user_id")
        .orderBy("ts_us", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dim
        .unionByName(facts)
        .withColumn("pit_state", last("state", ignoreNulls = true).over(wPit))
        .withColumn("pit_since", last("vf_us", ignoreNulls = true).over(wPit))
        .where(col("kind") === 1L)
        .select(
          col("user_id"),
          col("event_id"),
          col("ts_us"),
          coalesce(col("pit_state"), lit("none")).as("state"),
          coalesce(col("pit_since"), lit(-1L)).as("state_since_us")
        )
        .orderBy("user_id", "event_id")
    }),

    "x141_cohort_retention" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(col("user_id"), expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT) div 7").as("wk"))
        .localCheckpoint() // two plan refs: first-week, activity census
      val firstWk = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val active = ev.distinct()
      val cells = active
        .join(firstWk, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_active"))
      val sizes = firstWk.groupBy("cohort_wk").agg(count(lit(1)).as("n_cohort"))
      cells
        .join(broadcast(sizes), Seq("cohort_wk"))
        .withColumn("retention_ppm", expr("(n_active * 1000000) div n_cohort"))
        .orderBy("cohort_wk", "week_offset")
    }),

    // Ordered funnel analysis: how many users progressed signup → click →
    // purchase IN ORDER (each later stage strictly after an earlier-stage
    // event). One window partition per user computes running "stage
    // reached" flags with an exclusive frame (UNBOUNDED PRECEDING .. -1),
    // so a stage event only counts if its predecessor happened strictly
    // before it — the sequential-pattern query behind every product
    // funnel dashboard (the MATCH_RECOGNIZE use case, expressed with
    // windows both engines share).
    // Scale shape: ONE shuffle on user_id; both chained Window operators
    // and the per-user aggregate reuse the same exchange+sort. Per-user
    // event counts are bounded, so no partition outgrows a task.
    "q59_funnel" -> ((s, d) => {
      val wPrev = Window
        .partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      graft.Graft
        .events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn(
          "seen_signup",
          coalesce(max(when(col("event_type") === "signup", 1L).otherwise(0L)).over(wPrev), lit(0L))
        )
        .withColumn(
          "is_q_click",
          when(col("event_type") === "click" && col("seen_signup") === 1L, 1L).otherwise(0L)
        )
        .withColumn("seen_q_click", coalesce(max(col("is_q_click")).over(wPrev), lit(0L)))
        .withColumn(
          "is_q_purchase",
          when(col("event_type") === "purchase" && col("seen_q_click") === 1L, 1L).otherwise(0L)
        )
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("s1"),
          max(col("is_q_click")).as("s2"),
          max(col("is_q_purchase")).as("s3")
        )
        .agg(
          count(lit(1)).as("n_users"),
          sum("s1").as("users_signup"),
          sum("s2").as("users_click_after"),
          sum("s3").as("users_purchase_after")
        )
    }),

    "q57_argmax" -> ((s, d) => {
      // composite ordering key: cents of value (exact — two decimals in the
      // fixture) then event_id; unique, so arg-max is total-order unique.
      val ev = graft.Graft
        .events(s, d)
        .select(
          col("event_type"),
          col("user_id"),
          col("event_id"),
          (expr("CAST(round(value * 100) AS BIGINT)") * lit(1000000000000L) + col("event_id")).as("k")
        )
        // k >= 0 guard: Spark's div truncates toward zero, DuckDB's //
        // floors — they only agree on non-negatives (same contract as q58;
        // fixture values are always >= 0, the guard makes it explicit)
        .where(col("k") >= 0L)
      ev.groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          max_by(col("user_id"), col("k")).as("top_user"),
          min_by(col("user_id"), col("k")).as("bottom_user"),
          expr("max(k) div 1000000000000").as("max_cents"),
          expr("min(k) div 1000000000000").as("min_cents")
        )
        .orderBy("event_type")
    }),

    // Copy-on-write MERGE on a snapshot-versioned parquet table
    // (sources/CowTable): manifest-pruned rewrite of only the buckets the
    // change keys touch, inserts appended as new buckets, untouched files
    // carried into the v2 manifest by reference. The gate reads the merged
    // snapshot back per bucket and tags each bucket with its manifest
    // provenance (rewritten-or-inserted vs carried), so a wrong prune —
    // rewriting too much OR too little — flips the hash; the oracle
    // recomputes the merged content AND the provenance from the raw
    // orders table plus the insert/update formulas.
    "x81_cow_merge" -> ((s, d) => {
      val root = graft.sources.CowTable.ensure(s, d)
      val content = graft.sources.CowTable
        .read(s, 2, root)
        .withColumn("bucket", expr(s"k div ${graft.sources.CowTable.BucketWidth}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      val prov = graft.sources.CowTable
        .manifest(s, 2, root)
        .select(
          col("bucket"),
          when(col("path").contains("/v2/"), lit(2L)).otherwise(lit(1L)).as("src_version")
        )
      content
        .join(prov, Seq("bucket"))
        .orderBy("bucket")
    }),
    // Write-audit-publish (x123): the staging discipline on top of the
    // snapshot chain — changes land as named BRANCHES (data + manifest in
    // a namespace no reader resolves), audits run against the staged
    // read, and only a passing branch becomes the next snapshot via the
    // OCC CAS (metadata-only; files carry by reference). The fixture
    // stages two branches off a clone of source v3: 'good' (re-priced
    // stripe, audit passes, PUBLISHED as v2) and 'bad' (every key planted
    // twice — the uniqueness violation, audit fails, left staged). The
    // gate reads v2 per bucket with branch provenance, re-audits both the
    // published table and the still-staged bad branch ON EVERY RUN, and
    // pins staged≠visible (zero bad keys in v2) + time travel to v1.
    // At 100 TB: audits cost one read of the staged delta's buckets,
    // publish costs one rename — the pattern that makes "bad data never
    // hits readers" affordable nightly.
    "x123_write_audit_publish" -> ((s, d) => {
      val ct = graft.sources.CowTable
      ct.ensureWap(s, d)
      import s.implicits._
      val w = ct.BucketWidth
      val content = ct
        .read(s, 2, ct.wapDir(d))
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      val prov = ct
        .entries(s, 2, ct.wapDir(d))
        .map(e => (e.bucket, e.path.contains("/wap_good/")))
        .toDF("bucket", "from_branch")
      val pubAudit = ct
        .read(s, 2, ct.wapDir(d))
        .agg(
          count(lit(1)).as("pub_rows"),
          countDistinct(col("k")).as("pub_distinct"),
          sum(when(col("k") >= ct.WapBadBase, 1L).otherwise(0L)).as("bad_keys_visible")
        )
      val badAudit = ct
        .readStaged(s, "bad", ct.wapDir(d))
        .agg(count(lit(1)).as("bad_staged_rows"), countDistinct(col("k")).as("bad_staged_distinct"))
      val v1 = ct.read(s, 1, ct.wapDir(d)).agg(count(lit(1)).as("v1_rows"))
      content
        .join(broadcast(prov), Seq("bucket"))
        .crossJoin(broadcast(pubAudit))
        .crossJoin(broadcast(badAudit))
        .crossJoin(broadcast(v1))
        .orderBy("bucket")
    }),
    // Three-clause MERGE (v2 → v3): upserts in one bucket stripe, DELETEs
    // in a disjoint stripe — matched keys take the change value, delete
    // keys drop via anti join, and only stripe-touched buckets rewrite.
    // Provenance now spans three tiers (v1-carried / v2 / v3), all
    // recomputed by the oracle from the stacked change formulas.
    "x83_merge_delete" -> ((s, d) => {
      val root = graft.sources.CowTable.ensure(s, d)
      val content = graft.sources.CowTable
        .read(s, 3, root)
        .withColumn("bucket", expr(s"k div ${graft.sources.CowTable.BucketWidth}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      val prov = graft.sources.CowTable
        .manifest(s, 3, root)
        .select(
          col("bucket"),
          when(col("path").contains("/v3/"), lit(3L))
            .when(col("path").contains("/v2/"), lit(2L))
            .otherwise(lit(1L))
            .as("src_version")
        )
      content.join(prov, Seq("bucket")).orderBy("bucket")
    }),
    // Manifest-tree key-range planning (x263) — the x226 pipeline EATEN
    // by the write-path tables (the r8 verdict's top task): the v3
    // snapshot's manifest is now a two-level tree (group-count-sized
    // LIST → immutable per-group manifest files → data buckets), and a
    // key-range read plans through it prune-BEFORE-collect — list rows
    // filter on group key stats, only surviving groups' manifest files
    // open, the driver holds nothing but the final task list. The gate
    // emits the pruned content (per-bucket rows + cents over the range)
    // PLUS the planning census (groups total/read, files read, rows
    // planned), every number recomputed by the oracle from the stacked
    // v1→v3 change formulas — a stats bug that opens too few groups
    // breaks content, one that opens too many breaks the census.
    // CowManifestTreeSpec proves the isolation physically (all other
    // groups corrupted on disk, plan + read unharmed).
    "x263_mtree_range_plan" -> ((s, d) => {
      val ct = graft.sources.CowTable
      val root = ct.ensure(s, d)
      import s.implicits._
      val (lo, hi) = (512L, 1535L) // buckets 0..1 cut mid-bucket both ends (exists at every SF)
      val man = ct.manifestDir(3, root)
      val planned = ct.pruneEntriesRange(s, man, lo, hi)
      val acct = Seq(
        (
          ct.groupCount(s, man),
          planned.map(_.bucket / ct.ManifestGroup).distinct.size.toLong,
          planned.size.toLong,
          planned.map(_.nRows).sum
        )
      ).toDF("n_groups_total", "n_groups_read", "n_files_read", "n_rows_planned")
      ct.readEntries(s, planned)
        .where(col("k").between(lo, hi))
        .groupBy(expr(s"k div ${ct.BucketWidth}L").as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
        .crossJoin(broadcast(acct))
        .orderBy("bucket")
    }),
    // Manifest COMMIT census (x267) — x263 pins the READ side of the
    // tree; this pins the WRITE side's carry-by-reference IN the gate.
    // The censused commit is the CLONE's divergence merge (its mod-11
    // bucket stripe is SPARSER than the 8-bucket group span, so all
    // three statuses are load-bearing — the main fixture's mod-5/mod-7
    // stripes touch every group): the clone v1→v2 merge must rewrite
    // exactly the groups holding upsert-stripe buckets, ADD the far
    // insert bucket's group, and carry every other group as a
    // PATH-IDENTICAL list row (zero metadata bytes rewritten). The two
    // snapshot LISTS join on group id, every group classifies carried
    // (mpath equal) / rewritten (differs) / added (v2-only), and the
    // oracle recomputes the census from the stacked change formulas —
    // a commit that rewrites one group too many (or copies instead of
    // carrying) flips the hash.
    "x267_manifest_commit_census" -> ((s, d) => {
      val ct = graft.sources.CowTable
      ct.ensureClone(s, d)
      val l1 = Graft.parquet(s, ct.manifestDir(1, ct.cloneDir(d))).select(col("g"), col("mpath").as("m1"))
      val l2 = Graft.parquet(s, ct.manifestDir(2, ct.cloneDir(d))).select(col("g"), col("mpath").as("m2"))
      l1.join(l2, Seq("g"), "full_outer")
        .select(
          when(col("m1").isNull, lit("added"))
            .when(col("m2").isNull, lit("dropped"))
            .when(col("m1") === col("m2"), lit("carried"))
            .otherwise(lit("rewritten"))
            .as("status")
        )
        .groupBy("status")
        .agg(count(lit(1)).as("n_groups"))
        .orderBy("status")
    }),
    // Late-data watermark profile (x194) — the batch diagnostic that
    // SIZES the streaming layer's watermarks (every `withWatermark` in
    // EventStreams hardcodes a delay; this measures what a delay WOULD
    // drop): per candidate watermark W, an event is dropped iff its
    // event time < (running max event time over ARRIVAL order) − W. The
    // fixture arrives perfectly in order (measured: zero natural
    // lateness), so lateness is PLANTED in-query (x101 device) in TIME,
    // not slots (slot delays scale with event density — the first draft
    // overshot every fence): stripes %37/%101/%211 get their EVENT TIME
    // pulled back 5 min / 30 min / 2 h while arrival order stays, so the
    // fences each give a DIFFERENT verdict (1-min drops all three
    // stripes, 10-min two, 60-min one, 180-min none — so the
    // ok-at-1000ppm boolean exercises both outcomes). Per policy: drop
    // count, ppm, max
    // lateness and an ok-at-1000ppm verdict — the table a pipeline
    // owner reads to pick the delay. The running max over arrival order
    // uses the x87 PREFIX-MAX discipline (range buckets → per-bucket
    // running max + broadcast prefix of bucket maxes) — never a
    // corpus-wide single-partition window; the three policies are
    // conditional sums over the same checkpointed pass.
    "x194_watermark_profile" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(
          col("event_id"),
          expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) - CASE WHEN event_id % 211 = 0 THEN 7200000000 " +
              "WHEN event_id % 101 = 0 THEN 1800000000 " +
              "WHEN event_id % 37 = 0 THEN 300000000 ELSE 0 END"
          ).as("us"),
          col("event_id").as("arrival")
        )
      val bucketed = ev.withColumn("bkt", expr("arrival div 4096")).localCheckpoint()
      val wPrev = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val prefix = bucketed
        .groupBy("bkt")
        .agg(max("us").as("bmax"))
        .withColumn("prev_max", coalesce(max("bmax").over(wPrev), lit(Long.MinValue)))
        .select("bkt", "prev_max")
      val wLoc = Window
        .partitionBy("bkt")
        .orderBy("arrival", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val late = bucketed
        .join(broadcast(prefix), Seq("bkt"))
        .withColumn("runmax", greatest(max("us").over(wLoc), col("prev_max")))
        .withColumn("late_us", col("runmax") - col("us"))
        .localCheckpoint() // three policy sums + max share one pass
      import s.implicits._
      val policies = Seq(1L, 10L, 60L, 180L).toDF("wm_min")
      late
        .crossJoin(broadcast(policies))
        .groupBy("wm_min")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("late_us") > col("wm_min") * 60000000L, 1L).otherwise(0L)).as("n_late"),
          max(col("late_us")).as("max_late_us")
        )
        .select(
          col("wm_min"),
          col("n_events"),
          col("n_late"),
          expr("(n_late * 1000000) div n_events").as("late_ppm"),
          expr("max_late_us div 1000000").as("max_late_s"),
          expr("(n_late * 1000000) div n_events <= 1000").as("ok_at_1000ppm")
        )
        .orderBy("wm_min")
    }),

    // Data-contract audit (x191) — the reference's stubbed
    // DataQualityOperator grown into the declarative ruleset real
    // pipelines ship (Deequ/dbt-test shape): five contract rules over
    // the canonical orders feed — key NOT NULL + UNIQUE, price-cents
    // range, status domain, date window, customer FK — each reported as
    // (checked, violations, min violating key, ok). The fixture is
    // CLEAN, so violations are PLANTED in-query on deterministic stripes
    // (the x139 corrupted-relationship discipline: status 'X' on %1009,
    // FK shift on %1013, negated price on %1019, epoch date on %1021;
    // the date window brackets the generator's real span) — every rule's failure
    // path is load-bearing and the audit must localize EXACTLY the
    // planted stripes (min_bad_key pins localization, not just counts).
    // Scale shape: rules 2-4 are conditional sums in ONE scan;
    // uniqueness is a key census; the FK probe is a broadcast anti-join
    // against the dim — nothing rescans per rule.
    "x191_contract_audit" -> ((s, d) => {
      val o = graft.Graft
        .table(s, d, "orders")
        .select(
          col("o_orderkey").as("k"),
          expr(
            "CASE WHEN o_orderkey % 1019 = 0 THEN -CAST(round(o_totalprice * 100) AS BIGINT) " +
              "ELSE CAST(round(o_totalprice * 100) AS BIGINT) END"
          ).as("cents"),
          expr("CASE WHEN o_orderkey % 1009 = 0 THEN 'X' ELSE o_orderstatus END").as("status"),
          expr(
            "CASE WHEN o_orderkey % 1021 = 0 THEN DATE '1970-01-01' " +
              "ELSE CAST(o_orderdate AS DATE) END"
          ).as("odate"),
          expr("CASE WHEN o_orderkey % 1013 = 0 THEN o_custkey + 10000000 ELSE o_custkey END").as("ck")
        )
        .localCheckpoint() // five rule probes share the planted feed
      val n = o.count()
      def ruleRow(rule: String, viol: DataFrame): DataFrame =
        viol
          .agg(count(lit(1)).as("n_violations"), coalesce(min("k"), lit(-1L)).as("min_bad_key"))
          .select(
            lit(rule).as("rule"),
            lit(n).as("n_checked"),
            col("n_violations"),
            col("min_bad_key"),
            (col("n_violations") === 0L).as("ok")
          )
      val dupes = o.groupBy("k").agg(count(lit(1)).as("c")).where(col("c") > 1 || col("k").isNull)
      val fk = o.join(
        broadcast(graft.Graft.table(s, d, "customer").select(col("c_custkey").as("ck"))),
        Seq("ck"),
        "left_anti"
      )
      Seq(
        ruleRow("key_unique_not_null", dupes.select(col("k"))),
        ruleRow("price_cents_range", o.where(!(col("cents") >= 1L && col("cents") <= 60000000L)).select("k")),
        ruleRow("status_domain", o.where(!col("status").isin("F", "O", "P")).select("k")),
        ruleRow(
          "date_window",
          o.where(!(col("odate") >= lit("1995-01-01") && col("odate") < lit("2002-01-01"))).select("k")
        ),
        ruleRow("customer_fk", fk.select("k"))
      ).reduce(_ unionByName _).orderBy("rule")
    }),

    // CDC composition (x188) — the ALGEBRA on top of x84's single-hop
    // diff: a consumer that missed a snapshot must be able to FOLD
    // per-hop change feeds instead of re-diffing against an old version
    // (at 100 TB the direct v1→v3 diff re-reads every bucket either hop
    // touched; composing two already-extracted feeds reads none). The
    // compose rules per key: I∘U→I(new), I∘D→∅, U∘U→U(first old, last
    // new), U∘D→D(first old), D∘I→U — followed by net-zero cancellation
    // (old = new ⇒ no change), which is exactly the same-value exclusion
    // the direct diff applies. The gate emits BOTH branches — direct
    // snapshotDiff(1,3) and the composed fold of (1,2)∘(2,3) — and the
    // oracle computes ONE truth from the stacked v2/v3 change formulas,
    // so a wrong compose rule OR a wrong direct diff breaks its branch.
    // Scale shape: the compose is one key-equi full-outer join of two
    // change-sized feeds; the direct branch reads changed buckets only.
    "x188_cdc_compose" -> ((s, d) => {
      val root = graft.sources.CowTable.ensure(s, d)
      val direct = graft.sources.CowTable
        .snapshotDiff(s, 1, 3, root)
        .withColumn("branch", lit("direct"))
      val composed = composeDiffs(
        graft.sources.CowTable.snapshotDiff(s, 1, 2, root),
        graft.sources.CowTable.snapshotDiff(s, 2, 3, root)
      ).withColumn("branch", lit("composed"))
      direct.unionByName(composed).orderBy("branch", "k")
    }),

    // Row-level CDC between snapshots: the diff reads ONLY buckets whose
    // manifest entries differ (carried buckets share physical files and
    // can't differ), then classifies per key — U rows carry both values,
    // D rows the old one. The oracle replays the v2→v3 change formulas
    // row by row, excluding same-value rewrites exactly as the diff does.
    "x84_snapshot_diff" -> ((s, d) => {
      val root = graft.sources.CowTable.ensure(s, d)
      graft.sources.CowTable.snapshotDiff(s, 2, 3, root).orderBy("k")
    }),
    // Incremental materialized-view maintenance — the reason CDC exists:
    // MV(v3) is computed as MV(v2) + per-bucket deltas folded from the
    // x84 diff (I adds, D subtracts, U adds the difference), so the view
    // updates touching ONLY changed buckets; the oracle recomputes the
    // view from v3 directly, and the hash match proves the increment law
    // (the q49 snapshot+delta discipline applied to table-format CDC).
    // Incremental JOIN-view maintenance (x155) — the delta-join algebra
    // (Blakeley et al. 1986), the join-MV counterpart of x85's
    // agg-from-CDC: for V = O ⋈ L, the update under ΔO/ΔL is exactly
    // ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL — three joins whose cost tracks the DELTA
    // size, not the table size, because the delta side of each join is
    // batch-sized and BROADCAST (at 100 TB this is the difference
    // between an MV refresh reading one batch and re-reading the fact
    // table). Deltas are closed-form stripes (late-arriving lineitems of
    // existing orders + whole new orders with their items), so the
    // oracle is the FULL recompute over the reunified tables — the gate
    // proves incremental ≡ recompute, the invariant that matters.
    // Mergeable aggs only (sum/count), merged by key summation.
    "x155_delta_join_mv" -> ((s, d) => {
      val o = graft.Graft
        .table(s, d, "orders")
        .select(col("o_orderkey").as("ok"), substring(col("o_orderdate").cast("string"), 1, 7).as("month"))
      val l = graft.Graft
        .table(s, d, "lineitem")
        .select(
          col("l_orderkey").as("ok"),
          col("l_linenumber").as("ln"),
          col("l_suppkey").as("supp"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")
        )
      val oBase = o.where(col("ok") % 10 =!= 7)
      val oDelta = o.where(col("ok") % 10 === 7).localCheckpoint() // broadcast side ×2
      val lBase = l.where(col("ok") % 10 =!= 7 && col("ln") % 4 =!= 2)
      val lDelta = l.where(col("ok") % 10 === 7 || col("ln") % 4 === 2).localCheckpoint() // broadcast side ×2
      def agg(df: DataFrame) =
        df.groupBy("supp", "month").agg(count(lit(1)).as("n_items"), sum("cents").as("revenue_cents"))
      val mv0 = agg(oBase.join(lBase, "ok")).localCheckpoint() // the stored MV
      val dOL = lBase.join(broadcast(oDelta), "ok") // ΔO⋈L₀ — ΔO broadcasts, L₀ never shuffles
      val odL = oBase.join(broadcast(lDelta.where(col("ok") % 10 =!= 7)), "ok") // O₀⋈ΔL
      val dOdL = oDelta.join(broadcast(lDelta.where(col("ok") % 10 === 7)), "ok") // ΔO⋈ΔL
      val deltaMv = agg(dOL.unionByName(odL).unionByName(dOdL))
      mv0
        .unionByName(deltaMv)
        .groupBy("supp", "month")
        .agg(sum("n_items").as("n_items"), sum("revenue_cents").as("revenue_cents"))
        .orderBy("supp", "month")
    }),

    "x85_incremental_mv" -> ((s, d) => {
      val root = graft.sources.CowTable.ensure(s, d)
      val w = graft.sources.CowTable.BucketWidth
      val mv2 = graft.sources.CowTable
        .read(s, 2, root)
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      val deltas = graft.sources.CowTable
        .snapshotDiff(s, 2, 3, root)
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(
          sum(
            when(col("change_type") === "I", 1L)
              .when(col("change_type") === "D", -1L)
              .otherwise(0L)
          ).as("dn"),
          sum(
            when(col("change_type") === "I", col("new_cents"))
              .when(col("change_type") === "D", -col("old_cents"))
              .otherwise(col("new_cents") - col("old_cents"))
          ).as("dc")
        )
      mv2
        .join(deltas, Seq("bucket"), "full")
        .select(
          col("bucket"),
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
          (coalesce(col("total_cents"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("total_cents")
        )
        .where(col("n_rows") > 0)
        .orderBy("bucket")
    }),
    // Vacuum PLANNING (the x45-before-x78 split): physical bucket dirs
    // under the table root vs the paths the retained {v2, v3} manifests
    // reference — the difference is unreachable garbage (exactly the v1
    // dirs that v2 rewrote; carried entries keep older dirs reachable).
    // The gate never deletes — executing vacuum breaks time travel to
    // expired snapshots by design, so execution lives in CowTableSpec.
    "x86_vacuum_plan" -> ((s, d) => {
      val root = graft.sources.CowTable.ensure(s, d)
      import s.implicits._
      val (orphans, all) = graft.sources.CowTable.vacuumPlan(s, Seq(2, 3), root)
      Seq((orphans.size.toLong, (all.size - orphans.size).toLong, all.size.toLong))
        .toDF("n_orphans", "n_referenced", "n_dirs")
    }),
    // Full-era vacuum (x229): x86's reachability walk extended to the
    // round-7 feature era — deletion-vector sidecars, delta files, and
    // REGISTERED clones (cloneTable back-points at the source, and the
    // plan walks every clone snapshot). Over the CowGc fixture with
    // retain={5}: dv_v4 + the doubly-rewritten v3 dirs are true orphans;
    // dv_v2 and every rewritten bucket's v1 dir survive ONLY through the
    // clone (the n_kept_clone_only audit column). The oracle replays the
    // two stripe formulas; CowGcSpec EXECUTES the vacuum and proves the
    // clone still reads, then deregisters and proves the hold releases.
    "x229_vacuum_full" -> ((s, d) => {
      import s.implicits._
      val (orphans, cands, cloneOnly) =
        graft.sources.CowTable.vacuumPlanFull(s, Seq(5), graft.sources.CowGc.ensure(s, d))
      Seq(
        (
          cands.size.toLong,
          (cands.size - orphans.size).toLong,
          orphans.size.toLong,
          orphans.count(_.contains("/dv_v")).toLong,
          cloneOnly.size.toLong
        )
      ).toDF("n_candidates", "n_referenced", "n_orphans", "n_dv_orphans", "n_kept_clone_only")
    }),
    // Bot-traffic detection (x250) — the ingest-hygiene verb a
    // training-data pipeline runs before any engagement metric (bots
    // poison x248/x141/x172 alike): per-user burst features — events in
    // the user's HOTTEST second (eps_max), sub-second inter-arrival
    // share (lag over a user-partitioned window — bounded groups), span
    // vs volume — fold into a deterministic verdict (eps_max ≥ 5 OR
    // sub-second share > 50%). Output: the verdict census per feature
    // breakdown + the flagged-user list (bounded by construction at
    // gate; at scale the list is a filter, not a collect). Integer
    // seconds end to end.
    "x250_bot_detection" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(
          col("user_id").as("u"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
          col("event_id")
        )
        .localCheckpoint() // eps census + inter-arrival legs
      val eps = ev
        .groupBy(col("u"), expr("us div 1000000").as("sec"))
        .agg(count(lit(1)).as("n"))
        .groupBy("u")
        .agg(max("n").as("eps_max"))
      val wArr = Window.partitionBy("u").orderBy("us", "event_id")
      val arr = ev
        .withColumn("prev", lag("us", 1).over(wArr))
        .where(col("prev").isNotNull)
        .groupBy("u")
        .agg(
          count(lit(1)).as("n_gaps"),
          sum(expr("IF(us - prev < 1000000, 1L, 0L)")).as("n_subsec")
        )
      val feats = ev
        .groupBy("u")
        .agg(count(lit(1)).as("n_events"))
        .join(eps, "u")
        .join(arr, Seq("u"), "left")
        .select(
          col("u"),
          col("n_events"),
          col("eps_max"),
          coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
          coalesce(col("n_subsec"), lit(0L)).as("n_subsec")
        )
        .withColumn("bot", expr("eps_max >= 5 OR (n_gaps > 0 AND n_subsec * 2 > n_gaps)"))
        .localCheckpoint() // census + flagged list
      feats
        .where(col("bot"))
        .select(col("u"), col("n_events"), col("eps_max"), col("n_subsec"))
        .crossJoin(
          broadcast(
            feats.agg(
              count(lit(1)).as("n_users"),
              sum(expr("IF(bot, 1L, 0L)")).as("n_bots"),
              sum(expr("IF(bot, n_events, 0L)")).as("bot_events")
            )
          )
        )
        .orderBy("u")
    }),
    // DAU/WAU/stickiness (x248) — the engagement dashboard staple: per
    // day, distinct active users (DAU), trailing-7-day distinct users
    // (WAU), and stickiness = DAU/WAU ppm. The trailing-distinct is the
    // classic bounded-explode: each (user, day) activity row funds
    // wau(day..day+6) — a ≤7× expansion of the DEDUPLICATED activity
    // table (never raw events), then one distinct + census; no
    // windows, no self-joins, day range capped to observed data. Scale
    // shape: everything rides (user, day)-grain tables with map-side
    // combine.
    "x248_dau_wau" -> ((s, d) => {
      val ud = graft.Graft
        .events(s, d)
        .select(
          col("user_id").as("u"),
          expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("day")
        )
        .distinct()
        .localCheckpoint() // dau + wau legs + bounds
      val bounds = ud.agg(max("day").as("maxd"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .crossJoin(broadcast(bounds))
        .select(col("u"), explode(expr("sequence(day, least(day + 6, maxd))")).as("day"))
        .distinct()
        .groupBy("day")
        .agg(count(lit(1)).as("wau"))
      dau
        .join(wau, "day")
        .withColumn("stickiness_ppm", expr("(dau * 1000000) div wau"))
        .orderBy("day")
    }),
    // Time-to-convert percentiles (x245) — the product-analytics metric
    // beside x141's cohorts and q59's funnel: how LONG from first
    // signup to first subsequent purchase, as exact integer-second
    // p50/p90 (no t-digest hand-waving): per-user first-signup and
    // first-purchase-after aggs, then the x182 rank-pick over the
    // delta-value census (the rank-r value depends only on the census;
    // positions by `Prefix` over the 8192×-compressed bucket table).
    // One row: conversion rate + p50/p90/mean/max seconds.
    "x245_time_to_convert" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(
          col("user_id").as("u"),
          col("event_type").as("t"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").as("sec")
        )
        .localCheckpoint() // signup + purchase legs
      val su = ev.where(col("t") === "signup").groupBy("u").agg(min("sec").as("s0")).localCheckpoint()
      val conv = ev
        .where(col("t") === "purchase")
        .join(su, "u")
        .where(col("sec") >= col("s0"))
        .groupBy("u")
        .agg(min(expr("sec - s0")).as("delta"))
        .localCheckpoint() // census + totals
      val n = conv.agg(count(lit(1)).as("n_conv"), sum("delta").as("sum_delta"), max("delta").as("max_delta"))
      val vc = conv
        .groupBy("delta")
        .agg(count(lit(1)).as("t"))
        .withColumn("bk", expr("delta div 8192L"))
        .localCheckpoint() // offsets + positions
      val pos = Prefix
        .exclusive(vc, Nil, "bk", Seq(col("delta")))(col("t") -> "cum")
        .localCheckpoint() // two picks
      def pick(p: Int, name: String) =
        broadcast(
          pos
            .crossJoin(broadcast(n.select(col("n_conv").as("nc"))))
            .where(Prefix.nearestRank("cum", "t", "nc", p))
            .select(col("delta").as(name))
        )
      su.agg(count(lit(1)).as("n_signup"))
        .crossJoin(broadcast(n))
        .crossJoin(pick(50, "p50_s"))
        .crossJoin(pick(90, "p90_s"))
        .select(
          col("n_signup"),
          col("n_conv"),
          expr("(n_conv * 1000000) div n_signup").as("conv_ppm"),
          col("p50_s"),
          col("p90_s"),
          expr("sum_delta div n_conv").as("mean_s"),
          col("max_delta").as("max_s")
        )
    }),
    // Order↔line reconciliation audit (x244) — the double-entry check
    // every warehouse runs nightly: does the header total equal the sum
    // of its lines under the stated formula (Σ price·(1−disc)·(1+tax),
    // all integer cents, floor once per line)? The output is a DIFF
    // HISTOGRAM, not a boolean — exact matches, over/under classes by
    // ⌊log2|diff|⌋ (the x61 bin() trick), headerless-order sentinel —
    // because at 100 TB "reconciled: no" is useless without the shape
    // and mass of the discrepancy. One line-side agg + one header left
    // join; the census is class-bounded.
    "x244_order_reconcile" -> ((s, d) => {
      val lines = graft.Graft
        .table(s, d, "lineitem")
        .select(
          col("l_orderkey").as("ok"),
          expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) * " +
              "(100 + CAST(round(l_tax * 100) AS BIGINT))) div 10000"
          ).as("lv")
        )
        .groupBy("ok")
        .agg(sum("lv").as("expected"))
      val j = graft.Graft
        .table(s, d, "orders")
        .select(col("o_orderkey").as("ok"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("actual"))
        .join(lines, Seq("ok"), "left")
        .withColumn("diff", expr("actual - coalesce(expected, 0L)"))
        .withColumn(
          "clazz",
          expr(
            "CASE WHEN expected IS NULL THEN 'no_lines' WHEN diff = 0 THEN 'exact' " +
              "ELSE IF(diff > 0, 'over:2^', 'under:2^') || CAST(length(bin(abs(diff))) - 1 AS STRING) END"
          )
        )
        .localCheckpoint() // class census + totals
      j.groupBy("clazz")
        .agg(count(lit(1)).as("n_orders"), sum(expr("abs(diff)")).as("sum_abs_diff"))
        .crossJoin(
          broadcast(
            j.agg(
              count(lit(1)).as("n_total"),
              sum(expr("IF(diff = 0 AND expected IS NOT NULL, 1L, 0L)")).as("n_exact")
            )
          )
        )
        .orderBy("clazz")
    }),
    // Functional-dependency discovery (x239) — the data-profiling verb
    // beside x138's column stats and x191's contracts: does column A
    // determine column B? FD A→B holds iff |distinct(A,B)| =
    // |distinct A|, and the violation count Σ_A(|B per A|−1) =
    // n_pairs − n_lhs falls out of the same two numbers — so each
    // candidate costs ONE distinct census over a 2-column pruned scan
    // (map-side combine), no per-key explode, no self-join. Six
    // candidates over three tables pin both verdict polarities (keys
    // hold; reverse directions and lineitem fan-outs fail with measured
    // violation rates).
    "x239_fd_discovery" -> ((s, d) => {
      def fd(tbl: String, lhs: String, rhs: String): DataFrame =
        graft.Graft
          .table(s, d, tbl)
          .select(col(lhs).as("a"), col(rhs).as("b"))
          .distinct()
          .agg(count(lit(1)).as("n_pairs"), countDistinct("a").as("n_lhs"))
          .select(
            lit(tbl).as("tbl"),
            lit(lhs).as("lhs"),
            lit(rhs).as("rhs"),
            col("n_lhs"),
            col("n_pairs"),
            (col("n_pairs") - col("n_lhs")).as("violations"),
            expr("((n_pairs - n_lhs) * 1000000) div n_pairs").as("viol_ppm"),
            (col("n_pairs") === col("n_lhs")).as("holds")
          )
      Seq(
        ("orders", "o_orderkey", "o_custkey"),
        ("orders", "o_custkey", "o_orderkey"),
        ("customer", "c_custkey", "c_nationkey"),
        ("customer", "c_nationkey", "c_custkey"),
        ("lineitem", "l_orderkey", "l_suppkey"),
        ("lineitem", "l_partkey", "l_suppkey")
      ).map((fd _).tupled).reduce(_.unionByName(_)).orderBy("tbl", "lhs", "rhs")
    }),
    // Physical-layout audit (x256) — the measurement x45/x187's
    // decisions consume: per metadata level of the x226 manifest tree
    // (data files, manifest files, the list), file / row-group / row
    // counts with row-group size extremes, from FOOTERS ONLY — the
    // engine's parquet-mr footer walk cross-verified against DuckDB's
    // completely independent parquet_metadata() parser, so a footer
    // misread on either side breaks the hash. Gate-SF pin: the oracle
    // paths name the sf0.01 artifact (the x74 convention — the driver
    // gate always runs sf0.01). Footer reads distribute; only the file
    // list is driver-side.
    "x256_layout_audit" -> ((s, d) => {
      val root = graft.sources.ManifestTree.ensure(s, d)
      def level(name: String, sub: String): DataFrame =
        graft.sources.FooterStats
          .layout(s, s"$root/$sub")
          .agg(
            countDistinct("file").as("n_files"),
            count(lit(1)).as("n_row_groups"),
            sum("rows").as("n_rows"),
            min("rows").as("min_rg_rows"),
            max("rows").as("max_rg_rows")
          )
          .select(lit(name).as("level"), col("n_files"), col("n_row_groups"), col("n_rows"),
            col("min_rg_rows"), col("max_rg_rows"))
      level("data", "data")
        .unionByName(level("manifests", "manifests"))
        .unionByName(level("list", "manifest_list"))
        .orderBy("level")
    }),
    // Bitmap-index multi-predicate counts (x237) — the warehouse
    // acceleration classic (Oracle/Druid/Pinot bitmap indexes): per
    // distinct value of a low-cardinality column, a bitmap over row ids
    // as 63-bit packed words (the x96/x97 DV convention, one (w, word)
    // row per occupied word); a conjunctive/disjunctive predicate count
    // is then word-wise AND/OR + bit_count over the TWO bitmaps — no
    // data scan. Row ids: (l_orderkey·8 + l_linenumber)·65536 + a per-key
    // occurrence rank — the generator REUSES (orderkey, linenumber)
    // (45832 distinct / 60000 rows at sf0.01), so the disambiguator is
    // load-bearing; a key-partitioned bounded window, never
    // monotonically_increasing_id, so bitmaps are reproducible and any
    // collision breaks the scan-twin equality below. The gate emits
    // every (returnflag × linestatus) AND count plus
    // one OR and one AND-NOT row, each against its direct-scan twin
    // (n_bitmap must equal n_scan — the contrast IS the proof, the x121
    // split). Scale shape: bitmap build is one map-side-combinable
    // bit_or census per value (words ≈ rows/63); intersections join on
    // the word index only.
    "x237_bitmap_index" -> ((s, d) => {
      val li = graft.Graft
        .table(s, d, "lineitem")
        .select(
          expr("l_orderkey * 8 + l_linenumber").as("rid0"),
          col("l_returnflag").as("rf"),
          col("l_linestatus").as("ls")
        )
        .withColumn(
          // 16-bit disambiguator (advice-found: 8 bits silently collided
          // a key's rank into the neighbor's bit space past 255 dups;
          // 65536 keeps rid injective to ~4e14 keys × 64k dups)
          "rid",
          expr("rid0 * 65536") +
            row_number().over(Window.partitionBy("rid0").orderBy("rf", "ls")).cast("long")
        )
        .select("rid", "rf", "ls")
        .localCheckpoint() // two bitmap builds + three scan twins
      def bitmaps(c: String): DataFrame =
        li.select(
            col(c).as("v"),
            expr("rid div 63").as("w"),
            expr("shiftleft(1L, CAST(rid % 63 AS INT))").as("bit")
          )
          .groupBy("v", "w")
          .agg(expr("bit_or(bit)").as("word"))
      val bmR = bitmaps("rf").localCheckpoint()
      val bmS = bitmaps("ls").localCheckpoint()
      // AND for every (rf, ls) value pair: equi-join on w, bit_count(a&b);
      // the pred universe is the value CROSS (a pair sharing no word —
      // possible under extreme clustering — still gets its 0 row)
      val andCounts = bmR
        .select(col("v").as("rf"), col("w"), col("word").as("wa"))
        .join(bmS.select(col("v").as("ls"), col("w"), col("word").as("wb")), "w")
        .groupBy("rf", "ls")
        .agg(sum(expr("bit_count(wa & wb)")).as("nb"))
      val ands = bmR
        .select(col("v").as("rf"))
        .distinct()
        .crossJoin(bmS.select(col("v").as("ls")).distinct())
        .join(andCounts, Seq("rf", "ls"), "left")
        .select(
          concat(lit("and:"), col("rf"), lit("/"), col("ls")).as("pred"),
          coalesce(col("nb"), lit(0L)).as("n_bitmap")
        )
      // OR and AND-NOT for one pinned pair (rf='R', ls='O'): full outer
      // on w (absent word = 0)
      val pairWords = bmR
        .where(col("v") === "R")
        .select(col("w"), col("word").as("wa"))
        .join(bmS.where(col("v") === "O").select(col("w"), col("word").as("wb")), Seq("w"), "full_outer")
        .select(coalesce(col("wa"), lit(0L)).as("wa"), coalesce(col("wb"), lit(0L)).as("wb"))
        .localCheckpoint() // or + andnot
      val orRow = pairWords
        .agg(sum(expr("bit_count(wa | wb)")).as("n_bitmap"))
        .select(lit("or:R/O").as("pred"), col("n_bitmap"))
      val anRow = pairWords
        .agg(sum(expr("bit_count(wa & ~wb)")).as("n_bitmap"))
        .select(lit("andnot:R/O").as("pred"), col("n_bitmap"))
      val scans = li
        .select(
          explode(
            array(
              concat(lit("and:"), col("rf"), lit("/"), col("ls")),
              when(col("rf") === "R" || col("ls") === "O", lit("or:R/O")).otherwise(lit("-")),
              when(col("rf") === "R" && col("ls") =!= "O", lit("andnot:R/O")).otherwise(lit("-"))
            )
          ).as("pred")
        )
        .where(col("pred") =!= "-")
        .groupBy("pred")
        .agg(count(lit(1)).as("n_scan"))
      ands
        .unionByName(orRow)
        .unionByName(anRow)
        .join(scans, Seq("pred"), "left")
        .select(col("pred"), col("n_bitmap"), coalesce(col("n_scan"), lit(0L)).as("n_scan"))
        .orderBy("pred")
    }),
    // Merkle-tree table diff (x231) — anti-entropy for table replication
    // (the Dynamo/Cassandra repair primitive applied to the lakehouse):
    // locate WHERE two snapshots differ without comparing rows — a
    // 3-level additive hash tree (row digests → bucket → bucket-group →
    // root, each level pmod 2⁶¹−1 of the child sum) built per snapshot,
    // then a level-wise full-outer diff emitting ONLY differing nodes.
    // Against the COW fixture's v1 vs v2: the root, the 3 touched
    // groups, and the 4 changed buckets (update stripe + insert bucket)
    // — everything else provably equal by hash at every level. The
    // additive fold makes each level one map-side-combinable agg (a
    // concat-hash would force per-node sorts); collision risk is the
    // md5 birthday bound, not a correctness path. At scale the bucket
    // hashes persist in the manifest (the x73 stats slot) and diff cost
    // is O(changed · fanout-depth) metadata reads; this gate builds
    // both trees online. Missing side (the v2-only insert bucket)
    // surfaces as the -1 sentinel, never a null.
    "x231_merkle_diff" -> ((s, d) => {
      val cow = graft.sources.CowTable.ensure(s, d)
      val P = "2305843009213693951L" // 2^61 - 1
      def tree(version: Int): DataFrame = {
        val rows = graft.sources.CowTable
          .read(s, version, cow)
          .select(
            expr(s"k div ${graft.sources.CowTable.BucketWidth}L").as("bucket"),
            graft.functions.Hashing
              .md5Window15(concat(col("k").cast("string"), lit("#"), col("cents").cast("string")))
              .as("dig")
          )
        val bh = rows
          .groupBy("bucket")
          .agg(expr(s"CAST(pmod(sum(CAST(dig AS DECIMAL(38,0))), $P) AS BIGINT)").as("h"))
          .localCheckpoint() // level-2 output + level-1 input
        val gh = bh
          .groupBy(expr("bucket div 8L").as("node"))
          .agg(expr(s"CAST(pmod(sum(CAST(h AS DECIMAL(38,0))), $P) AS BIGINT)").as("h"))
          .localCheckpoint() // level-1 output + root input
        val root = gh.agg(expr(s"CAST(pmod(sum(CAST(h AS DECIMAL(38,0))), $P) AS BIGINT)").as("h"))
        bh.select(lit(2L).as("level"), col("bucket").as("node"), col("h"))
          .unionByName(gh.select(lit(1L).as("level"), col("node"), col("h")))
          .unionByName(root.select(lit(0L).as("level"), lit(-1L).as("node"), col("h")))
      }
      tree(1)
        .withColumnRenamed("h", "h1")
        .join(tree(2).withColumnRenamed("h", "h2"), Seq("level", "node"), "full_outer")
        .select(
          col("level"),
          col("node"),
          coalesce(col("h1"), lit(-1L)).as("h1"),
          coalesce(col("h2"), lit(-1L)).as("h2")
        )
        .where(col("h1") =!= col("h2"))
        .orderBy("level", "node")
    }),
    // Time travel: snapshot v1 read AFTER the v2 merge — carried files are
    // referenced (not copied) by v2, so this hash-matching the ORIGINAL
    // table is the gate-level proof that the merge overwrote nothing.
    "x82_time_travel" -> ((s, d) => {
      val root = graft.sources.CowTable.ensure(s, d)
      graft.sources.CowTable
        .read(s, 1, root)
        .withColumn("bucket", expr(s"k div ${graft.sources.CowTable.BucketWidth}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
        .orderBy("bucket")
    }),
    // Merge-on-read DELETE via deletion vectors (sources/CowEvo v2) vs the
    // SAME logical delete via the COW rewrite path (v30): both snapshots
    // read back per bucket in ONE output row — the oracle computes a
    // single truth for both column sets, so any divergence between the
    // DV-masked read and the rewritten read flips the hash. Provenance
    // proves the MOR half moved zero data: every v2 manifest entry must
    // still point at a /v1/ data file (data_src_version pinned to the
    // oracle's literal 1), with has_dv/n_del recomputed from the stripe.
    "x97_mor_delete" -> ((s, d) => {
      import s.implicits._
      val w = graft.sources.CowTable.BucketWidth
      val root = graft.sources.CowEvo.ensure(s, d)
      val mor = graft.sources.CowTable
        .read(s, 2, root)
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_live"), sum("cents").as("total_cents"))
      val cow = graft.sources.CowTable
        .read(s, 30, root)
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cow_n_live"), sum("cents").as("cow_total_cents"))
      val prov = graft.sources.CowTable
        .entries(s, 2, root)
        .map(e => (e.bucket,
          if (e.dvPath.nonEmpty) 1L else 0L,
          e.nDel,
          if (e.path.contains("/v1/")) 1L else 99L))
        .toDF("bucket", "has_dv", "n_del", "data_src_version")
      mor.join(cow, Seq("bucket")).join(prov, Seq("bucket")).orderBy("bucket")
    }),
    // Merge-on-read UPSERT (sources/CowEvo v6) vs the SAME logical upsert
    // via the COW rewrite path (v31): updates mask their OLD version
    // through DVs OR-merged into v2's delete vectors and land the NEW
    // version in a change-sized delta file; inserts are delta-only. One
    // output row per bucket carries both reads — the oracle computes a
    // single truth, so a delta row wrongly masked by the shared key, a
    // missed old-version mask, or a lost insert flips the hash.
    // Provenance proves the MOR half rewrote ZERO base data files: every
    // v6 entry is either a carried /v1/ file or a /delta_v6/ file
    // (n_other_files is the oracle's literal 0), with has_dv/n_del
    // recomputed from the stripe formulas (n_del = delete ∪ update masks).
    "x126_mor_upsert" -> ((s, d) => {
      import s.implicits._
      val w = graft.sources.CowTable.BucketWidth
      val root = graft.sources.CowEvo.ensure(s, d)
      val mor = graft.sources.CowTable
        .read(s, 6, root)
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_live"), sum("cents").as("total_cents"))
      val cow = graft.sources.CowTable
        .read(s, 31, root)
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cow_n_live"), sum("cents").as("cow_total_cents"))
      val prov = graft.sources.CowTable
        .entries(s, 6, root)
        .groupBy(_.bucket)
        .toSeq
        .map { case (b, es) =>
          (b,
            es.count(_.path.contains("/v1/")).toLong,
            es.count(_.path.contains("/delta_v6/")).toLong,
            es.count(e => !e.path.contains("/v1/") && !e.path.contains("/delta_v6/")).toLong,
            if (es.exists(_.dvPath.nonEmpty)) 1L else 0L,
            es.map(_.nDel).max)
        }
        .toDF("bucket", "n_base_files", "n_delta_files", "n_other_files", "has_dv", "n_del")
      mor.join(cow, Seq("bucket")).join(prov, Seq("bucket")).orderBy("bucket")
    }),
    // Snapshots METADATA TABLE (the Iceberg `snapshots`/`files` observability
    // face): one row per CowEvo version with manifest-derived accounting —
    // entry/bucket/DV-entry counts, manifest row and mask totals, current
    // schema id, and fresh-file provenance (entries living under the
    // version's OWN data dirs — a carried-by-reference commit must show 0).
    // The whole table is a driver-side walk over 9 manifests (file-count-
    // sized metadata, the table-format planning unit); the oracle rebuilds
    // every number from the stripe/insert change formulas, so the gate pins
    // carried-verbatim stats, DV accounting (delete ∪ update masks), fold
    // arithmetic, delta-file registration, and the v7 ROLLBACK's
    // metadata-only restoration (its row must equal v2's with 0 fresh
    // files) across the whole history.
    "x130_snapshots_meta" -> ((s, d) => {
      import s.implicits._
      val root = graft.sources.CowEvo.ensure(s, d)
      Seq(1, 2, 3, 4, 5, 6, 7, 30, 31)
        .map { v =>
          val es = graft.sources.CowTable.entries(s, v, root)
          (
            v.toLong,
            graft.sources.CowTable.versionSchemaId(s, v, root).getOrElse(0).toLong,
            es.size.toLong,
            es.map(_.bucket).distinct.size.toLong,
            es.count(_.dvPath.nonEmpty).toLong,
            es.map(_.nRows).sum,
            es.map(_.nDel).sum,
            es.count(e => e.path.contains(s"/v$v/") || e.path.contains(s"/delta_v$v/")).toLong
          )
        }
        .toDF("version", "schema_id", "n_entries", "n_buckets", "n_dv_entries", "sum_rows", "sum_ndel", "n_fresh_files")
        .orderBy("version")
    }),
    // Schema evolution across snapshots (sources/CowEvo v3 add-column,
    // v4 rename): ONE read of v4 crosses schema-1 files (DV-masked, no
    // qty, written as "cents"), schema-2 files (qty present) and the
    // schema-3 CURRENT names — old files project through the Iceberg-
    // style field-id map, so the output column is `amount_cents` even
    // though no file on disk carries that name, and `qty` is typed NULL
    // for pre-evolution rows. file_schema_id comes from the manifest, so
    // a wrong id mapping (or a rewrite that should not have happened)
    // flips the hash.
    "x99_schema_evolution" -> ((s, d) => {
      import s.implicits._
      val w = graft.sources.CowTable.BucketWidth
      val root = graft.sources.CowEvo.ensure(s, d)
      val sid = graft.sources.CowTable
        .entries(s, 4, root)
        .map(e => (e.bucket, e.schemaId.toLong))
        .toDF("bucket", "file_schema_id")
      graft.sources.CowTable
        .read(s, 4, root)
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_rows"),
          sum("amount_cents").as("total_amount_cents"),
          count(col("qty")).as("qty_rows"),
          coalesce(sum("qty"), lit(0L)).as("qty_total")
        )
        .join(sid, Seq("bucket"))
        .orderBy("bucket")
    }),

    // Bloom-filter semi-join reduction — the shuffle-volume lever for
    // selective fact⋈dim joins at 100 TB: the dim's key set is folded into
    // a 1024-bit Bloom filter (17 packed 63-bit words, x96's word
    // discipline; k=3 md5 double-hashed probes, deterministic in both
    // engines), broadcast as ONE array row, and the fact side drops
    // non-members inside whole-stage codegen BEFORE anything shuffles —
    // the pattern behind Spark's runtime row-level filtering, built
    // explicitly so the gate can verify it. No false negatives by
    // construction (the joined aggregate hash-matches the plain join); the
    // measured candidate/false-positive counts ride as columns, so the
    // filter being wired wrong (or the fp rate exploding) flips the gate,
    // not just a perf graph. Scale shape: build = dim-sized agg into 17
    // words; probe = per-row pure arithmetic, zero fact shuffle until the
    // surviving ~4% aggregates.
    "x103_bloom_join" -> ((s, d) => {
      val MBits = 1024
      val dim = graft.Graft
        .table(s, d, "supplier")
        .where(col("s_nationkey") === 3)
        .select("s_suppkey", "s_name")
      def h(tag: String, key: Column): Column =
        graft.functions.Hashing.md5Window15(concat(lit(tag), key.cast("string")))
      val words = dim
        .select(h("bf1:", col("s_suppkey")).as("h1"), h("bf2:", col("s_suppkey")).as("h2"))
        .select(explode(sequence(lit(0), lit(2))).as("i"), col("h1"), col("h2"))
        .select(expr(s"(h1 + i * h2) % $MBits").as("pos"))
        .groupBy(expr("pos div 63").as("word"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))").as("bits"))
      val dense = s
        .range(0, (MBits + 62) / 63)
        .toDF("word")
        .join(words, Seq("word"), "left")
        .na.fill(0L, Seq("bits"))
        .agg(transform(array_sort(collect_list(struct(col("word"), col("bits")))), x => x.getField("bits"))
          .as("warr"))
      val fact = graft.Graft
        .table(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
        .withColumn("h1", h("bf1:", col("l_suppkey")))
        .withColumn("h2", h("bf2:", col("l_suppkey")))
        .crossJoin(broadcast(dense))
      def hit(i: Int): Column = expr(
        s"(shiftright(element_at(warr, CAST(((h1 + $i * h2) % $MBits) div 63 AS INT) + 1), " +
          s"CAST(((h1 + $i * h2) % $MBits) % 63 AS INT)) & 1) = 1"
      )
      val cand = fact.where(hit(0) && hit(1) && hit(2)).localCheckpoint() // feeds stats + join
      val joined = cand
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .localCheckpoint() // feeds the true-match count + the grouped result
      val stats = cand
        .agg(count(lit(1)).as("n_bloom_pass"))
        .crossJoin(joined.agg(count(lit(1)).as("n_true")))
        .select(col("n_bloom_pass"), (col("n_bloom_pass") - col("n_true")).as("n_false_pos"))
      joined
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").cast("long").as("sum_qty"))
        .crossJoin(broadcast(stats))
        .orderBy("s_name")
    }),

    // Zero-copy CLONE — the Delta/Iceberg shallow-clone shape over the COW
    // format: the clone commit writes ONLY a manifest referencing the
    // source snapshot's files by path (plus rows-sized schema metadata),
    // then a divergence MERGE rewrites just its touched buckets under the
    // clone root while untouched source files stay shared by reference.
    // The gate reads the diverged clone, pins per-bucket content AND
    // storage provenance (own_file = the manifest path lives under the
    // clone root ⇔ the bucket was touched by the clone delta — a
    // spurious rewrite or a missed share flips the flag), and re-reads
    // the SOURCE snapshot in the same query to prove divergence didn't
    // leak back. At 100 TB a clone is a metadata-speed commit regardless
    // of table size; CowCloneSpec asserts zero data files written by the
    // clone step itself.
    "x104_zero_copy_clone" -> ((s, d) => {
      graft.sources.CowTable.ensureClone(s, d)
      import s.implicits._
      val ct = graft.sources.CowTable
      val w = ct.BucketWidth
      val ownDf = ct
        .entries(s, 2, ct.cloneDir(d))
        .map(e => (e.bucket, e.path.startsWith(ct.cloneDir(d))))
        .toDF("bucket", "own_file")
      val per = ct
        .read(s, 2, ct.cloneDir(d))
        .withColumn("bucket", expr(s"k div ${w}L"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("cents_total"))
        .join(broadcast(ownDf), Seq("bucket"))
      val src = ct
        .read(s, 2, ct.dir(d))
        .agg(count(lit(1)).as("src_rows"), sum("cents").as("src_cents"))
      val stats = ownDf
        .agg(
          sum(when(!col("own_file"), 1L).otherwise(0L)).as("n_shared_files"),
          sum(when(col("own_file"), 1L).otherwise(0L)).as("n_own_files")
        )
        .crossJoin(src)
      per.crossJoin(broadcast(stats)).orderBy("bucket")
    }),

    // Named refs — branches and tags (x150): the Iceberg ref model over
    // the COW snapshot graph. The fixture drives the full lifecycle on a
    // clone: tag 'audit' pins clone v1; main commits a re-price stripe
    // (v2); branch 'exp' forks at v2 and makes TWO commits of its own
    // (an upsert stripe, then deletes + far-range inserts) while main's
    // manifest chain never moves; finally main FAST-FORWARDS to the
    // branch head as v3 — a metadata-only republish of the head's
    // manifest rows, zero data copied. The gate reads all four scopes
    // (tag, main v2, branch head, fast-forwarded main) and pins content
    // (rows / cents / distinct buckets), manifest size (n_entries must
    // equal content buckets — the structural carried+fresh invariant),
    // and the ref metadata itself; the oracle rebuilds every scope from
    // the closed-form stripe formulas. tag_audit surviving main's v2/v3
    // commits is the immutability proof; main_ff ≡ branch_head is the
    // zero-copy fast-forward proof (CowRefSpec asserts path identity and
    // the divergence refusal). Scale: four manifest-pruned reads + four
    // aggs; every cross-scope artifact is file-count-sized metadata.
    "x150_cow_branches" -> ((s, d) => {
      val ct = graft.sources.CowTable
      ct.ensureRefs(s, d)
      val w = ct.BucketWidth
      def scopeAgg(df: DataFrame, scope: String, kind: String, seq: Long, nEntries: Long) =
        df.agg(
          count(lit(1)).as("n_rows"),
          sum("cents").as("cents_total"),
          countDistinct(expr(s"k div ${w}L")).as("n_buckets")
        ).select(
          lit(scope).as("scope"),
          lit(kind).as("ref_kind"),
          lit(seq).as("ref_seq"),
          col("n_rows"),
          col("cents_total"),
          col("n_buckets"),
          lit(nEntries).as("n_entries")
        )
      val tagRef = ct.readRefMeta(s, "audit", ct.refsDir(d))
      val expRef = ct.readRefMeta(s, "exp", ct.refsDir(d))
      scopeAgg(
        ct.refRead(s, "audit", ct.refsDir(d)),
        "tag_audit",
        tagRef.kind,
        tagRef.seq.toLong,
        ct.entriesAt(s, tagRef.manifestPath).size.toLong
      ).unionByName(
        scopeAgg(ct.read(s, 2, ct.refsDir(d)), "main_v2", "main", 2L, ct.entries(s, 2, ct.refsDir(d)).size.toLong)
      ).unionByName(
        scopeAgg(
          ct.refRead(s, "exp", ct.refsDir(d)),
          "branch_head",
          expRef.kind,
          expRef.seq.toLong,
          ct.entriesAt(s, expRef.manifestPath).size.toLong
        )
      ).unionByName(
        scopeAgg(ct.read(s, 3, ct.refsDir(d)), "main_ff", "main", 3L, ct.entries(s, 3, ct.refsDir(d)).size.toLong)
      ).orderBy("scope")
    }),
    // Avro container scan (x119): fixture files are written by the
    // OFFICIAL Avro library (deflate codec, a null-union column), read
    // back by the from-scratch container/binary decoder — real
    // conformance, not a self-referential round trip. The oracle
    // aggregates the parquet original plus the comment formula, so any
    // varint/union/codec mis-decode flips the hash.
    // Federated format-parity scan (x193) — the integration face of the
    // source family (the x91 mixed-corpus idea on TABULAR formats): the
    // same canonical orders projection lands in parquet, ORC, CSV,
    // JSON-lines AND our own from-scratch SAS7BDAT (writer + distributed
    // reader), then ONE query unions all five reads and aggregates per
    // format — row count, cents total, and an ORDER-FREE md5-bucket
    // digest that any per-format value/row corruption flips; the
    // `parity` boolean (all five digests equal) rides every row. The
    // oracle reads only the ORIGINAL orders table (the x106 discipline),
    // so every format's round trip is checked against ground truth, not
    // against each other. Fixture is fingerprint-guarded per source dir;
    // each leg reads with an explicit schema (no inference pass).
    "x193_federated_scan" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      // a Fixture per source dir: a regenerated orders table invalidates
      // the five format copies (the x74/CowTable artifact-drift discipline)
      val root = Fixture("graft_federated", Some(d), "federated-v2") { root =>
        val proj = graft.Graft
          .table(s, d, "orders")
          .select(
            col("o_orderkey").as("k"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
            col("o_orderstatus").as("status")
          )
        graft.etl.Ingest.writeParquet(proj, s"$root/parquet")
        proj.write.mode("overwrite").orc(s"$root/orc")
        graft.etl.Ingest.writeCsv(proj, s"$root/csv")
        graft.etl.Ingest.writeJsonLines(proj, s"$root/json")
        // the SAS leg is bounded to keys < 200k — ALL rows at both gate
        // SFs (max key 149999), a bounded driver collect at any larger
        // scale (SAS is the dimension-scale interchange format; the four
        // distributed legs carry the full table)
        val rows = proj
          .where(col("k") < 200000L)
          .orderBy("k")
          .collect()
          .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getString(2)))
        graft.sources.Sas7bdatWriter.write(
          s"$root/orders.sas7bdat",
          Seq(
            graft.sources.Sas7bdatWriter.WCol("k", isNum = true, 8),
            graft.sources.Sas7bdatWriter.WCol("cents", isNum = true, 8),
            graft.sources.Sas7bdatWriter.WCol("status", isNum = false, 1)
          ),
          rows.toSeq
        )
      }
      val schema = StructType(
        Seq(StructField("k", LongType), StructField("cents", LongType), StructField("status", StringType))
      )
      def leg(fmt: String, df: DataFrame): DataFrame =
        df.select(
          lit(fmt).as("format"),
          col("k").cast("long").as("k"),
          col("cents").cast("long").as("cents"),
          col("status")
        ).withColumn(
          "md5b",
          graft.functions.Hashing.md5Bucket(
            concat(col("k").cast("string"), lit("#"), col("cents").cast("string"), lit("#"), col("status")),
            1L << 40
          )
        )
      val all = Seq(
        leg("1_parquet", Graft.parquet(s, s"$root/parquet")),
        leg("2_orc", s.read.orc(s"$root/orc")),
        leg("3_csv", s.read.schema(schema).option("header", "true").csv(s"$root/csv")),
        leg("4_json", graft.etl.Ingest.jsonLines(s, s"$root/json", schema)),
        // SAS stores numerics as float64 — exact for these magnitudes
        leg("5_sas7bdat", graft.sources.Sas7bdat.read(s, s"$root/orders.sas7bdat"))
      ).reduce(_ unionByName _)
      val perFmt = all
        .groupBy("format")
        .agg(
          count(lit(1)).as("n"),
          sum("cents").as("sum_cents"),
          // exact DECIMAL(38,0) sum (bare int64 wraps past ~2^23 rows —
          // the x182/x179 headroom class) folded into int64 by pmod
          expr(
            "CAST(pmod(sum(CAST(md5b AS DECIMAL(38,0))), 1152921504606846976) AS BIGINT)"
          ).as("digest")
        )
        .localCheckpoint() // parity agg + output
      val parity = perFmt.agg((countDistinct("digest") === 1L).as("parity"))
      perFmt.crossJoin(broadcast(parity)).orderBy("format")
    }),

    "x119_avro_scan" -> ((s, d) => {
      graft.sources.AvroScan
        .read(s, graft.sources.AvroScan.ensure(s, d))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          sum(when(col("o_comment").isNull, 1L).otherwise(0L)).as("n_null_comment"),
          sum(length(col("o_comment"))).as("comment_chars")
        )
        .orderBy("o_orderstatus")
    }),
    // Row-group-grain skipping (x124): the stats grain BELOW x73's
    // file-level manifest — parquet footers carry per-ROW-GROUP min/max/
    // count, so a range COUNT decides most groups without touching a data
    // page: fully-inside groups contribute their exact footer count,
    // fully-outside groups vanish, and only FILES holding a boundary
    // group are scanned (predicate pushed down, so parquet's own RG
    // filter re-skips their decided groups inside the scan; counting
    // decided groups from metadata in those files would double-count).
    // Row-group geometry is writer-dependent, so like x113 the gate pins
    // CONTENT + conservation laws and RgPruneSpec pins the actual
    // pruning counts. Three probes: narrow (mixed), all (pure metadata),
    // empty (pure skip).
    "x124_rowgroup_prune_count" -> ((s, d) => {
      val fsrc = graft.sources.FooterStats
      val path = fsrc.ensureSorted(s, d)
      import s.implicits._
      val ranges =
        Seq(("r1_narrow", 8000L, 12000L), ("r2_all", 0L, 100000000L), ("r3_empty", 1000000000L, 2000000000L))
      ranges
        .map { case (id, lo, hi) =>
          val (n, t, i, o, b, scanned, ft) = fsrc.rangeCount(s, path, "k", lo, hi)
          (id, n, t == i + o + b, scanned <= ft)
        }
        .toDF("range_id", "n_in_range", "rg_conserved", "scan_bounded")
        .orderBy("range_id")
    }),
    // Shuffle-free co-located join over bucketed tables (x121): the
    // pay-the-shuffle-once ingest discipline — orders and lineitem are
    // bucketed+sorted by orderkey into matching bucket counts, so the
    // fact-to-fact join plans as a sort-merge join with ZERO exchanges
    // (SmbJoinSpec asserts the exchange-free plan and bucket pruning;
    // this gate entry pins the bucketed round trip's CONTENT against the
    // parquet originals, the x106 pattern). At 100 TB this is the
    // difference between re-shuffling both fact tables every nightly run
    // and a local merge of co-located buckets.
    "x121_bucketed_smb_join" -> ((s, d) => {
      val (ot, lt) = graft.sources.BucketedTables.ensure(s, d)
      s.table(lt)
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"),
          sum(col("l_quantity").cast("long")).as("qty")
        )
        .orderBy("o_orderstatus")
    }),
    // Partition-spec evolution (x117): the table's bucket geometry
    // changes (1024 → 4096) as a METADATA-ONLY commit; the next merge
    // rewrites its touched old-spec buckets under the new spec while
    // untouched spec-1 files carry by reference, and key-range pruning
    // stays spec-agnostic (tight per-entry min/max). The gate reads the
    // post-evolution snapshot per super-bucket with per-spec file
    // provenance, pins the metadata-only law (v2 manifest == v1), and
    // probes one old-width block through the cross-spec pruner — a
    // spurious rewrite, a provenance drift, or a pruning miss flips a
    // column. Entry sets are deterministic (bucket dirs from key
    // formulas), so unlike x113 the FILE COUNTS are oracle-checkable.
    "x117_partition_evolution" -> ((s, d) => {
      val se = graft.sources.CowSpecEvo
      se.ensure(s, d)
      import s.implicits._
      val content = se
        .read(s, d, 3)
        .withColumn("sb", expr(s"k div ${se.W2}L"))
        .groupBy("sb")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("cents_total"))
      val es = se.entriesOf(s, d, 3)
      val provDf = es
        .map(e => (if (e.specId == 1) e.bucket / (se.W2 / se.W1) else e.bucket, e.specId))
        .toDF("sb", "spec")
        .groupBy("sb")
        .agg(
          sum(when(col("spec") === 1, 1L).otherwise(0L)).as("n_spec1_files"),
          sum(when(col("spec") === 2, 1L).otherwise(0L)).as("n_spec2_files")
        )
      val metaOnly = se.entriesOf(s, d, 2) == se.entriesOf(s, d, 1)
      val b0 = graft.Graft
        .table(s, d, "orders")
        .select(col("o_orderkey").as("k"))
        .where(expr(se.UpdFilter))
        .agg(min(expr(s"k div ${se.W1}L")))
        .collect()(0)
        .getLong(0)
      val lo = b0 * se.W1
      val hi = lo + se.W1 - 1
      val pruned = se.pruneEntries(s, d, 3, lo, hi)
      val narrowRows = Graft.parquet(s, pruned.map(_.path): _*).where(col("k").between(lo, hi)).count()
      val stats = Seq((es.size.toLong, pruned.size.toLong, narrowRows, metaOnly))
        .toDF("n_files_total", "n_files_narrow", "narrow_rows", "evolve_meta_only")
      content
        .join(broadcast(provDf), Seq("sb"), "left")
        .na.fill(0L, Seq("n_spec1_files", "n_spec2_files"))
        .crossJoin(broadcast(stats))
        .orderBy("sb")
    }),
    // Metadata-only COUNT(*) (x116): parquet footers already carry exact
    // per-row-group counts, so counting a table is a file-list problem —
    // zero data pages read. Footer reads distribute over the executors;
    // the gate pins the counts against real COUNT(*) on four tables.
    "x116_metadata_count" -> ((s, d) => {
      import s.implicits._
      Seq("customer", "documents", "lineitem", "orders")
        .map(t => (t, graft.sources.FooterStats.rowCount(s, s"$d/$t.parquet")))
        .toDF("table_name", "n_rows")
        .orderBy("table_name")
    }),
    // Manifest-list scan planning (x226, sources/ManifestTree): the
    // key-range read plans through the two-level Iceberg-shaped metadata
    // tree — prune the manifest LIST by range stats, open only the
    // surviving manifest files, prune entries, hand the driver nothing
    // but the final task list (the r7 "manifest as a dataset" item). The
    // gate pins BOTH the content (per-bucket counts + cents over the
    // planned read — a wrongly-pruned file loses rows and breaks the
    // hash) and the tree accounting (manifests total/read, files read,
    // rows planned) against a DuckDB replay of the same layout
    // arithmetic; ManifestTreeSpec proves non-overlapping metadata and
    // data are physically never opened (corrupts them, plans through).
    "x226_manifest_plan" -> ((s, d) => {
      val root = graft.sources.ManifestTree.ensure(s, d)
      // keys are dense from 0, so [300, 1100] is non-empty at every SF;
      // pruning reads 1 of 2 manifests at sf0.01 and 1 of 19 at sf0.1
      val (lo, hi) = (300L, 1100L)
      val p = graft.sources.ManifestTree.planRange(s, lo, hi, root)
      graft.sources.ManifestTree
        .readTasks(s, p, lo, hi)
        .groupBy(expr(s"k div ${graft.sources.ManifestTree.BucketWidth}L").as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("cents_sum"))
        .withColumn("n_manifests_total", lit(p.nManifestsTotal))
        .withColumn("n_manifests_read", lit(p.nManifestsRead))
        .withColumn("n_files_read", lit(p.nFilesRead))
        .withColumn("n_rows_planned", lit(p.nRowsPlanned))
        .orderBy("bucket")
    }),
    // x106 ORC round-trip: format choice must be invisible to results —
    // the lineitem projection written to zlib ORC (partitioned by return
    // flag) and read back must aggregate identically to the parquet
    // original the oracle reads. The shipdate filter is pushdown-eligible
    // on the ORC scan and the returnflag grouping rides the partition
    // columns; OrcStoreSpec plan-asserts both prunings.
    // Dynamic partition pruning (x131) — the runtime half of partition
    // pruning: the fact is laid out by ship_month (sources/MonthStore) and
    // joined to a FILTERED month dimension; no static predicate touches
    // the fact, so only Spark's dynamicpruning subquery (the dim's
    // broadcast values pushed into the scan's PartitionFilters at runtime
    // — plan-asserted in DppSpec, the x121 split: content here, plan
    // discipline in the spec) keeps a 100 TB table from reading all its
    // month directories. The gate pins join content against the raw
    // parquet originals, proving the partitioned round trip value-exact
    // (the x106 pattern).
    // Eager aggregation (x160) — graft's second custom optimizer rewrite
    // (TopKRewriteRule is the first): Aggregate over fact ⋈ unique-dim
    // re-plans with the fact side PRE-AGGREGATED on (join keys ∪ fact
    // group keys) below the join, partials merged above (Yan & Larson
    // 1995; soundness gate at EagerAggRule's scaladoc — fires only when
    // the dim side is provably duplicate-free on its join keys). At
    // 100 TB the join shuffles one row per supplier instead of the fact
    // table. The gate applies the rule EXPLICITLY via Bridge.eagerAgg
    // (session-isolated — other gate queries' plans stay untouched) and
    // REQUIRES it to fire, so a pattern-match regression aborts the
    // build (the ensureWap discipline); the oracle is the plain
    // aggregate-over-join, so the rewrite must be value-identical.
    "x160_eager_agg" -> ((s, d) => {
      val fact = graft.Graft
        .table(s, d, "lineitem")
        .select(
          col("l_suppkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          col("l_quantity").cast("long").as("qty")
        )
      val dim = graft.Graft
        .table(s, d, "supplier")
        .groupBy(col("s_suppkey"))
        .agg(max("s_nationkey").as("nk")) // Aggregate on the key ⇒ provably unique
      val q = fact
        .join(dim, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nk"))
        .agg(
          sum("cents").as("revenue_cents"),
          count(lit(1)).as("n_items"),
          min("qty").as("min_qty"),
          max("qty").as("max_qty")
        )
      val (rewritten, fired) = org.apache.spark.sql.graftbridge.Bridge.eagerAgg(q)
      require(fired, "x160: the eager-aggregation rewrite did not fire on its reference shape")
      rewritten.orderBy("nk")
    }),

    "x131_dynamic_partition_pruning" -> ((s, d) => {
      val fact = graft.sources.MonthStore.read(s, d)
      val dim = graft.Graft
        .table(s, d, "orders")
        .where(expr(
          "o_orderdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'"
        ))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
        .distinct()
      fact
        .join(dim, Seq("ship_month"))
        .groupBy("ship_month")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("revenue_c")
        )
        .orderBy("ship_month")
    }),
    "x106_orc_roundtrip" -> ((s, d) => {
      graft.sources.OrcStore.ensure(s, d)
      graft.sources.OrcStore
        .read(s, d)
        .where(expr("l_shipdate >= TIMESTAMP_NTZ '1995-06-01 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_c"),
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("revenue_c")
        )
        .orderBy("l_returnflag", "l_linestatus")
    })
  )

  def oracles: Map[String, String] = Map(
    // x294: the four credit splits replayed with identical floor-division
    // remainders; conservation against the attributed-journey count.
    "x294_attribution" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id, event_type
        |  FROM events WHERE event_type <> 'error'),
        |tagged AS (SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey FROM ev),
        |convs AS (SELECT user_id, journey FROM tagged WHERE event_type = 'purchase'),
        |ranked AS (SELECT t.event_type AS channel, t.user_id, t.journey,
        |  row_number() OVER (PARTITION BY t.user_id, t.journey ORDER BY t.us, t.event_id) AS rk,
        |  count(*) OVER (PARTITION BY t.user_id, t.journey) AS nj
        |  FROM tagged t JOIN convs c ON t.user_id = c.user_id AND t.journey = c.journey
        |  WHERE t.event_type <> 'purchase'),
        |credits AS (SELECT channel,
        |  CASE WHEN rk = 1 THEN 1000000 ELSE 0 END AS c_first,
        |  CASE WHEN rk = nj THEN 1000000 ELSE 0 END AS c_last,
        |  (1000000 // nj) + CASE WHEN rk = nj THEN 1000000 - nj * (1000000 // nj) ELSE 0 END AS c_linear,
        |  CASE WHEN nj = 1 THEN 1000000 WHEN nj = 2 THEN 500000
        |       WHEN rk = 1 THEN 400000 WHEN rk = nj THEN 400000
        |       ELSE (200000 // (nj - 2)) +
        |         CASE WHEN rk = nj - 1 THEN 200000 - (nj - 2) * (200000 // (nj - 2)) ELSE 0 END
        |  END AS c_ushape FROM ranked),
        |st AS (
        |  SELECT channel, 'first' AS model, c_first AS credit FROM credits
        |  UNION ALL SELECT channel, 'last', c_last FROM credits
        |  UNION ALL SELECT channel, 'linear', c_linear FROM credits
        |  UNION ALL SELECT channel, 'ushape', c_ushape FROM credits),
        |cells AS (SELECT model, channel, count(*) AS n_touches,
        |  CAST(sum(credit) AS BIGINT) AS credit_ppm FROM st GROUP BY 1, 2),
        |na AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, journey FROM ranked) t),
        |nc AS (SELECT count(*) AS n FROM convs),
        |cons AS (SELECT model, CAST(sum(credit_ppm) AS BIGINT) = (SELECT n FROM na) * 1000000 AS conserved
        |  FROM cells GROUP BY 1)
        |SELECT c.model, c.channel, c.n_touches, c.credit_ppm, o.conserved,
        |  (SELECT n FROM nc) AS n_conv, (SELECT n FROM na) AS n_attr
        |FROM cells c JOIN cons o USING (model) ORDER BY c.model, c.channel""".stripMargin,
    // x131: the oracle joins the RAW parquet originals (no partitioned
    // artifact), so a hash match proves the month-partitioned write +
    // DPP-pruned read is value-exact end to end.
    // x160: the plain aggregate-over-join — the rewrite must match it.
    "x160_eager_agg" ->
      """SELECT d.nk, CAST(sum(f.cents) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items, min(f.qty) AS min_qty, max(f.qty) AS max_qty
        |FROM (SELECT l_suppkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |             CAST(l_quantity AS BIGINT) AS qty FROM lineitem) f
        |JOIN (SELECT s_suppkey, max(s_nationkey) AS nk FROM supplier GROUP BY 1) d
        |  ON f.l_suppkey = d.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x131_dynamic_partition_pruning" ->
      """WITH dim AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month FROM orders
        |  WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'),
        |f AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rc
        |  FROM lineitem)
        |SELECT ship_month, count(*) AS n_lines, CAST(sum(rc) AS BIGINT) AS revenue_c
        |FROM f JOIN dim USING (ship_month)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x119_avro_scan" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_comment,
        |  CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |                ELSE length('order-' || o_orderkey) END) AS BIGINT) AS comment_chars
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // x124: counts replayed on the parquet original — a wrong row-group
    // decision (double count, dropped boundary row) flips n_in_range.
    "x124_rowgroup_prune_count" ->
      """SELECT 'r1_narrow' AS range_id,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey BETWEEN 8000 AND 12000)::BIGINT AS n_in_range,
        |  TRUE AS rg_conserved, TRUE AS scan_bounded
        |UNION ALL
        |SELECT 'r2_all',
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey BETWEEN 0 AND 100000000)::BIGINT,
        |  TRUE, TRUE
        |UNION ALL
        |SELECT 'r3_empty',
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey BETWEEN 1000000000 AND 2000000000)::BIGINT,
        |  TRUE, TRUE
        |ORDER BY range_id""".stripMargin,
    // x121: the oracle joins the PARQUET originals, so a hash match proves
    // the bucketed managed-table round trip (write + catalog read + SMB
    // join) is value-exact end to end.
    "x121_bucketed_smb_join" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x123: wap v1 = the x83 v3 reconstruction; v2 = v1 upserted with the
    // good-branch formula (including the re-insert edge: a good key
    // deleted in v3 comes back through the merge); provenance = the
    // good-change bucket set; audits + staged≠visible + time travel all
    // recomputed from the same CTEs.
    "x123_write_audit_publish" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |v2s AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |v1 AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 103 = 0 AND bucket % 7 = 3 THEN 50000 + k % 1000 ELSE cents END AS cents
        |  FROM v2s WHERE NOT (k % 101 = 0 AND bucket % 7 = 1)),
        |gk AS (
        |  SELECT o_orderkey AS k, o_orderkey // 1024 AS bucket,
        |    90000 + o_orderkey % 500 AS gcents
        |  FROM orders WHERE o_orderkey % 127 = 0 AND (o_orderkey // 1024) % 9 = 2),
        |v2 AS (
        |  SELECT v1.k, v1.bucket, coalesce(g.gcents, v1.cents) AS cents
        |  FROM v1 LEFT JOIN gk g ON v1.k = g.k
        |  UNION ALL
        |  SELECT g.k, g.bucket, g.gcents FROM gk g WHERE g.k NOT IN (SELECT k FROM v1)),
        |scalars AS (
        |  SELECT
        |    (SELECT count(*) FROM v2)::BIGINT AS pub_rows,
        |    (SELECT count(DISTINCT k) FROM v2)::BIGINT AS pub_distinct,
        |    0::BIGINT AS bad_keys_visible,
        |    ((SELECT count(*) FROM v1) + 24)::BIGINT AS bad_staged_rows,
        |    ((SELECT count(DISTINCT k) FROM v1) + 12)::BIGINT AS bad_staged_distinct,
        |    (SELECT count(*) FROM v1)::BIGINT AS v1_rows)
        |SELECT v2.bucket, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents,
        |  v2.bucket IN (SELECT bucket FROM gk) AS from_branch,
        |  s.pub_rows, s.pub_distinct, s.bad_keys_visible,
        |  s.bad_staged_rows, s.bad_staged_distinct, s.v1_rows
        |FROM v2, scalars s
        |GROUP BY v2.bucket, s.pub_rows, s.pub_distinct, s.bad_keys_visible,
        |  s.bad_staged_rows, s.bad_staged_distinct, s.v1_rows
        |ORDER BY v2.bucket""".stripMargin,
    // x117: content + file provenance + pruning all recomputed from the
    // update/insert formulas — the entry sets are pure bucket arithmetic.
    "x117_partition_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |upd AS (SELECT k, k * 3 + 7 AS cents FROM base WHERE k % 89 = 0 AND (k // 1024) % 3 = 1),
        |ins AS (SELECT 20000000 + i.i AS k, 5000 + i.i * 11 AS cents
        |        FROM (SELECT unnest(range(40)) AS i) i),
        |v3 AS (
        |  SELECT b.k, coalesce(u.cents, b.cents) AS cents
        |  FROM base b LEFT JOIN upd u ON b.k = u.k
        |  UNION ALL SELECT k, cents FROM ins),
        |content AS (
        |  SELECT k // 4096 AS sb, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS cents_total
        |  FROM v3 GROUP BY 1),
        |tb AS (SELECT DISTINCT k // 1024 AS b FROM upd),
        |bb AS (SELECT DISTINCT k // 1024 AS b FROM base),
        |carried AS (SELECT b FROM bb WHERE b NOT IN (SELECT b FROM tb)),
        |s2 AS (SELECT DISTINCT sb FROM (
        |  SELECT b // 4 AS sb FROM tb UNION ALL SELECT k // 4096 AS sb FROM ins) t),
        |c1 AS (SELECT b // 4 AS sb, count(*) AS n FROM carried GROUP BY 1),
        |b0 AS (SELECT min(k) // 1024 AS b FROM upd),
        |gstats AS (SELECT
        |  CAST((SELECT count(*) FROM carried) + (SELECT count(*) FROM s2) AS BIGINT) AS n_files_total,
        |  CAST((SELECT count(*) FROM carried, b0 WHERE carried.b = b0.b)
        |     + (SELECT count(*) FROM s2, b0 WHERE s2.sb = b0.b // 4) AS BIGINT) AS n_files_narrow,
        |  CAST((SELECT count(*) FROM v3, b0
        |        WHERE v3.k >= b0.b * 1024 AND v3.k < (b0.b + 1) * 1024) AS BIGINT) AS narrow_rows,
        |  TRUE AS evolve_meta_only)
        |SELECT c.sb, CAST(c.n_rows AS BIGINT) AS n_rows, c.cents_total,
        |  CAST(coalesce(c1.n, 0) AS BIGINT) AS n_spec1_files,
        |  CAST(CASE WHEN c.sb IN (SELECT sb FROM s2) THEN 1 ELSE 0 END AS BIGINT) AS n_spec2_files,
        |  g.n_files_total, g.n_files_narrow, g.narrow_rows, g.evolve_meta_only
        |FROM content c LEFT JOIN c1 ON c.sb = c1.sb, gstats g
        |ORDER BY c.sb""".stripMargin,
    "x116_metadata_count" ->
      """SELECT 'customer' AS table_name, count(*) AS n_rows FROM customer
        |UNION ALL SELECT 'documents', count(*) FROM documents
        |UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |ORDER BY table_name""".stripMargin,
    // x226: the oracle replays the manifest-tree layout arithmetic from
    // the source table — file stats per bucket, list stats per bucket
    // group, range pruning at both levels — so a planner that opens too
    // much (accounting columns) or prunes too much (content columns)
    // both break the hash.
    "x226_manifest_plan" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |                  o_orderkey // 1024 AS bucket FROM orders),
        |f AS (SELECT bucket, bucket // 8 AS g, min(k) AS mn, max(k) AS mx,
        |             count(*) AS n FROM b GROUP BY 1, 2),
        |gl AS (SELECT g, min(mn) AS mn, max(mx) AS mx FROM f GROUP BY 1),
        |sel_f AS (SELECT bucket, n FROM f
        |          WHERE g IN (SELECT g FROM gl WHERE mx >= 300 AND mn <= 1100)
        |            AND mx >= 300 AND mn <= 1100),
        |acct AS (SELECT (SELECT count(*) FROM gl) AS n_manifests_total,
        |  (SELECT count(*) FROM gl WHERE mx >= 300 AND mn <= 1100) AS n_manifests_read,
        |  (SELECT count(*) FROM sel_f) AS n_files_read,
        |  CAST((SELECT coalesce(sum(n), 0) FROM sel_f) AS BIGINT) AS n_rows_planned)
        |SELECT bucket, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS cents_sum,
        |  a.n_manifests_total, a.n_manifests_read, a.n_files_read, a.n_rows_planned
        |FROM b, acct a
        |WHERE k >= 300 AND k <= 1100
        |GROUP BY bucket, a.n_manifests_total, a.n_manifests_read, a.n_files_read, a.n_rows_planned
        |ORDER BY bucket""".stripMargin,
    // x106: the oracle reads the PARQUET original — a hash match proves
    // the ORC write+read round-trip is value-exact (doubles bit-preserved,
    // timestamps micros-exact, partition column restored).
    "x106_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // x103: full replay — the same md5 double-hashed 1024-bit Bloom is
    // built in SQL, the fact side is filtered through it, and the final
    // aggregate equals the plain join's (no false negatives); the
    // candidate/fp counts pin the filter's exact behavior.
    "x103_bloom_join" ->
      """WITH dim AS (
        |  SELECT s_suppkey, s_name FROM supplier WHERE s_nationkey = 3),
        |dh AS (
        |  SELECT ('0x' || substr(md5('bf1:' || s_suppkey::VARCHAR), 1, 15))::BIGINT AS h1,
        |         ('0x' || substr(md5('bf2:' || s_suppkey::VARCHAR), 1, 15))::BIGINT AS h2
        |  FROM dim),
        |wb AS (
        |  SELECT pos // 63 AS word, bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        |  FROM (SELECT (h1 + i * h2) % 1024 AS pos FROM dh, unnest([0, 1, 2]) t(i))
        |  GROUP BY 1),
        |warr AS (
        |  SELECT list(coalesce(bits, 0) ORDER BY word) AS wa FROM (
        |    SELECT g.word, wb.bits FROM generate_series(0, 16) g(word)
        |    LEFT JOIN wb ON g.word = wb.word)),
        |f AS (
        |  SELECT l_suppkey, l_quantity,
        |    ('0x' || substr(md5('bf1:' || l_suppkey::VARCHAR), 1, 15))::BIGINT AS h1,
        |    ('0x' || substr(md5('bf2:' || l_suppkey::VARCHAR), 1, 15))::BIGINT AS h2
        |  FROM lineitem),
        |cand AS (
        |  SELECT l_suppkey, l_quantity FROM f, warr
        |  WHERE ((wa[CAST(((h1 + 0 * h2) % 1024) // 63 AS INT) + 1]
        |          >> CAST(((h1 + 0 * h2) % 1024) % 63 AS INT)) & 1) = 1
        |    AND ((wa[CAST(((h1 + 1 * h2) % 1024) // 63 AS INT) + 1]
        |          >> CAST(((h1 + 1 * h2) % 1024) % 63 AS INT)) & 1) = 1
        |    AND ((wa[CAST(((h1 + 2 * h2) % 1024) // 63 AS INT) + 1]
        |          >> CAST(((h1 + 2 * h2) % 1024) % 63 AS INT)) & 1) = 1),
        |j AS (
        |  SELECT s_name, l_quantity FROM cand JOIN dim ON l_suppkey = s_suppkey),
        |st AS (
        |  SELECT (SELECT count(*) FROM cand) AS n_bloom_pass,
        |         (SELECT count(*) FROM cand) - (SELECT count(*) FROM j) AS n_false_pos)
        |SELECT s_name, count(*) AS n_items, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(n_bloom_pass AS BIGINT) AS n_bloom_pass, CAST(n_false_pos AS BIGINT) AS n_false_pos
        |FROM j, st GROUP BY s_name, n_bloom_pass, n_false_pos ORDER BY s_name""".stripMargin,
    // x104: clone v2 content from first principles (source v2 formulas +
    // the clone delta), own/shared provenance from the touched-bucket
    // rule, and the source v2 totals re-derived — all closed-form over
    // `orders`, the x81/x83 oracle discipline.
    "x104_zero_copy_clone" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |src2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |cl2 AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 113 = 0 AND bucket % 11 = 4 THEN 70000 + k % 1000 ELSE cents END AS cents
        |  FROM src2
        |  UNION ALL
        |  SELECT 20000000 + i, (20000000 + i) // 1024, 200000 + i * 11
        |  FROM (SELECT unnest(range(20)) AS i)),
        |own AS (
        |  SELECT DISTINCT bucket FROM base WHERE k % 113 = 0 AND bucket % 11 = 4
        |  UNION SELECT DISTINCT (20000000 + i) // 1024 FROM (SELECT unnest(range(20)) AS i)),
        |per AS (
        |  SELECT c.bucket, count(*) AS n_rows, CAST(sum(c.cents) AS BIGINT) AS cents_total,
        |    (o.bucket IS NOT NULL) AS own_file
        |  FROM cl2 c LEFT JOIN own o ON c.bucket = o.bucket
        |  GROUP BY c.bucket, o.bucket),
        |st AS (
        |  SELECT (SELECT count(*) FROM per WHERE NOT own_file) AS n_shared_files,
        |    (SELECT count(*) FROM per WHERE own_file) AS n_own_files,
        |    (SELECT count(*) FROM src2) AS src_rows,
        |    (SELECT CAST(sum(cents) AS BIGINT) FROM src2) AS src_cents)
        |SELECT bucket, n_rows, cents_total, own_file,
        |  CAST(n_shared_files AS BIGINT) AS n_shared_files,
        |  CAST(n_own_files AS BIGINT) AS n_own_files,
        |  CAST(src_rows AS BIGINT) AS src_rows, src_cents
        |FROM per, st ORDER BY bucket""".stripMargin,
    // x150: every scope rebuilt from the closed-form stripe formulas —
    // src2 (the cloned source v2) → m2 (main's re-price) → bh (branch
    // upsert, then key-set deletes + inserts); fast-forwarded main ≡ the
    // branch head. n_entries = distinct content buckets (the manifest's
    // carried+fresh invariant). Deletes anti-join the orders-DERIVED key
    // set, mirroring the Spark side's key semantics (not the predicate).
    "x150_cow_branches" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |src2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |m2 AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 109 = 0 AND bucket % 13 = 5 THEN 80000 + k % 900 ELSE cents END AS cents
        |  FROM src2),
        |b1 AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 131 = 0 AND bucket % 19 = 7 THEN 90000 + k % 800 ELSE cents END AS cents
        |  FROM m2),
        |delkeys AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE o_orderkey % 137 = 0 AND (o_orderkey // 1024) % 19 = 11),
        |bh AS (
        |  SELECT k, bucket, cents FROM b1 WHERE k NOT IN (SELECT k FROM delkeys)
        |  UNION ALL
        |  SELECT 40000000 + i, (40000000 + i) // 1024, 300000 + i * 13
        |  FROM (SELECT unnest(range(15)) AS i)),
        |sc AS (
        |  SELECT 'tag_audit' AS scope, 'tag' AS ref_kind, CAST(0 AS BIGINT) AS ref_seq,
        |    count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS cents_total,
        |    count(DISTINCT bucket) AS n_buckets FROM src2
        |  UNION ALL
        |  SELECT 'main_v2', 'main', 2, count(*), CAST(sum(cents) AS BIGINT),
        |    count(DISTINCT bucket) FROM m2
        |  UNION ALL
        |  SELECT 'branch_head', 'branch', 2, count(*), CAST(sum(cents) AS BIGINT),
        |    count(DISTINCT bucket) FROM bh
        |  UNION ALL
        |  SELECT 'main_ff', 'main', 3, count(*), CAST(sum(cents) AS BIGINT),
        |    count(DISTINCT bucket) FROM bh)
        |SELECT scope, ref_kind, ref_seq, n_rows, cents_total, n_buckets,
        |  n_buckets AS n_entries
        |FROM sc ORDER BY scope""".stripMargin,
    // merged content from first principles: base cents + the update bump
    // on the filtered keys, union the insert formula rows; provenance =
    // 2 exactly for buckets containing an update key or insert key
    "x81_cow_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |merged AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i AS k, (10000000 + i) // 1024 AS bucket,
        |    100000 + i * 7 AS cents
        |  FROM (SELECT unnest(range(50)) AS i)),
        |touched AS (
        |  SELECT DISTINCT bucket FROM base WHERE k % 97 = 0 AND bucket % 5 = 0
        |  UNION SELECT DISTINCT (10000000 + i) // 1024 FROM (SELECT unnest(range(50)) AS i))
        |SELECT m.bucket, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(CASE WHEN t.bucket IS NULL THEN 1 ELSE 2 END AS BIGINT) AS src_version
        |FROM merged m LEFT JOIN touched t ON m.bucket = t.bucket
        |GROUP BY m.bucket, t.bucket ORDER BY m.bucket""".stripMargin,
    "x82_time_travel" ->
      """SELECT o_orderkey // 1024 AS bucket, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    // v3 content + three-tier provenance from the stacked change formulas:
    // deletes apply only to keys the v2 snapshot holds (the WHERE NOT),
    // upserts replace with the absolute value formula, and a bucket's tier
    // is the newest version that rewrote it
    "x83_merge_delete" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |v2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |v3 AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 103 = 0 AND bucket % 7 = 3 THEN 50000 + k % 1000 ELSE cents END AS cents
        |  FROM v2 WHERE NOT (k % 101 = 0 AND bucket % 7 = 1)),
        |t2 AS (
        |  SELECT DISTINCT bucket FROM base WHERE k % 97 = 0 AND bucket % 5 = 0
        |  UNION SELECT DISTINCT (10000000 + i) // 1024 FROM (SELECT unnest(range(50)) AS i)),
        |t3 AS (
        |  SELECT DISTINCT bucket FROM v2
        |  WHERE (k % 103 = 0 AND bucket % 7 = 3) OR (k % 101 = 0 AND bucket % 7 = 1))
        |SELECT v3.bucket, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(CASE WHEN v3.bucket IN (SELECT bucket FROM t3) THEN 3
        |            WHEN v3.bucket IN (SELECT bucket FROM t2) THEN 2
        |            ELSE 1 END AS BIGINT) AS src_version
        |FROM v3 GROUP BY v3.bucket ORDER BY v3.bucket""".stripMargin,
    // x263: the v3 state replayed from the stacked change formulas, its
    // per-bucket/per-group stat hulls rebuilt, the SAME two-level prune
    // applied arithmetically — planning census and pruned content both
    // closed-form
    "x263_mtree_range_plan" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |v2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |v3 AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 103 = 0 AND bucket % 7 = 3 THEN 50000 + k % 1000 ELSE cents END AS cents
        |  FROM v2 WHERE NOT (k % 101 = 0 AND bucket % 7 = 1)),
        |bstats AS (SELECT bucket, min(k) AS mn, max(k) AS mx, count(*) AS nr FROM v3 GROUP BY 1),
        |gstats AS (SELECT bucket // 8 AS g, min(mn) AS mn, max(mx) AS mx FROM bstats GROUP BY 1),
        |gread AS (SELECT g FROM gstats WHERE mx >= 512 AND mn <= 1535),
        |fread AS (SELECT b.* FROM bstats b JOIN gread ON b.bucket // 8 = gread.g
        |  WHERE b.mx >= 512 AND b.mn <= 1535),
        |acct AS (SELECT
        |  (SELECT count(*)::BIGINT FROM gstats) AS n_groups_total,
        |  (SELECT count(*)::BIGINT FROM gread) AS n_groups_read,
        |  (SELECT count(*)::BIGINT FROM fread) AS n_files_read,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fread) AS n_rows_planned),
        |content AS (
        |  SELECT bucket, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM v3 WHERE k BETWEEN 512 AND 1535 GROUP BY 1)
        |SELECT c.bucket, c.n_rows, c.total_cents,
        |  a.n_groups_total, a.n_groups_read, a.n_files_read, a.n_rows_planned
        |FROM content c, acct a ORDER BY c.bucket""".stripMargin,
    // x267: the commit census from the stacked change formulas — clone
    // v1 = source v2 state (update stripe + 10M inserts); its divergence
    // merge touches the mod-11 upsert-stripe buckets (only those holding
    // a k%113 key) plus the 20M insert bucket; groups split into
    // rewritten / added / carried accordingly.
    "x267_manifest_commit_census" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderkey // 1024 AS bucket FROM orders),
        |v2src AS (
        |  SELECT k, bucket FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024 FROM (SELECT unnest(range(50)) AS i)),
        |g1 AS (SELECT DISTINCT bucket // 8 AS g FROM v2src),
        |tb AS (SELECT DISTINCT bucket FROM base WHERE k % 113 = 0 AND bucket % 11 = 4
        |       UNION SELECT DISTINCT (20000000 + i) // 1024 FROM (SELECT unnest(range(20)) AS i)),
        |tg AS (SELECT DISTINCT bucket // 8 AS g FROM tb),
        |st AS (
        |  SELECT g, CASE WHEN g IN (SELECT g FROM tg) THEN 'rewritten' ELSE 'carried' END AS status
        |  FROM g1
        |  UNION ALL
        |  SELECT g, 'added' FROM tg WHERE g NOT IN (SELECT g FROM g1))
        |SELECT status, count(*) AS n_groups FROM st GROUP BY status ORDER BY status""".stripMargin,
    // the MV increment law's oracle is the DIRECT v3 view — the gate's
    // incrementally-maintained numbers must land on it exactly
    // x155: the FULL recompute over the reunified tables — incremental
    // maintenance must reproduce it exactly.
    "x155_delta_join_mv" ->
      """SELECT l_suppkey AS supp, substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x85_incremental_mv" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |v2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |v3 AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 103 = 0 AND bucket % 7 = 3 THEN 50000 + k % 1000 ELSE cents END AS cents
        |  FROM v2 WHERE NOT (k % 101 = 0 AND bucket % 7 = 1))
        |SELECT bucket, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM v3 GROUP BY bucket ORDER BY bucket""".stripMargin,
    // vacuum counts from the change formulas: orphans = v1 dirs of buckets
    // v2 rewrote (update stripe; the insert bucket never had a v1 dir);
    // dirs = v1 buckets + v2-written (updates + insert) + v3-written
    "x86_vacuum_plan" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |v2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |t2b AS (SELECT DISTINCT bucket FROM base WHERE k % 97 = 0 AND bucket % 5 = 0),
        |t2 AS (
        |  SELECT bucket FROM t2b
        |  UNION SELECT DISTINCT (10000000 + i) // 1024 FROM (SELECT unnest(range(50)) AS i)),
        |t3 AS (
        |  SELECT DISTINCT bucket FROM v2
        |  WHERE (k % 103 = 0 AND bucket % 7 = 3) OR (k % 101 = 0 AND bucket % 7 = 1)),
        |c AS (
        |  SELECT (SELECT count(DISTINCT bucket) FROM base) AS v1dirs,
        |         (SELECT count(*) FROM t2) AS t2dirs,
        |         (SELECT count(*) FROM t3) AS t3dirs,
        |         (SELECT count(*) FROM t2b) AS orphans)
        |SELECT CAST(orphans AS BIGINT) AS n_orphans,
        |  CAST(v1dirs + t2dirs + t3dirs - orphans AS BIGINT) AS n_referenced,
        |  CAST(v1dirs + t2dirs + t3dirs AS BIGINT) AS n_dirs
        |FROM c""".stripMargin,
    // x250: same features via window lag, same verdict.
    "x250_bot_detection" ->
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts::TIMESTAMP) AS us, event_id FROM events),
        |eps AS (SELECT u, max(n) AS eps_max FROM (
        |  SELECT u, us // 1000000 AS sec, count(*) AS n FROM ev GROUP BY 1, 2) GROUP BY 1),
        |arr AS (SELECT u, count(*) AS n_gaps,
        |  CAST(sum(CASE WHEN us - prev < 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_subsec
        |  FROM (SELECT u, us, lag(us) OVER (PARTITION BY u ORDER BY us, event_id) AS prev FROM ev)
        |  WHERE prev IS NOT NULL GROUP BY 1),
        |f AS (SELECT e.u, e.n_events, eps.eps_max,
        |    coalesce(arr.n_gaps, 0) AS n_gaps, coalesce(arr.n_subsec, 0) AS n_subsec,
        |    (eps.eps_max >= 5 OR (coalesce(arr.n_gaps, 0) > 0
        |      AND coalesce(arr.n_subsec, 0) * 2 > coalesce(arr.n_gaps, 0))) AS bot
        |  FROM (SELECT u, count(*) AS n_events FROM ev GROUP BY 1) e
        |  JOIN eps ON e.u = eps.u LEFT JOIN arr ON e.u = arr.u),
        |t AS (SELECT count(*) AS n_users, CAST(sum(CASE WHEN bot THEN 1 ELSE 0 END) AS BIGINT) AS n_bots,
        |  CAST(sum(CASE WHEN bot THEN n_events ELSE 0 END) AS BIGINT) AS bot_events FROM f)
        |SELECT u, n_events, eps_max, n_subsec, t.n_users, t.n_bots, t.bot_events
        |FROM f, t WHERE bot ORDER BY u""".stripMargin,
    // x248: same dedup, expansion and censuses.
    "x248_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |  epoch_us(ts::TIMESTAMP) // 86400000000 AS day FROM events),
        |b AS (SELECT max(day) AS maxd FROM ud),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |ex AS (SELECT DISTINCT u, t.d AS day
        |  FROM ud, b, unnest(generate_series(day, least(day + 6, maxd))) t(d)),
        |wau AS (SELECT day, count(*) AS wau FROM ex GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  CAST((dau.dau * 1000000) // wau.wau AS BIGINT) AS stickiness_ppm
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    // x245: same legs; the rank picks replayed on the sorted deltas.
    "x245_time_to_convert" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS t,
        |  epoch_us(ts::TIMESTAMP) // 1000000 AS sec FROM events),
        |su AS (SELECT u, min(sec) AS s0 FROM ev WHERE t = 'signup' GROUP BY 1),
        |conv AS (SELECT ev.u, CAST(min(sec - s0) AS BIGINT) AS delta
        |  FROM ev JOIN su USING (u) WHERE t = 'purchase' AND sec >= s0 GROUP BY 1),
        |n AS (SELECT count(*) AS n_conv, CAST(sum(delta) AS BIGINT) AS sum_delta,
        |  max(delta) AS max_delta FROM conv),
        |ns AS (SELECT count(*) AS n_signup FROM su),
        |srt AS (SELECT delta, row_number() OVER (ORDER BY delta, u) AS rk FROM conv),
        |p50 AS (SELECT delta AS p50_s FROM srt, n WHERE rk = ((n_conv - 1) * 50) // 100 + 1),
        |p90 AS (SELECT delta AS p90_s FROM srt, n WHERE rk = ((n_conv - 1) * 90) // 100 + 1)
        |SELECT ns.n_signup, n.n_conv,
        |  CAST((n.n_conv * 1000000) // ns.n_signup AS BIGINT) AS conv_ppm,
        |  p50.p50_s, p90.p90_s,
        |  CAST(n.sum_delta // n.n_conv AS BIGINT) AS mean_s, n.max_delta AS max_s
        |FROM n, ns, p50, p90""".stripMargin,
    // x244: the same line formula, join and diff classes.
    "x244_order_reconcile" ->
      """WITH l AS (SELECT l_orderkey AS ok,
        |  (CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) *
        |   (100 + CAST(round(l_tax * 100) AS BIGINT))) // 10000 AS lv FROM lineitem),
        |e AS (SELECT ok, CAST(sum(lv) AS BIGINT) AS expected FROM l GROUP BY 1),
        |o AS (SELECT o_orderkey AS ok, CAST(round(o_totalprice * 100) AS BIGINT) AS actual FROM orders),
        |j AS (SELECT o.ok, actual, expected, actual - coalesce(expected, 0) AS diff
        |  FROM o LEFT JOIN e USING (ok)),
        |c AS (SELECT CASE WHEN expected IS NULL THEN 'no_lines' WHEN diff = 0 THEN 'exact'
        |  ELSE (CASE WHEN diff > 0 THEN 'over:2^' ELSE 'under:2^' END) ||
        |       CAST(length(bin(abs(diff))) - 1 AS VARCHAR) END AS clazz, diff, expected FROM j),
        |g AS (SELECT clazz, count(*) AS n_orders, CAST(sum(abs(diff)) AS BIGINT) AS sum_abs_diff
        |  FROM c GROUP BY 1),
        |t AS (SELECT count(*) AS n_total,
        |  CAST(sum(CASE WHEN diff = 0 AND expected IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        |  FROM c)
        |SELECT clazz, n_orders, sum_abs_diff, t.n_total, t.n_exact FROM g, t ORDER BY clazz""".stripMargin,
    // x239: the same two distinct counts per candidate.
    "x239_fd_discovery" ->
      """WITH c AS (
        |  SELECT 'orders' AS tbl, 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
        |    (SELECT count(DISTINCT o_orderkey) FROM orders) AS n_lhs,
        |    (SELECT count(*) FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders)) AS n_pairs
        |  UNION ALL SELECT 'orders', 'o_custkey', 'o_orderkey',
        |    (SELECT count(DISTINCT o_custkey) FROM orders),
        |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey, o_orderkey FROM orders))
        |  UNION ALL SELECT 'customer', 'c_custkey', 'c_nationkey',
        |    (SELECT count(DISTINCT c_custkey) FROM customer),
        |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey, c_nationkey FROM customer))
        |  UNION ALL SELECT 'customer', 'c_nationkey', 'c_custkey',
        |    (SELECT count(DISTINCT c_nationkey) FROM customer),
        |    (SELECT count(*) FROM (SELECT DISTINCT c_nationkey, c_custkey FROM customer))
        |  UNION ALL SELECT 'lineitem', 'l_orderkey', 'l_suppkey',
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem))
        |  UNION ALL SELECT 'lineitem', 'l_partkey', 'l_suppkey',
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |    (SELECT count(*) FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)))
        |SELECT tbl, lhs, rhs, CAST(n_lhs AS BIGINT) AS n_lhs, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(n_pairs - n_lhs AS BIGINT) AS violations,
        |  CAST(((n_pairs - n_lhs) * 1000000) // n_pairs AS BIGINT) AS viol_ppm,
        |  n_pairs = n_lhs AS holds
        |FROM c ORDER BY tbl, lhs, rhs""".stripMargin,
    // x256: DuckDB's own footer parser over the same files — one
    // DISTINCT per (file, row group) because parquet_metadata() emits a
    // row per column chunk.
    "x256_layout_audit" ->
      s"""WITH d AS (SELECT DISTINCT file_name, row_group_id, row_group_num_rows
        |  FROM parquet_metadata('${Fixture.root}/graft_mtree/sf0.01/data/*/*.parquet')),
        |m AS (SELECT DISTINCT file_name, row_group_id, row_group_num_rows
        |  FROM parquet_metadata('${Fixture.root}/graft_mtree/sf0.01/manifests/*/*.parquet')),
        |l AS (SELECT DISTINCT file_name, row_group_id, row_group_num_rows
        |  FROM parquet_metadata('${Fixture.root}/graft_mtree/sf0.01/manifest_list/*.parquet')),
        |u AS (
        |  SELECT 'data' AS level, count(DISTINCT file_name) AS n_files, count(*) AS n_row_groups,
        |    CAST(sum(row_group_num_rows) AS BIGINT) AS n_rows,
        |    CAST(min(row_group_num_rows) AS BIGINT) AS min_rg_rows,
        |    CAST(max(row_group_num_rows) AS BIGINT) AS max_rg_rows FROM d
        |  UNION ALL
        |  SELECT 'manifests', count(DISTINCT file_name), count(*),
        |    CAST(sum(row_group_num_rows) AS BIGINT),
        |    CAST(min(row_group_num_rows) AS BIGINT), CAST(max(row_group_num_rows) AS BIGINT) FROM m
        |  UNION ALL
        |  SELECT 'list', count(DISTINCT file_name), count(*),
        |    CAST(sum(row_group_num_rows) AS BIGINT),
        |    CAST(min(row_group_num_rows) AS BIGINT), CAST(max(row_group_num_rows) AS BIGINT) FROM l)
        |SELECT level, n_files, n_row_groups, n_rows, min_rg_rows, max_rg_rows
        |FROM u ORDER BY level""".stripMargin,
    // x237: every pred's truth is the direct count — emitted as BOTH
    // columns, so either side of the engine's bitmap-vs-scan contrast
    // diverging breaks the hash.
    "x237_bitmap_index" ->
      """WITH li AS (SELECT l_returnflag AS rf, l_linestatus AS ls FROM lineitem),
        |pairs AS (SELECT a.rf, b.ls
        |  FROM (SELECT DISTINCT rf FROM li) a, (SELECT DISTINCT ls FROM li) b),
        |ands AS (SELECT 'and:' || p.rf || '/' || p.ls AS pred,
        |  (SELECT count(*) FROM li WHERE li.rf = p.rf AND li.ls = p.ls) AS n FROM pairs p),
        |orr AS (SELECT 'or:R/O' AS pred, count(*) AS n FROM li WHERE rf = 'R' OR ls = 'O'),
        |an AS (SELECT 'andnot:R/O' AS pred, count(*) AS n FROM li WHERE rf = 'R' AND ls <> 'O'),
        |u AS (SELECT * FROM ands UNION ALL SELECT * FROM orr UNION ALL SELECT * FROM an)
        |SELECT pred, CAST(n AS BIGINT) AS n_bitmap, CAST(n AS BIGINT) AS n_scan
        |FROM u ORDER BY pred""".stripMargin,
    // x231: both snapshots' trees rebuilt from the v1/v2 change formulas
    // (the x86 CTE pair) with the same additive pmod fold per level.
    "x231_merkle_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderkey // 1024 AS bucket,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |d1 AS (SELECT bucket, ('0x' || substr(md5(k || '#' || cents), 1, 15))::BIGINT AS dig FROM base),
        |d2 AS (SELECT bucket, ('0x' || substr(md5(k || '#' || cents), 1, 15))::BIGINT AS dig FROM v2),
        |b1 AS (SELECT bucket AS node, CAST(sum(dig) % 2305843009213693951 AS BIGINT) AS h FROM d1 GROUP BY 1),
        |b2 AS (SELECT bucket AS node, CAST(sum(dig) % 2305843009213693951 AS BIGINT) AS h FROM d2 GROUP BY 1),
        |g1 AS (SELECT node // 8 AS node, CAST(sum(h) % 2305843009213693951 AS BIGINT) AS h FROM b1 GROUP BY 1),
        |g2 AS (SELECT node // 8 AS node, CAST(sum(h) % 2305843009213693951 AS BIGINT) AS h FROM b2 GROUP BY 1),
        |r1 AS (SELECT CAST(sum(h) % 2305843009213693951 AS BIGINT) AS h FROM g1),
        |r2 AS (SELECT CAST(sum(h) % 2305843009213693951 AS BIGINT) AS h FROM g2),
        |t1 AS (SELECT CAST(2 AS BIGINT) AS level, node, h FROM b1
        |  UNION ALL SELECT 1, node, h FROM g1
        |  UNION ALL SELECT 0, -1, h FROM r1),
        |t2 AS (SELECT CAST(2 AS BIGINT) AS level, node, h FROM b2
        |  UNION ALL SELECT 1, node, h FROM g2
        |  UNION ALL SELECT 0, -1, h FROM r2)
        |SELECT coalesce(t1.level, t2.level) AS level,
        |  CAST(coalesce(t1.node, t2.node) AS BIGINT) AS node,
        |  CAST(coalesce(t1.h, -1) AS BIGINT) AS h1,
        |  CAST(coalesce(t2.h, -1) AS BIGINT) AS h2
        |FROM t1 FULL OUTER JOIN t2 ON t1.level = t2.level AND t1.node = t2.node
        |WHERE coalesce(t1.h, -1) <> coalesce(t2.h, -1)
        |ORDER BY level, node""".stripMargin,
    // x229: the reachability census from the two stripe formulas — v1
    // dirs = base buckets; v3 dirs = stripe-A buckets; v5 dirs = buckets
    // with a LIVE 89-multiple (dead stripe-A keys no-op in the DV
    // probe); + dv_v2 and dv_v4. Orphans = v3 dirs rewritten again in v5
    // (A∩B) + dv_v4; clone-only = v1 dirs of every rewritten bucket
    // (A∪B) + dv_v2.
    "x229_vacuum_full" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderkey // 1024 AS bucket FROM orders),
        |sa AS (SELECT DISTINCT bucket FROM base WHERE k % 97 = 0 AND bucket % 5 = 0),
        |sb AS (SELECT DISTINCT bucket FROM base WHERE k % 89 = 0 AND bucket % 3 = 0
        |       AND NOT (k % 97 = 0 AND bucket % 5 = 0)),
        |c AS (SELECT
        |  (SELECT count(DISTINCT bucket) FROM base) AS v1d,
        |  (SELECT count(*) FROM sa) AS sad,
        |  (SELECT count(*) FROM sb) AS sbd,
        |  (SELECT count(*) FROM sa WHERE bucket IN (SELECT bucket FROM sb)) AS inter)
        |SELECT CAST(v1d + sad + sbd + 2 AS BIGINT) AS n_candidates,
        |  CAST(v1d + sad + sbd + 1 - inter AS BIGINT) AS n_referenced,
        |  CAST(inter + 1 AS BIGINT) AS n_orphans,
        |  CAST(1 AS BIGINT) AS n_dv_orphans,
        |  CAST(sad + sbd - inter + 1 AS BIGINT) AS n_kept_clone_only
        |FROM c""".stripMargin,
    // row-level v2→v3 CDC replay: U rows where the upsert formula lands in
    // an upsert-stripe key AND changes the value, D rows for the delete
    // stripe; -1 is the shared no-value sentinel (no nullable gate columns)
    // x193: one ground-truth aggregate from the ORIGINAL orders, emitted
    // per format literal — any leg's round-trip corruption flips its row.
    "x193_federated_scan" ->
      """WITH t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |    CAST(sum(('0x' || substr(md5(o_orderkey || '#' ||
        |      CAST(round(o_totalprice * 100) AS BIGINT) || '#' || o_orderstatus), 1, 15))::BIGINT
        |      % 1099511627776)::HUGEINT % 1152921504606846976 AS BIGINT) AS digest
        |  FROM orders)
        |SELECT f.format, t.n, t.sum_cents, t.digest, TRUE AS parity
        |FROM t CROSS JOIN (VALUES ('1_parquet'), ('2_orc'), ('3_csv'), ('4_json'),
        |  ('5_sas7bdat')) f(format)
        |ORDER BY f.format""".stripMargin,

    // x194: the same planted arrival permutation, one plain running-max
    // window (the oracle may afford the global sort), same policy sums.
    "x194_watermark_profile" ->
      """WITH e AS (
        |  SELECT event_id,
        |    epoch_us(ts::TIMESTAMP) - CASE WHEN event_id % 211 = 0 THEN 7200000000
        |      WHEN event_id % 101 = 0 THEN 1800000000
        |      WHEN event_id % 37 = 0 THEN 300000000 ELSE 0 END AS us,
        |    event_id AS arrival
        |  FROM events),
        |r AS (
        |  SELECT us, max(us) OVER (ORDER BY arrival, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us AS late_us
        |  FROM e),
        |p AS (SELECT unnest([1, 10, 60, 180]) AS wm_min)
        |SELECT CAST(p.wm_min AS BIGINT) AS wm_min,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN late_us > CAST(p.wm_min AS BIGINT) * 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  (CAST(sum(CASE WHEN late_us > CAST(p.wm_min AS BIGINT) * 60000000 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // count(*) AS late_ppm,
        |  CAST(max(late_us) // 1000000 AS BIGINT) AS max_late_s,
        |  (CAST(sum(CASE WHEN late_us > CAST(p.wm_min AS BIGINT) * 60000000 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // count(*) <= 1000 AS ok_at_1000ppm
        |FROM r CROSS JOIN p GROUP BY p.wm_min
        |ORDER BY wm_min""".stripMargin,

    // x191: each rule's violations re-derived from the planted stripe
    // formulas; min key pins localization.
    "x191_contract_audit" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 1019 = 0 THEN -CAST(round(o_totalprice * 100) AS BIGINT)
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents,
        |    CASE WHEN o_orderkey % 1009 = 0 THEN 'X' ELSE o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 1021 = 0 THEN DATE '1970-01-01'
        |      ELSE o_orderdate::DATE END AS odate,
        |    CASE WHEN o_orderkey % 1013 = 0 THEN o_custkey + 10000000 ELSE o_custkey END AS ck
        |  FROM orders),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |dup AS (SELECT k FROM o GROUP BY k HAVING count(*) > 1 OR k IS NULL),
        |price AS (SELECT k FROM o WHERE NOT (cents >= 1 AND cents <= 60000000)),
        |st AS (SELECT k FROM o WHERE status NOT IN ('F', 'O', 'P')),
        |dt AS (SELECT k FROM o WHERE NOT (odate >= DATE '1995-01-01' AND odate < DATE '2002-01-01')),
        |fk AS (SELECT k FROM o WHERE ck NOT IN (SELECT c_custkey FROM customer)),
        |r AS (
        |  SELECT 'key_unique_not_null' AS rule, count(*) AS v, coalesce(min(k), -1) AS mk FROM dup
        |  UNION ALL SELECT 'price_cents_range', count(*), coalesce(min(k), -1) FROM price
        |  UNION ALL SELECT 'status_domain', count(*), coalesce(min(k), -1) FROM st
        |  UNION ALL SELECT 'date_window', count(*), coalesce(min(k), -1) FROM dt
        |  UNION ALL SELECT 'customer_fk', count(*), coalesce(min(k), -1) FROM fk)
        |SELECT r.rule, n.n AS n_checked, CAST(r.v AS BIGINT) AS n_violations,
        |  CAST(r.mk AS BIGINT) AS min_bad_key, r.v = 0 AS ok
        |FROM r CROSS JOIN n ORDER BY rule""".stripMargin,

    // x188: ONE truth for both branches — v1 and v3 rebuilt from the
    // stacked change formulas, diffed directly, emitted twice.
    "x188_cdc_compose" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |v2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i)),
        |v3 AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 103 = 0 AND bucket % 7 = 3 THEN 50000 + k % 1000 ELSE cents END AS cents
        |  FROM v2 WHERE NOT (k % 101 = 0 AND bucket % 7 = 1)),
        |d AS (
        |  SELECT coalesce(a.k, b.k) AS k,
        |    CASE WHEN a.k IS NULL THEN 'I' WHEN b.k IS NULL THEN 'D' ELSE 'U' END AS change_type,
        |    coalesce(a.cents, -1) AS old_cents, coalesce(b.cents, -1) AS new_cents
        |  FROM base a FULL JOIN v3 b ON a.k = b.k
        |  WHERE a.k IS NULL OR b.k IS NULL OR a.cents <> b.cents)
        |SELECT k, change_type, CAST(old_cents AS BIGINT) AS old_cents,
        |  CAST(new_cents AS BIGINT) AS new_cents, br.branch
        |FROM d CROSS JOIN (VALUES ('composed'), ('direct')) br(branch)
        |ORDER BY branch, k""".stripMargin,

    "x84_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |v2 AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 97 = 0 AND bucket % 5 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT 10000000 + i, (10000000 + i) // 1024, 100000 + i * 7
        |  FROM (SELECT unnest(range(50)) AS i))
        |SELECT k, 'U' AS change_type,
        |  CAST(cents AS BIGINT) AS old_cents,
        |  CAST(50000 + k % 1000 AS BIGINT) AS new_cents
        |FROM v2
        |WHERE k % 103 = 0 AND bucket % 7 = 3 AND cents <> 50000 + k % 1000
        |UNION ALL
        |SELECT k, 'D', CAST(cents AS BIGINT), CAST(-1 AS BIGINT)
        |FROM v2 WHERE k % 101 = 0 AND bucket % 7 = 1
        |ORDER BY k""".stripMargin,
    // one truth for both the MOR (DV-masked) and COW (rewritten) reads:
    // the base minus the delete stripe; has_dv/n_del replay the stripe
    // per bucket; data_src_version is the LITERAL 1 — the Spark side
    // derives it from the actual manifest paths, so any data rewrite on
    // the MOR branch breaks the match
    "x97_mor_delete" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |hits AS (
        |  SELECT bucket, count(*) AS nd FROM base
        |  WHERE k % 13 = 0 AND bucket % 3 = 1 GROUP BY 1),
        |live AS (
        |  SELECT * FROM base WHERE NOT (k % 13 = 0 AND bucket % 3 = 1))
        |SELECT l.bucket, count(*) AS n_live, CAST(sum(cents) AS BIGINT) AS total_cents,
        |  count(*) AS cow_n_live, CAST(sum(cents) AS BIGINT) AS cow_total_cents,
        |  CAST(CASE WHEN h.bucket IS NULL THEN 0 ELSE 1 END AS BIGINT) AS has_dv,
        |  CAST(coalesce(h.nd, 0) AS BIGINT) AS n_del,
        |  CAST(1 AS BIGINT) AS data_src_version
        |FROM live l LEFT JOIN hits h ON l.bucket = h.bucket
        |GROUP BY l.bucket, h.bucket, h.nd ORDER BY l.bucket""".stripMargin,
    // one truth for both the MOR (DV + delta) and COW (rewritten) upsert
    // reads: base minus the delete stripe, cents bumped on the surviving
    // update stripe, plus the insert range. masked = delete ∪ update old
    // versions; delta = buckets holding ≥1 new-version/insert row;
    // n_other_files is the LITERAL 0 — the Spark side derives it from the
    // actual manifest paths, so any base rewrite on the MOR branch (or a
    // data file from anywhere else) breaks the match
    "x126_mor_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |masked AS (
        |  SELECT bucket, count(*) AS nd FROM base
        |  WHERE bucket % 3 = 1 AND (k % 13 = 0 OR k % 17 = 0) GROUP BY 1),
        |live AS (
        |  SELECT k, bucket,
        |    cents + CASE WHEN k % 17 = 0 AND bucket % 3 = 1 THEN 7000 ELSE 0 END AS cents
        |  FROM base WHERE NOT (k % 13 = 0 AND bucket % 3 = 1)
        |  UNION ALL
        |  SELECT 30000000 + i, (30000000 + i) // 1024, 300000 + i * 13
        |  FROM (SELECT unnest(range(40)) AS i)),
        |delta AS (
        |  SELECT DISTINCT bucket FROM live
        |  WHERE (k % 17 = 0 AND bucket % 3 = 1 AND NOT k % 13 = 0) OR k >= 30000000)
        |SELECT l.bucket,
        |  count(*) AS n_live, CAST(sum(l.cents) AS BIGINT) AS total_cents,
        |  count(*) AS cow_n_live, CAST(sum(l.cents) AS BIGINT) AS cow_total_cents,
        |  CAST(CASE WHEN max(CASE WHEN l.k < 30000000 THEN 1 ELSE 0 END) = 1
        |       THEN 1 ELSE 0 END AS BIGINT) AS n_base_files,
        |  CAST(CASE WHEN d.bucket IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_delta_files,
        |  CAST(0 AS BIGINT) AS n_other_files,
        |  CAST(CASE WHEN m.bucket IS NULL THEN 0 ELSE 1 END AS BIGINT) AS has_dv,
        |  CAST(coalesce(m.nd, 0) AS BIGINT) AS n_del
        |FROM live l
        |LEFT JOIN masked m ON l.bucket = m.bucket
        |LEFT JOIN delta d ON l.bucket = d.bucket
        |GROUP BY l.bucket, m.bucket, m.nd, d.bucket ORDER BY l.bucket""".stripMargin,
    // x130: the whole snapshot history recomputed from the change
    // formulas. Version map: v1 base; v2 MOR delete (carried files, DV
    // refs); v3 add-column + 40 inserts; v4 rename (metadata only);
    // v5 foldDv; v6 MOR upsert (delete∪update masks + delta files);
    // v7 rollback-to-v2 (metadata only — row ≡ v2's, 0 fresh);
    // v30/v31 the COW twins of v2/v6 (rewrites fold masks; no meta).
    "x130_snapshots_meta" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderkey // 1024 AS bucket FROM orders),
        |pb AS (SELECT bucket, count(*) AS n FROM base GROUP BY 1),
        |dels AS (
        |  SELECT bucket, count(*) AS dn FROM base
        |  WHERE k % 13 = 0 AND bucket % 3 = 1 GROUP BY 1),
        |upss AS (
        |  SELECT bucket, count(*) AS un FROM base
        |  WHERE k % 17 = 0 AND k % 13 <> 0 AND bucket % 3 = 1 GROUP BY 1),
        |tots AS (SELECT
        |  (SELECT count(*) FROM base) AS nb,
        |  (SELECT count(*) FROM pb) AS nbk,
        |  (SELECT coalesce(sum(dn), 0) FROM dels) AS dtot,
        |  (SELECT count(*) FROM dels) AS dbk,
        |  (SELECT coalesce(sum(un), 0) FROM upss) AS utot,
        |  (SELECT count(*) FROM upss) AS ubk,
        |  (SELECT count(*) FROM dels d
        |     WHERE NOT EXISTS (SELECT 1 FROM upss u WHERE u.bucket = d.bucket)) AS donlybk,
        |  (SELECT coalesce(sum(dn), 0) FROM dels d
        |     WHERE NOT EXISTS (SELECT 1 FROM upss u WHERE u.bucket = d.bucket)) AS donlysum,
        |  (SELECT coalesce(sum(dn), 0) FROM dels d
        |     WHERE EXISTS (SELECT 1 FROM upss u WHERE u.bucket = d.bucket)) AS dupsum,
        |  (SELECT count(*) FROM (SELECT bucket FROM dels UNION SELECT bucket FROM upss)) AS dorubk)
        |SELECT CAST(version AS BIGINT) AS version, CAST(schema_id AS BIGINT) AS schema_id,
        |  CAST(n_entries AS BIGINT) AS n_entries, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(n_dv_entries AS BIGINT) AS n_dv_entries, CAST(sum_rows AS BIGINT) AS sum_rows,
        |  CAST(sum_ndel AS BIGINT) AS sum_ndel, CAST(n_fresh_files AS BIGINT) AS n_fresh_files
        |FROM (
        |  SELECT 1 AS version, 1 AS schema_id, nbk AS n_entries, nbk AS n_buckets,
        |    0 AS n_dv_entries, nb AS sum_rows, 0 AS sum_ndel, nbk AS n_fresh_files FROM tots
        |  UNION ALL SELECT 2, 1, nbk, nbk, dbk, nb, dtot, 0 FROM tots
        |  UNION ALL SELECT 7, 1, nbk, nbk, dbk, nb, dtot, 0 FROM tots
        |  UNION ALL SELECT 3, 2, nbk + 1, nbk + 1, dbk, nb + 40, dtot, 1 FROM tots
        |  UNION ALL SELECT 4, 3, nbk + 1, nbk + 1, dbk, nb + 40, dtot, 0 FROM tots
        |  UNION ALL SELECT 5, 3, nbk + 1, nbk + 1, 0, nb + 40 - dtot, 0, dbk FROM tots
        |  UNION ALL SELECT 6, 1, nbk + ubk + 1, nbk + 1, dorubk, nb + utot + 40,
        |    dtot + utot, ubk + 1 FROM tots
        |  UNION ALL SELECT 30, 0, nbk, nbk, 0, nb - dtot, 0, dbk FROM tots
        |  UNION ALL SELECT 31, 0, nbk + 1, nbk + 1, donlybk, nb - dupsum + 40,
        |    donlysum, ubk + 1 FROM tots)
        |ORDER BY version""".stripMargin,
    // the evolved table from first principles: pre-evolution rows are the
    // MOR-masked base under the RENAMED column name with NULL qty;
    // post-evolution rows follow the insert formulas; file_schema_id is
    // 2 exactly for the insert buckets
    "x99_schema_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey // 1024 AS bucket
        |  FROM orders),
        |live AS (
        |  SELECT k, cents, bucket FROM base
        |  WHERE NOT (k % 13 = 0 AND bucket % 3 = 1)),
        |ins AS (
        |  SELECT 20000000 + i AS k, 200000 + 11 * i AS cents, 3 + i % 7 AS qty,
        |    (20000000 + i) // 1024 AS bucket
        |  FROM (SELECT unnest(range(40)) AS i)),
        |allr AS (
        |  SELECT k, cents AS amount_cents, CAST(NULL AS BIGINT) AS qty, bucket, 1 AS sid FROM live
        |  UNION ALL
        |  SELECT k, cents, qty, bucket, 2 FROM ins)
        |SELECT bucket, count(*) AS n_rows,
        |  CAST(sum(amount_cents) AS BIGINT) AS total_amount_cents,
        |  count(qty) AS qty_rows,
        |  CAST(coalesce(sum(qty), 0) AS BIGINT) AS qty_total,
        |  CAST(max(sid) AS BIGINT) AS file_schema_id
        |FROM allr GROUP BY bucket ORDER BY bucket""".stripMargin,
    // x143: the identical 7-day support explode and census.
    "x143_rolling_distinct" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts::TIMESTAMP) // 86400000000 AS day
        |  FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM days),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM days GROUP BY 1),
        |roll AS (
        |  SELECT target AS day, count(*) AS wau FROM (
        |    SELECT DISTINCT user_id, day + i AS target
        |    FROM days, unnest(generate_series(0, 6)) t(i)) GROUP BY 1)
        |SELECT dau.day, dau.dau, roll.wau, b.d0, b.d1
        |FROM dau JOIN roll ON dau.day = roll.day, b
        |WHERE dau.day <= b.d1
        |ORDER BY dau.day""".stripMargin,
    // x142: sessions from the q36 CTE chain, promos as VALUES, overlap as
    // the DIRECT quadratic theta join — the grid decomposition must
    // reproduce it exactly.
    "x142_interval_overlap_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
        |marked AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us, 1) OVER w IS NULL
        |           OR us - lag(us, 1) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |numbered AS (
        |  SELECT user_id, us,
        |    cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, session_no, min(us) AS s_start, max(us) AS s_end
        |  FROM numbered GROUP BY 1, 2),
        |promos(promo_id, p_start, p_end) AS (VALUES
        |  (1, epoch_us(TIMESTAMP '2024-01-02 00:00:00'), epoch_us(TIMESTAMP '2024-01-04 00:00:00')),
        |  (2, epoch_us(TIMESTAMP '2024-01-05 12:00:00'), epoch_us(TIMESTAMP '2024-01-06 00:00:00')),
        |  (3, epoch_us(TIMESTAMP '2024-01-10 00:00:00'), epoch_us(TIMESTAMP '2024-01-17 00:00:00')),
        |  (4, epoch_us(TIMESTAMP '2024-01-16 18:00:00'), epoch_us(TIMESTAMP '2024-01-19 06:00:00')),
        |  (5, epoch_us(TIMESTAMP '2024-01-25 00:00:00'), epoch_us(TIMESTAMP '2024-01-25 06:00:00')))
        |SELECT CAST(promo_id AS BIGINT) AS promo_id, count(*) AS n_sessions,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(least(s_end, p_end) - greatest(s_start, p_start)) AS BIGINT) AS overlap_us
        |FROM sess JOIN promos ON s_start <= p_end AND p_start <= s_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x141: epoch-day div-7 weeks, first-week cohorts, distinct activity
    // census — the identical integer pipeline.
    // x162: the same cleared-rational z² (HUGEINT headroom mirrors the
    // Spark side's DECIMAL(38,0)).
    "x162_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |         THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |arms AS (
        |  SELECT arm, count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv,
        |    (CAST(sum(conv) AS BIGINT) * 1000000) // count(*) AS rate_ppm
        |  FROM u GROUP BY 1),
        |st0 AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN n_users ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 0 THEN n_conv ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN arm = 1 THEN n_users ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN arm = 1 THEN n_conv ELSE 0 END) AS BIGINT) AS c2
        |  FROM arms),
        |st AS (
        |  SELECT (c1 * 1000000) // n1 - (c2 * 1000000) // n2 AS diff_ppm,
        |    CAST(CASE WHEN c1 + c2 = 0 OR c1 + c2 = n1 + n2 THEN 0 ELSE
        |         (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1) *
        |         (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1) * (n1 + n2) * 10000 //
        |         (CAST(n1 AS HUGEINT) * n2 * (c1 + c2) * (n1 + n2 - c1 - c2)) END AS BIGINT) AS z2_e4
        |  FROM st0)
        |SELECT arm, n_users, n_conv, rate_ppm, diff_ppm, z2_e4, z2_e4 > 38416 AS significant_95
        |FROM arms, st ORDER BY arm""".stripMargin,
    // x161: the CUSUM recursions replayed as a linear recursive CTE over
    // the day index (rn joins rn+1 — one row per step, never a fan-out).
    "x161_cusum_changepoint" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(epoch_us(ts::TIMESTAMP) // 86400000000 AS BIGINT) AS day,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) +
        |         sum(CASE WHEN event_type = 'error'
        |                   AND CAST(epoch_us(ts::TIMESTAMP) // 86400000000 AS BIGINT) >= 19738
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST((sum(x) * 1000) // count(*) AS BIGINT) AS mu_e3 FROM daily),
        |idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
        |walk(rn, day, x, sp, sn) AS (
        |  SELECT i.rn, i.day, i.x,
        |    greatest(CAST(0 AS BIGINT), i.x * 1000 - mu_e3 - mu_e3 // 20),
        |    greatest(CAST(0 AS BIGINT), mu_e3 - i.x * 1000 - mu_e3 // 20)
        |  FROM idx i, st WHERE i.rn = 1
        |  UNION ALL
        |  SELECT i.rn, i.day, i.x,
        |    greatest(CAST(0 AS BIGINT), w.sp + (i.x * 1000 - mu_e3 - mu_e3 // 20)),
        |    greatest(CAST(0 AS BIGINT), w.sn + (mu_e3 - i.x * 1000 - mu_e3 // 20))
        |  FROM walk w JOIN idx i ON i.rn = w.rn + 1 CROSS JOIN st)
        |SELECT w.day, w.x, w.sp AS s_pos, w.sn AS s_neg,
        |  w.sp > mu_e3 // 2 AS alarm_hi, w.sn > mu_e3 // 2 AS alarm_lo,
        |  mu_e3, CAST(mu_e3 // 20 AS BIGINT) AS k_e3, CAST(mu_e3 // 2 AS BIGINT) AS h_e3
        |FROM walk w, st ORDER BY w.day""".stripMargin,
    // x173: identical pair table, identical double-ratio rank order and
    // identical rank-index formula; the emitted ppm is the integer floor
    // of the rank-selected pair.
    "x173_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(epoch_us(ts::TIMESTAMP) // 86400000000 AS BIGINT) AS day, count(*) AS x
        |  FROM events GROUP BY 1),
        |pairs AS (
        |  SELECT b.x - a.x AS dy, b.day - a.day AS dx
        |  FROM daily a JOIN daily b ON b.day > a.day),
        |ranked AS (
        |  SELECT dy, dx, row_number() OVER (ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx) AS rk
        |  FROM pairs),
        |sel AS (
        |  SELECT p, ((np - 1) * p) // 100 + 1 AS k, np, n_days
        |  FROM (SELECT unnest([25, 50, 75]) AS p),
        |       (SELECT count(*) AS np FROM ranked),
        |       (SELECT count(*) AS n_days FROM daily))
        |SELECT CAST(sel.p AS BIGINT) AS p, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(np AS BIGINT) AS n_pairs,
        |  CAST(((dy * 1000000) - (((dy * 1000000) % dx + dx) % dx)) // dx AS BIGINT)
        |    AS slope_ppm_per_day
        |FROM sel JOIN ranked ON ranked.rk = sel.k ORDER BY sel.p""".stripMargin,
    // x166: same cleared-mean products (HUGEINT headroom mirrors the
    // DECIMAL(38,0) side) over the same calendar-pair join.
    "x166_autocorrelation" ->
      """WITH daily AS (
        |  SELECT CAST(epoch_us(ts::TIMESTAMP) // 86400000000 AS BIGINT) AS day,
        |    count(*) AS x
        |  FROM events GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM daily),
        |den AS (
        |  SELECT sum((CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s)) AS dend
        |  FROM daily, st),
        |lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
        |pairs AS (
        |  SELECT l.lag, a.x AS x, b.x AS xk, st.n, st.s
        |  FROM daily a CROSS JOIN lags l JOIN daily b ON b.day = a.day + l.lag, st),
        |num AS (
        |  SELECT lag, count(*) AS n_pairs,
        |    sum((CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * xk - s)) AS numd
        |  FROM pairs GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CAST((s * 1000) // n AS BIGINT) AS mean_e3,
        |  CAST(CASE WHEN dend = 0 THEN 0 ELSE
        |    ((numd * 1000000) - (((numd * 1000000) % dend + dend) % dend)) // dend END AS BIGINT)
        |    AS acf_ppm
        |FROM num, den, st ORDER BY lag""".stripMargin,
    // x157: same cells/shares/TVD arithmetic; conditional sums replayed.
    "x157_drift_report" ->
      """WITH ev AS (
        |  SELECT event_type, hour(ts) // 6 AS hour_bucket,
        |    (epoch_us(ts::TIMESTAMP) // 86400000000) % 2 = 0 AS side_a
        |  FROM events),
        |cells AS (
        |  SELECT event_type, hour_bucket,
        |    CAST(sum(CASE WHEN side_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN side_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM cells),
        |sh AS (
        |  SELECT event_type, hour_bucket, ca, cb,
        |    (ca * 1000000) // na AS share_a_ppm,
        |    (cb * 1000000) // nb AS share_b_ppm
        |  FROM cells, tot),
        |tvd AS (SELECT CAST(sum(abs(share_a_ppm - share_b_ppm)) // 2 AS BIGINT) AS tvd_ppm FROM sh)
        |SELECT event_type, hour_bucket, ca, cb, share_a_ppm, share_b_ppm,
        |  CAST((length(bin(ca + 1)) - 1) - (length(bin(cb + 1)) - 1) AS BIGINT) AS llr_bits,
        |  tvd_ppm
        |FROM sh, tvd ORDER BY event_type, hour_bucket""".stripMargin,
    // x183: the same day census → in-query plants → calendar-join trend
    // → weekday means → residual/threshold chain, posmod floors shared.
    "x183_seasonal_decompose" ->
      """WITH raw AS (
        |  SELECT epoch_us(ts::TIMESTAMP) // 86400000000 AS day, count(*) AS x0
        |  FROM events GROUP BY 1),
        |md AS (SELECT min(day) AS md FROM raw),
        |daily AS (
        |  SELECT day,
        |    x0 * (CASE WHEN ((day + 3) % 7 + 7) % 7 IN (5, 6) THEN 2 ELSE 1 END)
        |       * (CASE WHEN day = (SELECT md FROM md) + 10 THEN 3 ELSE 1 END) AS x
        |  FROM raw),
        |tr AS (
        |  SELECT a.day, count(*) AS w, CAST(sum(b.x) AS BIGINT) AS sx
        |  FROM daily a, unnest(generate_series(-3, 3)) t(k)
        |  JOIN daily b ON b.day = a.day + t.k
        |  GROUP BY a.day HAVING count(*) = 7),
        |dt AS (
        |  SELECT d.day, d.x, (tr.sx * 1000) // 7 AS trend_e3,
        |    d.x * 1000 - (tr.sx * 1000) // 7 AS dt_e3
        |  FROM daily d JOIN tr ON d.day = tr.day),
        |se AS (
        |  SELECT ((day + 3) % 7 + 7) % 7 AS wd,
        |    CAST(sum(dt_e3) AS BIGINT) AS sdt, CAST(count(*) AS BIGINT) AS nw
        |  FROM dt GROUP BY 1),
        |se2 AS (SELECT wd, (sdt - ((sdt % nw + nw) % nw)) // nw AS seasonal_e3 FROM se),
        |re AS (
        |  SELECT dt.day, dt.x, dt.trend_e3, se2.seasonal_e3,
        |    dt.dt_e3 - se2.seasonal_e3 AS resid_e3
        |  FROM dt JOIN se2 ON ((dt.day + 3) % 7 + 7) % 7 = se2.wd),
        |th AS (
        |  SELECT (2 * CAST(sum(abs(resid_e3)) AS BIGINT)
        |    - ((2 * CAST(sum(abs(resid_e3)) AS BIGINT) % count(*) + count(*)) % count(*)))
        |    // count(*) AS thr_e3
        |  FROM re)
        |SELECT re.day, re.x, re.trend_e3, re.seasonal_e3, re.resid_e3,
        |  th.thr_e3, abs(re.resid_e3) > th.thr_e3 AS anomaly
        |FROM re CROSS JOIN th
        |ORDER BY day""".stripMargin,

    // x181: same double census → margins → cleared-rational floored cells
    // → per-test sum + critical-value verdict, HUGEINT squared terms.
    "x181_chi2_independence" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS prio, o_orderstatus AS status,
        |    CASE WHEN ('0x' || substr(md5(o_orderkey::VARCHAR || '#m'), 1, 15))::BIGINT % 3 = 0
        |      THEN substr(o_orderpriority, 1, 1)
        |      ELSE CAST(('0x' || substr(md5(o_orderkey::VARCHAR || '#d'), 1, 15))::BIGINT % 3 AS VARCHAR)
        |    END AS dep
        |  FROM orders),
        |cells AS (
        |  SELECT 0 AS test_id, prio, status AS b, CAST(count(*) AS BIGINT) AS o
        |  FROM base GROUP BY 2, 3
        |  UNION ALL
        |  SELECT 1 AS test_id, prio, dep AS b, CAST(count(*) AS BIGINT) AS o
        |  FROM base GROUP BY 2, 3),
        |rm AS (SELECT test_id, prio, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1, 2),
        |cm AS (SELECT test_id, b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1, 2),
        |tot AS (
        |  SELECT test_id, CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT prio) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT b) AS BIGINT) AS nc
        |  FROM cells GROUP BY 1),
        |contrib AS (
        |  SELECT cells.test_id, cells.prio, cells.b, cells.o, rm.r, cm.c, tot.n,
        |    CAST((cells.o::HUGEINT * tot.n - rm.r::HUGEINT * cm.c) *
        |         (cells.o::HUGEINT * tot.n - rm.r::HUGEINT * cm.c) * 1000000
        |      // (tot.n::HUGEINT * rm.r * cm.c) AS BIGINT) AS contrib_e6,
        |    (tot.nr - 1) * (tot.nc - 1) AS df
        |  FROM cells JOIN rm USING (test_id, prio) JOIN cm USING (test_id, b)
        |  JOIN tot USING (test_id)),
        |chi AS (
        |  SELECT test_id, CAST(sum(contrib_e6) AS BIGINT) AS chi2_e6, max(df) AS df
        |  FROM contrib GROUP BY 1)
        |SELECT CAST(contrib.test_id AS BIGINT) AS test_id, contrib.prio, contrib.b,
        |  contrib.o, contrib.r, contrib.c, contrib.n, contrib.contrib_e6,
        |  chi.chi2_e6, chi.df,
        |  ([3841459, 5991465, 7814728, 9487729, 11070498, 12591587, 14067140,
        |    15507313, 16918978, 18307038, 19675138, 21026070, 22362032,
        |    23684791, 24995790, 26296228, 27587112, 28869299, 30143527,
        |    31410433])[CAST(chi.df AS INT)] AS crit_e6,
        |  chi.chi2_e6 > ([3841459, 5991465, 7814728, 9487729, 11070498,
        |    12591587, 14067140, 15507313, 16918978, 18307038, 19675138,
        |    21026070, 22362032, 23684791, 24995790, 26296228, 27587112,
        |    28869299, 30143527, 31410433])[CAST(chi.df AS INT)] AS significant_95
        |FROM contrib JOIN chi USING (test_id)
        |ORDER BY test_id, prio, b""".stripMargin,

    // x174: the oracle is the LITERAL interval join (vf ≤ ts < vt over the
    // q56-derived intervals) — the union-window engine path must reproduce
    // the canonical range-join semantics row for row, boundaries included.
    "x174_pit_scd2_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_type
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |  FROM ev WHERE event_type IN ('signup', 'view', 'error')),
        |dim AS (
        |  SELECT user_id, event_type AS state, ts_us AS vf,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS vt
        |  FROM chg WHERE prev IS NULL OR event_type <> prev),
        |f AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id, f.ts_us,
        |  coalesce(d.state, 'none') AS state,
        |  coalesce(d.vf, -1) AS state_since_us
        |FROM f LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.ts_us >= d.vf
        |  AND (d.vt IS NULL OR f.ts_us < d.vt)
        |ORDER BY f.user_id, f.event_id""".stripMargin,

    "x141_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    (epoch_us(ts::TIMESTAMP) // 86400000000) // 7 AS wk
        |  FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, wk FROM ev),
        |cells AS (
        |  SELECT f.cohort_wk, a.wk - f.cohort_wk AS week_offset,
        |    count(DISTINCT a.user_id) AS n_active
        |  FROM act a JOIN fw f ON a.user_id = f.user_id GROUP BY 1, 2),
        |sz AS (SELECT cohort_wk, count(*) AS n_cohort FROM fw GROUP BY 1)
        |SELECT c.cohort_wk, c.week_offset, c.n_active, s.n_cohort,
        |  (c.n_active * 1000000) // s.n_cohort AS retention_ppm
        |FROM cells c JOIN sz s ON c.cohort_wk = s.cohort_wk
        |ORDER BY c.cohort_wk, c.week_offset""".stripMargin,
    // x135: the incremental dimension must equal the FULL-HISTORY interval
    // derivation (q56's CTE chain, minus n_events) — the batch cutoffs
    // never appear in the oracle, so any boundary artifact (reopened run,
    // unclosed row) flips the hash.
    "x135_scd2_merge" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs0 AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM flagged),
        |runs AS (
        |  SELECT user_id, run_id, event_type, min(ts) AS vf
        |  FROM runs0 GROUP BY 1, 2, 3),
        |iv AS (
        |  SELECT user_id, event_type, vf,
        |    lead(vf) OVER (PARTITION BY user_id ORDER BY run_id) AS vt
        |  FROM runs)
        |SELECT user_id, event_type,
        |  epoch_us(vf) AS valid_from_us,
        |  coalesce(epoch_us(vt), -1) AS valid_to_us,
        |  CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM iv ORDER BY user_id, valid_from_us, event_type, valid_to_us""".stripMargin,
    "q56_scd2_intervals" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs0 AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM flagged),
        |runs AS (
        |  SELECT user_id, run_id, event_type, min(ts) AS vf, count(*) AS n_events
        |  FROM runs0 GROUP BY 1, 2, 3),
        |iv AS (
        |  SELECT user_id, event_type, vf,
        |    lead(vf) OVER (PARTITION BY user_id ORDER BY run_id) AS vt, n_events
        |  FROM runs)
        |SELECT user_id, event_type,
        |  epoch_us(vf) AS valid_from_us,
        |  coalesce(epoch_us(vt), -1) AS valid_to_us,
        |  CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
        |  n_events
        |FROM iv ORDER BY user_id, valid_from_us""".stripMargin,
    "q59_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type FROM events),
        |f1 AS (
        |  SELECT *, coalesce(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seen_signup
        |  FROM ev),
        |f2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND seen_signup = 1 THEN 1 ELSE 0 END AS is_q_click
        |  FROM f1),
        |f3 AS (
        |  SELECT *, coalesce(max(is_q_click)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seen_q_click
        |  FROM f2),
        |f4 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND seen_q_click = 1 THEN 1 ELSE 0 END AS is_q_purchase
        |  FROM f3),
        |per_user AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s1,
        |    max(is_q_click) AS s2,
        |    max(is_q_purchase) AS s3
        |  FROM f4 GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(s1) AS BIGINT) AS users_signup,
        |  CAST(sum(s2) AS BIGINT) AS users_click_after,
        |  CAST(sum(s3) AS BIGINT) AS users_purchase_after
        |FROM per_user""".stripMargin,
    "q57_argmax" ->
      """WITH ev AS (
        |  SELECT event_type, user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) * 1000000000000 + event_id AS k
        |  FROM events),
        |evp AS (SELECT * FROM ev WHERE k >= 0)
        |SELECT event_type, count(*) AS n,
        |  arg_max(user_id, k) AS top_user,
        |  arg_min(user_id, k) AS bottom_user,
        |  max(k) // 1000000000000 AS max_cents,
        |  min(k) // 1000000000000 AS min_cents
        |FROM evp GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
