package graft.operators

import graft.Graft
import graft.Graft.table
import graft.functions.Hashing
import graft.sources.Fixture
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Corpus sampling / split operators [EXT] — the selection layer of a
  * training-data pipeline: deterministic train/val/test splits, per-language
  * token-budget subsampling, and domain-mixture statistics. The reference
  * has no analog (its analytics surface is declared, not implemented —
  * SURVEY.md §0); these are the operations a 100 TB curation run needs
  * between dedup (operators/Dedup) and tokenization.
  *
  * Scale shape: every operator here is a single scan plus either a
  * low-cardinality hash aggregation (x24/x27 — partial map-side combine,
  * shuffle carries a handful of groups) or a per-language window whose
  * running sum is streaming over an external sort (x26) — no joins on the
  * corpus, no driver-side state.
  *
  * Determinism: splits and sample order derive from the md5-window-15
  * convention ([[graft.functions.Hashing]]), never from `rand()` — the same
  * corpus always yields the same split/sample on any cluster layout, which
  * is what makes training-data lineage reproducible (and what lets the
  * DuckDB oracle recompute the identical assignment).
  */
object Sampling {

  private def toks: Column = split(lower(trim(col("text"))), "\\s+")

  /** SQL fragment: min-max scale `x` into [0, 65535] with int64-safe
    * arithmetic — multiply-first while exact (range < 2^47), divide-first
    * beyond. Mirrored verbatim in the x47 oracle; shared with the x73
    * skipping-scan layout writer ([[graft.sources.DataSkipping]]). */
  private[graft] def scale16(x: String, lo: String, hi: String): String =
    s"""CASE WHEN ($hi - $lo) <= 140737488355327L
       |  THEN (($x - $lo) * 65535L) div greatest($hi - $lo, 1L)
       |  ELSE least(($x - $lo) div greatest(($hi - $lo) div 65535L, 1L), 65535L) END""".stripMargin

  /** deterministic [0, 100) bucket of a document id */
  private def docBucket: Column = Hashing.md5Bucket(col("doc_id").cast("string"), 100L)

  /** x149's DSIR scoring pipeline — (doc_id, n_feats, llr_bits), shared by
    * the selection gate (x149) and the AUC/calibration evaluation (x159)
    * so the score definition cannot drift between them. Feature stream is
    * never shuffled: bucket counts collapse map-side to ≤256 rows and
    * broadcast back (scaladoc at the x149 entry). */
  private[operators] def dsirScores(s: SparkSession, d: String): DataFrame = {
    val feats = table(s, d, "documents")
      .select(col("doc_id"), col("lang"), toks.as("ws"))
      .select(
        col("doc_id"),
        col("lang"),
        explode(
          concat(
            col("ws"),
            when(
              size(col("ws")) >= 2,
              expr("transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i + 1]))")
            ).otherwise(array().cast("array<string>"))
          )
        ).as("feat")
      )
      .where(length(col("feat")) >= 1)
      .select(col("doc_id"), col("lang"), Hashing.md5Bucket(col("feat"), 256L).as("b"))
      .localCheckpoint() // four plan refs: cr, ct, totals, per-doc scoring
    val cr = feats.groupBy("b").agg(count(lit(1)).as("cr"))
    val ct = feats.where(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
    val bucketBits = cr
      .join(ct, Seq("b"), "left")
      .select(
        col("b"),
        ((length(bin(coalesce(col("ct"), lit(0L)) + 1L)) - 1).cast("long") -
          (length(bin(col("cr") + 1L)) - 1).cast("long")).as("sbits")
      )
    val totals = feats.agg(
      count(lit(1)).as("nr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt")
    )
    feats
      .join(broadcast(bucketBits), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("sbits").as("sb"))
      .crossJoin(broadcast(totals))
      .select(
        col("doc_id"),
        col("n_feats"),
        (col("sb") +
          col("n_feats") * ((length(bin(col("nr") + 256L)) - 1).cast("long") -
            (length(bin(col("nt") + 256L)) - 1).cast("long"))).as("llr_bits")
      )
  }

  /** Pool-adjacent-violators over ordered (Σpos, n) groups → the isotonic
    * fit as floor-ppm per group (x169). Pooling compares are exact
    * cross-multiplied rationals; the gate's oracle independently derives
    * the same values from the minimax characterization. */
  private[operators] def pav(groups: Seq[(Long, Long)]): Seq[Long] = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)] // (Σpos, Σn, groups)
    groups.foreach { case (s1, n1) =>
      var s0 = s1; var n0 = n1; var g0 = 1
      // pool while the previous block's mean ≥ this one's (violates
      // monotonicity): exact cross-multiplied rational compare
      while (stack.nonEmpty && stack.last._1 * n0 >= s0 * stack.last._2) {
        val (ps, pn, pg) = stack.remove(stack.length - 1)
        s0 += ps; n0 += pn; g0 += pg
      }
      stack += ((s0, n0, g0))
    }
    stack.toSeq.flatMap { case (s0, n0, g0) => Seq.fill(g0)((s0 * 1000000L) / n0) }
  }

  /** 32-bit Morton interleave of two 16-bit columns, unrolled flat so it
    * stays inside whole-stage codegen (shared by x47 and x73). */
  private[graft] def interleave16(cxCol: String, dyCol: String): String =
    (0 until 16)
      .map(b => s"shiftleft(shiftright($cxCol, $b) & 1, ${2 * b}) + shiftleft(shiftright($dyCol, $b) & 1, ${2 * b + 1})")
      .mkString(" + ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Rendezvous (HRW) shard rebalance (x202) — the shard-assignment
    // story behind every grow-the-cluster event: key k lands on
    // argmax_s h(k, s) (Thaler & Ravishankar 1998), so growing 8 → 9
    // shards moves ONLY the keys the new shard wins (expected 1/9), the
    // provable minimum — while mod-N reassigns ~8/9 of the corpus (both
    // verdicts are in the output, per shard, same keys). Hashes are the
    // repo's md5-window convention; argmax ties break to the LOWEST
    // shard via first-position-of-max on both engines. Scale shape: the
    // 9-slot argmax is a per-row array expression inside codegen (no
    // explode of keys × shards), both schemes ride ONE scan via a 2-way
    // struct explode, and the only shuffle is the 18-group aggregation.
    // Priority sampling (x272, Duffield–Lund–Thorup JACM'07) — WEIGHTED
    // sampling without replacement with an unbiased subset-sum estimator,
    // the missing face next to x30's uniform hash sample and x26's budget
    // cut: priority q_i = w_i/u_i with u_i the md5-window hash on the 2^60
    // grid (deterministic "randomness", the repo convention), the sample
    // is the top-k priorities, τ the (k+1)-th, and each sampled item
    // estimates its Horvitz–Thompson share as max(w_i, τ) — Σ over the
    // sample is unbiased for Σw. Everything integer: priorities in
    // DECIMAL(38,0) (w·2^60 overflows int64 — the x234 fdiv discipline),
    // est/err via posmod floor division. Scale shape: the top-(k+1) cut is
    // TakeOrderedAndProject (no global window); the rank window runs on
    // the 51-row shortlist (the x149/x201 post-limit class).
    "x272_priority_sample" -> ((s, d) => {
      val k = 50
      val o = table(s, d, "orders")
        .select(col("o_orderkey"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("w"))
        .withColumn("h", greatest(Hashing.md5Window15(col("o_orderkey").cast("string")), lit(1L)))
        .withColumn("q", expr("CAST(w AS DECIMAL(38,0)) * 1152921504606846976 div h"))
      val short = o
        .orderBy(col("q").desc, col("o_orderkey"))
        .limit(k + 1)
        .localCheckpoint() // two refs: τ row + the k sampled rows
      val wr = Window.orderBy(col("q").desc, col("o_orderkey")) // 51-row shortlist
      val ranked = short.withColumn("rk", row_number().over(wr).cast("long"))
      val tau = ranked.where(col("rk") === (k + 1)).select(col("q").as("tau"))
      val exact = table(s, d, "orders")
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("exact_cents"))
      val est = ranked
        .where(col("rk") <= k)
        .crossJoin(broadcast(tau))
        .agg(sum(expr("greatest(CAST(w AS DECIMAL(38,0)), tau)")).as("e"))
        .select(expr("CAST(e AS BIGINT)").as("est_cents"))
      ranked
        .where(col("rk") <= k)
        .select("rk", "o_orderkey", "w")
        .crossJoin(broadcast(est))
        .crossJoin(broadcast(exact))
        // |err| + sign, never a signed floor division (the x247 discipline)
        .withColumn("abs_err_e6", expr("abs(est_cents - exact_cents) * 1000000 div exact_cents"))
        .withColumn("err_sign", expr("CAST(sign(est_cents - exact_cents) AS BIGINT)"))
        .orderBy("rk")
    }),

    "x202_hrw_rebalance" -> ((s, d) => {
      table(s, d, "orders")
        .select(col("o_orderkey").as("key"))
        .withColumn(
          "ws",
          expr(
            "transform(sequence(0, 8), s -> " +
              "CAST(conv(substring(md5(concat(CAST(key AS STRING), '#', CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT))"
          )
        )
        .withColumn("a9", expr("CAST(array_position(ws, array_max(ws)) AS BIGINT) - 1"))
        .withColumn(
          "a8",
          expr("CAST(array_position(slice(ws, 1, 8), array_max(slice(ws, 1, 8))) AS BIGINT) - 1")
        )
        .select(
          explode(
            expr(
              "array(named_struct('scheme', 'hrw', 'shard', a9, 'moved', a8 <> a9), " +
                "named_struct('scheme', 'mod', 'shard', key % 9, 'moved', key % 8 <> key % 9))"
            )
          ).as("r")
        )
        .groupBy(col("r.scheme").as("scheme"), col("r.shard").as("shard"))
        .agg(count(lit(1)).as("n_keys"), expr("count_if(r.moved)").as("n_moved"))
        .orderBy("scheme", "shard")
    }),

    // deterministic 80/10/10 train/val/test split by content-free id hash:
    // the assignment is a pure function of doc_id, so re-runs, retries and
    // cluster re-partitioning can never move a document across splits.
    "x24_hash_split" -> ((s, d) => {
      table(s, d, "documents")
        .select(
          when(docBucket < 80, "train").when(docBucket < 90, "val").otherwise("test").as("split"),
          size(toks).cast("long").as("n_tokens")
        )
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("split")
    }),

    // per-language token-budget subsample: documents are ranked by id hash
    // (a deterministic shuffle) and kept while the language's running token
    // count stays within budget — the standard way to cap a dominant
    // language without biasing toward any document property.
    //
    // Scale shape: a naive `Window.partitionBy(lang)` running sum puts an
    // ENTIRE language in one task — at corpus scale the dominant language
    // serializes through a single straggler. `Prefix` keeps the math
    // identical over hash-RANGE buckets (order-preserving integer division
    // of the 2^60 hash space): B tasks per language.
    "x26_token_budget_sample" -> ((s, d) => {
      val budget = 2500L
      val buckets = 32L
      val step = (1L << 60) / buckets // md5Window15 < 2^60
      val docs = table(s, d, "documents")
        .select(
          col("lang"),
          col("doc_id"),
          size(toks).cast("long").as("doc_tokens"),
          Hashing.md5Window15(col("doc_id").cast("string")).as("h")
        )
        .withColumn("bkt", expr(s"h div ${step}L")) // range bucket: preserves hash order
      Prefix
        .exclusive(docs, Seq("lang"), "bkt", Seq(col("h"), col("doc_id")))(col("doc_tokens") -> "cum_tokens")
        .withColumn("cum_tokens", col("cum_tokens") + col("doc_tokens"))
        .where(col("cum_tokens") <= budget)
        .select("lang", "doc_id", "doc_tokens", "cum_tokens")
        .orderBy("lang", "cum_tokens", "doc_id")
    }),

    // Sequence packing — the concat-and-chunk step of LLM pre-training:
    // documents are laid end-to-end in deterministic hash order and the
    // token stream is cut into fixed 512-token training sequences; a
    // document whose interval crosses a cut boundary is split across
    // sequences. Emitted per document: its global token offset, first/last
    // sequence ids, and whether it was split — everything a loader needs to
    // materialize packed sequences without re-scanning the corpus.
    //
    // Scale shape: the global running offset is a `Prefix` sum over
    // hash-RANGE buckets, as in x26 — a single global `Window.orderBy`
    // would serialize the whole corpus through one task.
    "x53_sequence_pack" -> ((s, d) => {
      val seqLen = 512L
      val buckets = 32L
      val step = (1L << 60) / buckets
      val docs = table(s, d, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          Hashing.md5Window15(col("doc_id").cast("string")).as("h")
        )
        .withColumn("bkt", expr(s"h div ${step}L"))
      Prefix
        .exclusive(docs, Nil, "bkt", Seq(col("h"), col("doc_id")))(col("n_tokens") -> "offset")
        .withColumn("seq_first", expr(s"offset div ${seqLen}L"))
        .withColumn("seq_last", expr(s"(offset + n_tokens - 1) div ${seqLen}L"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          col("offset"),
          col("seq_first"),
          col("seq_last"),
          when(col("seq_first") =!= col("seq_last"), 1L).otherwise(0L).as("split")
        )
        .orderBy("doc_id")
    }),

    // stratified proportional sample: a 200-document corpus sample whose
    // per-language allocation is the exact integer floor of the stratum's
    // share (quota_g = n_g·200 div N), filled by the stratum's lowest
    // id-hashes — deterministic under retries and re-partitioning, like
    // every selection here (no rand()). Allocation needs only the tiny
    // per-stratum count table (broadcast); selection is per-stratum
    // smallest-k by hash, which at corpus scale runs via the same
    // hash-range bucket decomposition x26 demonstrates (quota_g consumed
    // bucket-by-bucket in hash order) — the window form below is the
    // sf-scale expression of the same math.
    // Largest-remainder quota apportionment (x217, Hamilton's method) —
    // the EXACT-total allocator x43's per-stratum ranking and x27's
    // mixture weights both dodge: "sample exactly K = 1000 documents,
    // proportional to per-source token mass" needs integer quotas that
    // sum to K precisely (floor quotas undershoot; rounding overshoots
    // — the apportionment paradox literature exists because this is
    // genuinely subtle). base_i = K·m_i div M; the K − Σbase leftover
    // seats go one each to the largest remainders (K·m_i mod M),
    // source-name tiebreak. Σ quota == K is carried IN the output.
    // Census-sized end-to-end: one mass agg, then ≤|sources| rows.
    "x217_apportion" -> ((s, d) => {
      val k = 1000L
      val mass = table(s, d, "documents")
        .groupBy("source")
        .agg(sum(size(split(lower(trim(col("text"))), "\\s+"))).cast("long").as("m"))
        .localCheckpoint() // two refs: total + rows
      val tot = mass.agg(sum("m").as("mm"))
      val seats = mass
        .crossJoin(broadcast(tot))
        .withColumn("base", expr(s"$k * m div mm"))
        .withColumn("rem", expr(s"($k * m) % mm"))
        .localCheckpoint() // two refs: leftover count + ranking
      val leftover = seats.agg((lit(k) - sum("base")).as("left"))
      val ranked = seats
        .withColumn("rr", row_number().over(Window.orderBy(col("rem").desc, col("source"))).cast("long"))
        .crossJoin(broadcast(leftover))
        .withColumn("extra", when(col("rr") <= col("left"), 1L).otherwise(0L))
        .withColumn("quota", col("base") + col("extra"))
        .localCheckpoint() // two refs: total check + output
      val check = ranked.agg(sum("quota").as("total_quota"))
      ranked
        .crossJoin(broadcast(check))
        .select("source", "m", "base", "extra", "quota", "total_quota")
        .orderBy("source")
    }),

    // Keyed pseudonymization with referential integrity (x216) — the
    // privacy-engineering verb between x17's destructive redaction and
    // x171's suppression: customer keys are replaced by a KEYED md5
    // token (deterministic per key ⇒ the same customer tokenizes
    // identically everywhere, so FK joins, group-bys and cardinalities
    // all survive the release — the property that makes pseudonymized
    // data usable at all). The gate PROVES the invariants rather than
    // asserting them: orders and customer are both tokenized
    // independently, re-joined ON THE TOKEN, and the output carries the
    // per-nation order counts (must equal the raw join's) plus
    // token-collision accounting (distinct tokens == distinct keys).
    // One broadcast dim join + one agg; tokenization is a per-row
    // codegen'd expression.
    "x216_pseudonymize" -> ((s, d) => {
      def tok(c: Column): Column =
        substring(md5(concat(lit("graft-release-key-1#"), c.cast("string"))), 1, 16)
      val cust = table(s, d, "customer")
        .select(tok(col("c_custkey")).as("ctok"), col("c_nationkey"))
      val ords = table(s, d, "orders")
        .select(tok(col("o_custkey")).as("ctok"))
      val joined = ords
        .join(broadcast(cust), Seq("ctok"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"), countDistinct("ctok").as("n_tokens"))
      val raw = table(s, d, "orders")
        .join(broadcast(table(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("raw_orders"), countDistinct("c_custkey").as("raw_custs"))
      joined
        .join(raw, Seq("c_nationkey"))
        .select(
          col("c_nationkey"),
          col("n_orders"),
          col("raw_orders"),
          (col("n_orders") === col("raw_orders")).as("counts_survive"),
          col("n_tokens"),
          col("raw_custs"),
          (col("n_tokens") === col("raw_custs")).as("no_collisions")
        )
        .orderBy("c_nationkey")
    }),

    "x43_stratified_sample" -> ((s, d) => {
      val total = 200L
      val docs = table(s, d, "documents")
        .select(col("lang"), col("doc_id"), Hashing.md5Window15(col("doc_id").cast("string")).as("h"))
      val strata = docs.groupBy("lang").agg(count(lit(1)).as("n_g"))
      val n = strata.agg(sum("n_g").as("n"))
      val quotas = strata
        .crossJoin(broadcast(n))
        .select(col("lang"), col("n_g"), expr(s"(n_g * ${total}L) div n").as("quota"))
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      docs
        .join(broadcast(quotas), "lang")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= col("quota"))
        .select("lang", "rk", "doc_id", "n_g", "quota")
        .orderBy("lang", "rk")
    }),

    // output compaction planning — the small-files problem is a first-order
    // operational concern at 100 TB (a 1000-executor write of per-task
    // files floods the namenode/object store with millions of tiny
    // objects). Plan per-partition output file counts from the data's
    // actual byte volume: n_files = ⌈bytes / target⌉, rows_per_file the
    // matching ceil — the numbers a writer feeds into repartitionByRange
    // before the sink (demonstrated in LineDedupSpec). One aggregation;
    // target here is 64 KiB standing in for the production 128 MiB.
    "x45_compaction_plan" -> ((s, d) => {
      val target = 64L * 1024
      table(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(length(col("text")).cast("long")).as("n_bytes"))
        .withColumn("n_files", expr(s"(n_bytes + ${target}L - 1) div ${target}L"))
        .withColumn("rows_per_file", expr("(n_docs + n_files - 1) div n_files"))
        .orderBy("lang")
    }),

    // z-order layout — multi-dimensional clustering for data skipping (the
    // layout Delta/Iceberg OPTIMIZE ZORDER lowers to). Both dims are
    // min-max scaled to 16 bits with integer arithmetic, bit-interleaved
    // into a 32-bit Morton key, and bucketed into 64 z-ranges; the output
    // is each bucket's min/max on BOTH original dims — exactly the
    // row-group statistics a scan would prune on. Because the bucket fixes
    // the top 3 interleaved bits of each dim, every bucket provably spans
    // ≤ 1/8 of each dim's range (+1 scaling quantum) — a 2-dim skipping
    // guarantee no single-column sort can give; the spec asserts the bound.
    // Scale shape: one tiny bounds aggregate broadcast back (tiny-metadata
    // crossJoin), then per-row integer math; the groupBy carries 64 groups.
    "x47_zorder_layout" -> ((s, d) => {
      val orders = table(s, d, "orders")
        .select(
          col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("days")
        )
      val bounds = orders.agg(
        min("o_custkey").as("cmin"),
        max("o_custkey").as("cmax"),
        min("days").as("dmin"),
        max("days").as("dmax")
      )
      orders
        .crossJoin(broadcast(bounds))
        // Overflow-aware 16-bit scaling (the ADVICE-r03 class): multiply-
        // first is exact but (x-min)·65535 wraps int64 once the range
        // exceeds 2^47; beyond that, divide by the precomputed step
        // (overflow-free for any int64 range, least() clamps the step-
        // rounding overshoot). Small ranges MUST multiply first — dividing
        // a small range by its ~1 step never reaches the top interleave
        // bits and would collapse every row into one bucket.
        .withColumn("cx", expr(scale16("o_custkey", "cmin", "cmax")))
        .withColumn("dy", expr(scale16("days", "dmin", "dmax")))
        // 16 interleave steps unrolled flat: a higher-order `aggregate`
        // lambda is interpreted per row; the unrolled bit expression stays
        // inside whole-stage codegen (measured 2.0 s → scan-bound)
        .withColumn("zkey", expr(interleave16("cx", "dy")))
        .withColumn("bucket", expr("zkey div 67108864")) // 2^32 / 64 ranges
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n"),
          min("o_custkey").as("c_lo"),
          max("o_custkey").as("c_hi"),
          min("days").as("d_lo"),
          max("days").as("d_hi")
        )
        .orderBy("bucket")
    }),

    // manifest-driven data-skipping SCAN over the x47 layout — the read
    // path that cashes in z-order's promise: write orders range-
    // partitioned on the Morton key with a per-file min/max manifest,
    // prune the manifest against a 2-dim query rectangle on the driver
    // (file-count-sized metadata, the table-format planning shape), scan
    // only the surviving files with the residual predicate pushed down.
    // The gate hash pins the pruned scan to the full-scan answer (the
    // oracle filters the raw table — if pruning dropped a file it
    // shouldn't, rows vanish and the hash breaks); the ≤1/8-of-files
    // bound itself is asserted in ScaleDisciplineSpec.
    "x73_skipping_scan" -> ((s, d) => {
      val dir = graft.sources.DataSkipping.dir(d)
      // fingerprint-guarded: steady-state calls (bench warm + timed
      // passes) are a marker-file read, so the measured number is the
      // manifest-pruned READ path, not layout writes
      val bounds = graft.sources.DataSkipping.ensureLayout(s, d)
      val r = graft.sources.DataSkipping.gateRect(bounds)
      graft.sources.DataSkipping
        .prunedScan(s, dir, r)
        .agg(
          count(lit(1)).as("n_rows"),
          sum("o_custkey").as("sum_cust"),
          sum("days").as("sum_days")
        )
    }),

    // Clustering-depth profiler (x222) — the re-cluster DECISION metric
    // for the x47/x73 layout family (Iceberg/Delta expose the same
    // number as "overlap depth"): max files whose [min,max] ranges
    // overlap at any point of a dimension — a range query must open
    // that many files, so depth IS the skipping effectiveness. Sweep
    // line over the manifest: events (lo,+1), (hi+1,−1) → value census
    // → running sum → max (min-v argmax tiebreak). Three legs make the
    // verdict load-bearing: the z-ordered manifest on BOTH dims (low
    // depth — the layout's whole point) vs a HASH-assigned contrast
    // layout computed in-query from raw orders (depth = all 64 files,
    // the unclustered worst case). Manifest correctness itself rides
    // x73 (wrong stats break ITS hash); this query tests the depth
    // computation — manifest-sized metadata end-to-end after one scan
    // for the contrast leg. Oracle reads the same manifest (the x74
    // gate-SF-pin convention).
    "x222_overlap_depth" -> ((s, d) => {
      val dir = graft.sources.DataSkipping.dir(d)
      graft.sources.DataSkipping.ensureLayout(s, d)
      val mf = Graft.parquet(s, s"$dir/manifest").localCheckpoint() // two dims
      def sweep(events: DataFrame): DataFrame = {
        // events: (layout, dim, v, delta); censuses are file-count-sized
        val w = Window.partitionBy("layout", "dim").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = events
          .groupBy("layout", "dim", "v")
          .agg(sum("delta").as("dd"))
          .withColumn("depth", sum("dd").over(w))
        cum
          .withColumn(
            "rk",
            row_number().over(Window.partitionBy("layout", "dim").orderBy(col("depth").desc, col("v")))
          )
          .where(col("rk") === 1)
          .select(col("layout"), col("dim"), col("depth").as("max_depth"), col("v").as("at_v"))
      }
      def mfEvents(dim: String, lo: String, hi: String): DataFrame =
        mf.select(lit("zorder").as("layout"), lit(dim).as("dim"), col(lo).as("v"), lit(1L).as("delta"))
          .unionByName(
            mf.select(lit("zorder").as("layout"), lit(dim).as("dim"), (col(hi) + 1L).as("v"), lit(-1L).as("delta"))
          )
      val hashFiles = table(s, d, "orders")
        .select(
          expr("pmod(CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 15), 16, 10) AS BIGINT), 64)").as("f"),
          col("o_custkey").as("c")
        )
        .groupBy("f")
        .agg(min("c").as("lo"), max("c").as("hi"))
      val hashEvents = hashFiles
        .select(lit("hash").as("layout"), lit("cust").as("dim"), col("lo").as("v"), lit(1L).as("delta"))
        .unionByName(
          hashFiles.select(lit("hash").as("layout"), lit("cust").as("dim"), (col("hi") + 1L).as("v"), lit(-1L).as("delta"))
        )
      // per-LAYOUT file counts (review-found: the hash row's denominator
      // must be its own bucket count, not the z-order manifest's)
      val nf = mf
        .agg(count(lit(1)).as("n_files"))
        .select(lit("zorder").as("layout"), col("n_files"))
        .unionByName(hashFiles.agg(count(lit(1)).as("n_files")).select(lit("hash").as("layout"), col("n_files")))
      sweep(mfEvents("cust", "c_lo", "c_hi").unionByName(mfEvents("days", "d_lo", "d_hi")).unionByName(hashEvents))
        .join(broadcast(nf), Seq("layout"))
        .select("layout", "dim", "n_files", "max_depth", "at_v")
        .orderBy("layout", "dim")
    }),

    // Bloom-manifest point lookup (x113) — the skipping face the x73
    // manifest could NOT serve: a point predicate on the UNCLUSTERED
    // high-NDV `o_orderkey` (min/max spans every z-file, the KMV
    // dictionary overflows). Each manifest row now carries a 4095-bit
    // packed-word Bloom of its file's keys (x103's machinery at file
    // granularity); the lookup probes the manifest driver-side and opens
    // only surviving files (~1 of 64 at the fixture fill rate). The gate
    // pins SOUNDNESS — no false negatives, so pruned-scan content equals
    // the plain point query for five present keys and one absent key;
    // ScaleDisciplineSpec asserts the files-opened bound (file assignment
    // is partitioner-dependent, so counts are spec turf, not oracle turf).
    "x113_bloom_point_lookup" -> ((s, d) => {
      val dir = graft.sources.DataSkipping.dir(d)
      graft.sources.DataSkipping.ensureLayout(s, d)
      val ks = table(s, d, "orders")
        .select("o_orderkey")
        .distinct()
        .orderBy("o_orderkey")
        .offset(100)
        .limit(5)
        .collect()
        .map(_.getLong(0))
        .toSeq
      val absent = table(s, d, "orders").agg(max("o_orderkey")).collect()(0).getLong(0) + 12345L
      (ks :+ absent)
        .map { k =>
          graft.sources.DataSkipping
            .prunedScanPoint(s, dir, k)
            .agg(count(lit(1)).as("n_rows"), coalesce(sum("days"), lit(0L)).as("sum_days"))
            .select(lit(k).as("o_orderkey"), col("n_rows"), col("sum_days"))
        }
        .reduce(_.unionByName(_))
        .orderBy("o_orderkey")
    }),

    // domain-mixture table: per (lang, source) document/token counts and the
    // integer-ppm sampling weight each domain would get under
    // proportional-to-tokens mixing. Two tiny aggregations; the corpus-total
    // denominator is a 1-row broadcast, never a second scan of the data
    // (the per-domain rollup already holds the sums).
    "x27_domain_mixture" -> ((s, d) => {
      val perDomain = table(s, d, "documents")
        .select(col("lang"), col("source"), size(toks).cast("long").as("n_tokens"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      val total = perDomain.agg(sum("n_tokens").as("total_tokens"))
      perDomain
        .crossJoin(broadcast(total))
        .select(
          col("lang"),
          col("source"),
          col("n_docs"),
          col("n_tokens"),
          expr("(n_tokens * 1000000L) div total_tokens").as("weight_ppm")
        )
        .orderBy("lang", "source")
    }),

    // DSIR — Data Selection with Importance Resampling (Xie et al. 2023):
    // score every raw-pool document by how target-like its hashed n-gram
    // features look, importance weight w(doc) = Π_feats p_target(b) /
    // p_raw(b), then keep the top of the pool. Here the target exemplars
    // are the 'en' documents (the paper's Wikipedia-like target), features
    // are hashed unigrams+bigrams in 256 buckets (the paper's hashed
    // n-gram parameterization, this module's md5 convention), and the log
    // weight is computed term-by-term in floor-log2 bits — score =
    // Σ_occ [⌊log2(ct(b)+1)⌋ − ⌊log2(cr(b)+1)⌋] + n_feats·[⌊log2(Nr+256)⌋
    // − ⌊log2(Nt+256)⌋], the add-1-smoothed LLR decomposition with each
    // log quantized by the x61 bin()-length trick (the deterministic
    // integer surrogate for the paper's float log-probs — the x66 KenLM
    // pattern; selection is the deterministic (score, doc_id) top-k rather
    // than Gumbel-noise resampling, which the paper seeds anyway). Scale
    // shape: the feature stream is NEVER shuffled — both bucket-count aggs
    // map-side combine into ≤256 rows, the per-bucket score table and the
    // 1-row totals broadcast back onto the stream, and the per-doc agg
    // carries one row per doc; selection is TakeOrderedAndProject.
    "x149_dsir_select" -> ((s, d) => {
      val top = dsirScores(s, d).orderBy(col("llr_bits").desc, col("doc_id")).limit(50)
      top
        .join(table(s, d, "documents").select("doc_id", "lang", "source"), "doc_id")
        .withColumn(
          "sel_rank",
          row_number().over(Window.orderBy(col("llr_bits").desc, col("doc_id"))).cast("long")
        )
        .select("sel_rank", "doc_id", "lang", "source", "n_feats", "llr_bits")
        .orderBy("sel_rank")
    }),

    // Geometric-mechanism DP counts (x251, Ghosh–Roughgarden–Sundararajan
    // 2009) — the integer differential-privacy standard for count
    // queries: noise = G₁ − G₂ with Gᵢ ~ Geometric(1/2) gives the
    // two-sided geometric mechanism at ε = ln 2 for sensitivity-1
    // counts. The geometric draws are EXACT and derandomized: the
    // trailing-zero count of a 60-bit md5 window is Geometric(1/2) by
    // construction (each extra zero halves the probability), so both
    // engines draw identical noise — the GATE verifies the mechanism's
    // arithmetic; production swaps the hash for a secure RNG, mechanism
    // unchanged, and would never emit the true column this gate emits
    // for verification. Utility ships in-row: |noisy − true| and the
    // ε-accounting constant. One census + per-row hash arithmetic.
    "x251_dp_geometric" -> ((s, d) => {
      table(s, d, "customer")
        .groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("true_n"))
        .withColumn("h1", graft.functions.Hashing.md5Window15(concat(col("nk").cast("string"), lit("#dp1"))))
        .withColumn("h2", graft.functions.Hashing.md5Window15(concat(col("nk").cast("string"), lit("#dp2"))))
        .withColumn("g1", expr("CAST(length(bin(h1 & -h1)) - 1 AS BIGINT)"))
        .withColumn("g2", expr("CAST(length(bin(h2 & -h2)) - 1 AS BIGINT)"))
        .withColumn("noisy_n", expr("greatest(true_n + g1 - g2, 0L)"))
        .select(
          col("nk"),
          col("true_n"),
          col("g1"),
          col("g2"),
          col("noisy_n"),
          expr("abs(noisy_n - true_n)").as("abs_err"),
          lit(693147L).as("epsilon_e6") // ln 2
        )
        .orderBy("nk")
    }),

    // k-anonymity audit (x252, Sweeney 2002) — the privacy verb before
    // any data release: over the quasi-identifier (nation, market
    // segment, coarse balance band), every equivalence class smaller
    // than k = 5 re-identifies its members — the band makes the QI
    // realistic (numeric attributes are what break k-anonymity in
    // practice) and the audit load-bearing at every SF. Output: the
    // risky classes (bounded — QI domains are dimension-sized) + the
    // release verdict as constant columns
    // (classes below k, rows at risk, min class size, suppression ppm).
    // One QI census with map-side combine; the audit is census
    // arithmetic.
    "x252_k_anonymity" -> ((s, d) => {
      val census = table(s, d, "customer")
        .groupBy(
          col("c_nationkey").as("nk"),
          col("c_mktsegment").as("seg"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) - ((CAST(round(c_acctbal * 100) AS BIGINT) % 500000 + 500000) % 500000)) div 500000")
            .as("bal_band")
        )
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // risky list + verdict
      val verdict = census.agg(
        count(lit(1)).as("n_classes"),
        sum(expr("IF(n < 5, 1L, 0L)")).as("n_below_k"),
        sum(expr("IF(n < 5, n, 0L)")).as("rows_at_risk"),
        min("n").as("min_class"),
        expr("(sum(IF(n < 5, n, 0L)) * 1000000) div sum(n)").as("suppress_ppm")
      )
      census
        .where(col("n") < 5)
        .crossJoin(broadcast(verdict))
        .orderBy("nk", "seg", "bal_band")
    }),

    // Neyman optimal allocation (x238, Neyman 1934) — the sampling
    // DESIGN instrument completing the sampling family (x43 executes a
    // stratified plan, x77 PPS, x217 apportions integers): allocate a
    // 1000-row budget across customer nations ∝ N_h·σ_h — more samples
    // where the metric is more variable, the variance-optimal design.
    // The Neyman weight is EXACT-integer: N_h·Σx²−(Σx)² = N_h²σ_h², so
    // w_h = isqrt(N_h·Σx²−(Σx)²) needs one integer square root —
    // computed as float sqrt + a ±1 integer correction, so the double
    // rounding can never fork the engines (exact ⌊√v⌋ both sides; v ~
    // 1e16 at gate, DECIMAL intermediates guard the moment arithmetic).
    // Integerization by largest remainder (the x217 Hamilton machinery):
    // base = (n·w) div W, +1 seats by remainder rank — a ≤25-row
    // bounded self-join re-rank. Σalloc = 1000 is hash-locked. Scale
    // shape: one stratum-census pass with map-side combine; everything
    // downstream is nation-count-sized.
    "x238_neyman_alloc" -> ((s, d) => {
      val budget = 1000L
      val strata = table(s, d, "customer")
        .select(col("c_nationkey").as("nk"), expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("x"))
        .groupBy("nk")
        .agg(
          count(lit(1)).as("n_h"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx")
        )
        .withColumn("vnum", expr("CAST(n_h * sxx - sx * sx AS DECIMAL(38,0))"))
        .withColumn("r0", expr("CAST(floor(sqrt(CAST(vnum AS DOUBLE))) AS BIGINT)"))
        .withColumn(
          "w",
          expr(
            "IF(CAST(r0 + 1 AS DECIMAL(38,0)) * (r0 + 1) <= vnum, r0 + 1, " +
              "IF(CAST(r0 AS DECIMAL(38,0)) * r0 > vnum, r0 - 1, r0))"
          )
        )
        .select("nk", "n_h", "w")
        .localCheckpoint() // total weight + base/remainder + re-rank ×2
      val tot = strata.agg(sum("w").as("tw"), count(lit(1)).as("n_strata"))
      val based = strata
        .crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($budget * w) div tw"))
        .withColumn("rem", expr(s"($budget * w) % tw"))
        .localCheckpoint() // leftover seats + remainder rank
      val leftover = based.agg((lit(budget) - sum("base")).as("seats"))
      val ranked = based
        .join(
          broadcast(based.select(col("rem").as("r2"), col("nk").as("nk2"))),
          col("r2") > col("rem") || (col("r2") === col("rem") && col("nk2") < col("nk")),
          "left"
        )
        .groupBy("nk", "n_h", "w", "base", "rem")
        .agg((count(col("nk2")) + 1L).as("rk"))
      ranked
        .crossJoin(broadcast(leftover))
        .withColumn("alloc", expr("base + IF(rk <= seats, 1L, 0L)"))
        .select("nk", "n_h", "w", "base", "alloc")
        .orderBy("nk")
    }),

    // Score evaluation (x159): ROC-AUC + calibration deciles for the x149
    // DSIR score against its own target label ('en') — the eval loop every
    // learned/heuristic quality scorer needs before it drives selection
    // (is the score actually separating target from pool, and is its
    // ranking calibrated?). AUC is computed EXACTLY as the Mann-Whitney
    // rank-sum statistic with midranks for ties, all-integer: per distinct
    // score group, 2·midrank = 2·cum_before + cnt + 1, so 2U = Σ npos_g ·
    // (2·cum+cnt+1) − npos(npos+1) and auc_e6 = 2U·500000 div (npos·nneg)
    // — no floats anywhere (ties are heavy here: llr_bits is coarse, so
    // the midrank handling is load-bearing, not decorative). Calibration
    // = positive-rate ppm per score decile, with NTILE(10) semantics
    // reproduced distributively (the r7-flagged global per-doc ntile is
    // gone): cum counts below each score come from a bounded self-join
    // over the score-resolution-bounded group table, the within-group
    // rank is a score-PARTITIONED window, and the tile is the closed
    // form of SQL NTILE — first n%10 tiles hold ⌈n/10⌉ rows, the rest
    // ⌊n/10⌋ (DecileNtileSpec proves row-exact equality vs ntile(10)).
    // No unpartitioned window anywhere: the rank-sum cum rides the same
    // self-joined group table.
    "x159_auc_calibration" -> ((s, d) => {
      val labeled = dsirScores(s, d)
        .join(
          table(s, d, "documents").select(col("doc_id"), (col("lang") === "en").cast("long").as("pos")),
          "doc_id"
        )
        .localCheckpoint() // two plan refs: rank-sum groups, deciles
      val groups = labeled
        .groupBy("llr_bits")
        .agg(count(lit(1)).as("cnt"), sum("pos").as("npos_g"))
        .localCheckpoint() // three refs: cum self-join (×2 sides), totals
      // rows strictly below each score, by bounded self-join over the
      // score-resolution-bounded group table (no unpartitioned window)
      val cum = groups
        .join(
          broadcast(groups.select(col("llr_bits").as("lb"), col("cnt").as("cb"))),
          col("lb") < col("llr_bits"),
          "left"
        )
        .groupBy("llr_bits", "cnt", "npos_g")
        .agg(coalesce(sum("cb"), lit(0L)).as("cum"))
        .localCheckpoint() // two refs: stats agg + decile offsets
      val stats = cum
        .agg(
          sum("npos_g").as("npos"),
          (sum("cnt") - sum("npos_g")).as("nneg"),
          sum(col("npos_g") * (lit(2L) * col("cum") + col("cnt") + 1L)).as("r2")
        )
        .withColumn("u2", col("r2") - col("npos") * (col("npos") + 1L))
        .withColumn("auc_e6", expr("(u2 * 500000) div (npos * nneg)"))
        .select("npos", "nneg", "u2", "auc_e6")
      val ntot = groups.agg(sum("cnt").as("ntot"))
      labeled
        .join(broadcast(cum.select("llr_bits", "cum")), "llr_bits")
        .withColumn("rk", col("cum") + row_number().over(Window.partitionBy("llr_bits").orderBy("doc_id")))
        .crossJoin(broadcast(ntot))
        // closed-form SQL NTILE(10): first ntot%10 tiles get ⌊ntot/10⌋+1
        // rows, the rest ⌊ntot/10⌋ (greatest() guards the ANSI div when
        // ntot < 10, where the second branch is never taken)
        .withColumn(
          "decile",
          expr(
            "CAST(IF(rk <= (ntot % 10) * (ntot div 10 + 1), " +
              "(rk - 1) div (ntot div 10 + 1) + 1, " +
              "ntot % 10 + (rk - (ntot % 10) * (ntot div 10 + 1) - 1) div greatest(ntot div 10, 1) + 1) AS BIGINT)"
          )
        )
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), sum("pos").as("npos_d"))
        .withColumn("pos_rate_ppm", expr("(npos_d * 1000000) div n"))
        .crossJoin(broadcast(stats))
        .orderBy("decile")
    }),

    // Isotonic calibration via pool-adjacent-violators (x169, Zadrozny &
    // Elkan 2002) — the calibration FIT completing x159's eval loop (its
    // deciles only REPORT calibration; this produces the monotone
    // score → P(positive) map a pipeline applies before thresholding).
    // PAV is inherently sequential, so it runs on the COLLECTED
    // per-score group table — score-resolution-bounded (≤ distinct
    // llr_bits values, 68 at gate SF), the documented x158/x73
    // driver-sized class — with exact-rational pooling compares
    // (ps·n ≥ s·pn, no division). The ORACLE is the independent minimax
    // characterization fitted(i) = max_{j≤i} min_{k≥i} mean(j..k):
    // floor-ppm commutes with min/max (monotone function), so the gate
    // PROVES the O(g) stack fold equals the mathematical optimum the
    // way x147's quadratic twin proves losslessness. Scale shape: the
    // corpus cost is x149's audited scoring pipeline + one group agg;
    // everything after is g-sized.
    "x169_isotonic_calibration" -> ((s, d) => {
      val grp = dsirScores(s, d)
        .join(
          table(s, d, "documents").select(col("doc_id"), (col("lang") === "en").cast("long").as("pos")),
          "doc_id"
        )
        .groupBy("llr_bits")
        .agg(count(lit(1)).as("n"), sum("pos").as("npos"))
        .localCheckpoint() // two plan refs: the PAV collect, the output join
      val groups = grp.orderBy("llr_bits").collect()
      val fitted = pav(groups.toSeq.map(r => (r.getAs[Long]("npos"), r.getAs[Long]("n"))))
      import s.implicits._
      val fittedDf = groups.map(_.getAs[Long]("llr_bits")).toSeq.zip(fitted).toDF("llr_bits", "fitted_ppm")
      grp
        .join(broadcast(fittedDf), "llr_bits")
        .select(
          col("llr_bits"),
          col("n"),
          col("npos"),
          expr("(npos * 1000000) div n").as("raw_ppm"),
          col("fitted_ppm")
        )
        .orderBy("llr_bits")
    }),

    // temperature-scaled domain resampling — the data-mixing step behind
    // multi-domain training sets: sampling weight ∝ n_d^α with α = 0.5
    // flattens the domain distribution (small domains upsampled relative
    // to x27's proportional mixing, dominant domains capped). Integer
    // discipline throughout: w_d = floor(sqrt(n_d)) (IEEE sqrt is
    // correctly rounded, so both engines floor the SAME double), targets
    // are integer floor divisions of a broadcast 1-row denominator, and
    // selection is the md5-ranked deterministic shuffle every sampler in
    // this module uses. A domain whose target exceeds its supply surfaces
    // as n_selected < target — the upsampling shortfall x64 fills by
    // repetition; both queries derive their quotas from ONE shared helper
    // ([[temperatureQuotas]]) so the rule cannot drift between them.
    "x59_temperature_mix" -> ((s, d) => {
      val (docs, quotas) = temperatureQuotas(s, d)
      val wnd = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      docs
        .join(broadcast(quotas.select("source", "target")), "source")
        .withColumn("rk", row_number().over(wnd).cast("long"))
        .where(col("rk") <= col("target"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_selected"), sum("doc_id").as("sel_digest"))
        .join(quotas, Seq("source"), "right")
        .select(
          col("source"),
          col("n_docs"),
          col("w"),
          col("target"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"),
          coalesce(col("sel_digest"), lit(0L)).as("sel_digest")
        )
        .orderBy("source")
    }),

    // epoch upsampling — the repetition schedule that FILLS x59's
    // undersupply shortfall: when a domain's temperature target exceeds its
    // supply, every document repeats floor(target/n) times and the first
    // (target mod n) documents in the deterministic hash order repeat once
    // more, so emitted mass equals the target EXACTLY. This is the "small
    // domains see multiple epochs" rule of temperature mixing, as a
    // per-domain integer plan (the training loader consumes rep counts —
    // no row explosion needed to audit the schedule).
    "x64_epoch_upsample" -> ((s, d) => {
      val (docs, quotas0) = temperatureQuotas(s, d)
      val quotas = quotas0.select("source", "n_docs", "target")
      val wnd = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      docs
        .join(broadcast(quotas), "source")
        .withColumn("rk", row_number().over(wnd).cast("long"))
        .withColumn(
          "rep",
          expr("target div n_docs") + when(col("rk") <= expr("target % n_docs"), 1L).otherwise(0L)
        )
        .groupBy("source")
        .agg(
          max("n_docs").as("n_docs"),
          max("target").as("target"),
          sum("rep").as("n_emitted"),
          max("rep").as("max_rep"),
          sum(expr("doc_id * rep")).as("digest")
        )
        .orderBy("source")
    }),

    // quantile-based outlier clipping (winsorization) of document lengths —
    // the curation gate for truncated fragments and runaway concatenations:
    // per-language p05/p95 token-count fences from the exact two-phase
    // percentile operator (q27's machinery — matches quantile_cont
    // bit-for-bit), outliers counted and CLAMPED to the fence. The
    // winsorized sum stays integer: fences are fixed-point e3, doc lengths
    // scale by 1000, so no float accumulation crosses the gate. Scale
    // shape: the fence table is |langs| rows → broadcast; everything else
    // is one scan + one hash agg.
    "x62_winsorize" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("lang"), col("doc_id"), size(toks).cast("long").as("n_tokens"))
      val pct = ExactPercentile(docs, "lang", col("n_tokens"), Seq("p05" -> 0.05, "p95" -> 0.95))
      docs
        .join(
          broadcast(
            pct.select(
              col("lang"),
              expr("CAST(round(p05 * 1000) AS BIGINT)").as("p05_e3"),
              expr("CAST(round(p95 * 1000) AS BIGINT)").as("p95_e3")
            )
          ),
          "lang"
        )
        .withColumn("v_e3", greatest(least(col("n_tokens") * 1000, col("p95_e3")), col("p05_e3")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          max("p05_e3").as("p05_e3"),
          max("p95_e3").as("p95_e3"),
          sum(when(col("n_tokens") * 1000 < col("p05_e3"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("n_tokens") * 1000 > col("p95_e3"), 1L).otherwise(0L)).as("n_high"),
          sum("v_e3").as("winsorized_sum_e3")
        )
        .orderBy("lang")
    }),

    // probability-proportional-to-size systematic sample (Madow 1949; the
    // classic PPS design) — k=100 equally spaced draw points walk the
    // token-weighted cumulative line in deterministic hash order, so
    // P(doc sampled) = k·w/W exactly, with zero floats: a doc covering
    // [a, a+w) receives min(⌈(a+w)/step⌉, k) − min(⌈a/step⌉, k) draw
    // points (step = W div k) — all integer ceil-divisions on
    // non-negative values. Draws are CONSERVED (Σ n_draws = k, asserted
    // in PpsSampleSpec): every point lands in exactly one interval, so a
    // document longer than step gets multiple draws (the with-replacement
    // face of PPS for oversized units — the loader repeats it). This is
    // x59's token-proportional counterpart: temperature mixing flattens
    // DOMAIN mass, PPS draws individual documents ∝ their token mass.
    //
    // Scale shape: the global cumulative offset is a `Prefix` sum over
    // hash-range buckets, as in x26/x53; W is a 1-row broadcast. No
    // corpus join, no global sort — the output is ≤k rows.
    "x77_pps_sample" -> ((s, d) => {
      val k = 100L
      val buckets = 32L
      val step60 = (1L << 60) / buckets
      val docs = table(s, d, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("w"),
          Hashing.md5Window15(col("doc_id").cast("string")).as("h")
        )
        .withColumn("bkt", expr(s"h div ${step60}L"))
      val total = docs.agg(sum("w").as("tw"))
      Prefix
        .exclusive(docs, Nil, "bkt", Seq(col("h"), col("doc_id")))(col("w") -> "a")
        .crossJoin(broadcast(total))
        .withColumn("step", expr(s"greatest(tw div ${k}L, 1L)"))
        .withColumn(
          "n_draws",
          expr(s"least((a + w + step - 1L) div step, ${k}L) - least((a + step - 1L) div step, ${k}L)")
        )
        .where(col("n_draws") >= 1L)
        .select(col("doc_id"), col("w").as("n_tokens"), col("a").as("offset"), col("n_draws"))
        .orderBy("offset")
    }),

    // compaction EXECUTION — the rewrite that cashes in x45's plan (the
    // x73-over-x47 pattern applied to the small-files problem): per lang
    // partition, round-robin repartition into the planned ⌈bytes/64KiB⌉
    // file count and rewrite (graft.sources.Compaction). The gate pins
    // both halves at once: per-lang doc counts and an order-free text
    // digest prove the rewrite lost/duplicated nothing (the oracle reads
    // the RAW table), and the fs-listed file count per lang must equal
    // the x45 formula the oracle recomputes from raw bytes — a rewrite
    // that emitted the wrong file count breaks the hash. File-size bounds
    // are asserted in CompactionExecSpec.
    "x78_compaction_exec" -> ((s, d) => {
      import s.implicits._
      val dir = graft.sources.Compaction.ensure(s, d)
      val counts = graft.sources.Compaction.fileCounts(s, dir).toDF("lang", "n_files")
      Graft.parquet(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(Hashing.md5Bucket(col("text"), 1L << 40)).as("digest")
        )
        .join(broadcast(counts), "lang")
        .select("lang", "n_docs", "digest", "n_files")
        .orderBy("lang")
    }),

    // Deterministic shard shuffle — the LAST layout step before a training
    // run: a reproducible pseudo-random global permutation (md5 of
    // doc_id + seed) cut into fixed-size shards, so any worker can
    // recompute exactly which documents land in which shard without a
    // coordinator. Emitted per shard: membership digest + token mass +
    // the rank interval (proves shards are contiguous, gap-free slices of
    // ONE global permutation — a wrong offset anywhere shifts every later
    // shard and flips the hash).
    //
    // Scale shape: the global rank is a `Prefix` count over hash-RANGE
    // buckets — never a corpus-wide single-task Window.orderBy. The
    // permutation is hash-order, so no global sort materializes either.
    // Delta/bit-pack EXECUTION (x192) — cashing x187's advisor the way
    // x78 cashed x45's compaction plan: the shipday column actually
    // encodes as frame-of-reference bit-packed blocks (sort → 1024-value
    // blocks → per-block min + bitlen(max−min)-bit packed words) and
    // decodes back bit-exactly. Global block ranks come from a `Prefix`
    // count over value-range buckets — never a corpus-wide single-task
    // sort; the bit twiddling runs per block in mapGroups
    // (block-bounded, the byte-codec class). Each block row carries the
    // geometry (n, min, width, packed bytes — the advisor's exact size
    // model now MEASURED), a positional checksum of the DECODED values,
    // and roundtrip_ok from an in-engine unpack-and-compare; the oracle
    // replays geometry + checksum from a plain rank window, so one wrong
    // bit anywhere in the packer flips the decoded checksum.
    "x192_delta_pack" -> ((s, d) => {
      import s.implicits._
      val blockSize = 1024L
      val vals = table(s, d, "lineitem")
        .select(
          expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)").as("v"),
          col("l_orderkey").as("ok"),
          col("l_linenumber").cast("long").as("ln")
        )
        .withColumn("bkt", expr("v div 64"))
        .localCheckpoint() // offsets + ranked rows
      val ranked = Prefix
        .exclusive(vals, Nil, "bkt", Seq(col("v"), col("ok"), col("ln")))(lit(1L) -> "below")
        .select(col("v"), expr(s"below div ${blockSize}L").as("block"), (expr(s"below % ${blockSize}L")).as("pos"))
      ranked
        .as[(Long, Long, Long)]
        .groupByKey(_._2)
        .mapGroups { (block, it) =>
          val vs = it.toArray.sortBy(_._3).map(_._1)
          val minv = vs.min
          val range = vs.max - minv
          val width = if (range == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(range)
          // little-endian bit packing of (v - minv) into width-bit slots
          val nBits = vs.length * width
          val packed = new Array[Byte]((nBits + 7) / 8)
          var bit = 0
          vs.foreach { v =>
            val dv = v - minv
            var i = 0
            while (i < width) {
              if (((dv >> i) & 1L) != 0) packed(bit / 8) = (packed(bit / 8) | (1 << (bit % 8))).toByte
              bit += 1
              i += 1
            }
          }
          // decode back and compare (the roundtrip proof)
          val decoded = new Array[Long](vs.length)
          var b2 = 0
          var j = 0
          while (j < vs.length) {
            var dv = 0L
            var i = 0
            while (i < width) {
              if ((packed(b2 / 8) & (1 << (b2 % 8))) != 0) dv |= (1L << i)
              b2 += 1
              i += 1
            }
            decoded(j) = minv + dv
            j += 1
          }
          val ok = java.util.Arrays.equals(decoded, vs)
          val checksum = decoded.zipWithIndex.map { case (v, i) => (i + 1).toLong * v }.sum
          (block, vs.length.toLong, minv, width.toLong, packed.length.toLong, checksum, ok)
        }
        .toDF("block", "n_vals", "min_v", "width_bits", "packed_bytes", "decoded_checksum", "roundtrip_ok")
        .orderBy("block")
    }),

    "x87_shard_shuffle" -> ((s, d) => {
      val shardSize = 50L
      val buckets = 32L
      val step = (1L << 60) / buckets
      val docs = table(s, d, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          Hashing.md5Window15(concat(col("doc_id").cast("string"), lit("#shuffle42"))).as("h"),
          Hashing.md5Bucket(col("doc_id").cast("string"), 1L << 40).as("dg")
        )
        .withColumn("bkt", expr(s"h div ${step}L"))
      Prefix
        .exclusive(docs, Nil, "bkt", Seq(col("h"), col("doc_id")))(lit(1L) -> "rn")
        .withColumn("rn", col("rn") + 1L)
        .withColumn("shard", expr(s"(rn - 1) div ${shardSize}L"))
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          sum("dg").as("digest"),
          min("rn").as("first_rank"),
          max("rn").as("last_rank")
        )
        .orderBy("shard")
    }),

    // Corpus data card — the release-stats summary every dataset ships:
    // one narrow (metric, value) table with document/token counts, lang
    // and source cardinalities, and length distribution anchors. All
    // integer or fixed-point e3 (the q66 interpolated-median discipline:
    // (a+b)/2 over small ints is exact in double, ×1000 rounding pins the
    // cross-engine value). One scan, one aggregate — the reporting shape
    // that runs after every pipeline stage at any corpus size.
    "x92_data_card" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("lang"), col("source"), size(toks).cast("long").as("n_tokens"))
      docs
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens_total"),
          countDistinct("lang").as("n_langs"),
          countDistinct("source").as("n_sources"),
          max("n_tokens").as("max_tokens"),
          min("n_tokens").as("min_tokens"),
          expr("CAST(round(percentile(n_tokens, 0.5) * 1000) AS BIGINT)").as("p50_tokens_e3"),
          expr("CAST(round(avg(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT)").as("mean_tokens_e3")
        )
        .selectExpr(
          """stack(8,
            |'n_docs', n_docs,
            |'n_tokens_total', n_tokens_total,
            |'n_langs', n_langs,
            |'n_sources', n_sources,
            |'max_tokens', max_tokens,
            |'min_tokens', min_tokens,
            |'p50_tokens_e3', p50_tokens_e3,
            |'mean_tokens_e3', mean_tokens_e3) AS (metric, value)""".stripMargin
        )
        .orderBy("metric")
    }),

    // File-level exactly-once ingestion (sources/IngestLedger): the
    // bookkeeping gate in FRONT of content-level dedup — a ledger of
    // accepted files decides per offered file, re-offers move zero data
    // but are counted. The fixture offers overlapping rounds plus a full
    // re-offer; the gate reads ledger AND corpus back, so a double-copy,
    // a wrongly skipped file, or a lost offer count each flip the hash.
    // The oracle replays rounds/offer-counts/content from the formulas.
    "x90_ingest_ledger" -> ((s, _) => {
      graft.sources.IngestFixture.ensure(s)
      val dir = graft.sources.IngestFixture.dir
      val led = graft.sources.IngestLedger
        .ledger(s, dir)
        .select(
          col("file_id"),
          col("round_ingested").cast("long").as("round_ingested"),
          col("n_docs"),
          col("n_offered")
        )
      val content = graft.sources.IngestLedger
        .corpus(s, dir)
        .withColumn("file_id", col("file").cast("long"))
        .groupBy("file_id")
        .agg(sum("cents").as("cents_sum"), count(lit(1)).as("n_rows"))
      led
        .join(content, Seq("file_id"))
        .select("file_id", "round_ingested", "n_docs", "n_offered", "cents_sum", "n_rows")
        .orderBy("file_id")
    })
  )

  /** Shared temperature-mixing quota derivation (x59 selection + x64
    * repetition schedule): per-source doc counts, w = floor(sqrt(n)),
    * target = (total·w) div Σw. Returns (hash-keyed docs, quota table);
    * the quota frame is localCheckpointed because every caller references
    * it from 2+ plan positions. Mirrored verbatim by
    * [[TemperatureQuotaCtes]] on the oracle side — change BOTH together. */
  private def temperatureQuotas(s: SparkSession, d: String, total: Long = 300L): (DataFrame, DataFrame) = {
    val docs = table(s, d, "documents")
      .select(col("source"), col("doc_id"), Hashing.md5Window15(col("doc_id").cast("string")).as("h"))
    val strata = docs
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
    val sw = strata.agg(sum("w").as("sum_w"))
    val quotas = strata
      .crossJoin(broadcast(sw))
      .select(col("source"), col("n_docs"), col("w"), expr(s"(${total}L * w) div sum_w").as("target"))
      .localCheckpoint()
    (docs, quotas)
  }

  /** DuckDB twin of [[temperatureQuotas]]: CTEs t (hash-keyed docs),
    * g (per-source counts + w), q (quota table). */
  private val TemperatureQuotaCtes: String =
    """t AS (
      |  SELECT source, doc_id,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM documents),
      |g AS (SELECT source, count(*) AS n_docs,
      |  CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
      |  FROM t GROUP BY source),
      |q AS (SELECT source, n_docs, w,
      |  (300 * w) // CAST((SELECT sum(w) FROM g) AS BIGINT) AS target FROM g)""".stripMargin

  /** x149's score pipeline as DuckDB CTEs ending at fin(doc_id, n_feats,
    * llr_bits) — shared by the x149 and x159 oracles like the Spark-side
    * [[dsirScores]]. */
  private val DsirScoreCtes: String =
    """warr AS (
      |  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |feat AS (
      |  SELECT doc_id, lang, feat FROM (
      |    SELECT doc_id, lang, unnest(ws) AS feat FROM warr
      |    UNION ALL
      |    SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS feat
      |    FROM warr, unnest(generate_series(1, len(ws) - 1)) t(i) WHERE len(ws) >= 2)
      |  WHERE length(feat) >= 1),
      |f AS (
      |  SELECT doc_id, lang, ('0x' || substr(md5(feat), 1, 15))::BIGINT % 256 AS b FROM feat),
      |cr AS (SELECT b, count(*) AS cr FROM f GROUP BY 1),
      |ct AS (SELECT b, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY 1),
      |bb AS (
      |  SELECT cr.b,
      |    (length(bin(coalesce(ct.ct, 0) + 1)) - 1) - (length(bin(cr.cr + 1)) - 1) AS sbits
      |  FROM cr LEFT JOIN ct ON cr.b = ct.b),
      |tot AS (
      |  SELECT count(*) AS nr,
      |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt FROM f),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_feats, sum(sbits) AS sb
      |  FROM f JOIN bb USING (b) GROUP BY 1),
      |fin AS (
      |  SELECT doc_id, n_feats,
      |    sb + n_feats * ((length(bin(nr + 256)) - 1) - (length(bin(nt + 256)) - 1)) AS llr_bits
      |  FROM sc CROSS JOIN tot)""".stripMargin

  def oracles: Map[String, String] = Map(
    // x251: same census, trailing-zero geometrics, clamp.
    "x251_dp_geometric" ->
      """WITH c AS (SELECT c_nationkey AS nk, count(*) AS true_n FROM customer GROUP BY 1),
        |h AS (SELECT nk, CAST(true_n AS BIGINT) AS true_n,
        |  ('0x' || substr(md5(nk || '#dp1'), 1, 15))::BIGINT AS h1,
        |  ('0x' || substr(md5(nk || '#dp2'), 1, 15))::BIGINT AS h2 FROM c),
        |g AS (SELECT nk, true_n,
        |  CAST(length(bin(h1 & -h1)) - 1 AS BIGINT) AS g1,
        |  CAST(length(bin(h2 & -h2)) - 1 AS BIGINT) AS g2 FROM h),
        |n AS (SELECT nk, true_n, g1, g2, greatest(true_n + g1 - g2, 0) AS noisy_n FROM g)
        |SELECT nk, true_n, g1, g2, CAST(noisy_n AS BIGINT) AS noisy_n,
        |  CAST(abs(noisy_n - true_n) AS BIGINT) AS abs_err,
        |  CAST(693147 AS BIGINT) AS epsilon_e6
        |FROM n ORDER BY nk""".stripMargin,
    // x252: same census + verdict arithmetic.
    "x252_k_anonymity" ->
      """WITH b0 AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |c AS (SELECT nk, seg,
        |  (cents - ((cents % 500000 + 500000) % 500000)) // 500000 AS bal_band, count(*) AS n
        |  FROM b0 GROUP BY 1, 2, 3),
        |v AS (SELECT count(*) AS n_classes,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_k,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  min(n) AS min_class,
        |  CAST((sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000) // sum(n) AS BIGINT) AS suppress_ppm
        |  FROM c)
        |SELECT nk, seg, bal_band, CAST(n AS BIGINT) AS n, v.n_classes, v.n_below_k,
        |  v.rows_at_risk, CAST(v.min_class AS BIGINT) AS min_class, v.suppress_ppm
        |FROM c, v WHERE n < 5 ORDER BY nk, seg, bal_band""".stripMargin,
    // x238: identical moments → corrected isqrt → Hamilton seats.
    "x238_neyman_alloc" ->
      """WITH st AS (
        |  SELECT c_nationkey AS nk, count(*) AS n_h,
        |    sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS sx,
        |    sum(CAST(round(c_acctbal * 100) AS BIGINT) * CAST(round(c_acctbal * 100) AS BIGINT)) AS sxx
        |  FROM customer GROUP BY 1),
        |v AS (SELECT nk, n_h, n_h * sxx - sx * sx AS vnum FROM st),
        |r AS (SELECT nk, n_h, vnum, CAST(floor(sqrt(CAST(vnum AS DOUBLE))) AS BIGINT) AS r0 FROM v),
        |w AS (SELECT nk, CAST(n_h AS BIGINT) AS n_h,
        |  CAST(CASE WHEN (r0 + 1) * (r0 + 1) <= vnum THEN r0 + 1
        |       WHEN r0 * r0 > vnum THEN r0 - 1 ELSE r0 END AS BIGINT) AS w FROM r),
        |t AS (SELECT sum(w) AS tw FROM w),
        |b AS (SELECT nk, n_h, w, CAST((1000 * w) // t.tw AS BIGINT) AS base,
        |  CAST((1000 * w) % t.tw AS BIGINT) AS rem FROM w, t),
        |lo AS (SELECT 1000 - sum(base) AS seats FROM b),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, nk) AS rk FROM b)
        |SELECT nk, n_h, w, base,
        |  CAST(base + CASE WHEN rk <= lo.seats THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rk, lo ORDER BY nk""".stripMargin,
    // x202: identical 9-slot argmax replay — same md5 window, same
    // first-position-of-max tiebreak, same 2-scheme union.
    // x272: the full priority order replayed (DuckDB may window the whole
    // table — it is the oracle, not the scale path), τ picked at rank
    // k+1, the HT estimator in HUGEINT, |err| + sign (no signed floor
    // division crosses the engines).
    "x272_priority_sample" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS w FROM orders),
        |h AS (
        |  SELECT o_orderkey, w,
        |    greatest(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT, 1) AS h
        |  FROM o),
        |q AS (SELECT o_orderkey, w, (w::HUGEINT * 1152921504606846976) // h AS q FROM h),
        |r AS (
        |  SELECT o_orderkey, w, q,
        |    row_number() OVER (ORDER BY q DESC, o_orderkey) AS rk
        |  FROM q),
        |tau AS (SELECT q AS tau FROM r WHERE rk = 51),
        |est AS (
        |  SELECT CAST(sum(greatest(w::HUGEINT, tau)) AS BIGINT) AS est_cents
        |  FROM r, tau WHERE rk <= 50),
        |ex AS (SELECT CAST(sum(w) AS BIGINT) AS exact_cents FROM o)
        |SELECT CAST(rk AS BIGINT) AS rk, o_orderkey, w, est_cents, exact_cents,
        |  CAST(abs(est_cents - exact_cents) * 1000000 // exact_cents AS BIGINT) AS abs_err_e6,
        |  CAST(sign(est_cents - exact_cents) AS BIGINT) AS err_sign
        |FROM r, est, ex WHERE rk <= 50 ORDER BY rk""".stripMargin,
    "x202_hrw_rebalance" ->
      """WITH k AS (SELECT o_orderkey AS key FROM orders),
        |w AS (SELECT key,
        |  list_transform(range(9),
        |    s -> ('0x' || substr(md5(key::VARCHAR || '#' || s::VARCHAR), 1, 15))::BIGINT) AS ws
        |  FROM k),
        |a AS (SELECT key,
        |  list_position(ws, list_aggregate(ws, 'max')) - 1 AS a9,
        |  list_position(ws[1:8], list_aggregate(ws[1:8], 'max')) - 1 AS a8
        |  FROM w),
        |u AS (
        |  SELECT 'hrw' AS scheme, a9 AS shard, a8 <> a9 AS moved FROM a
        |  UNION ALL SELECT 'mod', key % 9, key % 8 <> key % 9 FROM a)
        |SELECT scheme, CAST(shard AS BIGINT) AS shard, count(*) AS n_keys,
        |  CAST(count_if(moved) AS BIGINT) AS n_moved
        |FROM u GROUP BY 1, 2 ORDER BY scheme, shard""".stripMargin,
    "x24_hash_split" ->
      """WITH b AS (
        |  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "x53_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        |  FROM t)
        |SELECT doc_id, n_tokens, "offset",
        |  "offset" // 512 AS seq_first,
        |  ("offset" + n_tokens - 1) // 512 AS seq_last,
        |  CAST(CASE WHEN "offset" // 512 <> ("offset" + n_tokens - 1) // 512
        |       THEN 1 ELSE 0 END AS BIGINT) AS split
        |FROM o ORDER BY doc_id""".stripMargin,
    "x26_token_budget_sample" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS doc_tokens,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, doc_tokens,
        |    CAST(sum(doc_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT lang, doc_id, doc_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 2500 ORDER BY lang, cum_tokens, doc_id""".stripMargin,
    // x217: identical floor quotas, remainder ranking, and seat handout.
    "x217_apportion" ->
      """WITH m AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS m
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(m) AS BIGINT) AS mm FROM m),
        |s AS (
        |  SELECT source, m, 1000 * m // mm AS base, (1000 * m) % mm AS rem
        |  FROM m, t),
        |l AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS leftover FROM s),
        |r AS (
        |  SELECT source, m, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM s),
        |q AS (
        |  SELECT source, m, base,
        |    CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS extra
        |  FROM r, l),
        |f AS (SELECT source, m, base, CAST(extra AS BIGINT) AS extra, base + extra AS quota FROM q),
        |c AS (SELECT CAST(sum(quota) AS BIGINT) AS total_quota FROM f)
        |SELECT source, m, base, extra, quota, total_quota FROM f, c ORDER BY source""".stripMargin,

    // x222: same sweep over the same manifest (gate-SF pin per the x74
    // convention) + the hash-contrast leg replayed from raw orders.
    "x222_overlap_depth" ->
      s"""WITH mf AS (
        |  SELECT c_lo, c_hi, d_lo, d_hi
        |  FROM '${Fixture.root}/graft_zorder/sf0.01/manifest/*.parquet'),
        |hf AS (
        |  SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 64 AS f,
        |    min(o_custkey) AS lo, max(o_custkey) AS hi
        |  FROM orders GROUP BY 1),
        |ev AS (
        |  SELECT 'zorder' AS layout, 'cust' AS dim, c_lo AS v, 1 AS delta FROM mf
        |  UNION ALL SELECT 'zorder', 'cust', c_hi + 1, -1 FROM mf
        |  UNION ALL SELECT 'zorder', 'days', d_lo, 1 FROM mf
        |  UNION ALL SELECT 'zorder', 'days', d_hi + 1, -1 FROM mf
        |  UNION ALL SELECT 'hash', 'cust', lo, 1 FROM hf
        |  UNION ALL SELECT 'hash', 'cust', hi + 1, -1 FROM hf),
        |c AS (SELECT layout, dim, v, sum(delta) AS dd FROM ev GROUP BY 1, 2, 3),
        |k AS (
        |  SELECT layout, dim, v,
        |    sum(dd) OVER (PARTITION BY layout, dim ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
        |  FROM c),
        |r AS (
        |  SELECT layout, dim, CAST(depth AS BIGINT) AS max_depth, v AS at_v,
        |    row_number() OVER (PARTITION BY layout, dim ORDER BY depth DESC, v) AS rk
        |  FROM k),
        |nf AS (
        |  SELECT 'zorder' AS layout, count(*) AS n_files FROM mf
        |  UNION ALL SELECT 'hash', count(*) FROM hf)
        |SELECT r.layout, dim, n_files, max_depth, at_v
        |FROM r JOIN nf ON nf.layout = r.layout WHERE rk = 1 ORDER BY r.layout, dim""".stripMargin,

    // x216: identical keyed-token derivation, token-space join, and the
    // raw twin — the invariants are columns, so a collision or a count
    // drift flips the hash.
    "x216_pseudonymize" ->
      """WITH ct AS (
        |  SELECT substr(md5('graft-release-key-1#' || c_custkey::VARCHAR), 1, 16) AS ctok,
        |    c_nationkey
        |  FROM customer),
        |ot AS (
        |  SELECT substr(md5('graft-release-key-1#' || o_custkey::VARCHAR), 1, 16) AS ctok
        |  FROM orders),
        |j AS (
        |  SELECT c_nationkey, count(*) AS n_orders, count(DISTINCT ot.ctok) AS n_tokens
        |  FROM ot JOIN ct ON ot.ctok = ct.ctok GROUP BY 1),
        |raw AS (
        |  SELECT c_nationkey, count(*) AS raw_orders, count(DISTINCT c_custkey) AS raw_custs
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
        |SELECT j.c_nationkey, n_orders, raw_orders, n_orders = raw_orders AS counts_survive,
        |  n_tokens, raw_custs, n_tokens = raw_custs AS no_collisions
        |FROM j JOIN raw ON j.c_nationkey = raw.c_nationkey
        |ORDER BY j.c_nationkey""".stripMargin,

    "x43_stratified_sample" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM documents),
        |g AS (SELECT lang, count(*) AS n_g FROM t GROUP BY lang),
        |q AS (SELECT lang, n_g,
        |  (n_g * 200) // CAST((SELECT sum(n_g) FROM g) AS BIGINT) AS quota FROM g),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        |  FROM t)
        |SELECT r.lang, rk, doc_id, n_g, quota
        |FROM r JOIN q USING (lang) WHERE rk <= quota ORDER BY lang, rk""".stripMargin,
    "x47_zorder_layout" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS days
        |  FROM orders),
        |b AS (SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
        |             min(days) AS dmin, max(days) AS dmax FROM o),
        |s AS (
        |  SELECT o_custkey, days,
        |    CASE WHEN (cmax - cmin) <= 140737488355327
        |      THEN ((o_custkey - cmin) * 65535) // greatest(cmax - cmin, 1)
        |      ELSE least((o_custkey - cmin) // greatest((cmax - cmin) // 65535, 1), 65535) END AS cx,
        |    CASE WHEN (dmax - dmin) <= 140737488355327
        |      THEN ((days - dmin) * 65535) // greatest(dmax - dmin, 1)
        |      ELSE least((days - dmin) // greatest((dmax - dmin) // 65535, 1), 65535) END AS dy
        |  FROM o, b),
        |z AS (
        |  SELECT o_custkey, days,
        |    CAST(list_sum(list_transform(range(0, 16), b ->
        |      (((cx >> b) & 1) << (2 * b)) + (((dy >> b) & 1) << (2 * b + 1)))) AS BIGINT) AS zkey
        |  FROM s)
        |SELECT zkey // 67108864 AS bucket, count(*) AS n,
        |  min(o_custkey) AS c_lo, max(o_custkey) AS c_hi,
        |  CAST(min(days) AS BIGINT) AS d_lo, CAST(max(days) AS BIGINT) AS d_hi
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    // the oracle filters the RAW table with the same data-derived
    // rectangle — any file the manifest pruning wrongly dropped would
    // vanish rows from the Spark side and break the hash
    "x73_skipping_scan" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS days
        |  FROM orders),
        |b AS (SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
        |             min(days) AS dmin, max(days) AS dmax FROM o)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(sum(days) AS BIGINT) AS sum_days
        |FROM o, b
        |WHERE o_custkey BETWEEN cmin + ((cmax - cmin) * 2) // 16 AND cmin + ((cmax - cmin) * 3) // 16
        |  AND days BETWEEN dmin + ((dmax - dmin) * 2) // 16 AND dmin + ((dmax - dmin) * 3) // 16""".stripMargin,
    // x113: ground truth is the plain point query — a Bloom false
    // negative (missing row) or an unsound probe (wrong rows) flips the
    // content columns; the absent key must come back (0, 0).
    "x113_bloom_point_lookup" ->
      """WITH ks AS (
        |  SELECT k FROM (SELECT DISTINCT o_orderkey AS k FROM orders ORDER BY 1 LIMIT 5 OFFSET 100)
        |  UNION ALL SELECT max(o_orderkey) + 12345 FROM orders),
        |o AS (
        |  SELECT o_orderkey, CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS days
        |  FROM orders)
        |SELECT ks.k AS o_orderkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(o.days), 0) AS BIGINT) AS sum_days
        |FROM ks LEFT JOIN o ON o.o_orderkey = ks.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x45_compaction_plan" ->
      """WITH d AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS n_bytes
        |  FROM documents GROUP BY lang),
        |f AS (SELECT lang, n_docs, n_bytes,
        |  (n_bytes + 65535) // 65536 AS n_files FROM d)
        |SELECT lang, n_docs, n_bytes, n_files,
        |  (n_docs + n_files - 1) // n_files AS rows_per_file
        |FROM f ORDER BY lang""".stripMargin,
    "x27_domain_mixture" ->
      """WITH d AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang, source)
        |SELECT lang, source, n_docs, n_tokens,
        |  (n_tokens * 1000000) // CAST((SELECT sum(n_tokens) FROM d) AS BIGINT) AS weight_ppm
        |FROM d ORDER BY lang, source""".stripMargin,
    // x149: the same smoothed floor-log2 LLR decomposition term by term.
    "x149_dsir_select" ->
      s"""WITH $DsirScoreCtes,
        |top AS (
        |  SELECT doc_id, n_feats, llr_bits,
        |    row_number() OVER (ORDER BY llr_bits DESC, doc_id) AS sel_rank
        |  FROM fin ORDER BY llr_bits DESC, doc_id LIMIT 50)
        |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, t.doc_id, d.lang, d.source,
        |  CAST(n_feats AS BIGINT) AS n_feats, CAST(llr_bits AS BIGINT) AS llr_bits
        |FROM top t JOIN documents d USING (doc_id) ORDER BY sel_rank""".stripMargin,
    // x159: the identical midrank rank-sum + ntile arithmetic over the
    // shared score CTEs.
    "x159_auc_calibration" ->
      s"""WITH $DsirScoreCtes,
        |lab AS (
        |  SELECT f2.doc_id, f2.llr_bits, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM fin f2 JOIN documents d USING (doc_id)),
        |grp AS (
        |  SELECT llr_bits, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS npos_g
        |  FROM lab GROUP BY 1),
        |rk AS (
        |  SELECT llr_bits, cnt, npos_g,
        |    coalesce(sum(cnt) OVER (ORDER BY llr_bits
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM grp),
        |st AS (
        |  SELECT npos, nneg, r2 - npos * (npos + 1) AS u2,
        |    ((r2 - npos * (npos + 1)) * 500000) // (npos * nneg) AS auc_e6
        |  FROM (
        |    SELECT CAST(sum(npos_g) AS BIGINT) AS npos,
        |      CAST(sum(cnt) - sum(npos_g) AS BIGINT) AS nneg,
        |      CAST(sum(npos_g * (2 * cum + cnt + 1)) AS BIGINT) AS r2
        |    FROM rk)),
        |dec AS (
        |  SELECT decile, count(*) AS n, CAST(sum(pos) AS BIGINT) AS npos_d
        |  FROM (SELECT pos, CAST(ntile(10) OVER (ORDER BY llr_bits, doc_id) AS BIGINT) AS decile
        |        FROM lab)
        |  GROUP BY 1)
        |SELECT decile, n, npos_d, (npos_d * 1000000) // n AS pos_rate_ppm,
        |  npos, nneg, u2, auc_e6
        |FROM dec, st ORDER BY decile""".stripMargin,
    // x169: the minimax characterization max_{j≤i} min_{k≥i} mean(j..k)
    // — an INDEPENDENT derivation of the isotonic fit (never runs PAV);
    // floor-ppm commutes with min/max, so integer ppm values suffice.
    "x169_isotonic_calibration" ->
      s"""WITH $DsirScoreCtes,
        |lab AS (
        |  SELECT f2.doc_id, f2.llr_bits, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM fin f2 JOIN documents d USING (doc_id)),
        |grp AS (
        |  SELECT llr_bits, count(*) AS n, CAST(sum(pos) AS BIGINT) AS npos,
        |    row_number() OVER (ORDER BY llr_bits) AS i
        |  FROM lab GROUP BY 1),
        |win AS (
        |  SELECT a.i AS j, b.i AS k,
        |    CAST((sum(m.npos) * 1000000) // sum(m.n) AS BIGINT) AS ppm
        |  FROM grp a JOIN grp b ON b.i >= a.i JOIN grp m ON m.i BETWEEN a.i AND b.i
        |  GROUP BY 1, 2),
        |inn AS (
        |  SELECT g.i, w.j, min(w.ppm) AS mn
        |  FROM grp g JOIN win w ON w.j <= g.i AND w.k >= g.i GROUP BY 1, 2),
        |fit AS (SELECT i, CAST(max(mn) AS BIGINT) AS fitted_ppm FROM inn GROUP BY 1)
        |SELECT CAST(g.llr_bits AS BIGINT) AS llr_bits, g.n, g.npos,
        |  CAST((g.npos * 1000000) // g.n AS BIGINT) AS raw_ppm, f.fitted_ppm
        |FROM grp g JOIN fit f ON g.i = f.i ORDER BY g.llr_bits""".stripMargin,
    "x59_temperature_mix" ->
      s"""WITH $TemperatureQuotaCtes,
         |r AS (SELECT source, doc_id,
         |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM t),
         |sel AS (
         |  SELECT r.source, count(*) AS n_selected, CAST(sum(doc_id) AS BIGINT) AS sel_digest
         |  FROM r JOIN q USING (source) WHERE rk <= target GROUP BY r.source)
         |SELECT q.source, n_docs, w, target,
         |  coalesce(n_selected, 0) AS n_selected,
         |  coalesce(sel_digest, 0) AS sel_digest
         |FROM q LEFT JOIN sel USING (source) ORDER BY source""".stripMargin,
    "x64_epoch_upsample" ->
      s"""WITH $TemperatureQuotaCtes,
         |r AS (SELECT source, doc_id,
         |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM t),
         |e AS (
         |  SELECT r.source, doc_id,
         |    target // n_docs + CASE WHEN rk <= target % n_docs THEN 1 ELSE 0 END AS rep
         |  FROM r JOIN q USING (source))
         |SELECT q.source, q.n_docs, q.target,
         |  CAST(sum(rep) AS BIGINT) AS n_emitted,
         |  CAST(max(rep) AS BIGINT) AS max_rep,
         |  CAST(sum(doc_id * rep) AS BIGINT) AS digest
         |FROM e JOIN q USING (source) GROUP BY q.source, q.n_docs, q.target
         |ORDER BY q.source""".stripMargin,
    "x62_winsorize" ->
      """WITH t AS (
        |  SELECT lang, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    CAST(round(quantile_cont(n_tokens, 0.05) * 1000) AS BIGINT) AS p05_e3,
        |    CAST(round(quantile_cont(n_tokens, 0.95) * 1000) AS BIGINT) AS p95_e3
        |  FROM t GROUP BY lang)
        |SELECT t.lang, count(*) AS n_docs,
        |  max(p05_e3) AS p05_e3, max(p95_e3) AS p95_e3,
        |  CAST(sum(CASE WHEN n_tokens * 1000 < p05_e3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN n_tokens * 1000 > p95_e3 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(greatest(least(n_tokens * 1000, p95_e3), p05_e3)) AS BIGINT) AS winsorized_sum_e3
        |FROM t JOIN p USING (lang) GROUP BY t.lang ORDER BY t.lang""".stripMargin,
    "x77_pps_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS w,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, w,
        |    CAST(coalesce(sum(w) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS a
        |  FROM t),
        |s AS (SELECT greatest(CAST((SELECT sum(w) FROM t) AS BIGINT) // 100, 1) AS step),
        |sel AS (
        |  SELECT doc_id, w, a,
        |    least((a + w + step - 1) // step, 100) - least((a + step - 1) // step, 100) AS nd
        |  FROM o, s)
        |SELECT doc_id, CAST(w AS BIGINT) AS n_tokens, a AS "offset", CAST(nd AS BIGINT) AS n_draws
        |FROM sel WHERE nd >= 1 ORDER BY "offset"""".stripMargin,
    // the oracle reads the RAW table: content equality pins the rewrite
    // (lost/duplicated rows break count or digest) and the x45 formula
    // pins the executed file count
    "x78_compaction_exec" ->
      """WITH d AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS n_bytes,
        |    CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1099511627776) AS BIGINT) AS digest
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_docs, digest, CAST((n_bytes + 65535) // 65536 AS BIGINT) AS n_files
        |FROM d ORDER BY lang""".stripMargin,
    // the shard-shuffle oracle replays the whole permutation with one
    // window — sound at oracle scale, exactly what the distributed
    // prefix-sum decomposition must agree with
    // x192: geometry + decoded checksum replayed from a plain rank
    // window (same (v, ok, ln) total order); roundtrip_ok expected TRUE.
    "x192_delta_pack" ->
      """WITH v AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', l_shipdate::DATE) AS BIGINT) AS v,
        |    l_orderkey AS ok, l_linenumber AS ln
        |  FROM lineitem),
        |r AS (
        |  SELECT v, (row_number() OVER (ORDER BY v, ok, ln) - 1) AS r0 FROM v),
        |b AS (SELECT v, r0 // 1024 AS block, r0 % 1024 AS pos FROM r),
        |g AS (
        |  SELECT block, CAST(count(*) AS BIGINT) AS n_vals,
        |    CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v,
        |    CAST(sum((pos + 1) * v) AS BIGINT) AS decoded_checksum
        |  FROM b GROUP BY 1),
        |w AS (
        |  SELECT block, n_vals, min_v,
        |    CASE WHEN max_v = min_v THEN 0
        |      ELSE CAST(length(bin(max_v - min_v)) AS BIGINT) END AS width_bits,
        |    decoded_checksum
        |  FROM g)
        |SELECT block, n_vals, min_v, width_bits,
        |  (n_vals * width_bits + 7) // 8 AS packed_bytes,
        |  decoded_checksum, TRUE AS roundtrip_ok
        |FROM w ORDER BY block""".stripMargin,

    "x87_shard_shuffle" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '#shuffle42'), 1, 15))::BIGINT AS h,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1099511627776 AS dg
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (ORDER BY h, doc_id) AS rn FROM t)
        |SELECT (rn - 1) // 50 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(dg) AS BIGINT) AS digest,
        |  CAST(min(rn) AS BIGINT) AS first_rank,
        |  CAST(max(rn) AS BIGINT) AS last_rank
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    "x92_data_card" ->
      """WITH t AS (
        |  SELECT lang, source,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
        |  FROM documents),
        |a AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT source) AS n_sources,
        |    max(n_tokens) AS max_tokens,
        |    min(n_tokens) AS min_tokens,
        |    CAST(round(quantile_cont(n_tokens, 0.5) * 1000) AS BIGINT) AS p50_tokens_e3,
        |    CAST(round(avg(n_tokens) * 1000) AS BIGINT) AS mean_tokens_e3
        |  FROM t)
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM a
        |  UNION ALL SELECT 'n_tokens_total', n_tokens_total FROM a
        |  UNION ALL SELECT 'n_langs', CAST(n_langs AS BIGINT) FROM a
        |  UNION ALL SELECT 'n_sources', CAST(n_sources AS BIGINT) FROM a
        |  UNION ALL SELECT 'max_tokens', CAST(max_tokens AS BIGINT) FROM a
        |  UNION ALL SELECT 'min_tokens', CAST(min_tokens AS BIGINT) FROM a
        |  UNION ALL SELECT 'p50_tokens_e3', p50_tokens_e3 FROM a
        |  UNION ALL SELECT 'mean_tokens_e3', mean_tokens_e3 FROM a)
        |ORDER BY metric""".stripMargin,
    // ingestion-ledger oracle: rounds, offer counts and per-file content
    // replayed from the fixture formulas (round 1 = files 0-4, round 2 =
    // files 2-7, then a full round-2 re-offer that accepts nothing)
    "x90_ingest_ledger" ->
      """WITH f AS (SELECT unnest(range(8)) AS file_id),
        |d AS (
        |  SELECT file_id, unnest(range(20 + (file_id * 7) % 30)) AS j FROM f)
        |SELECT f.file_id,
        |  CAST(CASE WHEN f.file_id <= 4 THEN 1 ELSE 2 END AS BIGINT) AS round_ingested,
        |  CAST(20 + (f.file_id * 7) % 30 AS BIGINT) AS n_docs,
        |  CAST(CASE WHEN f.file_id <= 1 THEN 1
        |            WHEN f.file_id <= 4 THEN 3 ELSE 2 END AS BIGINT) AS n_offered,
        |  CAST(sum(1000 + d.file_id * 13 + d.j * 7) AS BIGINT) AS cents_sum,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM f JOIN d ON f.file_id = d.file_id
        |GROUP BY f.file_id ORDER BY f.file_id""".stripMargin
  )
}
