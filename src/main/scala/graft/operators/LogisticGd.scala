package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Logistic-regression trainer by distributed gradient descent (x228) —
  * the gradient-based member the classifier family lacked (x164 trains
  * Naive Bayes by counting, x179 solves least squares in closed form,
  * x68 is inference-only): the fastText-style production quality-filter
  * shape, a linear model over hashed features trained by fixed-iteration
  * full-batch GD.
  *
  * Determinism discipline (the x221 quantized-objective rule): every
  * arithmetic step is integer fixed-point, replayable bit-exactly in the
  * DuckDB oracle as unrolled per-iteration CTEs (the x72 pattern) —
  *   - activation: the RATIONAL fast sigmoid σ(z) ≈ 1/2 + z/(2(1+|z|)),
  *     e6-scaled with posmod-floor division (exactly representable in
  *     both engines, unlike exp; monotone, saturating, and its gradient
  *     never vanishes to zero — SGD folklore, e.g. Theano's
  *     `ultra_fast_sigmoid` lineage);
  *   - update: w ← w + ⌊Σ_docs err·x / n_train⌋ (posmod floor), err in
  *     e6 units — a fixed 1/n learning rate, so per-iteration weight
  *     steps are bounded by ±1e6;
  *   - features: PRESENCE of x65's 256 hashed buckets + an
  *     always-active bias bucket 256 (presence keeps ‖x‖ bounded by the
  *     active-bucket count, so z stays in long range at any corpus).
  *
  * Scale shape: each iteration is scan → equi-join with the ≤257-row
  * weight table (AQE broadcasts it) → per-doc agg → per-bucket agg —
  * two map-side-combinable shuffles over the feature stream, weights
  * localCheckpointed per round (the q62 iterative discipline). Nothing
  * ever materializes more than 257 rows outside the stream.
  */
object LogisticGd {

  /** fast sigmoid, e6-scaled: 500000 + ⌊z·500000 / (1e6 + |z|)⌋ */
  def sigSql(z: String): String =
    s"500000L + ${Prefix.floorDiv(s"($z) * 500000L", s"1000000L + abs($z)")}"

  /** Train `iters` full-batch GD rounds. `feat`: (doc_id, b) presence
    * rows (bias bucket included by the caller); `lab`: (doc_id, y∈{0,1}).
    * Returns (b, w) e6-scaled weights for every bucket seen in training.
    */
  def train(feat: DataFrame, lab: DataFrame, iters: Int): DataFrame =
    trainSnapshots(feat, lab, Seq(iters)).head._2

  /** Train max(snaps) rounds ONCE and return the (round, weights) snapshot
    * at each requested round — round k's weights never depend on how many
    * rounds follow, so a 1/3/5 learning-curve sweep costs one 5-round
    * chain instead of three chains (x262; the oracle already replays the
    * single unrolled chain).
    *
    * r11 s3 shape (guide §2.3/§2.4 — aggregate before you shuffle, remove
    * shuffles outright): training rows are collapsed ONCE to one row per
    * doc carrying its bucket array; each round broadcasts the ≤257-entry
    * weight MAP (1-row crossJoin), computes z and the error ROW-LOCALLY
    * (integer adds are order-free, so aggregate() over the array is
    * bit-identical to the old per-bucket-row sum), and the only shuffle
    * left is the ≤257-key gradient aggregation, map-side combined. The
    * old loop paid a corpus-sized groupBy(doc_id) AND a corpus-sized
    * join(e, doc_id) per round.
    */
  def trainSnapshots(feat: DataFrame, lab: DataFrame, snaps: Seq[Int]): Seq[(Int, DataFrame)] = {
    val trDoc = feat
      .join(lab, "doc_id")
      .groupBy("doc_id")
      .agg(collect_list(col("b")).as("bs"), max("y").as("y"))
      .localCheckpoint() // reused every round
    val nTrain = trDoc.count() // 1 driver constant
    require(nTrain > 0, "x228: empty training split")
    val w0 = trDoc
      .select(explode(col("bs")).as("b"))
      .distinct()
      .withColumn("w", lit(0L))
      .localCheckpoint()
    val z = "aggregate(bs, 0L, (acc, x) -> acc + coalesce(element_at(wm, x), 0L))"
    def round(w: DataFrame): DataFrame = {
      val wm = w.agg(map_from_entries(collect_list(struct(col("b"), col("w")))).as("wm"))
      val g = trDoc
        .crossJoin(broadcast(wm))
        .select(col("bs"), expr(s"y * 1000000L - (${sigSql(z)})").as("e")) // e once per doc row
        .select(explode(col("bs")).as("b"), col("e"))
        .groupBy("b")
        .agg(sum("e").as("g"))
      w.join(g, "b").select(col("b"), expr(s"w + ${Prefix.floorDiv("g", s"${nTrain}L")}").as("w"))
    }
    // one Iterate segment per snapshot: every snapshot is a frame Iterate
    // returns, so none is freed by the next segment
    val ends = snaps.distinct.sorted
    ends.zip(0 +: ends).scanLeft(0 -> w0) { case ((_, w), (end, start)) =>
      end -> Iterate(w, start + 1 to end)((cur, _) => round(cur))
    }.tail
  }

  /** Exact midrank ROC-AUC over (z, pos) — x159's Mann–Whitney form with
    * value-range `Prefix` sums (z is negative-capable, so the bucket key
    * floor-divides to stay order-consistent). Returns 1 row
    * (npos, nneg, auc_e6), zero-guarded.
    */
  def auc(scored: DataFrame): DataFrame = {
    val census = scored
      .groupBy("z")
      .agg(count(lit(1)).as("cnt"), sum("pos").as("npos_g"))
      .withColumn("bk", expr(Prefix.floorDiv("z", "8192L")))
      .localCheckpoint() // two refs: bucket offsets + positions
    Prefix
      .exclusive(census, Nil, "bk", Seq(col("z")))(col("cnt") -> "cum")
      .agg(
        sum("npos_g").as("npos"),
        (sum("cnt") - sum("npos_g")).as("nneg"),
        // r2 is a quadratic fold (Σ cnt·2·cum ~ n²) — DECIMAL(38,0)
        sum((col("npos_g") * (lit(2L) * col("cum") + col("cnt") + 1L)).cast("decimal(38,0)")).as("r2")
      )
      .select(
        col("npos"),
        col("nneg"),
        // DECIMAL(38,0) headroom (advice-found): r2 grows as n², so the
        // ·500000 product overflows BIGINT past ~4M scored rows — the
        // x179/x181 quadratic-fold discipline applies here too
        expr(
          "IF(npos * nneg = 0, 0L, CAST(((CAST(r2 AS DECIMAL(38,0)) - CAST(npos AS DECIMAL(38,0)) * (npos + 1)) * 500000) " +
            "div (CAST(npos AS DECIMAL(38,0)) * nneg) AS BIGINT))"
        ).as("auc_e6")
      )
  }
}
