package graft.operators

import graft.Graft.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Analytic / scalar SQL-surface widening (SURVEY.md §2.4–§2.5, round 4).
  *
  * q63 distribution windows — ntile / percent_rank / cume_dist, the ranking
  * family q08 doesn't cover. percent_rank and cume_dist are each a SINGLE
  * IEEE double division ((rank−1)/(n−1), rank/n) so they hash identically
  * cross-engine without the fixed-point dance multi-op float pipelines need;
  * the window order is made total with the key column so ntile's bucket
  * boundaries are deterministic under ties.
  * q64 IGNORE NULLS navigation — first / nth_value over a full frame with
  * planted NULLs: the "first observed measurement per entity" shape (q42's
  * LOCF covers the running-carry variant; this is the whole-partition one).
  * q65 bitwise aggregates — bit_and / bit_or / bit_xor, the bitmap-rollup
  * primitives (flag unions, permission masks). Integer-exact by definition.
  * q66 median — the interpolated-percentile aggregate on integer cents: the
  * midpoint of two int64s is exactly representable in double, so even-count
  * groups still hash identically cross-engine (contrast q27's full exact
  * percentiles, which stay integer end-to-end).
  * q67 try-arithmetic — try_divide / try_element_at: NULL-on-error instead
  * of throw-under-ANSI, the safe-math surface pipelines use for dirty data.
  * q68 calendar arithmetic — date_trunc to week/quarter grain, add_months
  * (end-of-month clamped identically in both engines: Jan 31 + 1 month =
  * Feb 29), last_day. Extends q14's scalar date functions to interval math.
  *
  * Scale notes: q63/q64 shuffle once on the partition key (window exchange);
  * q65/q67/q68/q70 are single two-phase hash aggregations (map-side
  * partials carry one row per group). q66's median goes through the
  * two-phase ExactPercentile operator — per-group distinct-value maps
  * (Spark's builtin percentile family) do NOT reduce to group cardinality
  * and are the documented q27 memory cliff. Nothing here materializes
  * per-row output at scale.
  */
object Analytic {


  /** Shared feature prep for the tree family (x284/x285/x287/x298): the
    * orders features as ONE WIDE frame (k, y, split, b0..b3) — binned
    * against the even-half train ranges and localCheckpointed once. The
    * label rides with the bins, so leaf censuses, scoring and accuracy
    * never join back to a base table (r11: each k-keyed join here was a
    * full-data shuffle repeated per tree/round).
    */
  private def ordersWide(s: SparkSession, d: String): DataFrame = {
    val base = table(s, d, "orders")
      .select(
        col("o_orderkey").as("k"),
        (col("o_orderstatus") === "F").cast("long").as("y"),
        (col("o_orderkey") % 2).as("split"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v0"),
        expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("v1"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("v2"),
        (col("o_custkey") % 97).as("v3")
      )
    CartTree
      .bin(base, 4, col("split") === 0)
      .select("k", "y", "split", "b0", "b1", "b2", "b3")
      .localCheckpoint()
  }

  /** The shared x287 boosting chain: 3 rounds of depth-2 regression trees
    * over the orders features, integer end to end. Returns (the per-round
    * split/leaf rows, the accuracy 1-row frame, the MSE triad, and the
    * odd-half evalScores (k, y, sc) for downstream instruments like x298).
    */
  private def gbtChain(
      s: SparkSession,
      d: String
  ): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val wide = ordersWide(s, d)
    var trainW = wide
      .where(col("split") === 0)
      .withColumn("target", col("y") * 1000000L)
      .withColumn("sc", lit(0L))
    var evalScores = wide.where(col("split") === 1).withColumn("sc", lit(0L))
    var outRows: DataFrame = null
    var mses: DataFrame = null
    var r = 0
    while (r < 3) {
      val withRes = trainW.withColumn("res", col("target") - col("sc"))
      val (splits, nodes) = CartTree.trainReg(withRes, 4, depth = 2)
      val leafVals = nodes
        .groupBy("node")
        .agg(count(lit(1)).as("n"), sum("res").as("sres"))
        .withColumn("value", expr(Prefix.floorDiv("sres", "n * 2")))
        .localCheckpoint()
      trainW = nodes
        .join(broadcast(leafVals.select("node", "value")), "node")
        .withColumn("sc", col("sc") + col("value"))
        .drop("node", "value", "res")
        .localCheckpoint()
      evalScores = CartTree
        .apply(evalScores, 4, splits, depth = 2)
        .join(broadcast(leafVals.select("node", "value")), "node")
        .withColumn("sc", col("sc") + col("value"))
        .drop("node", "value")
      // train MSE after this round's update — the metric squared-loss
      // boosting PROVABLY decreases (each η=0.5 leaf step cuts in-leaf
      // SSE by ¾·n·mean²); MAE has no such guarantee and empirically
      // RISES on minority-positive leaves, so it is deliberately not
      // the curve here. Squared residuals ~1e12/row: the sum rides
      // DECIMAL(38,0).
      val mse = trainW
        .agg(
          count(lit(1)).as("nt"),
          sum(expr("CAST(target - sc AS DECIMAL(38,0)) * (target - sc)")).as("sq")
        )
        .select(expr(s"CAST(sq div nt AS BIGINT)").as(s"mse$r"))
      mses = if (mses == null) mse else mses.crossJoin(mse)
      val rows = splits
        .select(lit(r.toLong).as("round"), col("node"), lit(0L).as("is_leaf"), col("f"), col("thr"), lit(-1L).as("n"), lit(0L).as("value"))
        .unionByName(
          leafVals.select(lit(r.toLong).as("round"), col("node"), lit(1L).as("is_leaf"), lit(-1L).as("f"), lit(-1L).as("thr"), col("n"), col("value"))
        )
      outRows = if (outRows == null) rows else outRows.unionByName(rows)
      r += 1
    }
    val acc = evalScores
      .agg(
        count(lit(1)).as("n_eval"),
        sum(((col("sc") >= 500000L).cast("long") === col("y")).cast("long")).as("nc")
      )
      .select(col("n_eval"), expr("(nc * 1000000L) div n_eval").as("acc_e6"))
    (outRows, acc, mses, evalScores.select("k", "y", "sc"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Robust outlier audit (x295) — the data-quality face of x258's
    // census machinery: per order priority the MEDIAN and the MAD
    // (median absolute deviation), both EXACT integer rank picks over
    // value censuses (bucketed prefix sums — the windows run on the
    // price-domain-bounded bucket table, never the corpus), then the
    // classic robust flag |x − med| > 3·MAD. Two census passes; no
    // corpus-shaped window anywhere.
    "x295_mad_outliers" -> ((s, d) => {
      val rows = table(s, d, "orders")
        .select(col("o_orderpriority").as("p"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
        .localCheckpoint() // median census + deviation pass + outlier flags

      /** exact p50 rank pick per group over a (p, v) stream — the x258
        * bucketed-census shape. */
      def median(of: DataFrame): DataFrame = {
        val census = of.groupBy("p", "v").agg(count(lit(1)).as("t")).withColumn("bk", expr("v div 8192L"))
        val sizes = of.groupBy("p").agg(count(lit(1)).as("na"))
        Prefix
          .exclusive(census, Seq("p"), "bk", Seq(col("v")))(col("t") -> "cum")
          .join(broadcast(sizes), "p")
          .where(Prefix.nearestRank("cum", "t", "na", 50))
          .select(col("p"), col("v").as("q"))
      }

      val med = median(rows).withColumnRenamed("q", "med").localCheckpoint()
      val devs = rows.join(broadcast(med), "p").select(col("p"), abs(col("v") - col("med")).as("v"))
      val mad = median(devs).withColumnRenamed("q", "mad")
      rows
        .join(broadcast(med), "p")
        .join(broadcast(mad), "p")
        .groupBy("p")
        .agg(
          count(lit(1)).as("n"),
          max("med").as("med"),
          max("mad").as("mad"),
          sum((abs(col("v") - col("med")) > lit(3L) * col("mad")).cast("long")).as("n_out")
        )
        .withColumn("out_ppm", expr("(n_out * 1000000L) div n"))
        .orderBy("p")
    }),

    // Benford first-digit audit (x296) — the fraud/data-quality classic
    // beside x295's MAD flags and x138's profiler: the leading-digit
    // distribution of order amounts vs Benford's law, expected shares as
    // fixed e6 integer constants ⌊log10(1+1/d)·1e6⌋ (identical literals
    // in both engines — no floating log anywhere), per-digit gaps and the
    // total-variation distance in ppm riding as a broadcast column.
    "x296_benford" -> ((s, d) => {
      val exp = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L, 57991L, 51152L, 45757L)
      val census = table(s, d, "orders")
        .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)").as("digit"))
        .groupBy("digit")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // shares + tvd legs
      val total = census.agg(sum("n").as("tot"))
      val cells = census
        .crossJoin(broadcast(total))
        .withColumn("obs_ppm", expr("(n * 1000000L) div tot"))
        .withColumn(
          "exp_ppm",
          element_at(array(exp.map(lit): _*), col("digit").cast("int"))
        )
        .withColumn("gap_ppm", abs(col("obs_ppm") - col("exp_ppm")))
        .localCheckpoint()
      val tvd = cells.agg(expr("sum(gap_ppm) div 2").as("tvd_ppm"))
      cells
        .crossJoin(broadcast(tvd))
        .select(col("digit"), col("n"), col("tot"), col("obs_ppm"), col("exp_ppm"), col("gap_ppm"), col("tvd_ppm"))
        .orderBy("digit")
    }),

    // Gradient-boosted regression trees (x287) — boosting beside x285's
    // bagging, completing the ensemble pair the way production GBDT
    // libraries work: 3 rounds of depth-2 REGRESSION trees fit to the
    // integer e6-scale residuals (variance-reduction cross-product in
    // DECIMAL(38,0)), leaf values = half the mean residual (η=0.5 as a
    // posmod floor division), scores accumulated per round. The gate row
    // carries the per-round train MAE TRIAD (the boosting-is-working
    // learning curve, x262's discipline) beside the odd-half threshold
    // accuracy. All integer; the oracle unrolls every round.
    "x287_gbt" -> ((s, d) => {
      val (outRows, acc, mses, _) = gbtChain(s, d)
      outRows.crossJoin(broadcast(acc.crossJoin(mses))).orderBy("round", "node", "is_leaf")
    }),

    // GBT score calibration (x298) — the reliability instrument over
    // x287's evaluator (the x224/x275 discipline applied to a TRAINED
    // model): odd-half boosted scores binned into score deciles
    // (clamped — boosted sums can leave [0, 1e6]), per bin the mean
    // predicted ppm vs the empirical positive rate, and the expected
    // calibration error ECE = Σ n_b·|gap_b| / n as the one-number
    // reading. A well-calibrated model keeps obs ≈ mean score per bin;
    // the instrument publishes where the η=0.5 / 3-round configuration
    // actually sits instead of assuming it.
    "x298_gbt_calibration" -> ((s, d) => {
      val (_, _, _, evalScores) = gbtChain(s, d)
      val cells = evalScores
        .withColumn("bin", greatest(least(expr("(sc * 10L) div 1000000L"), lit(9L)), lit(0L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("sc").as("sum_sc"), sum("y").as("npos"))
        // posmod floor: bin-0 score sums can be NEGATIVE (boosted sums
        // undershoot 0) and Spark div truncates while DuckDB // floors
        .withColumn("mean_sc_ppm", expr("(sum_sc - ((sum_sc % n + n) % n)) div n"))
        .withColumn("obs_ppm", expr("(npos * 1000000L) div n"))
        .withColumn("gap_ppm", abs(col("mean_sc_ppm") - col("obs_ppm")))
        .localCheckpoint() // cells + the ECE fold
      val ece = cells.agg(expr("sum(n * gap_ppm) div sum(n)").as("ece_ppm"))
      cells
        .crossJoin(broadcast(ece))
        .select(col("bin"), col("n"), col("npos"), col("mean_sc_ppm"), col("obs_ppm"), col("gap_ppm"), col("ece_ppm"))
        .orderBy("bin")
    }),

    // Random forest by deterministic bagging (x285) — the ensemble face
    // of x284 and an INSTRUMENT in the x224/x275 sense: 3 depth-2 trees,
    // each trained on an md5-bucket ~2/3 bootstrap of the even-orders
    // split (replayable sampling — the q30 convention), majority vote on
    // the odd half; the output carries the three per-tree accuracies AND
    // the forest accuracy side by side, so the gate row IS the
    // does-bagging-help reading at this SF. Scale shape: 3 independent
    // x284 trainings (each the bounded level-wise histogram pipeline) +
    // one k-keyed 3-way vote join; nothing new materializes beyond the
    // per-tree split/leaf tables.
    "x285_random_forest" -> ((s, d) => {
      val wide = ordersWide(s, d)
      val trainWide = wide.where(col("split") === 0)
      val perTree = (0 until 3).map { t =>
        val sample = trainWide.where(
          graft.functions.Hashing.md5Bucket(concat(col("k").cast("string"), lit(s"#rf$t")), 3L) < 2
        )
        val (splits, trainNodes) = CartTree.train(sample, 4, depth = 2)
        val leaves = trainNodes
          .groupBy("node")
          .agg(count(lit(1)).as("n"), sum("y").as("pos"))
          .withColumn("pred", (col("pos") * 2 >= col("n")).cast("long"))
          .localCheckpoint()
        (splits, leaves)
      }
      // one eval frame routed through all three trees back to back: each
      // tree is a broadcast+CASE descent plus a broadcast leaf lookup, so
      // the 3-way vote never shuffle-joins on k
      val votes = perTree.zipWithIndex
        .foldLeft(wide.where(col("split") === 1)) { case (acc, ((splits, leaves), t)) =>
          CartTree
            .apply(acc, 4, splits, depth = 2)
            .join(broadcast(leaves.select(col("node"), col("pred").as(s"pred$t"))), "node")
            .drop("node")
        }
        .withColumn("pv", ((col("pred0") + col("pred1") + col("pred2")) >= 2).cast("long"))
      val accs = votes
        .agg(
          count(lit(1)).as("n_eval"),
          sum((col("pv") === col("y")).cast("long")).as("cf"),
          sum((col("pred0") === col("y")).cast("long")).as("c0"),
          sum((col("pred1") === col("y")).cast("long")).as("c1"),
          sum((col("pred2") === col("y")).cast("long")).as("c2")
        )
        .select(
          col("n_eval"),
          expr("(cf * 1000000L) div n_eval").as("forest_acc_e6"),
          expr("(c0 * 1000000L) div n_eval").as("acc0_e6"),
          expr("(c1 * 1000000L) div n_eval").as("acc1_e6"),
          expr("(c2 * 1000000L) div n_eval").as("acc2_e6")
        )
      perTree.zipWithIndex
        .map { case ((splits, leaves), t) =>
          splits
            .select(lit(t.toLong).as("tree"), col("node"), lit(0L).as("is_leaf"), col("f"), col("thr"), lit(-1L).as("n"), lit(-1L).as("pos"), lit(-1L).as("pred"))
            .unionByName(
              leaves.select(lit(t.toLong).as("tree"), col("node"), lit(1L).as("is_leaf"), lit(-1L).as("f"), lit(-1L).as("thr"), col("n"), col("pos"), col("pred"))
            )
        }
        .reduce(_.unionByName(_))
        .crossJoin(broadcast(accs))
        .orderBy("tree", "node", "is_leaf")
    }),

    // CART decision tree by level-wise distributed histogram splits
    // (x284, operators/CartTree) — the tree trainer beside x228's GD and
    // x164's NB, built the way distributed tree libraries actually scale:
    // one (node, feature, bin) histogram shuffle per LEVEL, splits scored
    // by integer cross-multiplied Gini in DECIMAL(38,0), argmax on the
    // (S desc, f asc, bin asc) total order, pure nodes stop. Trains depth
    // 3 on even orders (label: o_orderstatus='F', which TPC-H ties to
    // order date — the tree must find the date split on its own), applies
    // to odd orders; output = the split table + leaf censuses + held-out
    // accuracy, so any divergence in binning, scoring, tie-breaks or
    // routing breaks the hash. CartTreeSpec proves planted-concept
    // recovery, purity stops and tie determinism.
    "x284_cart_tree" -> ((s, d) => {
      val wide = ordersWide(s, d) // train census + both routings (y rides)
      val (splits, trainNodes) = CartTree.train(wide.where(col("split") === 0), 4, depth = 3)
      val leaves = trainNodes
        .groupBy("node")
        .agg(count(lit(1)).as("n"), sum("y").as("pos"))
        .withColumn("pred", (col("pos") * 2 >= col("n")).cast("long"))
        .localCheckpoint() // eval lookup + output rows
      val acc = CartTree
        .apply(wide.where(col("split") === 1), 4, splits, depth = 3)
        .join(broadcast(leaves.select("node", "pred")), "node")
        .agg(
          count(lit(1)).as("n_eval"),
          sum((col("pred") === col("y")).cast("long")).as("n_correct")
        )
        .select(col("n_eval"), expr("(n_correct * 1000000L) div n_eval").as("acc_e6"))
      splits
        .select(col("node"), lit(0L).as("is_leaf"), col("f"), col("thr"), lit(-1L).as("n"), lit(-1L).as("pos"), lit(-1L).as("pred"))
        .unionByName(
          leaves.select(col("node"), lit(1L).as("is_leaf"), lit(-1L).as("f"), lit(-1L).as("thr"), col("n"), col("pos"), col("pred"))
        )
        .crossJoin(broadcast(acc))
        .orderBy("node", "is_leaf")
    }),
    // Quantile treatment effects (x258) — the distributional face of
    // x162/x257: a mean-zero treatment can still move the TAILS, and
    // QTE(p) = q_treat(p) − q_control(p) at p25/50/75 is the standard
    // report. Arms by md5 parity of the order key; per-arm EXACT
    // quantiles via the x182 census rank-pick with arm-partitioned
    // `Prefix` running sums (the bucket table is price-domain-bounded —
    // constant in corpus size).
    "x258_qte" -> ((s, d) => {
      val rows = table(s, d, "lineitem")
        .select(
          graft.functions.Hashing.md5Bucket(concat(col("l_orderkey").cast("string"), lit("#qte")), 2L).as("arm"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")
        )
      val census = rows
        .groupBy("arm", "cents")
        .agg(count(lit(1)).as("t"))
        .withColumn("bk", expr("cents div 8192L"))
        .localCheckpoint() // offsets + positions + arm sizes
      val pos = Prefix
        .exclusive(census, Seq("arm"), "bk", Seq(col("cents")))(col("t") -> "cum")
        .localCheckpoint() // three picks
      val narm = census.groupBy("arm").agg(sum("t").as("na"))
      def pick(p: Int): DataFrame =
        pos
          .join(broadcast(narm), "arm")
          .where(Prefix.nearestRank("cum", "t", "na", p))
          .select(col("arm"), lit(p.toLong).as("pct"), col("cents").as("q"))
      val q = pick(25).unionByName(pick(50)).unionByName(pick(75)).localCheckpoint() // both arms
      q.where(col("arm") === 0)
        .select(col("pct"), col("q").as("q_control"))
        .join(q.where(col("arm") === 1).select(col("pct"), col("q").as("q_treat")), "pct")
        .withColumn("qte_cents", col("q_treat") - col("q_control"))
        .orderBy("pct")
    }),

    // CUPED variance reduction (x257, Deng et al. WSDM 2013) — the
    // experimentation-platform upgrade over x162's plain two-sample
    // test: adjust the experiment metric by the pre-period covariate,
    // y' = y − θ(x − x̄) with θ = cov(x,y)/var(x), shrinking arm-mean
    // variance by ρ² — often the difference between a 2-week and a
    // 2-month experiment. Units = customers; x/y = revenue cents in the
    // two trailing 30-day buckets (x247's buckets); arms by md5 parity.
    // All moments are DECIMAL integer sums in ONE pass; θ and the
    // adjusted means are mirrored posmod-floor chains (each floor
    // identical in both engines); ρ² ppm — the variance-reduction
    // factor itself — rides as r1·c div vy with the two-floor
    // quantization documented rather than floated.
    "x257_cuped" -> ((s, d) => {
      val o = table(s, d, "orders")
        .select(
          col("o_custkey").as("ck"),
          expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS BIGINT) div 30").as("mon"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")
        )
        .localCheckpoint() // bounds + unit table
      val units = o
        .crossJoin(broadcast(o.agg(max("mon").as("maxm"))))
        .where(expr("mon = maxm - 2 OR mon = maxm - 1"))
        .groupBy("ck")
        .agg(
          sum(expr("IF(mon = maxm - 2, cents, 0L)")).as("x"),
          sum(expr("IF(mon = maxm - 1, cents, 0L)")).as("y")
        )
        .withColumn("arm", graft.functions.Hashing.md5Bucket(concat(col("ck").cast("string"), lit("#cuped")), 2L))
        .localCheckpoint() // pooled moments + per-arm sums
      val m = units.agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy")
      )
      val arms = units
        .groupBy("arm")
        .agg(
          count(lit(1)).as("n_arm"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx_arm"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy_arm")
        )
      arms
        .crossJoin(broadcast(m))
        .withColumn("c", expr("n * sxy - sx * sy"))
        .withColumn("vx", expr("n * sxx - sx * sx"))
        .withColumn("vy", expr("n * syy - sy * sy"))
        .withColumn("theta_e6", expr(s"CAST(IF(vx = 0, 0, ${Prefix.floorDiv("c * 1000000", "vx")}) AS BIGINT)"))
        .withColumn("raw_mean_e6", expr(s"CAST(${Prefix.floorDiv("sy_arm * 1000000", "n_arm")} AS BIGINT)"))
        .withColumn(
          "adj_mean_e6",
          expr(s"CAST(raw_mean_e6 - ${Prefix.floorDiv("theta_e6 * (n * sx_arm - CAST(n_arm AS DECIMAL(38,0)) * sx)", "CAST(n_arm AS DECIMAL(38,0)) * n")} AS BIGINT)")
        )
        .withColumn(
          "rho2_ppm",
          expr(
            s"CAST(IF(vx = 0 OR vy = 0, 0, ${Prefix.floorDiv(s"(${Prefix.floorDiv("c * 1000", "vx")}) * c * 1000", "vy")}) AS BIGINT)"
          )
        )
        .select("arm", "n_arm", "raw_mean_e6", "adj_mean_e6", "theta_e6", "rho2_ppm")
        .orderBy("arm")
    }),

    // Churn-feature pack (x254) — the feature-engineering verb feeding
    // x228's trainer: per-customer order-gap statistics (tenure, order
    // count, min/max/mean inter-order gap via a customer-partitioned
    // lag window — bounded groups) + the churn label (no order in the
    // final 60 observed days). Emitted as the LABEL-SEGMENT census
    // (churned × frequency-band) with per-segment feature means — the
    // shape a feature store materializes, aggregated so the gate row is
    // segment-bounded. Integer days end to end.
    "x254_churn_features" -> ((s, d) => {
      val o = table(s, d, "orders")
        .select(
          col("o_custkey").as("ck"),
          expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("day")
        )
        .localCheckpoint() // bounds + gaps
      val maxd = o.agg(max("day").as("maxd"))
      val wg = Window.partitionBy("ck").orderBy("day")
      val feats = o
        .withColumn("prev", lag("day", 1).over(wg))
        .groupBy("ck")
        .agg(
          count(lit(1)).as("n_orders"),
          (max("day") - min("day")).as("tenure_d"),
          max("day").as("last_d"),
          min(expr("day - prev")).as("min_gap"),
          max(expr("day - prev")).as("max_gap"),
          sum(expr("day - prev")).as("sum_gap"),
          count(col("prev")).as("n_gaps")
        )
        .crossJoin(broadcast(maxd))
        .withColumn("churned", expr("maxd - last_d > 60"))
        .withColumn("freq_band", expr("CAST(length(bin(n_orders)) - 1 AS BIGINT)")) // ⌊log2⌋
      feats
        .groupBy("churned", "freq_band")
        .agg(
          count(lit(1)).as("n_customers"),
          sum("n_orders").as("orders"),
          expr("sum(tenure_d) div count(1)").as("mean_tenure_d"),
          expr("IF(sum(n_gaps) = 0, -1L, sum(sum_gap) div sum(n_gaps))").as("mean_gap_d"),
          min("min_gap").as("min_gap_d"),
          max("max_gap").as("max_gap_d")
        )
        .orderBy("churned", "freq_band")
    }),

    // Forecast-backtest harness (x255) — the x224 instrument discipline
    // applied to time series: which forecaster earns the job on THIS
    // series? Daily revenue, last 14 observed days held out; three
    // closed-form integer forecasters — naive (last train value),
    // MULTI-STEP seasonal-naive (reference day − 7·⌈h/7⌉, i.e. the last
    // train value of the same weekday — repeats the final cycle, the
    // standard m-step form; a 7-day-reach version fails past horizon 7,
    // ForecastBacktestSpec's planted-cycle law caught exactly that),
    // drift (last + h·train-slope, slope = (last−first) div span) —
    // scored by holdout
    // MAE in cents, winner by (mae, name) argmax emitted as a column so
    // the VERDICT is hash-locked, not eyeballed. Day census absorbs the
    // scan; everything downstream is 14-row arithmetic.
    "x255_forecast_backtest" -> ((s, d) => {
      val daily = table(s, d, "orders")
        .select(
          expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS BIGINT)").as("day"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")
        )
        .groupBy("day")
        .agg(sum("cents").as("rev"))
        .localCheckpoint() // bounds + train + holdout
      val b = daily.agg(max("day").as("maxd"), min("day").as("mind"))
      val train = daily.crossJoin(broadcast(b)).where(expr("day <= maxd - 14")).localCheckpoint()
      val hold = daily.crossJoin(broadcast(b)).where(expr("day > maxd - 14"))
      val anchor = train
        .agg(max("day").as("t_last"), min("day").as("t_first"))
        .localCheckpoint() // three forecaster legs
      val lastV = train
        .join(broadcast(anchor), col("day") === col("t_last"))
        .select(col("rev").as("last_rev"), col("t_last"), col("t_first"))
      val firstV = train
        .join(broadcast(anchor), col("day") === col("t_first"))
        .select(col("rev").as("first_rev"))
      val preds = hold
        .crossJoin(broadcast(lastV))
        .crossJoin(broadcast(firstV))
        .withColumn("sref", expr("day - 7 * ((day - t_last + 6) div 7)"))
        .join(
          train.select(col("day").as("sref"), col("rev").as("snaive_rev")),
          Seq("sref"),
          "left"
        )
        .select(
          col("day"),
          col("rev"),
          col("last_rev").as("naive"),
          coalesce(col("snaive_rev"), col("last_rev")).as("snaive"),
          expr(
            "last_rev + (day - t_last) * ((last_rev - first_rev) - (((last_rev - first_rev) % (t_last - t_first) + (t_last - t_first)) % (t_last - t_first))) div (t_last - t_first)"
          ).as("drift")
        )
      val mae = preds.agg(
        expr("sum(abs(rev - naive)) div count(1)").as("mae_naive"),
        expr("sum(abs(rev - snaive)) div count(1)").as("mae_snaive"),
        expr("sum(abs(rev - drift)) div count(1)").as("mae_drift"),
        count(lit(1)).as("n_holdout")
      )
      mae.select(
        col("n_holdout"),
        col("mae_naive"),
        col("mae_snaive"),
        col("mae_drift"),
        expr(
          "CASE WHEN mae_naive <= mae_snaive AND mae_naive <= mae_drift THEN 'naive' " +
            "WHEN mae_snaive <= mae_drift THEN 'seasonal_naive' ELSE 'drift' END"
        ).as("winner")
      )
    }),

    // Metric-delta attribution (x247) — the root-cause slicing verb
    // ("why did revenue move?"): revenue of the last two complete
    // 30-day buckets decomposed per customer nation, with the EXACT
    // decomposition law Σ per-slice deltas = total delta hash-locked by
    // emitting both sides. Contribution shares are \|delta\|-mass ppm
    // (signed deltas keep their sign column; the share denominator is
    // Σ\|delta\| so floor division stays positive — the cross-engine
    // negative-division trap never opens). One scan with two
    // conditional sums per slice (both periods in the same shuffle, the
    // x157 discipline), nation dim broadcast.
    "x247_delta_attribution" -> ((s, d) => {
      val o = table(s, d, "orders")
        .select(
          col("o_custkey").as("ck"),
          expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS BIGINT) div 30").as("mon"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")
        )
        .localCheckpoint() // bounds + period legs
      val pe = o
        .crossJoin(broadcast(o.agg(max("mon").as("maxm"))))
        .where(expr("mon = maxm - 2 OR mon = maxm - 1"))
        .join(
          broadcast(table(s, d, "customer").select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"))),
          "ck"
        )
        .groupBy("nk")
        .agg(
          sum(expr("IF(mon = maxm - 2, cents, 0L)")).as("rev_a"),
          sum(expr("IF(mon = maxm - 1, cents, 0L)")).as("rev_b")
        )
        .withColumn("delta", col("rev_b") - col("rev_a"))
        .localCheckpoint() // totals + output
      val tot = pe.agg(
        sum("rev_a").as("tot_a"),
        sum("rev_b").as("tot_b"),
        sum("delta").as("tot_delta"),
        sum(expr("abs(delta)")).as("tot_abs")
      )
      pe.crossJoin(broadcast(tot))
        .withColumn("contrib_ppm", expr("IF(tot_abs = 0, 0L, (abs(delta) * 1000000) div tot_abs)"))
        .select("nk", "rev_a", "rev_b", "delta", "contrib_ppm", "tot_a", "tot_b", "tot_delta")
        .orderBy("nk")
    }),
    // RFM segmentation (x243) — the classic customer-analytics verb
    // (Hughes 1994): quintile-code every customer on Recency (days
    // since last order), Frequency (order count) and Monetary (lifetime
    // cents), emit the 5×5×5 segment census. Each quintile assignment
    // is the x159 distributed NTILE — value census → cum-below via
    // `Prefix` (posmod-floor bucket key: the monetary domain is
    // near-unique and unbounded, recency/frequency domain-bounded — same
    // machinery handles all three) → value-partitioned tie ranks → the
    // closed-form tile. DecileNtileSpec's row-exactness proof covers the
    // formula; the oracle uses DuckDB's own ntile(5). No unpartitioned
    // window outside the bucket tables; cum tables join
    // un-hinted (monetary's census is customer-sized — AQE decides, the
    // x66 lesson).
    "x243_rfm_segments" -> ((s, d) => {
      val o = table(s, d, "orders")
        .select(
          col("o_custkey").as("ck"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("day"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")
        )
      val rfm = o
        .groupBy("ck")
        .agg(max("day").as("lastd"), count(lit(1)).as("f"), sum("cents").as("m"))
        .crossJoin(broadcast(o.agg(max("day").as("maxd"))))
        .withColumn("r", expr("maxd - lastd"))
        .select("ck", "r", "f", "m")
        .localCheckpoint() // three quintile passes + the final join
      val ntot = rfm.agg(count(lit(1)).as("ntot"))
      def quint(v: String, out: String): DataFrame = {
        val census = rfm
          .groupBy(col(v).as("vv"))
          .agg(count(lit(1)).as("t"))
          .withColumn("bk", expr(Prefix.floorDiv("vv", "8192")))
          .localCheckpoint() // offsets + positions
        val cum = Prefix
          .exclusive(census, Nil, "bk", Seq(col("vv")))(col("t") -> "cum")
          .select(col("vv").as(v), col("cum"))
        rfm
          .select(col("ck"), col(v))
          .join(cum, v)
          .withColumn("rk", col("cum") + row_number().over(Window.partitionBy(v).orderBy("ck")))
          .crossJoin(broadcast(ntot))
          .withColumn(
            out,
            expr(
              "CAST(IF(rk <= (ntot % 5) * (ntot div 5 + 1), " +
                "(rk - 1) div (ntot div 5 + 1) + 1, " +
                "ntot % 5 + (rk - (ntot % 5) * (ntot div 5 + 1) - 1) div greatest(ntot div 5, 1) + 1) AS BIGINT)"
            )
          )
          .select("ck", out)
      }
      rfm
        .join(quint("r", "rq"), "ck")
        .join(quint("f", "fq"), "ck")
        .join(quint("m", "mq"), "ck")
        .groupBy("rq", "fq", "mq")
        .agg(count(lit(1)).as("n_customers"), sum("m").as("monetary_cents"))
        .orderBy("rq", "fq", "mq")
    }),
    // Exponentially-decayed heavy hitters (x236) — the TRENDING verb:
    // raw counts rank what was always big; ops dashboards need what is
    // big NOW. Integer-exact decay via right-shift — weight = 1024 >>
    // min(age_days div 7, 10), i.e. half-life 7 days quantized to
    // powers of two (floats never enter; the x61 discipline) — summed
    // per item in the same one-pass census as the raw count. Two faces
    // (the x181 twin shape): natural event types (near-uniform in time,
    // the negative control) and PLANTED time-tercile items whose
    // decayed ranking MUST order new > mid > old regardless of raw
    // counts — the trending verdict made load-bearing. Ranks by bounded
    // self-join over the ≤8-row per-face census.
    "x236_decayed_topk" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(col("event_type"), expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') AS BIGINT)").as("day"))
        .localCheckpoint() // bounds + faced stream
      val bounds = ev.agg(max("day").as("maxd"), min("day").as("mind"))
      val census = ev
        .crossJoin(broadcast(bounds))
        .select(
          explode(
            array(
              struct(lit(0L).as("face"), col("event_type").as("item")),
              struct(
                lit(1L).as("face"),
                expr(
                  "CASE ((day - mind) * 3) div (maxd - mind + 1) WHEN 0 THEN 'old' WHEN 1 THEN 'mid' ELSE 'new' END"
                ).as("item")
              )
            )
          ).as("fi"),
          expr("shiftright(1024L, CAST(least((maxd - day) div 7, 10L) AS INT))").as("w")
        )
        .groupBy(col("fi.face").as("face"), col("fi.item").as("item"))
        .agg(count(lit(1)).as("n_raw"), sum("w").as("w_decayed"))
        .localCheckpoint() // two bounded re-ranks (×2 sides each)
      def rk(v: String, alias: String): DataFrame =
        census
          .join(
            broadcast(census.select(col("face").as("f2"), col("item").as("i2"), col(v).as("v2"))),
            col("f2") === col("face") &&
              (col("v2") > col(v) || (col("v2") === col(v) && col("i2") < col("item"))),
            "left"
          )
          .groupBy("face", "item")
          .agg((count(col("i2")) + 1L).as(alias))
      census
        .join(rk("n_raw", "rank_raw"), Seq("face", "item"))
        .join(rk("w_decayed", "rank_decayed"), Seq("face", "item"))
        .orderBy("face", "item")
    }),
    // Half-sample replication CI (x235, the BRR family — McCarthy 1969)
    // — the ERROR BAR instrument: every pipeline metric ships as a point
    // estimate; this puts deterministic replication uncertainty on one
    // (mean lineitem price). 60 half-sample replicates from ONE md5 per
    // row (bit b of the 60-bit hash selects the row into replicate b —
    // no RNG, no resampling pass), replicate means in cents, replication
    // variance Σ(θ_b−θ)²/B, and a [2nd, 59th]-order-statistic ~95%
    // band. Scale shape: all 120 replicate sums ride ONE scan as
    // conditional aggregates with map-side combine (never a ×60
    // explode); everything downstream is 60-row arithmetic, the rank
    // picks a 60×60 broadcast self-join (the x186 bounded re-rank).
    "x235_halfsample_ci" -> ((s, d) => {
      val B = 60
      val rows = table(s, d, "lineitem")
        .select(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          graft.functions.Hashing
            .md5Window15(concat(col("l_orderkey").cast("string"), lit("#"), col("l_linenumber").cast("string"), lit("#hs")))
            .as("h")
        )
      val aggs = (0 until B).flatMap { b =>
        Seq(
          sum(expr(s"IF((h >> $b) & 1 = 1, cents, 0L)")).as(s"s$b"),
          sum(expr(s"IF((h >> $b) & 1 = 1, 1L, 0L)")).as(s"n$b")
        )
      } ++ Seq(sum("cents").as("st"), count(lit(1)).as("nt"))
      val one = rows.agg(aggs.head, aggs.tail: _*).localCheckpoint() // reps + totals
      val reps = one
        .selectExpr(
          s"stack($B, " + (0 until B).map(b => s"${b}L, s$b, n$b").mkString(", ") + ") AS (b, sb, nb)"
        )
        .withColumn("mean_b", expr("sb div nb"))
        .localCheckpoint() // variance fold + two rank picks (×2 sides)
      val full = one.select(expr("st div nt").as("mean_full"), col("nt"))
      val se2 = reps
        .crossJoin(broadcast(full.select("mean_full")))
        .agg(expr(s"sum((mean_b - mean_full) * (mean_b - mean_full)) div $B").as("se2_c2"))
      val ranked = reps
        .join(
          broadcast(reps.select(col("mean_b").as("mo"), col("b").as("bo"))),
          col("mo") < col("mean_b") || (col("mo") === col("mean_b") && col("bo") < col("b")),
          "left"
        )
        .groupBy("b", "mean_b")
        .agg((count(col("bo")) + 1L).as("r"))
        .localCheckpoint() // two picks
      full
        .crossJoin(broadcast(se2))
        .crossJoin(broadcast(ranked.where(col("r") === 2).select(col("mean_b").as("lo_cents"))))
        .crossJoin(broadcast(ranked.where(col("r") === B - 1).select(col("mean_b").as("hi_cents"))))
        .select(col("nt").as("n_rows"), col("mean_full").as("mean_cents"), lit(B.toLong).as("b_reps"),
          col("se2_c2"), col("lo_cents"), col("hi_cents"))
    }),
    // Market-basket association rules (x233, Agrawal & Srikant VLDB'94
    // Apriori at the 2-itemset level) — the co-occurrence miner behind
    // "frequently bought together" and feature-correlation audits:
    // baskets = orders, items = part brands (order ⋈ broadcast part
    // dim), rules = brand pairs with support ≥ 10 baskets, scored with
    // integer-e6 confidence (both directions — the rule is ASYMMETRIC)
    // and symmetric lift. Scale shape: the basket-item table is ONE
    // distinct over the join (map-side combine); pair generation is a
    // basket-keyed equi self-join bounded by basket-size² (≤ 7 brands a
    // basket here — the bounded-quadratic x153/x166 class, and the
    // Apriori frequency prune would cap it at any scale); the item
    // census (≤ brand-count rows) broadcasts onto the pair census. Lift
    // numerator n_ab·N·1e6 is ~1e17 at 16× — long-safe; DECIMAL(38,0)
    // headroom needed past ~1e9 baskets (the x179/x181 discipline).
    "x233_assoc_rules" -> ((s, d) => {
      val ob = table(s, d, "lineitem")
        .join(broadcast(table(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
        .distinct()
        .localCheckpoint() // basket count + item census + pair self-join
      val nOrders = ob.agg(countDistinct("o").as("n"))
      val ic = ob.groupBy("b").agg(count(lit(1)).as("nb"))
      val pairs = ob
        .select(col("o"), col("b").as("b1"))
        .join(ob.select(col("o"), col("b").as("b2")), "o")
        .where(col("b1") < col("b2"))
        .groupBy("b1", "b2")
        .agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= 10)
      pairs
        .join(broadcast(ic.select(col("b").as("b1"), col("nb").as("n1"))), "b1")
        .join(broadcast(ic.select(col("b").as("b2"), col("nb").as("n2"))), "b2")
        .crossJoin(broadcast(nOrders))
        .select(
          col("b1").as("brand_a"),
          col("b2").as("brand_b"),
          col("n_ab"),
          expr("(n_ab * 1000000) div n1").as("conf_ab_e6"),
          expr("(n_ab * 1000000) div n2").as("conf_ba_e6"),
          expr("(n_ab * n * 1000000) div (n1 * n2)").as("lift_e6")
        )
        .orderBy("brand_a", "brand_b")
    }),
    // quartile assignment + rank-distribution stats per market segment. The
    // window order (cents, custkey) is total, so ntile's near-equal bucket
    // split — which is ROW-position, not value, based — is deterministic.
    "q63_ntile_distribution" -> ((s, d) => {
      val base = table(s, d, "customer")
        .select(
          col("c_mktsegment").as("seg"),
          col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents")
        )
      val w = Window.partitionBy("seg").orderBy(col("cents"), col("c_custkey"))
      base
        .select(
          col("seg"),
          col("cents"),
          ntile(4).over(w).cast("long").as("quartile"),
          floor(percent_rank().over(w) * 1e6).as("pr_e6"),
          floor(cume_dist().over(w) * 1e6).as("cd_e6")
        )
        .groupBy("seg", "quartile")
        .agg(
          count(lit(1)).as("n"),
          min("cents").as("min_cents"),
          max("cents").as("max_cents"),
          min("pr_e6").as("pr_min_e6"),
          max("cd_e6").as("cd_max_e6")
        )
        .orderBy("seg", "quartile")
    }),

    // first / second non-null measurement per user: 'view' events carry no
    // amount (planted NULLs), so IGNORE NULLS navigation must skip them.
    // Full frame (unbounded both ways) makes the answers constant per
    // partition; the aggregation then collapses to one row per user.
    "q64_ignore_nulls" -> ((s, d) => {
      val e = table(s, d, "events")
        .select(
          col("user_id"),
          col("ts"),
          col("event_id"),
          when(col("event_type") =!= "view", expr("CAST(round(value * 100) AS BIGINT)")).as("cents")
        )
      val wf = Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      e.select(
        col("user_id"),
        col("cents"),
        first(col("cents"), ignoreNulls = true).over(wf).as("fc"),
        nth_value(col("cents"), 2, ignoreNulls = true).over(wf).as("sc")
      ).groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_null"),
          max("fc").as("first_cents"),
          max("sc").as("second_cents")
        )
        .orderBy("user_id")
    }),

    // bitmap-style rollup: AND / OR / XOR of the quantity bits per flag.
    "q65_bitwise_agg" -> ((s, d) =>
      table(s, d, "lineitem")
        // CAST(round(...)) not a bare cast: Spark double->long truncates toward
        // zero, DuckDB CAST rounds to nearest — they agree only on integral
        // values (repo fixed-point convention; TPC-H quantities ARE integral,
        // but the query must not depend on that)
        .select(col("l_returnflag"), expr("CAST(round(l_quantity) AS BIGINT)").as("ql"))
        .groupBy("l_returnflag")
        .agg(
          expr("bit_and(ql)").as("b_and"),
          expr("bit_or(ql)").as("b_or"),
          expr("bit_xor(ql)").as("b_xor"),
          count(lit(1)).as("n")
        )
        .select(
          col("l_returnflag"),
          col("b_and"),
          col("b_or"),
          col("b_xor"),
          // scalar bitwise layer over the aggregates: mask + shift
          col("b_or").bitwiseAND(lit(255L)).as("or_low8"),
          shiftleft(col("b_and"), 2).as("and_shl2"),
          col("n")
        )
        .orderBy("l_returnflag")),

    // interpolated median over integer cents per priority. Even-count
    // groups land on (a+b)/2 — exact in double for cents < 2^52, so the
    // double output is still hash-stable cross-engine. Computed through
    // [[ExactPercentile]] (p=0.5), NOT Spark's builtin `median`: the
    // builtin buffers a value→count map per group in an un-spillable
    // aggregation buffer — with 5 groups over near-continuous cents that
    // is the q27 OOM cliff at 100 TB; the two-phase operator emits the
    // identical quantile_cont value with bounded memory.
    "q66_median" -> ((s, d) => {
      val o = table(s, d, "orders")
        .select(col("o_orderpriority"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val med = ExactPercentile(o, "o_orderpriority", col("cents"), Seq("med_cents" -> 0.5))
      o.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .join(med, "o_orderpriority")
        .select("o_orderpriority", "n", "med_cents")
        .orderBy("o_orderpriority")
    }),

    // Robust outlier detection via MEDIAN / MAD (the modified z-score,
    // Iglewicz & Hoaglin 1993): |x − median| > 3.5 · 1.4826 · MAD, the
    // curation rule that survives what breaks mean/σ — the corrupted tail
    // itself inflates σ and masks its own members, while the two medians
    // barely move. The corruption is PLANTED (every 997th order's cents
    // ×25, the x101 planted-skew discipline — the synthetic fixture is
    // near-uniform, so nothing natural trips 3.5 modified-z), mirrored in
    // the oracle, and the flagged set must be exactly the stripe. All
    // arithmetic crossing the gate is exact: medians interpolate halves
    // (·2 / ·4 rescales to integers), and the threshold is the integer
    // cross-multiply dev4·10⁴ > 51891·mad4 — no epsilon, no libm. Scale
    // shape: two ExactPercentile passes (spillable two-phase, the q27
    // operator) + one broadcast of 5 group rows each; one final hash agg.
    "x128_mad_outliers" -> ((s, d) => {
      val t = table(s, d, "orders")
        .select(
          col("o_orderpriority").as("g"),
          when(
            col("o_orderkey") % 997 === 0,
            expr("CAST(round(o_totalprice * 100) AS BIGINT)") * lit(25L)
          ).otherwise(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c")
        )
        .localCheckpoint() // two plan refs: median build, deviation stream
      val med = ExactPercentile(t, "g", col("c"), Seq("med" -> 0.5))
      val dev = t
        .join(broadcast(med), Seq("g"))
        .select(col("g"), col("c"), abs(col("c") - col("med")).as("dev"), col("med"))
        .localCheckpoint() // two plan refs: MAD build, outlier census
      val mad = ExactPercentile(dev, "g", col("dev"), Seq("mad" -> 0.5))
      val out = expr("CAST(round(dev * 4) AS BIGINT) * 10000 > 51891 * CAST(round(mad * 4) AS BIGINT)")
      dev
        .join(broadcast(mad), Seq("g"))
        .groupBy("g")
        .agg(
          count(lit(1)).as("n"),
          expr("CAST(round(max(med) * 2) AS BIGINT)").as("med2"),
          expr("CAST(round(max(mad) * 4) AS BIGINT)").as("mad4"),
          sum(when(out, 1L).otherwise(0L)).as("n_outliers"),
          sum(when(out, col("c")).otherwise(0L)).as("outlier_cents")
        )
        .orderBy("g")
    }),

    // Equi-depth histogram + selectivity estimation — ANALYZE-style
    // optimizer statistics, the planning input every cost-based join
    // order / filter-selectivity decision needs at 100 TB: 16 equal-mass
    // buckets per group (boundaries = exact interpolated 1/16-quantiles
    // through the q27 spillable two-phase operator; i/16 positions are
    // exact binary fractions, so boundaries are exact multiples of 1/16
    // and cross the gate ·16 as integers), per-row bucket assignment as a
    // codegen'd array-filter count against the broadcast boundary array
    // (never a range join over the fact), and a RANGE-PROBE estimate from
    // the histogram — per-bucket linear-overlap contributions in PURE
    // INTEGER floor arithmetic (olap·1000·n div width, summed as ints so
    // no IEEE association order crosses the gate) — pinned next to the
    // probe's actual count, making the estimator itself gate-checked.
    "x129_equidepth_stats" -> ((s, d) => {
      val B = 16
      val (plo16, phi16) = (1500000L * 16, 4200000L * 16)
      val t = table(s, d, "lineitem")
        .select(col("l_returnflag").as("g"), expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
        .localCheckpoint() // three plan refs: boundary build, bucket pass, probe count
      val bounds = ExactPercentile(t, "g", col("c"), (0 to B).map(i => (s"b$i", i.toDouble / B)))
        .select(col("g"), array((0 to B).map(i => col(s"b$i")): _*).as("bs"))
        .localCheckpoint() // two plan refs: bucket pass, lo/hi projection
      val hist = t
        .join(broadcast(bounds), Seq("g"))
        .select(
          col("g"),
          greatest(expr("size(filter(bs, b -> b < CAST(c AS DOUBLE)))"), lit(1)).cast("long").as("bucket")
        )
        .groupBy("g", "bucket")
        .agg(count(lit(1)).as("n_rows"))
      val contrib = hist
        .join(broadcast(bounds), Seq("g"))
        .select(
          col("g"),
          col("bucket"),
          col("n_rows"),
          expr("CAST(round(element_at(bs, CAST(bucket AS INT)) * 16) AS BIGINT)").as("lo16"),
          expr("CAST(round(element_at(bs, CAST(bucket AS INT) + 1) * 16) AS BIGINT)").as("hi16")
        )
        .withColumn(
          "olap",
          greatest(lit(0L), least(lit(phi16), col("hi16")) - greatest(lit(plo16), col("lo16")))
        )
        .withColumn(
          "est_c",
          when(
            col("hi16") === col("lo16"),
            when(col("lo16") >= plo16 && col("lo16") < phi16, col("n_rows") * 1000L).otherwise(0L)
          ).otherwise(expr("(olap * 1000 * n_rows) div (hi16 - lo16)"))
        )
        .localCheckpoint() // two plan refs: histogram rows, per-group estimate
      val perG = contrib.groupBy("g").agg(sum("est_c").as("est_e3"))
      val actual = t
        .where(col("c") >= 1500000L && col("c") < 4200000L)
        .groupBy("g")
        .agg(count(lit(1)).as("actual_rows"))
      contrib
        .select("g", "bucket", "lo16", "hi16", "n_rows")
        .join(broadcast(perG), Seq("g"))
        .join(broadcast(actual), Seq("g"))
        .orderBy("g", "bucket")
    }),

    // WEIGHTED exact percentiles (x133) — the weighted face of the q27
    // two-phase operator: quantity-weighted price quartiles per flag
    // (every unit shipped counts once — the "median price PAID", not the
    // median line). Lower-bound semantics return actual data values, so
    // integers cross the gate as integers with no interpolation; targets
    // are dyadic p·W (IEEE-exact), and each target picks its unique
    // covering row from the cumulative-weight window — same spillable
    // shape, no per-target distribution scan.
    "x133_weighted_percentile" -> ((s, d) => {
      val t = table(s, d, "lineitem")
        .select(
          col("l_returnflag").as("g"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("x"),
          expr("CAST(l_quantity AS BIGINT)").as("w")
        )
      ExactPercentile
        .weighted(t, "g", col("x"), col("w"), Seq("wp25" -> 0.25, "wp50" -> 0.5, "wp75" -> 0.75))
        .orderBy("g")
    }),

    // NULL-on-error arithmetic: try_divide hits /0 exactly when quantity=1
    // (unit price over the remaining quantity), try_element_at indexes past
    // a 1-element array whenever linenumber > 1. The per-flag aggregate
    // counts both error populations and sums the surviving ratios in fixed
    // point (single division + single multiply → floor: deterministic IEEE).
    "q67_try_arith" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(
          col("l_returnflag"),
          expr("try_divide(l_extendedprice, l_quantity - 1)").as("ratio"),
          expr("try_element_at(array(CAST(round(l_quantity) AS BIGINT)), CAST(l_linenumber AS INT))").as("q1")
        )
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("ratio").isNull, 1L).otherwise(0L)).as("n_div_null"),
          sum(floor(col("ratio") * 100)).as("sum_ratio_c"),
          count(col("q1")).as("n_first_line"),
          sum("q1").as("sum_q1")
        )
        .orderBy("l_returnflag")),

    // calendar grain + interval math per quarter: week-of-order floor,
    // month-end, and the +1 month clamp (Jan 31 → Feb 29 on leap years —
    // both engines clamp to month end rather than overflowing). DATE values
    // are emitted as ISO strings: Spark writes date32 parquet where DuckDB's
    // client surfaces datetime64, so a typed date column hash-mismatches on
    // representation even when every value agrees — text pins the value.
    "q68_calendar_arith" -> ((s, d) =>
      table(s, d, "orders")
        .select(
          date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd").as("qtr"),
          date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd").as("wk"),
          date_format(last_day(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("ld"),
          date_format(add_months(col("o_orderdate").cast("date"), 1), "yyyy-MM-dd").as("p1m")
        )
        .groupBy("qtr")
        .agg(
          count(lit(1)).as("n"),
          countDistinct("wk").as("n_weeks"),
          min("wk").as("wk_min"),
          max("ld").as("ld_max"),
          max("p1m").as("p1m_max")
        )
        .orderBy("qtr")),

    // boolean aggregates — ALL / ANY / conditional-count reductions over
    // predicates (data-quality assertions as queries: "every line shipped
    // after order date", "any discount above 5%"). Integer/boolean only.
    "q70_bool_aggs" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(
          col("l_returnflag"),
          (col("l_quantity") > 1.0).as("multi"),
          (col("l_discount") > 0.05).as("disc"),
          (col("l_tax") > 0.04).as("taxed")
        )
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          expr("bool_and(multi)").as("all_multi"),
          expr("bool_or(disc)").as("any_disc"),
          expr("count_if(taxed)").as("n_taxed"),
          expr("count_if(multi AND disc)").as("n_both")
        )
        .orderBy("l_returnflag")),

    // NATIVE session_window operator in batch (q36 builds the same gap
    // sessions declaratively with lag+running-sum; this is the engine's
    // built-in session assignment — one expression, usable unchanged in
    // Structured Streaming). Boundary semantics pinned cross-engine AND in
    // the spec: Spark merges an event whose ts falls ON the session end
    // (inclusive — verified empirically, AnalyticSpec), so a gap of
    // EXACTLY 30 min still merges; the oracle's island rule is `> gap`.
    // Session end = last event + gap by definition.
    "q71_session_window" -> ((s, d) =>
      graft.Graft
        .events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), expr("sum(CAST(round(value * 100) AS BIGINT))").as("cents"))
        .select(
          col("user_id"),
          unix_micros(col("sw.start").cast("timestamp")).as("start_us"),
          unix_micros(col("sw.end").cast("timestamp")).as("end_us"),
          col("n_events"),
          col("cents")
        )
        .orderBy("user_id", "start_us")),

    // Time-series resample + gap-fill (x110): per-user irregular
    // observations onto a regular 6-hour grid with LINEAR interpolation
    // between the bracketing observations — the metrics-warehouse shape
    // (downsampling sensor/telemetry streams before modeling) that the
    // as-of join (q29) and LOCF (q42) don't cover. No range join and no
    // per-grid-point probe: observations and grid points UNION into one
    // stream and a single window pass per user computes the bracketing
    // (prev, next) pairs via IGNORE NULLS navigation — one shuffle on
    // user_id, frames bounded by the partition (the q56 discipline). Grid
    // bounds are per-user ceil/floor in integer micros, so every grid
    // point is bracketed by construction; a grid point landing exactly ON
    // an observation degenerates to that observation's value (the (t−pt)=0
    // term vanishes exactly in IEEE). Interpolated values cross the gate
    // as e3 fixed-point (the q66 discipline). Tie policy at equal (user,
    // ts): max(value) — order-free, unlike a double sum/avg.
    "x110_resample_gapfill" -> ((s, d) => {
      val step = 21600000000L // 6 h in micros
      val obs = graft.Graft
        .events(s, d)
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("t"), col("value"))
        .groupBy("user_id", "t")
        .agg(max("value").as("v"))
      val bounds = obs
        .groupBy("user_id")
        .agg(
          (min("t") + step - 1 - ((min("t") + step - 1) % step)).as("gmin"),
          (max("t") - (max("t") % step)).as("gmax")
        )
        .where(col("gmin") <= col("gmax"))
      val grid = bounds.select(col("user_id"), explode(expr(s"sequence(gmin, gmax, ${step}L)")).as("t"))
      val unioned = obs
        .select(col("user_id"), col("t"), col("v"), lit(0).as("is_grid"))
        .unionByName(
          grid.select(col("user_id"), col("t"), lit(null).cast("double").as("v"), lit(1).as("is_grid"))
        )
      // obs sorts before a grid point at the same instant, so the backward
      // frame sees it and the forward frame starts strictly after
      val w = Window.partitionBy("user_id").orderBy("t", "is_grid")
      val prevW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nextW = w.rowsBetween(1, Window.unboundedFollowing)
      unioned
        .withColumn("pv", last("v", ignoreNulls = true).over(prevW))
        .withColumn("pt", last(when(col("v").isNotNull, col("t")), ignoreNulls = true).over(prevW))
        .withColumn("nv", first("v", ignoreNulls = true).over(nextW))
        .withColumn("nt", first(when(col("v").isNotNull, col("t")), ignoreNulls = true).over(nextW))
        .where(col("is_grid") === 1)
        .select(
          col("user_id"),
          col("t").as("grid_us"),
          when(col("nt").isNull, expr("CAST(round(1000 * pv) AS BIGINT)"))
            .otherwise(
              expr(
                "CAST(round(1000 * (pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)))) AS BIGINT)"
              )
            )
            .as("value_e3")
        )
        .orderBy("user_id", "grid_us")
    }),

    // Largest-triangle downsampling (x223, the LTOB bucket-average
    // variant of Steinarsson's LTTB) — the VISUAL-fidelity reducer
    // dashboards run before plotting (uniform sampling erases spikes;
    // largest-triangle keeps the visually dominant point per bucket):
    // each series collapses to ≤16 points — endpoints pinned, each
    // interior bucket keeping the point with the largest triangle
    // against the NEIGHBOR BUCKET AVERAGES (the average-anchor variant
    // is deliberately chosen over sequential LTTB: no prev-selected
    // dependency, so buckets select in PARALLEL). Area comparisons are
    // exact integers: clearing the two averages' denominators na·nb
    // (constant within a bucket) gives A = |(sxa−na·x)(syb−nb·y) −
    // (sxb−nb·x)(sya−na·y)| in DECIMAL(38,0) — no float area anywhere;
    // ties break to the earlier point. Bucket ids by integer div;
    // series shorter than 16 degrade to identity (B_eff = min(16, n) —
    // every bucket stays nonempty because floor distribution of n−2
    // points over ≤ n−2 buckets is gapless). Scale shape: the monthly
    // census absorbs the stream; buckets/areas are series-bounded.
    "x223_lttb_downsample" -> ((s, d) => {
      val bMax = 16L
      val wr = Window.partitionBy("pri").orderBy("mth")
      val pts = table(s, d, "orders")
        .select(
          col("o_orderpriority").as("pri"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("mth"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c")
        )
        .groupBy("pri", "mth")
        .agg(sum("c").as("y"))
        .withColumn("r", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("pri")))
        .withColumn("beff", least(lit(bMax), col("n")))
        .withColumn("x", col("r") - 1L)
        .withColumn(
          "bucket",
          when(col("r") === 1L, lit(0L))
            .when(col("r") === col("n"), col("beff") - 1L)
            .otherwise(expr("(r - 2) * (beff - 2) div (n - 2) + 1"))
        )
        .localCheckpoint() // bucket stats + candidates + endpoint rows
      val bs = pts.groupBy("pri", "bucket").agg(sum("x").as("sx"), sum("y").as("sy"), count(lit(1)).as("t"))
      val prev = bs.select(
        col("pri"), (col("bucket") + 1L).as("bucket"),
        col("sx").as("sxa"), col("sy").as("sya"), col("t").as("na")
      )
      val nxt = bs.select(
        col("pri"), (col("bucket") - 1L).as("bucket"),
        col("sx").as("sxb"), col("sy").as("syb"), col("t").as("nb")
      )
      val interior = pts
        .where(col("bucket") > 0L && col("bucket") < col("beff") - 1L)
        .join(prev, Seq("pri", "bucket"))
        .join(nxt, Seq("pri", "bucket"))
        .withColumn(
          "area",
          expr(
            "abs(CAST(sxa - na * x AS DECIMAL(38,0)) * (syb - nb * y) - " +
              "CAST(sxb - nb * x AS DECIMAL(38,0)) * (sya - na * y))"
          )
        )
        .withColumn(
          "rk",
          row_number().over(Window.partitionBy("pri", "bucket").orderBy(col("area").desc, col("x")))
        )
        .where(col("rk") === 1)
        .select("pri", "bucket", "mth", "y")
      pts
        .where(col("bucket") === 0L || col("bucket") === col("beff") - 1L)
        .select("pri", "bucket", "mth", "y")
        .unionByName(interior)
        .orderBy("pri", "bucket")
    }),

    // Depth-2 decision-tree training (x221) — the split-search primitive
    // behind every GBDT/random-forest pipeline, trained EXACTLY and
    // distributed (x164 counts, x179 solves least squares; this is the
    // greedy impurity search): maximize the weighted sum-of-squares
    // objective S(L)+S(R), S(side) = (pos² + neg²)·1e6 div n — the
    // monotone twin of Gini gain, quantized identically in both engines
    // so the ARGMAX (score desc, feature, threshold tiebreak) is
    // cross-engine deterministic even when quantization shifts it.
    // Candidate thresholds come from per-feature VALUE censuses
    // (domain-bounded: qty 50, disc 11, tax 9 values) with cumulative
    // (count, pos) — one census pass scores every (feature, threshold)
    // at once. The concept is PLANTED (y = [disc ≥ 6 ∧ qty ≥ 25] with
    // 5% md5 label noise — the x101 discipline), so the tree must
    // RECOVER real structure: root on one conjunct, a child on the
    // other. Three 1-row argmax collects (root + two children) are the
    // documented bounded-argmax class (x72's BPE loop); squared counts
    // ride DECIMAL(38,0). Output: 3 split rows + 4 leaf rows with
    // majority predictions and accuracies.
    "x221_tree_stump" -> ((s, d) => {
      val base = table(s, d, "lineitem")
        .select(
          col("l_quantity").cast("long").as("qty"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc"),
          expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax"),
          expr(
            "CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), '#', CAST(l_linenumber AS STRING), '#lab')), 1, 15), 16, 10) AS BIGINT) % 20"
          ).as("nz")
        )
        .withColumn("y", expr("CAST((CAST(disc >= 6 AND qty >= 25 AS INT) + CAST(nz = 0 AS INT)) % 2 AS BIGINT)"))
        .select("qty", "disc", "tax", "y")
        .localCheckpoint() // root search + child filters + leaf stats
      val feats = Seq("qty", "disc", "tax")
      def bestSplit(df: DataFrame): (String, Long, Long) = {
        // per-feature scans, NOT a 3-way explode into one census: the
        // explode variant was MEASURED slower at 16× (19–21 s vs 16 s) —
        // each scan is column-pruned and its partial aggregation
        // collapses to the ~50-value feature domain before any shuffle,
        // while the explode pushes 3× the rows through one hash
        // aggregate. Fewer jobs ≠ less work.
        // one totals aggregate shared by all three features (review-found:
        // the per-feature copy built three identical full-pass subplans)
        val tot = df.agg(count(lit(1)).as("n"), sum("y").as("pos"))
        val cands = feats
          .map { f =>
            val cen = df.groupBy(col(f).as("v")).agg(count(lit(1)).as("t"), sum("y").as("p"))
            val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
            cen
              .withColumn("cl", sum("t").over(w))
              .withColumn("pl", sum("p").over(w))
              .crossJoin(broadcast(tot))
              .where(col("cl") < col("n")) // the right side must be non-empty
              .select(
                lit(f).as("feature"),
                col("v").as("thr"),
                expr(
                  "(CAST(pl AS DECIMAL(38,0)) * pl + CAST(cl - pl AS DECIMAL(38,0)) * (cl - pl)) * 1000000 div cl + " +
                    "(CAST(pos - pl AS DECIMAL(38,0)) * (pos - pl) + " +
                    "CAST((n - cl) - (pos - pl) AS DECIMAL(38,0)) * ((n - cl) - (pos - pl))) * 1000000 div (n - cl)"
                ).as("score")
              )
          }
          .reduce(_ unionByName _)
        val rows = cands.orderBy(col("score").desc, col("feature"), col("thr")).limit(1).collect()
        // precondition, surfaced descriptively (review-found): a node
        // whose every feature is single-valued has no split — the
        // fixture features (50/11/9-value domains) never degenerate
        require(rows.nonEmpty, "x221 bestSplit: node has no valid split (all features single-valued)")
        val r = rows(0)
        (r.getString(0), r.getLong(1), r.getLong(2))
      }
      val (rootF, rootT, rootS) = bestSplit(base)
      val leftDf = base.where(col(rootF) <= rootT).localCheckpoint() // search + leaves
      val rightDf = base.where(col(rootF) > rootT).localCheckpoint()
      val (lF, lT, lS) = bestSplit(leftDf)
      val (rF, rT, rS) = bestSplit(rightDf)
      def leafRows(df: DataFrame, f: String, t: Long, tag: String): DataFrame =
        df
          .withColumn("node", concat(lit(tag), when(col(f) <= t, lit("L")).otherwise(lit("R"))))
          .groupBy("node")
          .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
          .withColumn("pred", expr("CAST(2 * n_pos >= n AS BIGINT)")) // ties → 1
          .select(
            col("node"),
            // 'leaf'/-1 sentinels, not NULLs: a NULL in a STRING output
            // column is the one shape the hash compare can't normalize
            lit("leaf").as("feature"),
            lit(-1L).as("thr"),
            col("n"),
            col("n_pos"),
            expr("IF(pred = 1, n_pos, n - n_pos) * 1000000 div n").as("metric_e6")
          )
      def splitRow(node: String, f: String, t: Long, sc: Long, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
          .select(
            lit(node).as("node"),
            lit(f).as("feature"),
            lit(t).as("thr"),
            col("n"),
            col("n_pos"),
            lit(sc).as("metric_e6")
          )
      splitRow("0root", rootF, rootT, rootS, base)
        .unionByName(splitRow("1L", lF, lT, lS, leftDf))
        .unionByName(splitRow("1R", rF, rT, rS, rightDf))
        .unionByName(leafRows(leftDf, lF, lT, "2L"))
        .unionByName(leafRows(rightDf, rF, rT, "2R"))
        .orderBy("node")
    }),

    // Two-sample Kolmogorov–Smirnov (x220) — the distribution-SHAPE test
    // closing the two-sample family (x162 means, x214 stochastic order):
    // D = max_v |F_R(v) − F_N(v)| detects any difference, not just
    // location. Exact integers by cross-multiplication — the statistic
    // compares c_R(v)·n_N vs c_N(v)·n_R (DECIMAL(38,0) at corpus scale),
    // so no CDF fraction is ever floated; the argmax value rides the
    // output (min-v tiebreak). Cumulatives run over the VALUE census
    // through `Prefix` (both group counts in one pass — the x219 lesson
    // applied from the start). One scan → census → bounded windows →
    // one max fold.
    "x220_ks_test" -> ((s, d) => {
      val census = table(s, d, "lineitem")
        .where(col("l_returnflag").isin("R", "N"))
        .select(col("l_returnflag").as("g"), expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
        .groupBy("v")
        .agg(
          sum(when(col("g") === "R", 1L).otherwise(0L)).as("tr"),
          sum(when(col("g") === "N", 1L).otherwise(0L)).as("tn")
        )
        .withColumn("bk", expr("v div 8192"))
        .localCheckpoint() // two refs: bucket offsets + cumulatives
      val cum = Prefix
        .exclusive(census, Nil, "bk", Seq(col("v")))(col("tr") -> "cr", col("tn") -> "cn")
        .withColumn("cr", col("cr") + col("tr"))
        .withColumn("cn", col("cn") + col("tn"))
        .localCheckpoint() // two refs: totals + argmax
      val tot = cum.agg(max("cr").as("n1"), max("cn").as("n2"))
      cum
        .crossJoin(broadcast(tot))
        .withColumn("gap", expr("abs(CAST(cr AS DECIMAL(38,0)) * n2 - CAST(cn AS DECIMAL(38,0)) * n1)"))
        .orderBy(col("gap").desc, col("v"))
        .limit(1)
        .select(
          col("n1"),
          col("n2"),
          col("v").as("at_v"),
          expr("CAST(gap * 1000000 div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)").as("d_e6"),
          expr("CAST(CAST(cr AS DECIMAL(38,0)) * n2 > CAST(cn AS DECIMAL(38,0)) * n1 AS BOOLEAN)").as("r_leads")
        )
    }),

    // Spearman rank correlation (x219) — the monotone-association member
    // completing the correlation family (x140 Pearson moments, x173
    // Theil–Sen slope): ρ = 1 − 6Σd²/(n(n²−1)) over MIDRANKS (the
    // common software convention with heavy ties), exact in 2× rank
    // units — d2x = 2rx − 2ry is integer, Σd2x² = 4Σd², so
    // ρ_e6 = 1e6 − 3·Σd2x²·1e6 div (2n(n²−1)) with DECIMAL(38,0)
    // headroom (Σd2x² ~ 4n³). Ranks come from the x214 VALUE-CENSUS
    // trick — per-variable censuses (domain-bounded) broadcast back
    // onto the stream, never a corpus-wide row rank. Two pairs ride one
    // localCheckpointed scan: (price, price + bounded md5 jitter) —
    // monotone association PLANTED in-query (the x101 discipline: the
    // synthetic generator's columns are mutually independent, measured
    // qty↔price ρ ≈ 0.004, so a natural pair would leave the positive
    // verdict untested) — and (discount, tax), independent, ρ ≈ 0.
    // Both verdicts load-bearing.
    "x219_spearman" -> ((s, d) => {
      val base = table(s, d, "lineitem")
        .select(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price"),
          expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) + " +
              "pmod(CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), '#', CAST(l_linenumber AS STRING), '#sp')), 1, 15), 16, 10) AS BIGINT), 2000001) - 1000000"
          ).as("jit"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc"),
          expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax")
        )
        .localCheckpoint() // four censuses + two pair streams
      // census positions via `Prefix` — a planted near-unique variable
      // (jit) makes the census stream-sized at 16×, and a plain global
      // window put 10M rows in ONE task (53 s probe, caught before
      // commit); trunc-div by 2¹³ is monotone, so bucket order = value
      // order, over a ≤ ~1.4k-row bucket table.
      def twoMid(vCol: String): DataFrame = {
        val census = base
          .groupBy(col(vCol).as("v"))
          .agg(count(lit(1)).as("t"))
          .withColumn("bk", expr("v div 8192"))
          .localCheckpoint() // two refs: bucket offsets + positions
        Prefix
          .exclusive(census, Nil, "bk", Seq(col("v")))(col("t") -> "cum")
          .select(col("v").as(vCol), (lit(2L) * col("cum") + col("t") + 1L).as(s"r_$vCol"))
      }
      // rank joins are NOT force-broadcast (the x66 lesson): censuses of
      // near-unique variables grow with the value domain; AQE broadcasts
      // them while small and shuffle-joins co-partitioned beyond that
      def pair(name: String, a: String, b: String): DataFrame =
        base
          .select(col(a), col(b))
          .join(twoMid(a), a)
          .join(twoMid(b), b)
          .agg(
            count(lit(1)).as("n"),
            sum(expr(s"CAST((r_$a - r_$b) AS DECIMAL(38,0)) * (r_$a - r_$b)")).as("sum_d2x2")
          )
          // sum_d2x2 stays DECIMAL-internal (4n³ wraps int64 at 16×)
          .select(
            lit(name).as("pair"),
            col("n"),
            expr(
              "CAST(1000000 - 3 * sum_d2x2 * 1000000 div " +
                "(CAST(2 AS DECIMAL(38,0)) * n * (CAST(n AS DECIMAL(38,0)) * n - 1)) AS BIGINT)"
            ).as("rho_e6")
          )
      pair("price_jitter", "price", "jit")
        .unionByName(pair("disc_tax", "disc", "tax"))
        .orderBy("pair")
    }),

    // Gini concentration of token mass (x215) — the inequality line of
    // the data card (x92 counts; this measures how UNEQUALLY the token
    // budget spreads over documents, per source and overall — a
    // skyrocketing Gini flags a source whose mass is a few megadocs,
    // the shape that poisons sampling): G = (2Σᵢ i·x₍ᵢ₎ − (n+1)Σx) /
    // (n·Σx) over ascending doc token counts. Exact integers via the
    // x214 census trick — a tie group of t docs at value v starting at
    // position p contributes v·t·(2p + t − 1) to 2Σi·x, so no global
    // per-doc rank ever materializes; positions cumulate over the
    // per-source VALUE census (bounded by the token-count domain).
    // One scan → per-doc count (map-side) → per-(source, value) census
    // → bounded windows; the '*' overall row rides the same census.
    "x215_gini_tokens" -> ((s, d) => {
      val perDoc = table(s, d, "documents")
        .select(col("source"), size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("v"))
      val census = perDoc
        .select(explode(array(col("source"), lit("*"))).as("source"), col("v"))
        .groupBy("source", "v")
        .agg(count(lit(1)).as("t"))
      val wv = Window.partitionBy("source").orderBy("v")
      census
        .withColumn("pos", coalesce(sum("t").over(wv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + 1L)
        .groupBy("source")
        .agg(
          sum("t").as("n_docs"),
          sum(expr("v * t")).as("total_tokens"),
          sum(expr("v * t * (2 * pos + t - 1)")).as("two_six")
        )
        .withColumn(
          "gini_e6",
          expr(
            "CAST((CAST(two_six AS DECIMAL(38,0)) - (n_docs + 1) * total_tokens) * 1000000 " +
              "div (n_docs * total_tokens) AS BIGINT)"
          )
        )
        .select("source", "n_docs", "total_tokens", "gini_e6")
        .orderBy("source")
    }),

    // Mann–Whitney U / rank-biserial effect (x214) — the nonparametric
    // two-sample test beside x162's mean-based A/B machinery: does the
    // 'R'-returnflag revenue distribution stochastically dominate 'N'?
    // Midranks under ties carried in 2× units (a tie group starting at
    // pooled position p with t members has 2·midrank = 2p + t − 1, so
    // nothing is ever fractional); U₁(2×) = ΣR₁(2×) − n₁(n₁+1); the
    // rank-biserial effect r = 1 − 2U/(n₁n₂) ships in e6 via a
    // DECIMAL(38,0) product (U·1e6 is past int64 at corpus scale).
    // Scale shape: one pooled VALUE census (map-side combine) →
    // cumulative positions over the census (price-domain-bounded, the
    // x186 census-window class) → one fold; the raw stream is touched
    // once.
    "x214_mannwhitney" -> ((s, d) => {
      val pooled = table(s, d, "lineitem")
        .where(col("l_returnflag").isin("R", "N"))
        .select(
          col("l_returnflag").as("g"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v")
        )
      // census positions via `Prefix` (review-found: the price census is
      // near-unique, so a plain global window is the x219 single-task
      // shape — same fix as x220's)
      val census = pooled
        .groupBy("v")
        .agg(
          count(lit(1)).as("t"),
          sum(when(col("g") === "R", 1L).otherwise(0L)).as("t_r")
        )
        .withColumn("bk", expr("v div 8192"))
        .localCheckpoint() // two refs: bucket offsets + positions
      val ranked = Prefix
        .exclusive(census, Nil, "bk", Seq(col("v")))(col("t") -> "cum")
        .withColumn("two_mid", lit(2L) * col("cum") + col("t") + 1L)
      ranked
        .agg(
          sum("t_r").as("n1"),
          sum(expr("t - t_r")).as("n2"),
          sum(expr("t_r * two_mid")).as("r1_2x")
        )
        .withColumn("u1_2x", expr("r1_2x - n1 * (n1 + 1)"))
        .withColumn(
          "rbc_e6",
          expr("CAST(1000000 - CAST(u1_2x AS DECIMAL(38,0)) * 1000000 div (n1 * n2) AS BIGINT)")
        )
        .select("n1", "n2", "r1_2x", "u1_2x", "rbc_e6")
    }),

    // Cohen's kappa inter-rater agreement (x213) — the metric the
    // classifier family lacks (x159 calibrates one scorer against gold;
    // kappa asks whether two FILTERS agree beyond chance, the question
    // every curation pipeline faces before swapping a cheap heuristic
    // for an expensive model): raters here are the two quality-filter
    // archetypes — length-based (≥ 40 tokens) and char-mass-based
    // (≥ 250 chars). κ = (p_o − p_e)/(1 − p_e) with chance agreement
    // from the marginals, all in e6 fixed point; p_e composes from
    // per-million marginal rates (never n² — which overflows int64 at
    // corpus scale) with the identical rounding in the oracle. Output
    // is the full 2×2 contingency plus the agreement row. One scan, one
    // 4-group agg; everything after is 4-row arithmetic.
    "x213_cohens_kappa" -> ((s, d) => {
      val cells = table(s, d, "documents")
        .select(
          (size(split(lower(trim(col("text"))), "\\s+")) >= 40).as("a"),
          (col("n_chars") >= 250L).as("b")
        )
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // two refs: totals + output
      val tot = cells
        .agg(
          sum("n").as("nn"),
          sum(when(col("a") === col("b"), col("n")).otherwise(0L)).as("agree"),
          sum(when(col("a"), col("n")).otherwise(0L)).as("a1"),
          sum(when(col("b"), col("n")).otherwise(0L)).as("b1")
        )
        .select(
          col("nn"),
          expr("agree * 1000000 div nn").as("po_e6"),
          expr(
            "((a1 * 1000000 div nn) * (b1 * 1000000 div nn)) div 1000000 + " +
              "(((nn - a1) * 1000000 div nn) * ((nn - b1) * 1000000 div nn)) div 1000000"
          ).as("pe_e6")
        )
        // κ is undefined when chance agreement is total (pe = 1, e.g. a
        // corpus where both raters flag everything) — report 0, the
        // x218 zero-denominator discipline (review-found)
        .withColumn("kappa_e6", expr("IF(pe_e6 = 1000000, 0L, (po_e6 - pe_e6) * 1000000 div (1000000 - pe_e6))"))
      cells
        .crossJoin(broadcast(tot))
        .select("a", "b", "n", "nn", "po_e6", "pe_e6", "kappa_e6")
        .orderBy("a", "b")
    }),

    // Interval merge / gaps-and-islands coverage (x212) — the interval
    // UNION operator (x142 joins overlapping intervals across tables;
    // this collapses overlaps WITHIN a stream into maximal covered
    // spans): per supplier, shipment windows [ship, ship + 1 + qty%14
    // days] merge wherever they overlap or touch, and the output is the
    // per-key coverage profile (islands, covered days, widest span) —
    // the SLA/occupancy shape every ops pipeline computes. The island
    // rule is the classic running-max formulation: a row opens a new
    // island iff its start lies strictly past max(end) over all EARLIER
    // rows in (start, end) order; island id = running sum of opens.
    // Identical-row permutations can't flip flags (a tie's end ≥ its
    // start), so the windows are deterministic under the (st, en) order.
    // Scale shape: one shuffle on the key, two window passes over it,
    // then two ordinary aggs; nothing quadratic anywhere.
    "x212_interval_merge" -> ((s, d) => {
      val iv = table(s, d, "lineitem")
        .select(
          col("l_suppkey").as("k"),
          col("l_shipdate").cast("date").as("st"),
          expr("date_add(CAST(l_shipdate AS DATE), 1 + CAST(l_quantity AS INT) % 14)").as("en")
        )
      val w = Window.partitionBy("k").orderBy("st", "en")
      val isl = iv
        .withColumn("prev_max", max("en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("opens", when(col("prev_max").isNull || col("st") > col("prev_max"), 1L).otherwise(0L))
        .withColumn("island", sum("opens").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("k", "island")
        .agg(min("st").as("i_st"), max("en").as("i_en"), count(lit(1)).as("n_iv"))
      isl
        .groupBy("k")
        .agg(
          sum("n_iv").as("n_intervals"),
          count(lit(1)).as("n_islands"),
          sum(datediff(col("i_en"), col("i_st")) + 1).cast("long").as("covered_days"),
          max(datediff(col("i_en"), col("i_st")) + 1).cast("long").as("max_island_days")
        )
        .orderBy("k")
    }),

    // Benford first-digit audit (x210) — the forensic data-quality test
    // (Benford 1938; Nigrini's fraud-audit standard): natural
    // multiplicative data has P(d) = log10(1+1/d); engineered or
    // range-clipped data (TPC-H prices are exactly that) fails loudly.
    // Expected masses are the PUBLISHED constants quantized to e6
    // (⌊1e6·log10(1+1/d)⌋ — hardcoded identically in the oracle, no
    // libm at query time); the statistic is the integer chi-square form
    // Σ (obs_e6 − exp_e6)² div exp_e6. The fixture's verdict is real:
    // uniform-range prices pile into digits 1–4 and the stat explodes
    // vs a Benford-conforming synthetic (spec-pinned). One census agg +
    // 9-row arithmetic; nothing data-sized past the first shuffle.
    "x210_benford" -> ((s, d) => {
      val expTable = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L, 57991L, 51152L, 45757L)
      val expCase = expTable.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN ${v}L" }
        .mkString("CASE d ", " ", " END")
      val census = table(s, d, "orders")
        .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)").as("d"))
        // Benford is defined on leading digits 1..9; zero/negative
        // amounts fall outside the law (the oracle's constants join
        // drops them — match explicitly, review-found)
        .where(col("d").between(1, 9))
        .groupBy("d")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // two refs: total + rows
      val tot = census.agg(sum("n").as("nn"))
      val rows = census
        .crossJoin(broadcast(tot))
        .withColumn("obs_e6", expr("n * 1000000 div nn"))
        .withColumn("exp_e6", expr(expCase))
        .localCheckpoint() // two refs: stat + output
      val stat = rows
        .agg(sum(expr("(obs_e6 - exp_e6) * (obs_e6 - exp_e6) div exp_e6")).as("benford_stat"))
      rows
        .crossJoin(broadcast(stat))
        .select("d", "n", "obs_e6", "exp_e6", "benford_stat")
        .orderBy("d")
    }),

    // Holt linear exponential smoothing (x205) — the trend-aware
    // smoother between x110's interpolation and x183's decomposition
    // (Holt 1957: level lₜ = αyₜ + (1−α)(lₜ₋₁+bₜ₋₁), trend bₜ =
    // β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁; the one-step forecast l+b is THE
    // capacity-planning primitive): α = β = ¼ in pure integer cents —
    // lₜ = (yₜ + 3(lₜ₋₁+bₜ₋₁)) div 4 with TRUNCATING division, which is
    // what both Scala `/` and DuckDB `//` do on negatives (trend dips
    // below zero on revenue declines, so sign semantics are load-bearing
    // and the oracle's recursive CTE replays them bit-for-bit). The
    // recurrence is inherently sequential per series, so it runs in
    // flatMapGroups over a BOUNDED group (one row per month, ≤ ~100 —
    // the x192 bounded-mapGroups class); the monthly census before it is
    // an ordinary two-phase agg. 3(l+b) stays ≪ int64 at any plausible
    // per-series monthly revenue.
    "x205_holt_smoothing" -> ((s, d) => {
      import s.implicits._
      table(s, d, "orders")
        .select(
          col("o_orderpriority").as("pri"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("mth"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c")
        )
        .groupBy("pri", "mth")
        .agg(sum("c").as("y"))
        .as[(String, String, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (pri, it) =>
          val rows = it.toArray.sortBy(_._2) // bounded: one row per month
          var l = 0L
          var b = 0L
          rows.iterator.zipWithIndex.map { case ((_, mth, y), i) =>
            if (i == 0) { l = y; b = 0L }
            else {
              val lPrev = l
              l = (y + 3L * (l + b)) / 4L
              b = ((l - lPrev) + 3L * b) / 4L
            }
            (pri, mth, y, l, b, l + b)
          }
        }
        .toDF("pri", "mth", "y_cents", "level_c", "trend_c", "forecast_c")
        .orderBy("pri", "mth")
    }),

    // Group-wise SKYLINE / Pareto frontier (x200): per brand, the parts no
    // other same-brand part dominates on (retail price, size), both
    // minimized — the classic preference-query operator (Börzsönyi et al.,
    // ICDE 2001) no Spark builtin expresses. NEVER the naive all-pairs
    // NOT-EXISTS (quadratic in the table — the oracle does that, the
    // engine must not): a grid prune makes the exact join run over a
    // vanishing survivor band.
    //   1. per-brand min/max bounds (25-row agg, broadcast back);
    //   2. integer 16×16 cell coords — bucket intervals are half-open, so
    //      cell D strictly below-left of cell C ⇒ EVERY D point strictly
    //      dominates every C point;
    //   3. cell census (≤ brands × 256 rows) + one window pass per brand:
    //      a cell is pruned iff min(cy) over strictly-smaller cx beats its
    //      cy (rangeBetween(-∞, -1) on cx = the strict staircase rule).
    //      Correctness: any point dominating a kept-cell point itself lies
    //      in a kept cell (its cell is ≤ component-wise; a strict
    //      dominator of ITS cell would strictly dominate the kept cell
    //      too), so pruning loses no dominators — the survivor set is
    //      self-contained for the exact pass;
    //   4. exact dominance LEFT ANTI self-join over survivors only
    //      (broadcast — the staircase band is O(grid diagonal × density),
    //      not O(table)).
    // At 100 TB the full stream is touched exactly twice (bounds+census,
    // then the semi-join filter); everything quadratic runs on cell
    // summaries or the band.
    "x200_skyline" -> ((s, d) => {
      val g = 16L
      val pts = table(s, d, "part")
        .select(
          col("p_brand").as("brand"),
          col("p_partkey"),
          expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_c"),
          col("p_size").cast("long").as("size_v")
        )
      val bounds = pts
        .groupBy("brand")
        .agg(
          min("price_c").as("minp"), max("price_c").as("maxp"),
          min("size_v").as("mins"), max("size_v").as("maxs")
        )
      val cells = pts
        .join(broadcast(bounds), Seq("brand"))
        // DIV, not `/`: Column./ is IEEE division — cell ids must be
        // exact integer buckets for the half-open-interval argument
        .withColumn("cx", expr(s"(price_c - minp) * $g DIV (maxp - minp + 1)"))
        .withColumn("cy", expr(s"(size_v - mins) * $g DIV (maxs - mins + 1)"))
        .localCheckpoint() // two refs: census + survivor filter (review-found)
      val census = cells.groupBy("brand", "cx", "cy").agg(count(lit(1)).as("n"))
      val stairW = Window.partitionBy("brand").orderBy("cx").rangeBetween(Window.unboundedPreceding, -1)
      val kept = census
        .withColumn("best_cy", min("cy").over(stairW))
        .where(col("best_cy").isNull || col("best_cy") >= col("cy"))
        .select("brand", "cx", "cy")
      val surv = cells
        .join(broadcast(kept), Seq("brand", "cx", "cy"), "left_semi")
        .select("brand", "p_partkey", "price_c", "size_v")
        .localCheckpoint() // two refs: anti-join probe + build (review-found)
      val dom = surv.select(
        col("brand").as("d_brand"),
        col("price_c").as("d_price"),
        col("size_v").as("d_size")
      )
      surv
        .join(
          broadcast(dom),
          col("brand") === col("d_brand") &&
            col("d_price") <= col("price_c") && col("d_size") <= col("size_v") &&
            (col("d_price") < col("price_c") || col("d_size") < col("size_v")),
          "left_anti"
        )
        .orderBy("p_partkey")
    })
  )

  /** x284 oracle: the full level-wise tree unrolled — per level a
    * (node, f, bin) census, prefix sums, the DECIMAL(38,0) Gini
    * cross-product argmax on the (s desc, f, bin) order, and the node
    * routing; then leaf censuses and the odd-half accuracy replay.
    */
  private def x284OracleSql: String = {
    def level(t: Int, prev: String, rows: String): String =
      s"""cen$t AS (SELECT n.node, b.f, b.bin, count(*) AS cnt, CAST(sum(b.y) AS BIGINT) AS pos
         |  FROM binned b JOIN $prev n USING (k) WHERE b.split = $rows GROUP BY 1, 2, 3),
         |cand$t AS (SELECT node, f, bin,
         |  CAST(sum(cnt) OVER w AS BIGINT) AS nl, CAST(sum(pos) OVER w AS BIGINT) AS pl,
         |  CAST(sum(cnt) OVER wt AS BIGINT) AS tot, CAST(sum(pos) OVER wt AS BIGINT) AS tpos
         |  FROM cen$t
         |  WINDOW w AS (PARTITION BY node, f ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wt AS (PARTITION BY node, f)),
         |sc$t AS (SELECT node, f, bin,
         |  (pl::DECIMAL(38,0) * pl + (nl - pl)::DECIMAL(38,0) * (nl - pl)) * (tot - nl) +
         |  ((tpos - pl)::DECIMAL(38,0) * (tpos - pl) +
         |   (tot - nl - tpos + pl)::DECIMAL(38,0) * (tot - nl - tpos + pl)) * nl AS s
         |  FROM cand$t WHERE nl > 0 AND nl < tot AND tpos > 0 AND tpos < tot),
         |sp$t AS (SELECT node, f, bin AS thr FROM
         |  (SELECT node, f, bin, row_number() OVER (PARTITION BY node ORDER BY s DESC, f, bin) AS rn FROM sc$t)
         |  WHERE rn = 1)""".stripMargin
    def route(t: Int, prev: String, next: String): String =
      s"""$next AS (SELECT n.k,
         |  CAST(CASE WHEN s.node IS NULL THEN n.node
         |       ELSE n.node * 2 + CASE WHEN b.bin > s.thr THEN 1 ELSE 0 END END AS BIGINT) AS node
         |  FROM $prev n LEFT JOIN sp$t s ON n.node = s.node
         |  LEFT JOIN binned b ON b.k = n.k AND b.f = s.f)""".stripMargin
    s"""WITH base AS (SELECT o_orderkey AS k, CAST(o_orderstatus = 'F' AS BIGINT) AS y,
       |  o_orderkey % 2 AS split,
       |  CAST(round(o_totalprice * 100) AS BIGINT) AS v0,
       |  epoch_us(o_orderdate) // 86400000000 AS v1,
       |  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS v2,
       |  o_custkey % 97 AS v3 FROM orders),
       |lng AS (
       |  SELECT k, y, split, CAST(0 AS BIGINT) AS f, v0 AS v FROM base UNION ALL
       |  SELECT k, y, split, CAST(1 AS BIGINT), v1 FROM base UNION ALL
       |  SELECT k, y, split, CAST(2 AS BIGINT), v2 FROM base UNION ALL
       |  SELECT k, y, split, CAST(3 AS BIGINT), v3 FROM base),
       |rng AS (SELECT f, min(v) AS mn, max(v) AS mx FROM lng WHERE split = 0 GROUP BY f),
       |binned AS (SELECT l.k, l.y, l.split, l.f,
       |  least(greatest(${Prefix.floorDivDuck("(l.v - r.mn) * 16", "r.mx - r.mn + 1")}, 0), 15) AS bin
       |  FROM lng l JOIN rng r USING (f)),
       |n0 AS (SELECT DISTINCT k, CAST(1 AS BIGINT) AS node FROM binned WHERE split = 0),
       |${level(0, "n0", "0")},
       |${route(0, "n0", "n1")},
       |${level(1, "n1", "0")},
       |${route(1, "n1", "n2")},
       |${level(2, "n2", "0")},
       |${route(2, "n2", "n3")},
       |leaf AS (SELECT n.node, count(*) AS n, CAST(sum(b.y) AS BIGINT) AS pos
       |  FROM n3 n JOIN base b USING (k) GROUP BY 1),
       |leafp AS (SELECT node, n, pos, CAST(pos * 2 >= n AS BIGINT) AS pred FROM leaf),
       |e0 AS (SELECT DISTINCT k, CAST(1 AS BIGINT) AS node FROM binned WHERE split = 1),
       |${route(0, "e0", "e1").replace("sp0 s", "sp0 s")},
       |${route(1, "e1", "e2")},
       |${route(2, "e2", "e3")},
       |esc AS (SELECT e.k, b.y, l.pred FROM e3 e JOIN base b USING (k) JOIN leafp l USING (node)),
       |acc AS (SELECT count(*) AS n_eval,
       |  CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc_e6 FROM esc),
       |outp AS (
       |  SELECT node, CAST(0 AS BIGINT) AS is_leaf, f, thr,
       |    CAST(-1 AS BIGINT) AS n, CAST(-1 AS BIGINT) AS pos, CAST(-1 AS BIGINT) AS pred FROM sp0
       |  UNION ALL SELECT node, 0, f, thr, -1, -1, -1 FROM sp1
       |  UNION ALL SELECT node, 0, f, thr, -1, -1, -1 FROM sp2
       |  UNION ALL SELECT node, CAST(1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), n, pos, pred FROM leafp)
       |SELECT o.node, o.is_leaf, o.f, o.thr, o.n, o.pos, o.pred, a.n_eval, a.acc_e6
       |FROM outp o, acc a ORDER BY o.node, o.is_leaf""".stripMargin
  }

  /** x285 oracle: three bagged depth-2 trees fully unrolled (per tree the
    * x284 census/prefix/argmax/route blocks over its md5-bucket bootstrap),
    * then the 3-way vote and the accuracy quartet.
    */
  private def x285OracleSql: String = {
    def level(p: String, t: Int, prev: String, where: String): String =
      s"""${p}cen$t AS (SELECT n.node, b.f, b.bin, count(*) AS cnt, CAST(sum(b.y) AS BIGINT) AS pos
         |  FROM binned b JOIN $prev n USING (k) WHERE $where GROUP BY 1, 2, 3),
         |${p}cand$t AS (SELECT node, f, bin,
         |  CAST(sum(cnt) OVER w AS BIGINT) AS nl, CAST(sum(pos) OVER w AS BIGINT) AS pl,
         |  CAST(sum(cnt) OVER wt AS BIGINT) AS tot, CAST(sum(pos) OVER wt AS BIGINT) AS tpos
         |  FROM ${p}cen$t
         |  WINDOW w AS (PARTITION BY node, f ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wt AS (PARTITION BY node, f)),
         |${p}sc$t AS (SELECT node, f, bin,
         |  (pl::DECIMAL(38,0) * pl + (nl - pl)::DECIMAL(38,0) * (nl - pl)) * (tot - nl) +
         |  ((tpos - pl)::DECIMAL(38,0) * (tpos - pl) +
         |   (tot - nl - tpos + pl)::DECIMAL(38,0) * (tot - nl - tpos + pl)) * nl AS s
         |  FROM ${p}cand$t WHERE nl > 0 AND nl < tot AND tpos > 0 AND tpos < tot),
         |${p}sp$t AS (SELECT node, f, bin AS thr FROM
         |  (SELECT node, f, bin, row_number() OVER (PARTITION BY node ORDER BY s DESC, f, bin) AS rn FROM ${p}sc$t)
         |  WHERE rn = 1)""".stripMargin
    def route(p: String, t: Int, prev: String, next: String): String =
      s"""$next AS (SELECT n.k,
         |  CAST(CASE WHEN s.node IS NULL THEN n.node
         |       ELSE n.node * 2 + CASE WHEN b.bin > s.thr THEN 1 ELSE 0 END END AS BIGINT) AS node
         |  FROM $prev n LEFT JOIN ${p}sp$t s ON n.node = s.node
         |  LEFT JOIN binned b ON b.k = n.k AND b.f = s.f)""".stripMargin
    def tree(t: Int): String = {
      val p = s"t${t}_"
      val sample = s"('0x' || substr(md5(b.k || '#rf$t'), 1, 15))::BIGINT % 3 < 2"
      s"""${p}n0 AS (SELECT DISTINCT k, CAST(1 AS BIGINT) AS node FROM binned b WHERE b.split = 0 AND $sample),
         |${level(p, 0, s"${p}n0", s"b.split = 0 AND $sample")},
         |${route(p, 0, s"${p}n0", s"${p}n1")},
         |${level(p, 1, s"${p}n1", s"b.split = 0 AND $sample")},
         |${route(p, 1, s"${p}n1", s"${p}n2")},
         |${p}leaf AS (SELECT n.node, count(*) AS n, CAST(sum(b.y) AS BIGINT) AS pos
         |  FROM ${p}n2 n JOIN base b USING (k) GROUP BY 1),
         |${p}leafp AS (SELECT node, n, pos, CAST(pos * 2 >= n AS BIGINT) AS pred FROM ${p}leaf),
         |${p}e0 AS (SELECT DISTINCT k, CAST(1 AS BIGINT) AS node FROM binned WHERE split = 1),
         |${route(p, 0, s"${p}e0", s"${p}e1")},
         |${route(p, 1, s"${p}e1", s"${p}e2")},
         |${p}esc AS (SELECT e.k, b.y, l.pred FROM ${p}e2 e JOIN base b USING (k) JOIN ${p}leafp l USING (node))""".stripMargin
    }
    s"""WITH base AS (SELECT o_orderkey AS k, CAST(o_orderstatus = 'F' AS BIGINT) AS y,
       |  o_orderkey % 2 AS split,
       |  CAST(round(o_totalprice * 100) AS BIGINT) AS v0,
       |  epoch_us(o_orderdate) // 86400000000 AS v1,
       |  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS v2,
       |  o_custkey % 97 AS v3 FROM orders),
       |lng AS (
       |  SELECT k, y, split, CAST(0 AS BIGINT) AS f, v0 AS v FROM base UNION ALL
       |  SELECT k, y, split, CAST(1 AS BIGINT), v1 FROM base UNION ALL
       |  SELECT k, y, split, CAST(2 AS BIGINT), v2 FROM base UNION ALL
       |  SELECT k, y, split, CAST(3 AS BIGINT), v3 FROM base),
       |rng AS (SELECT f, min(v) AS mn, max(v) AS mx FROM lng WHERE split = 0 GROUP BY f),
       |binned AS (SELECT l.k, l.y, l.split, l.f,
       |  least(greatest(${Prefix.floorDivDuck("(l.v - r.mn) * 16", "r.mx - r.mn + 1")}, 0), 15) AS bin
       |  FROM lng l JOIN rng r USING (f)),
       |${tree(0)},
       |${tree(1)},
       |${tree(2)},
       |vote AS (SELECT a.k, a.y, a.pred AS pred0, b.pred AS pred1, c.pred AS pred2,
       |  CAST(a.pred + b.pred + c.pred >= 2 AS BIGINT) AS pv
       |  FROM t0_esc a JOIN t1_esc b USING (k) JOIN t2_esc c ON a.k = c.k),
       |accs AS (SELECT count(*) AS n_eval,
       |  CAST(sum(CASE WHEN pv = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS forest_acc_e6,
       |  CAST(sum(CASE WHEN pred0 = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc0_e6,
       |  CAST(sum(CASE WHEN pred1 = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc1_e6,
       |  CAST(sum(CASE WHEN pred2 = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc2_e6
       |  FROM vote),
       |outp AS (
       |  SELECT CAST(0 AS BIGINT) AS tree, node, CAST(0 AS BIGINT) AS is_leaf, f, thr,
       |    CAST(-1 AS BIGINT) AS n, CAST(-1 AS BIGINT) AS pos, CAST(-1 AS BIGINT) AS pred FROM t0_sp0
       |  UNION ALL SELECT 0, node, 0, f, thr, -1, -1, -1 FROM t0_sp1
       |  UNION ALL SELECT 0, node, CAST(1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), n, pos, pred FROM t0_leafp
       |  UNION ALL SELECT 1, node, 0, f, thr, -1, -1, -1 FROM t1_sp0
       |  UNION ALL SELECT 1, node, 0, f, thr, -1, -1, -1 FROM t1_sp1
       |  UNION ALL SELECT 1, node, 1, -1, -1, n, pos, pred FROM t1_leafp
       |  UNION ALL SELECT 2, node, 0, f, thr, -1, -1, -1 FROM t2_sp0
       |  UNION ALL SELECT 2, node, 0, f, thr, -1, -1, -1 FROM t2_sp1
       |  UNION ALL SELECT 2, node, 1, -1, -1, n, pos, pred FROM t2_leafp)
       |SELECT o.tree, o.node, o.is_leaf, o.f, o.thr, o.n, o.pos, o.pred,
       |  a.n_eval, a.forest_acc_e6, a.acc0_e6, a.acc1_e6, a.acc2_e6
       |FROM outp o, accs a ORDER BY o.tree, o.node, o.is_leaf""".stripMargin
  }

  /** x287 oracle: three boosting rounds fully unrolled — per round the
    * residual CTE, a depth-2 regression tree (variance cross-product
    * argmax), leaf values as η=0.5 posmod means, train score update and
    * eval routing; then the MAE triad and the threshold accuracy.
    */
  private def x287OracleSql: String = x287OracleSqlWithTail(
    """outp AS (
      |  SELECT CAST(0 AS BIGINT) AS round, node, CAST(0 AS BIGINT) AS is_leaf, f, thr,
      |    CAST(-1 AS BIGINT) AS n, CAST(0 AS BIGINT) AS value FROM r0_sp0
      |  UNION ALL SELECT 0, node, 0, f, thr, -1, 0 FROM r0_sp1
      |  UNION ALL SELECT 0, node, CAST(1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), n, value FROM r0_lv
      |  UNION ALL SELECT 1, node, 0, f, thr, -1, 0 FROM r1_sp0
      |  UNION ALL SELECT 1, node, 0, f, thr, -1, 0 FROM r1_sp1
      |  UNION ALL SELECT 1, node, 1, -1, -1, n, value FROM r1_lv
      |  UNION ALL SELECT 2, node, 0, f, thr, -1, 0 FROM r2_sp0
      |  UNION ALL SELECT 2, node, 0, f, thr, -1, 0 FROM r2_sp1
      |  UNION ALL SELECT 2, node, 1, -1, -1, n, value FROM r2_lv)
      |SELECT o.round, o.node, o.is_leaf, o.f, o.thr, o.n, o.value,
      |  a.n_eval, a.acc_e6, m0.mse0, m1.mse1, m2.mse2
      |FROM outp o, acc a, mse0 m0, mse1 m1, mse2 m2
      |ORDER BY o.round, o.node, o.is_leaf""".stripMargin
  )

  /** The full x287 boosting chain (base → binned → 3 unrolled rounds →
    * es3/acc/mse CTEs) with a caller-supplied final CTE+SELECT tail —
    * shared by the x287 gate and the x298 calibration instrument.
    */
  private def x287OracleSqlWithTail(tail: String): String = {
    def level(p: String, t: Int, prev: String, res: String): String =
      s"""${p}cen$t AS (SELECT n.node, b.f, b.bin, count(*) AS cnt, CAST(sum(t.res) AS BIGINT) AS sres
         |  FROM binned b JOIN $prev n USING (k) JOIN $res t USING (k) WHERE b.split = 0 GROUP BY 1, 2, 3),
         |${p}cand$t AS (SELECT node, f, bin,
         |  CAST(sum(cnt) OVER w AS BIGINT) AS nl, CAST(sum(sres) OVER w AS BIGINT) AS sl,
         |  CAST(sum(cnt) OVER wt AS BIGINT) AS tot, CAST(sum(sres) OVER wt AS BIGINT) AS stot
         |  FROM ${p}cen$t
         |  WINDOW w AS (PARTITION BY node, f ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wt AS (PARTITION BY node, f)),
         |${p}sc$t AS (SELECT node, f, bin,
         |  sl::DECIMAL(38,0) * sl * (tot - nl) + (stot - sl)::DECIMAL(38,0) * (stot - sl) * nl AS s
         |  FROM ${p}cand$t WHERE nl > 0 AND nl < tot),
         |${p}sp$t AS (SELECT node, f, bin AS thr FROM
         |  (SELECT node, f, bin, row_number() OVER (PARTITION BY node ORDER BY s DESC, f, bin) AS rn FROM ${p}sc$t)
         |  WHERE rn = 1)""".stripMargin
    def route(p: String, t: Int, prev: String, next: String): String =
      s"""$next AS (SELECT n.k,
         |  CAST(CASE WHEN s.node IS NULL THEN n.node
         |       ELSE n.node * 2 + CASE WHEN b.bin > s.thr THEN 1 ELSE 0 END END AS BIGINT) AS node
         |  FROM $prev n LEFT JOIN ${p}sp$t s ON n.node = s.node
         |  LEFT JOIN binned b ON b.k = n.k AND b.f = s.f)""".stripMargin
    def round(r: Int): String = {
      val p = s"r${r}_"
      s"""res$r AS (SELECT k, target - sc AS res FROM s$r),
         |${p}n0 AS (SELECT DISTINCT k, CAST(1 AS BIGINT) AS node FROM binned WHERE split = 0),
         |${level(p, 0, s"${p}n0", s"res$r")},
         |${route(p, 0, s"${p}n0", s"${p}n1")},
         |${level(p, 1, s"${p}n1", s"res$r")},
         |${route(p, 1, s"${p}n1", s"${p}n2")},
         |${p}lv AS (SELECT n.node, count(*) AS n, CAST(sum(t.res) AS BIGINT) AS sres,
         |  CAST(${Prefix.floorDivDuck("CAST(sum(t.res) AS BIGINT)", "count(*) * 2")} AS BIGINT) AS value
         |  FROM ${p}n2 n JOIN res$r t USING (k) GROUP BY 1),
         |s${r + 1} AS (SELECT s.k, s.target, CAST(s.sc + lv.value AS BIGINT) AS sc
         |  FROM s$r s JOIN ${p}n2 nn USING (k) JOIN ${p}lv lv ON nn.node = lv.node),
         |${p}e0 AS (SELECT DISTINCT k, CAST(1 AS BIGINT) AS node FROM binned WHERE split = 1),
         |${route(p, 0, s"${p}e0", s"${p}e1")},
         |${route(p, 1, s"${p}e1", s"${p}e2")},
         |es${r + 1} AS (SELECT e.k, e.y, CAST(e.sc + lv.value AS BIGINT) AS sc
         |  FROM es$r e JOIN ${p}e2 nn USING (k) JOIN ${p}lv lv ON nn.node = lv.node),
         |mse$r AS (SELECT CAST(sum((target - sc)::HUGEINT * (target - sc)) // count(*) AS BIGINT) AS mse$r FROM s${r + 1})""".stripMargin
    }
    val sql = s"""WITH base AS (SELECT o_orderkey AS k, CAST(o_orderstatus = 'F' AS BIGINT) AS y,
       |  o_orderkey % 2 AS split,
       |  CAST(round(o_totalprice * 100) AS BIGINT) AS v0,
       |  epoch_us(o_orderdate) // 86400000000 AS v1,
       |  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS v2,
       |  o_custkey % 97 AS v3 FROM orders),
       |lng AS (
       |  SELECT k, y, split, CAST(0 AS BIGINT) AS f, v0 AS v FROM base UNION ALL
       |  SELECT k, y, split, CAST(1 AS BIGINT), v1 FROM base UNION ALL
       |  SELECT k, y, split, CAST(2 AS BIGINT), v2 FROM base UNION ALL
       |  SELECT k, y, split, CAST(3 AS BIGINT), v3 FROM base),
       |rng AS (SELECT f, min(v) AS mn, max(v) AS mx FROM lng WHERE split = 0 GROUP BY f),
       |binned AS (SELECT l.k, l.y, l.split, l.f,
       |  least(greatest(${Prefix.floorDivDuck("(l.v - r.mn) * 16", "r.mx - r.mn + 1")}, 0), 15) AS bin
       |  FROM lng l JOIN rng r USING (f)),
       |s0 AS (SELECT k, CAST(y * 1000000 AS BIGINT) AS target, CAST(0 AS BIGINT) AS sc
       |  FROM base WHERE split = 0),
       |es0 AS (SELECT k, y, CAST(0 AS BIGINT) AS sc FROM base WHERE split = 1),
       |${round(0)},
       |${round(1)},
       |${round(2)},
       |acc AS (SELECT count(*) AS n_eval,
       |  CAST(sum(CASE WHEN CAST(sc >= 500000 AS BIGINT) = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc_e6
       |  FROM es3),
       |$tail""".stripMargin
    // DuckDB inlines CTEs per reference; the unrolled rounds reference the
    // shared tables dozens of times, and each inline re-opens the orders
    // parquet — MATERIALIZED pins them to one scan (fd-exhaustion fix).
    val mat = Seq("base", "lng", "rng", "binned") ++
      (0 to 3).flatMap(r => Seq(s"s$r", s"es$r")) ++
      (0 to 2).flatMap(r => Seq(s"res$r") ++ Seq("n0", "n1", "n2", "e0", "e1", "e2", "lv", "cen0", "cen1").map(c => s"r${r}_$c"))
    mat.foldLeft(sql)((acc0, name) => acc0.replace(s"$name AS (", s"$name AS MATERIALIZED ("))
  }

  def oracles: Map[String, String] = Map(
    // x298: the x287 chain through es3, then the decile reliability census.
    "x298_gbt_calibration" -> x287OracleSqlWithTail(
      """cal AS (SELECT greatest(least((sc * 10) // 1000000, 9), 0) AS bin, sc, y FROM es3),
        |cells AS (SELECT bin, count(*) AS n, CAST(sum(sc) AS BIGINT) AS sum_sc,
        |  CAST(sum(y) AS BIGINT) AS npos FROM cal GROUP BY 1),
        |cc AS (SELECT bin, n, npos,
        |  CAST((sum_sc - ((sum_sc % n + n) % n)) // n AS BIGINT) AS mean_sc_ppm,
        |  CAST((npos * 1000000) // n AS BIGINT) AS obs_ppm FROM cells),
        |cg AS (SELECT bin, n, npos, mean_sc_ppm, obs_ppm, abs(mean_sc_ppm - obs_ppm) AS gap_ppm FROM cc),
        |ec AS (SELECT CAST(sum(n * gap_ppm) // sum(n) AS BIGINT) AS ece_ppm FROM cg)
        |SELECT cg.bin, cg.n, cg.npos, cg.mean_sc_ppm, cg.obs_ppm,
        |  CAST(cg.gap_ppm AS BIGINT) AS gap_ppm, ec.ece_ppm
        |FROM cg, ec ORDER BY cg.bin""".stripMargin
    ),
    // x295: sorted rank picks at the same ((n−1)·50)//100 + 1 convention,
    // then the deviation median and the 3·MAD census.
    "x295_mad_outliers" ->
      """WITH r AS (SELECT o_orderpriority AS p, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |n AS (SELECT p, count(*) AS na FROM r GROUP BY 1),
        |srt AS (SELECT p, v, row_number() OVER (PARTITION BY p ORDER BY v) AS rk FROM r),
        |med AS (SELECT n.p, (SELECT v FROM srt WHERE srt.p = n.p AND rk = ((n.na - 1) * 50) // 100 + 1) AS med FROM n),
        |d AS (SELECT r.p, abs(r.v - m.med) AS v FROM r JOIN med m ON r.p = m.p),
        |dsrt AS (SELECT p, v, row_number() OVER (PARTITION BY p ORDER BY v) AS rk FROM d),
        |mad AS (SELECT n.p, (SELECT v FROM dsrt WHERE dsrt.p = n.p AND rk = ((n.na - 1) * 50) // 100 + 1) AS mad FROM n)
        |SELECT r.p, count(*) AS n, max(m.med) AS med, max(md.mad) AS mad,
        |  CAST(sum(CASE WHEN abs(r.v - m.med) > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
        |  CAST(sum(CASE WHEN abs(r.v - m.med) > 3 * md.mad THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS out_ppm
        |FROM r JOIN med m ON r.p = m.p JOIN mad md ON r.p = md.p
        |GROUP BY r.p ORDER BY r.p""".stripMargin,
    // x296: identical digit census + the same e6 constants.
    "x296_benford" ->
      """WITH r AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, count(*) AS n FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
        |b(d, e) AS (VALUES (1, 301029), (2, 176091), (3, 124938), (4, 96910), (5, 79181),
        |  (6, 66946), (7, 57991), (8, 51152), (9, 45757)),
        |cells AS (SELECT c.digit, c.n, t.tot,
        |  (c.n * 1000000) // t.tot AS obs_ppm, CAST(b.e AS BIGINT) AS exp_ppm,
        |  abs((c.n * 1000000) // t.tot - b.e) AS gap_ppm
        |  FROM c, t, b WHERE b.d = c.digit),
        |tv AS (SELECT CAST(sum(gap_ppm) // 2 AS BIGINT) AS tvd_ppm FROM cells)
        |SELECT cells.digit, cells.n, cells.tot, CAST(cells.obs_ppm AS BIGINT) AS obs_ppm,
        |  cells.exp_ppm, CAST(cells.gap_ppm AS BIGINT) AS gap_ppm, tv.tvd_ppm
        |FROM cells, tv ORDER BY digit""".stripMargin,
    "x284_cart_tree" -> x284OracleSql,
    "x285_random_forest" -> x285OracleSql,
    "x287_gbt" -> x287OracleSql,
    // x258: per-arm sorted rank picks at the same rank convention.
    "x258_qte" ->
      """WITH r AS (SELECT ('0x' || substr(md5(l_orderkey || '#qte'), 1, 15))::BIGINT % 2 AS arm,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |n AS (SELECT arm, count(*) AS na FROM r GROUP BY 1),
        |srt AS (SELECT arm, cents, row_number() OVER (PARTITION BY arm ORDER BY cents) AS rk FROM r),
        |pc AS (SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS pct),
        |p AS (SELECT n.arm, pc.pct,
        |  (SELECT cents FROM srt WHERE srt.arm = n.arm AND rk = ((n.na - 1) * pc.pct) // 100 + 1) AS q
        |  FROM n, pc)
        |SELECT p0.pct, p0.q AS q_control, p1.q AS q_treat, p1.q - p0.q AS qte_cents
        |FROM p p0 JOIN p p1 ON p0.pct = p1.pct AND p0.arm = 0 AND p1.arm = 1
        |ORDER BY p0.pct""".stripMargin,
    // x257: every floor mirrored (theta, means, the two-step rho2).
    "x257_cuped" ->
      """WITH o AS (SELECT o_custkey AS ck,
        |  (epoch_us(o_orderdate::TIMESTAMP) // 86400000000) // 30 AS mon,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |mb AS (SELECT max(mon) AS maxm FROM o),
        |u AS (SELECT ck,
        |  CAST(sum(CASE WHEN mon = maxm - 2 THEN cents ELSE 0 END) AS BIGINT) AS x,
        |  CAST(sum(CASE WHEN mon = maxm - 1 THEN cents ELSE 0 END) AS BIGINT) AS y
        |  FROM o, mb WHERE mon = maxm - 2 OR mon = maxm - 1 GROUP BY 1),
        |ua AS (SELECT ck, x, y, ('0x' || substr(md5(ck || '#cuped'), 1, 15))::BIGINT % 2 AS arm FROM u),
        |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy FROM ua),
        |a AS (SELECT arm, count(*) AS n_arm, sum(x) AS sx_arm, sum(y) AS sy_arm FROM ua GROUP BY 1),
        |dd AS (SELECT a.arm, a.n_arm, a.sx_arm, a.sy_arm, m.n, m.sx,
        |  m.n * m.sxy - m.sx * m.sy AS c,
        |  m.n * m.sxx - m.sx * m.sx AS vx,
        |  m.n * m.syy - m.sy * m.sy AS vy FROM a, m),
        |t AS (SELECT *,
        |  CASE WHEN vx = 0 THEN 0 ELSE
        |    ((c * 1000000) - (((c * 1000000) % vx + vx) % vx)) // vx END AS theta_e6,
        |  ((sy_arm * 1000000) - (((sy_arm * 1000000) % n_arm + n_arm) % n_arm)) // n_arm AS raw_mean_e6
        |  FROM dd),
        |z AS (SELECT *,
        |  raw_mean_e6 - ((theta_e6 * (n * sx_arm - n_arm * sx)
        |    - ((theta_e6 * (n * sx_arm - n_arm * sx) % (n_arm * n) + (n_arm * n)) % (n_arm * n)))
        |    // (n_arm * n)) AS adj_mean_e6,
        |  CASE WHEN vx = 0 OR vy = 0 THEN 0 ELSE
        |    (((((c * 1000) - (((c * 1000) % vx + vx) % vx)) // vx) * c * 1000)
        |     - ((((((c * 1000) - (((c * 1000) % vx + vx) % vx)) // vx) * c * 1000) % vy + vy) % vy))
        |    // vy END AS rho2_ppm
        |  FROM t)
        |SELECT CAST(arm AS BIGINT) AS arm, n_arm,
        |  CAST(raw_mean_e6 AS BIGINT) AS raw_mean_e6,
        |  CAST(adj_mean_e6 AS BIGINT) AS adj_mean_e6,
        |  CAST(theta_e6 AS BIGINT) AS theta_e6,
        |  CAST(rho2_ppm AS BIGINT) AS rho2_ppm
        |FROM z ORDER BY arm""".stripMargin,
    // x254: same gaps via window lag, same segment folds.
    "x254_churn_features" ->
      """WITH o AS (SELECT o_custkey AS ck,
        |  epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS day FROM orders),
        |mx AS (SELECT max(day) AS maxd FROM o),
        |g AS (SELECT ck, day, lag(day) OVER (PARTITION BY ck ORDER BY day) AS prev FROM o),
        |f AS (SELECT ck, count(*) AS n_orders, max(day) - min(day) AS tenure_d, max(day) AS last_d,
        |  min(day - prev) AS min_gap, max(day - prev) AS max_gap,
        |  sum(day - prev) AS sum_gap, count(prev) AS n_gaps FROM g GROUP BY 1),
        |ff AS (SELECT f.*, (mx.maxd - last_d > 60) AS churned,
        |  CAST(length(bin(n_orders)) - 1 AS BIGINT) AS freq_band FROM f, mx)
        |SELECT churned, freq_band, count(*) AS n_customers,
        |  CAST(sum(n_orders) AS BIGINT) AS orders,
        |  CAST(sum(tenure_d) // count(*) AS BIGINT) AS mean_tenure_d,
        |  CAST(CASE WHEN sum(n_gaps) = 0 THEN -1 ELSE sum(sum_gap) // sum(n_gaps) END AS BIGINT) AS mean_gap_d,
        |  CAST(min(min_gap) AS BIGINT) AS min_gap_d, CAST(max(max_gap) AS BIGINT) AS max_gap_d
        |FROM ff GROUP BY 1, 2 ORDER BY churned, freq_band""".stripMargin,
    // x255: same censuses, forecasters and MAE folds.
    "x255_forecast_backtest" ->
      """WITH daily AS (SELECT epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |b AS (SELECT max(day) AS maxd FROM daily),
        |train AS (SELECT day, rev FROM daily, b WHERE day <= maxd - 14),
        |hold AS (SELECT day, rev FROM daily, b WHERE day > maxd - 14),
        |a AS (SELECT max(day) AS t_last, min(day) AS t_first FROM train),
        |lv AS (SELECT rev AS last_rev FROM train, a WHERE day = t_last),
        |fv AS (SELECT rev AS first_rev FROM train, a WHERE day = t_first),
        |p AS (SELECT h.day, h.rev, lv.last_rev AS naive,
        |  coalesce(t7.rev, lv.last_rev) AS snaive,
        |  lv.last_rev + ((h.day - a.t_last) * ((lv.last_rev - fv.first_rev)
        |    - (((lv.last_rev - fv.first_rev) % (a.t_last - a.t_first) + (a.t_last - a.t_first))
        |       % (a.t_last - a.t_first)))) // (a.t_last - a.t_first) AS drift
        |  FROM hold h CROSS JOIN lv CROSS JOIN fv CROSS JOIN a
        |  LEFT JOIN train t7 ON t7.day = h.day - 7 * ((h.day - a.t_last + 6) // 7)),
        |m AS (SELECT count(*) AS n_holdout,
        |  CAST(sum(abs(rev - naive)) // count(*) AS BIGINT) AS mae_naive,
        |  CAST(sum(abs(rev - snaive)) // count(*) AS BIGINT) AS mae_snaive,
        |  CAST(sum(abs(rev - drift)) // count(*) AS BIGINT) AS mae_drift FROM p)
        |SELECT n_holdout, mae_naive, mae_snaive, mae_drift,
        |  CASE WHEN mae_naive <= mae_snaive AND mae_naive <= mae_drift THEN 'naive'
        |       WHEN mae_snaive <= mae_drift THEN 'seasonal_naive' ELSE 'drift' END AS winner
        |FROM m""".stripMargin,
    // x247: same buckets, conditional sums and |delta|-mass shares.
    "x247_delta_attribution" ->
      """WITH o AS (SELECT o_custkey AS ck,
        |  (epoch_us(o_orderdate::TIMESTAMP) // 86400000000) // 30 AS mon,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |mb AS (SELECT max(mon) AS maxm FROM o),
        |pe AS (SELECT c_nationkey AS nk,
        |  CAST(sum(CASE WHEN mon = maxm - 2 THEN cents ELSE 0 END) AS BIGINT) AS rev_a,
        |  CAST(sum(CASE WHEN mon = maxm - 1 THEN cents ELSE 0 END) AS BIGINT) AS rev_b
        |  FROM o, mb JOIN customer ON o.ck = c_custkey
        |  WHERE mon = maxm - 2 OR mon = maxm - 1 GROUP BY 1),
        |pd AS (SELECT nk, rev_a, rev_b, rev_b - rev_a AS delta FROM pe),
        |t AS (SELECT CAST(sum(rev_a) AS BIGINT) AS tot_a, CAST(sum(rev_b) AS BIGINT) AS tot_b,
        |  CAST(sum(delta) AS BIGINT) AS tot_delta, CAST(sum(abs(delta)) AS BIGINT) AS tot_abs FROM pd)
        |SELECT nk, rev_a, rev_b, delta,
        |  CAST(CASE WHEN t.tot_abs = 0 THEN 0 ELSE (abs(delta) * 1000000) // t.tot_abs END AS BIGINT) AS contrib_ppm,
        |  t.tot_a, t.tot_b, t.tot_delta
        |FROM pd, t ORDER BY nk""".stripMargin,
    // x243: DuckDB's own ntile(5) with the same (value, ck) order —
    // the engine's closed form must land every customer in the same
    // tile (DecileNtileSpec's proof, now cross-engine).
    "x243_rfm_segments" ->
      """WITH o AS (
        |  SELECT o_custkey AS ck,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |rfm AS (
        |  SELECT ck, (SELECT max(day) FROM o) - max(day) AS r,
        |    count(*) AS f, CAST(sum(cents) AS BIGINT) AS m
        |  FROM o GROUP BY ck),
        |q AS (
        |  SELECT ck, m,
        |    CAST(ntile(5) OVER (ORDER BY r, ck) AS BIGINT) AS rq,
        |    CAST(ntile(5) OVER (ORDER BY f, ck) AS BIGINT) AS fq,
        |    CAST(ntile(5) OVER (ORDER BY m, ck) AS BIGINT) AS mq
        |  FROM rfm)
        |SELECT rq, fq, mq, count(*) AS n_customers, CAST(sum(m) AS BIGINT) AS monetary_cents
        |FROM q GROUP BY 1, 2, 3 ORDER BY rq, fq, mq""".stripMargin,
    // x236: the same faced census + shift-decay, ranks as row_number
    // with the identical item tiebreak.
    "x236_decayed_topk" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day FROM events),
        |b AS (SELECT max(day) AS maxd, min(day) AS mind FROM ev),
        |u AS (
        |  SELECT CAST(0 AS BIGINT) AS face, event_type AS item, day FROM ev
        |  UNION ALL
        |  SELECT 1, CASE ((day - mind) * 3) // (maxd - mind + 1)
        |    WHEN 0 THEN 'old' WHEN 1 THEN 'mid' ELSE 'new' END, day
        |  FROM ev, b),
        |w AS (
        |  SELECT face, item, count(*) AS n_raw,
        |    CAST(sum(1024 >> CAST(least((b.maxd - day) // 7, 10) AS INT)) AS BIGINT) AS w_decayed
        |  FROM u, b GROUP BY 1, 2)
        |SELECT face, item, n_raw, w_decayed,
        |  CAST(row_number() OVER (PARTITION BY face ORDER BY n_raw DESC, item) AS BIGINT) AS rank_raw,
        |  CAST(row_number() OVER (PARTITION BY face ORDER BY w_decayed DESC, item) AS BIGINT) AS rank_decayed
        |FROM w ORDER BY face, item""".stripMargin,
    // x235: the 60 replicate sums replayed by a range×stream product
    // (affordable in the oracle; the engine does them in ONE pass),
    // identical bit-select, floor means, variance fold and rank picks.
    "x235_halfsample_ci" ->
      """WITH rows_h AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    ('0x' || substr(md5(l_orderkey || '#' || l_linenumber || '#hs'), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |reps AS (
        |  SELECT b.range AS b,
        |    CAST(sum(CASE WHEN (h >> CAST(b.range AS INT)) & 1 = 1 THEN cents ELSE 0 END) AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN (h >> CAST(b.range AS INT)) & 1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM range(60) b, rows_h GROUP BY 1),
        |rm AS (SELECT b, sb // nb AS mean_b FROM reps),
        |tot AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS mean_full, count(*) AS nt FROM rows_h),
        |se AS (SELECT CAST(sum((mean_b - t.mean_full) * (mean_b - t.mean_full)) // 60 AS BIGINT) AS se2_c2
        |  FROM rm, tot t),
        |rk AS (SELECT b, mean_b,
        |  1 + (SELECT count(*) FROM rm r2
        |       WHERE r2.mean_b < rm.mean_b OR (r2.mean_b = rm.mean_b AND r2.b < rm.b)) AS r
        |  FROM rm)
        |SELECT t.nt AS n_rows, t.mean_full AS mean_cents, CAST(60 AS BIGINT) AS b_reps, se.se2_c2,
        |  (SELECT mean_b FROM rk WHERE r = 2) AS lo_cents,
        |  (SELECT mean_b FROM rk WHERE r = 59) AS hi_cents
        |FROM tot t, se""".stripMargin,
    // x233: the definitional basket self-join with identical e6 folds.
    "x233_assoc_rules" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS o, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT count(DISTINCT o) AS n FROM ob),
        |ic AS (SELECT b, count(*) AS nb FROM ob GROUP BY 1),
        |pr AS (
        |  SELECT a.b AS b1, c.b AS b2, count(*) AS n_ab
        |  FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
        |  GROUP BY 1, 2)
        |SELECT b1 AS brand_a, b2 AS brand_b, n_ab,
        |  CAST((n_ab * 1000000) // i1.nb AS BIGINT) AS conf_ab_e6,
        |  CAST((n_ab * 1000000) // i2.nb AS BIGINT) AS conf_ba_e6,
        |  CAST((n_ab * n.n * 1000000) // (i1.nb * i2.nb) AS BIGINT) AS lift_e6
        |FROM pr
        |JOIN ic i1 ON pr.b1 = i1.b
        |JOIN ic i2 ON pr.b2 = i2.b
        |CROSS JOIN n
        |WHERE n_ab >= 10
        |ORDER BY brand_a, brand_b""".stripMargin,
    // x223: identical buckets, cleared-denominator areas in HUGEINT,
    // earlier-point tiebreak.
    "x223_lttb_downsample" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS pri, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mth,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |p AS (
        |  SELECT pri, mth, y,
        |    row_number() OVER (PARTITION BY pri ORDER BY mth) AS r,
        |    count(*) OVER (PARTITION BY pri) AS n
        |  FROM m),
        |q AS (
        |  SELECT pri, mth, y, r, n, least(16, n) AS beff, r - 1 AS x,
        |    CASE WHEN r = 1 THEN 0
        |         WHEN r = n THEN least(16, n) - 1
        |         ELSE (r - 2) * (least(16, n) - 2) // (n - 2) + 1 END AS bucket
        |  FROM p),
        |bs AS (SELECT pri, bucket, sum(x) AS sx, sum(y) AS sy, count(*) AS t FROM q GROUP BY 1, 2),
        |inter AS (
        |  SELECT q.pri, q.bucket, q.mth, q.y,
        |    abs(CAST(a.sx - a.t * q.x AS HUGEINT) * (b.sy - b.t * q.y) -
        |        CAST(b.sx - b.t * q.x AS HUGEINT) * (a.sy - a.t * q.y)) AS area,
        |    q.x
        |  FROM q
        |  JOIN bs a ON a.pri = q.pri AND a.bucket = q.bucket - 1
        |  JOIN bs b ON b.pri = q.pri AND b.bucket = q.bucket + 1
        |  WHERE q.bucket > 0 AND q.bucket < q.beff - 1),
        |sel AS (
        |  SELECT pri, bucket, mth, y,
        |    row_number() OVER (PARTITION BY pri, bucket ORDER BY area DESC, x) AS rk
        |  FROM inter)
        |SELECT pri, CAST(bucket AS BIGINT) AS bucket, mth, y FROM q
        |WHERE bucket = 0 OR bucket = beff - 1
        |UNION ALL SELECT pri, CAST(bucket AS BIGINT), mth, y FROM sel WHERE rk = 1
        |ORDER BY pri, bucket""".stripMargin,

    // x221: the full greedy search replayed — identical quantized
    // objective, identical argmax tiebreaks, child searches conditioned
    // on the root row via a CASE dispatch.
    "x221_tree_stump" ->
      """WITH b AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax,
        |    CAST((CAST(round(l_discount * 100) >= 6 AND l_quantity >= 25 AS INT) +
        |      CAST(('0x' || substr(md5(l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR || '#lab'), 1, 15))::BIGINT % 20 = 0 AS INT)) % 2 AS BIGINT) AS y
        |  FROM lineitem),
        |rc AS (
        |  SELECT 'qty' AS feature, qty AS v, count(*) AS t, sum(y) AS p FROM b GROUP BY 2
        |  UNION ALL SELECT 'disc', disc, count(*), sum(y) FROM b GROUP BY 2
        |  UNION ALL SELECT 'tax', tax, count(*), sum(y) FROM b GROUP BY 2),
        |rt AS (SELECT count(*) AS n, sum(y) AS pos FROM b),
        |rcum AS (
        |  SELECT feature, v,
        |    sum(t) OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
        |    sum(p) OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl
        |  FROM rc),
        |root AS (
        |  SELECT feature, v AS thr,
        |    CAST((CAST(pl AS HUGEINT)*pl + CAST(cl-pl AS HUGEINT)*(cl-pl)) * 1000000 // cl
        |      + (CAST(pos-pl AS HUGEINT)*(pos-pl) + CAST((n-cl)-(pos-pl) AS HUGEINT)*((n-cl)-(pos-pl))) * 1000000 // (n-cl) AS BIGINT) AS score
        |  FROM rcum, rt WHERE cl < n ORDER BY score DESC, feature, thr LIMIT 1),
        |bl AS (SELECT b.* FROM b, root WHERE (CASE root.feature WHEN 'qty' THEN qty WHEN 'disc' THEN disc ELSE tax END) <= root.thr),
        |br AS (SELECT b.* FROM b, root WHERE (CASE root.feature WHEN 'qty' THEN qty WHEN 'disc' THEN disc ELSE tax END) > root.thr),
        |lc AS (
        |  SELECT 'qty' AS feature, qty AS v, count(*) AS t, sum(y) AS p FROM bl GROUP BY 2
        |  UNION ALL SELECT 'disc', disc, count(*), sum(y) FROM bl GROUP BY 2
        |  UNION ALL SELECT 'tax', tax, count(*), sum(y) FROM bl GROUP BY 2),
        |lt AS (SELECT count(*) AS n, sum(y) AS pos FROM bl),
        |lcum AS (
        |  SELECT feature, v,
        |    sum(t) OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
        |    sum(p) OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl
        |  FROM lc),
        |lbest AS (
        |  SELECT feature, v AS thr,
        |    CAST((CAST(pl AS HUGEINT)*pl + CAST(cl-pl AS HUGEINT)*(cl-pl)) * 1000000 // cl
        |      + (CAST(pos-pl AS HUGEINT)*(pos-pl) + CAST((n-cl)-(pos-pl) AS HUGEINT)*((n-cl)-(pos-pl))) * 1000000 // (n-cl) AS BIGINT) AS score
        |  FROM lcum, lt WHERE cl < n ORDER BY score DESC, feature, thr LIMIT 1),
        |rrc AS (
        |  SELECT 'qty' AS feature, qty AS v, count(*) AS t, sum(y) AS p FROM br GROUP BY 2
        |  UNION ALL SELECT 'disc', disc, count(*), sum(y) FROM br GROUP BY 2
        |  UNION ALL SELECT 'tax', tax, count(*), sum(y) FROM br GROUP BY 2),
        |rrt AS (SELECT count(*) AS n, sum(y) AS pos FROM br),
        |rrcum AS (
        |  SELECT feature, v,
        |    sum(t) OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
        |    sum(p) OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl
        |  FROM rrc),
        |rbest AS (
        |  SELECT feature, v AS thr,
        |    CAST((CAST(pl AS HUGEINT)*pl + CAST(cl-pl AS HUGEINT)*(cl-pl)) * 1000000 // cl
        |      + (CAST(pos-pl AS HUGEINT)*(pos-pl) + CAST((n-cl)-(pos-pl) AS HUGEINT)*((n-cl)-(pos-pl))) * 1000000 // (n-cl) AS BIGINT) AS score
        |  FROM rrcum, rrt WHERE cl < n ORDER BY score DESC, feature, thr LIMIT 1),
        |lleaf AS (
        |  SELECT '2L' || CASE WHEN (CASE lbest.feature WHEN 'qty' THEN qty WHEN 'disc' THEN disc ELSE tax END) <= lbest.thr THEN 'L' ELSE 'R' END AS node,
        |    count(*) AS n, sum(y) AS n_pos
        |  FROM bl, lbest GROUP BY 1),
        |rleaf AS (
        |  SELECT '2R' || CASE WHEN (CASE rbest.feature WHEN 'qty' THEN qty WHEN 'disc' THEN disc ELSE tax END) <= rbest.thr THEN 'L' ELSE 'R' END AS node,
        |    count(*) AS n, sum(y) AS n_pos
        |  FROM br, rbest GROUP BY 1),
        |leaves AS (
        |  SELECT node, 'leaf' AS feature, CAST(-1 AS BIGINT) AS thr,
        |    CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
        |    CASE WHEN 2 * n_pos >= n THEN n_pos ELSE n - n_pos END * 1000000 // n AS metric_e6
        |  FROM (SELECT * FROM lleaf UNION ALL SELECT * FROM rleaf))
        |SELECT '0root' AS node, root.feature, root.thr, CAST(rt.n AS BIGINT) AS n,
        |  CAST(rt.pos AS BIGINT) AS n_pos, root.score AS metric_e6 FROM root, rt
        |UNION ALL SELECT '1L', lbest.feature, lbest.thr, CAST(lt.n AS BIGINT), CAST(lt.pos AS BIGINT), lbest.score FROM lbest, lt
        |UNION ALL SELECT '1R', rbest.feature, rbest.thr, CAST(rrt.n AS BIGINT), CAST(rrt.pos AS BIGINT), rbest.score FROM rbest, rrt
        |UNION ALL SELECT node, feature, thr, n, n_pos, CAST(metric_e6 AS BIGINT) FROM leaves
        |ORDER BY node""".stripMargin,

    // x220: plain-window cumulative replay + the same cross-multiplied
    // max fold in HUGEINT.
    "x220_ks_test" ->
      """WITH p AS (
        |  SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |c AS (
        |  SELECT v,
        |    sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS tr,
        |    sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS tn
        |  FROM p GROUP BY 1),
        |k AS (
        |  SELECT v,
        |    sum(tr) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
        |    sum(tn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
        |  FROM c),
        |t AS (SELECT CAST(max(cr) AS BIGINT) AS n1, CAST(max(cn) AS BIGINT) AS n2 FROM k),
        |g AS (
        |  SELECT v, cr, cn, n1, n2,
        |    abs(CAST(cr AS HUGEINT) * n2 - CAST(cn AS HUGEINT) * n1) AS gap
        |  FROM k, t)
        |SELECT n1, n2, v AS at_v,
        |  CAST(gap * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS d_e6,
        |  CAST(cr AS HUGEINT) * n2 > CAST(cn AS HUGEINT) * n1 AS r_leads
        |FROM g ORDER BY gap DESC, v LIMIT 1""".stripMargin,

    // x219: identical per-variable midrank censuses + the same cleared
    // ρ formula in HUGEINT.
    "x219_spearman" ->
      """WITH b AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) +
        |      ('0x' || substr(md5(l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR || '#sp'), 1, 15))::BIGINT
        |        % 2000001 - 1000000 AS jit,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax
        |  FROM lineitem),
        |rq AS (SELECT v AS price, 2 * (coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1) + t - 1 AS r_price
        |  FROM (SELECT price AS v, count(*) AS t FROM b GROUP BY 1)),
        |rp AS (SELECT v AS jit, 2 * (coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1) + t - 1 AS r_jit
        |  FROM (SELECT jit AS v, count(*) AS t FROM b GROUP BY 1)),
        |rd AS (SELECT v AS disc, 2 * (coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1) + t - 1 AS r_disc
        |  FROM (SELECT disc AS v, count(*) AS t FROM b GROUP BY 1)),
        |rt AS (SELECT v AS tax, 2 * (coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1) + t - 1 AS r_tax
        |  FROM (SELECT tax AS v, count(*) AS t FROM b GROUP BY 1)),
        |p1 AS (
        |  SELECT 'price_jitter' AS pair, count(*) AS n,
        |    sum(CAST(r_price - r_jit AS HUGEINT) * (r_price - r_jit)) AS s2
        |  FROM b JOIN rq USING (price) JOIN rp USING (jit)),
        |p2 AS (
        |  SELECT 'disc_tax' AS pair, count(*) AS n,
        |    sum(CAST(r_disc - r_tax AS HUGEINT) * (r_disc - r_tax)) AS s2
        |  FROM b JOIN rd USING (disc) JOIN rt USING (tax)),
        |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
        |SELECT pair, CAST(n AS BIGINT) AS n,
        |  CAST(1000000 - 3 * s2 * 1000000 // (CAST(2 AS HUGEINT) * n * (CAST(n AS HUGEINT) * n - 1)) AS BIGINT) AS rho_e6
        |FROM u ORDER BY pair""".stripMargin,

    // x215: identical census positions + the same exact Gini fold.
    "x215_gini_tokens" ->
      """WITH pd AS (
        |  SELECT source, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS v
        |  FROM documents),
        |u AS (SELECT source, v FROM pd UNION ALL SELECT '*', v FROM pd),
        |c AS (SELECT source, v, count(*) AS t FROM u GROUP BY 1, 2),
        |r AS (
        |  SELECT source, v, t,
        |    coalesce(sum(t) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS pos
        |  FROM c),
        |f AS (
        |  SELECT source, CAST(sum(t) AS BIGINT) AS n_docs,
        |    CAST(sum(v * t) AS BIGINT) AS total_tokens,
        |    CAST(sum(v * t * (2 * pos + t - 1)) AS BIGINT) AS two_six
        |  FROM r GROUP BY 1)
        |SELECT source, n_docs, total_tokens,
        |  CAST((CAST(two_six AS HUGEINT) - (n_docs + 1) * total_tokens) * 1000000
        |    // (n_docs * total_tokens) AS BIGINT) AS gini_e6
        |FROM f ORDER BY source""".stripMargin,

    // x214: identical value census → cumulative positions → 2× midrank
    // fold; HUGEINT carries the effect product.
    "x214_mannwhitney" ->
      """WITH p AS (
        |  SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |c AS (
        |  SELECT v, count(*) AS t,
        |    sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS t_r
        |  FROM p GROUP BY 1),
        |r AS (
        |  SELECT v, t, t_r,
        |    coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS pos
        |  FROM c),
        |f AS (
        |  SELECT CAST(sum(t_r) AS BIGINT) AS n1, CAST(sum(t - t_r) AS BIGINT) AS n2,
        |    CAST(sum(t_r * (2 * pos + t - 1)) AS BIGINT) AS r1_2x
        |  FROM r)
        |SELECT n1, n2, r1_2x, r1_2x - n1 * (n1 + 1) AS u1_2x,
        |  CAST(1000000 - CAST(r1_2x - n1 * (n1 + 1) AS HUGEINT) * 1000000 // (n1 * n2) AS BIGINT) AS rbc_e6
        |FROM f""".stripMargin,

    // x213: identical contingency + per-million marginal composition.
    "x213_cohens_kappa" ->
      """WITH c AS (
        |  SELECT len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 40 AS a,
        |    n_chars >= 250 AS b, count(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS agree,
        |    CAST(sum(CASE WHEN a THEN n ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(sum(CASE WHEN b THEN n ELSE 0 END) AS BIGINT) AS b1
        |  FROM c),
        |k AS (
        |  SELECT nn, agree * 1000000 // nn AS po_e6,
        |    ((a1 * 1000000 // nn) * (b1 * 1000000 // nn)) // 1000000 +
        |    (((nn - a1) * 1000000 // nn) * ((nn - b1) * 1000000 // nn)) // 1000000 AS pe_e6
        |  FROM t)
        |SELECT a, b, CAST(n AS BIGINT) AS n, nn, po_e6, pe_e6,
        |  CASE WHEN pe_e6 = 1000000 THEN 0
        |       ELSE (po_e6 - pe_e6) * 1000000 // (1000000 - pe_e6) END AS kappa_e6
        |FROM c, k ORDER BY a, b""".stripMargin,

    // x212: the identical running-max island replay.
    "x212_interval_merge" ->
      """WITH iv AS (
        |  SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS st,
        |    CAST(l_shipdate AS DATE) + (1 + CAST(l_quantity AS INT) % 14) AS en
        |  FROM lineitem),
        |f AS (
        |  SELECT k, st, en,
        |    max(en) OVER (PARTITION BY k ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |g AS (
        |  SELECT k, st, en,
        |    CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END AS opens
        |  FROM f),
        |h AS (
        |  SELECT k, st, en,
        |    sum(opens) OVER (PARTITION BY k ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM g),
        |i AS (
        |  SELECT k, island, min(st) AS i_st, max(en) AS i_en, count(*) AS n_iv
        |  FROM h GROUP BY 1, 2)
        |SELECT k, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
        |  count(*) AS n_islands,
        |  CAST(sum(date_diff('day', i_st, i_en) + 1) AS BIGINT) AS covered_days,
        |  CAST(max(date_diff('day', i_st, i_en) + 1) AS BIGINT) AS max_island_days
        |FROM i GROUP BY k ORDER BY k""".stripMargin,

    // x210: identical census + hardcoded published constants + the same
    // integer chi-square fold.
    "x210_benford" ->
      """WITH e(d, exp_e6) AS (VALUES (1, 301029), (2, 176091), (3, 124938), (4, 96910),
        |  (5, 79181), (6, 66946), (7, 57991), (8, 51152), (9, 45757)),
        |c AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d,
        |    count(*) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
        |r AS (
        |  SELECT c.d, c.n, n * 1000000 // nn AS obs_e6, CAST(exp_e6 AS BIGINT) AS exp_e6
        |  FROM c JOIN e ON e.d = c.d, t),
        |st AS (SELECT CAST(sum((obs_e6 - exp_e6) * (obs_e6 - exp_e6) // exp_e6) AS BIGINT) AS benford_stat FROM r)
        |SELECT d, n, obs_e6, exp_e6, benford_stat FROM r, st ORDER BY d""".stripMargin,

    // x205: the recurrence replayed as a recursive CTE — same truncating
    // integer division, same per-series month order.
    "x205_holt_smoothing" ->
      """WITH RECURSIVE y0 AS (
        |  SELECT o_orderpriority AS pri, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mth,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |y AS (SELECT pri, mth, y, row_number() OVER (PARTITION BY pri ORDER BY mth) AS r FROM y0),
        |h AS (
        |  SELECT pri, r, mth, y, y AS l, CAST(0 AS BIGINT) AS b FROM y WHERE r = 1
        |  UNION ALL
        |  SELECT y.pri, y.r, y.mth, y.y,
        |    (y.y + 3*(h.l + h.b)) // 4 AS l,
        |    ((y.y + 3*(h.l + h.b)) // 4 - h.l + 3*h.b) // 4 AS b
        |  FROM h JOIN y ON y.pri = h.pri AND y.r = h.r + 1)
        |SELECT pri, mth, y AS y_cents, l AS level_c, b AS trend_c, l + b AS forecast_c
        |FROM h ORDER BY pri, mth""".stripMargin,

    // x200: the definitional quadratic NOT EXISTS — fine at oracle SF,
    // exactly what the engine-side grid prune exists to avoid.
    "x200_skyline" ->
      """SELECT p_brand AS brand, p_partkey,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
        |  CAST(p_size AS BIGINT) AS size_v
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_brand = a.p_brand
        |    AND round(b.p_retailprice * 100) <= round(a.p_retailprice * 100)
        |    AND b.p_size <= a.p_size
        |    AND (round(b.p_retailprice * 100) < round(a.p_retailprice * 100)
        |         OR b.p_size < a.p_size))
        |ORDER BY p_partkey""".stripMargin,
    // x110: the same union-stream window replay — IGNORE NULLS navigation
    // plus the identical IEEE interpolation, e3-rounded.
    "x110_resample_gapfill" ->
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS t, max(value) AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id,
        |    min(t) + 21600000000 - 1 - ((min(t) + 21600000000 - 1) % 21600000000) AS gmin,
        |    max(t) - (max(t) % 21600000000) AS gmax
        |  FROM obs GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(gmin, gmax, 21600000000)) AS t
        |  FROM b WHERE gmin <= gmax),
        |u AS (
        |  SELECT user_id, t, v, 0 AS is_grid FROM obs
        |  UNION ALL SELECT user_id, t, NULL, 1 FROM grid),
        |w AS (
        |  SELECT user_id, t, is_grid,
        |    last_value(v IGNORE NULLS) OVER pw AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER pw AS pt,
        |    first_value(v IGNORE NULLS) OVER nw AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER nw AS nt
        |  FROM u
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY t, is_grid
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         nw AS (PARTITION BY user_id ORDER BY t, is_grid
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, t AS grid_us,
        |  CAST(round(CASE WHEN nt IS NULL THEN 1000 * pv
        |    ELSE 1000 * (pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))) END) AS BIGINT) AS value_e3
        |FROM w WHERE is_grid = 1 ORDER BY user_id, grid_us""".stripMargin,
    "q63_ntile_distribution" ->
      """WITH b AS (
        |  SELECT c_mktsegment AS seg, c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |w AS (
        |  SELECT seg, cents,
        |    CAST(ntile(4) OVER win AS BIGINT) AS quartile,
        |    CAST(floor(percent_rank() OVER win * 1e6) AS BIGINT) AS pr_e6,
        |    CAST(floor(cume_dist() OVER win * 1e6) AS BIGINT) AS cd_e6
        |  FROM b WINDOW win AS (PARTITION BY seg ORDER BY cents, c_custkey))
        |SELECT seg, quartile, count(*) AS n,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  min(pr_e6) AS pr_min_e6, max(cd_e6) AS cd_max_e6
        |FROM w GROUP BY seg, quartile ORDER BY seg, quartile""".stripMargin,
    "q64_ignore_nulls" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type <> 'view'
        |         THEN CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events),
        |w AS (
        |  SELECT user_id, cents,
        |    first_value(cents IGNORE NULLS) OVER win AS fc,
        |    nth_value(cents, 2 IGNORE NULLS) OVER win AS sc
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  max(fc) AS first_cents, max(sc) AS second_cents
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q65_bitwise_agg" ->
      """WITH t AS (SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS ql FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, bit_and(ql) AS b_and, bit_or(ql) AS b_or,
        |    bit_xor(ql) AS b_xor, count(*) AS n
        |  FROM t GROUP BY l_returnflag)
        |SELECT l_returnflag, b_and, b_or, b_xor,
        |  b_or & 255 AS or_low8, b_and << 2 AS and_shl2, n
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q66_median" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  median(CAST(round(o_totalprice * 100) AS BIGINT)) AS med_cents
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // x128: the same two-median chain; DuckDB median interpolates exactly
    // like ExactPercentile (q66/q27 precedent), and the outlier rule is
    // the identical integer cross-multiply.
    "x128_mad_outliers" ->
      """WITH t AS (
        |  SELECT o_orderpriority AS g,
        |    CASE WHEN o_orderkey % 997 = 0
        |         THEN CAST(round(o_totalprice * 100) AS BIGINT) * 25
        |         ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS c
        |  FROM orders),
        |m AS (SELECT g, median(c) AS med FROM t GROUP BY 1),
        |d AS (SELECT t.g, c, abs(c - med) AS dev, med FROM t JOIN m USING (g)),
        |md AS (SELECT g, median(dev) AS mad FROM d GROUP BY 1)
        |SELECT d.g, count(*) AS n,
        |  CAST(round(max(d.med) * 2) AS BIGINT) AS med2,
        |  CAST(round(max(md.mad) * 4) AS BIGINT) AS mad4,
        |  CAST(sum(CASE WHEN CAST(round(dev * 4) AS BIGINT) * 10000
        |                     > 51891 * CAST(round(md.mad * 4) AS BIGINT)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN CAST(round(dev * 4) AS BIGINT) * 10000
        |                     > 51891 * CAST(round(md.mad * 4) AS BIGINT)
        |           THEN c ELSE 0 END) AS BIGINT) AS outlier_cents
        |FROM d JOIN md USING (g)
        |GROUP BY d.g ORDER BY d.g""".stripMargin,
    // x129: boundaries replayed via quantile_cont at CAST(i AS DOUBLE)/16
    // (the x120 literal rule — 0.0625 would parse DECIMAL), bucket
    // assignment as the identical strictly-below boundary count, and the
    // same integer-floor estimator.
    "x129_equidepth_stats" ->
      """WITH t AS (
        |  SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |bs0 AS (
        |  SELECT g, quantile_cont(c, [0.0, 0.0625, 0.125, 0.1875, 0.25, 0.3125,
        |    0.375, 0.4375, 0.5, 0.5625, 0.625, 0.6875, 0.75, 0.8125, 0.875,
        |    0.9375, 1.0]) AS qs
        |  FROM t GROUP BY g),
        |bs AS (SELECT g, i, qs[i + 1] AS b FROM bs0, unnest(generate_series(0, 16)) u(i)),
        |bk AS (
        |  SELECT t.g, t.c,
        |    greatest(1, (SELECT count(*) FROM bs WHERE bs.g = t.g AND bs.b < t.c)) AS bucket
        |  FROM t),
        |hist AS (SELECT g, bucket, count(*) AS n_rows FROM bk GROUP BY 1, 2),
        |hb AS (
        |  SELECT h.g, h.bucket, h.n_rows,
        |    CAST(round(lo.b * 16) AS BIGINT) AS lo16,
        |    CAST(round(hi.b * 16) AS BIGINT) AS hi16
        |  FROM hist h
        |  JOIN bs lo ON lo.g = h.g AND lo.i = h.bucket - 1
        |  JOIN bs hi ON hi.g = h.g AND hi.i = h.bucket),
        |co AS (
        |  SELECT *, greatest(0, least(67200000, hi16) - greatest(24000000, lo16)) AS olap
        |  FROM hb),
        |ce AS (
        |  SELECT g, bucket, lo16, hi16, n_rows,
        |    CASE WHEN hi16 = lo16
        |         THEN CASE WHEN lo16 >= 24000000 AND lo16 < 67200000 THEN n_rows * 1000 ELSE 0 END
        |         ELSE (olap * 1000 * n_rows) // (hi16 - lo16) END AS contrib
        |  FROM co),
        |pg AS (SELECT g, CAST(sum(contrib) AS BIGINT) AS est_e3 FROM ce GROUP BY 1),
        |ac AS (SELECT g, count(*) AS actual_rows FROM t WHERE c >= 1500000 AND c < 4200000 GROUP BY 1)
        |SELECT ce.g, CAST(ce.bucket AS BIGINT) AS bucket, ce.lo16, ce.hi16, ce.n_rows,
        |  pg.est_e3, ac.actual_rows
        |FROM ce JOIN pg USING (g) JOIN ac USING (g)
        |ORDER BY g, bucket""".stripMargin,
    // x133: cumulative-weight window replay; targets written as
    // CAST(...)/4-style dyadic doubles (the x120 literal rule), min-x-
    // reaching-target ≡ the unique covering row.
    "x133_weighted_percentile" ->
      """WITH t AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem WHERE l_quantity > 0),
        |c AS (SELECT g, x, sum(w) AS cw FROM t GROUP BY 1, 2),
        |cc AS (
        |  SELECT g, x, cw, sum(cw) OVER (PARTITION BY g ORDER BY x) AS cum FROM c),
        |wt AS (SELECT g, CAST(sum(cw) AS BIGINT) AS w_total FROM c GROUP BY 1)
        |SELECT cc.g, max(w_total) AS w_total,
        |  min(CASE WHEN cum >= greatest(CAST(w_total AS DOUBLE) / 4, CAST(1 AS DOUBLE))
        |      THEN x END) AS wp25,
        |  min(CASE WHEN cum >= greatest(CAST(w_total AS DOUBLE) / 2, CAST(1 AS DOUBLE))
        |      THEN x END) AS wp50,
        |  min(CASE WHEN cum >= greatest(CAST(w_total AS DOUBLE) * 3 / 4, CAST(1 AS DOUBLE))
        |      THEN x END) AS wp75
        |FROM cc JOIN wt USING (g)
        |GROUP BY cc.g ORDER BY cc.g""".stripMargin,
    "q67_try_arith" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    l_extendedprice / nullif(l_quantity - 1, 0) AS ratio,
        |    ([CAST(round(l_quantity) AS BIGINT)])[l_linenumber] AS q1
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
        |  CAST(sum(CAST(floor(ratio * 100) AS BIGINT)) AS BIGINT) AS sum_ratio_c,
        |  count(q1) AS n_first_line,
        |  CAST(sum(q1) AS BIGINT) AS sum_q1
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q68_calendar_arith" ->
      """WITH t AS (
        |  SELECT strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS qtr,
        |    strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS wk,
        |    strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS ld,
        |    strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE), '%Y-%m-%d') AS p1m
        |  FROM orders)
        |SELECT qtr, count(*) AS n, count(DISTINCT wk) AS n_weeks,
        |  min(wk) AS wk_min, max(ld) AS ld_max, max(p1m) AS p1m_max
        |FROM t GROUP BY qtr ORDER BY qtr""".stripMargin,
    "q70_bool_aggs" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_quantity > 1.0 AS multi,
        |    l_discount > 0.05 AS disc, l_tax > 0.04 AS taxed
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n,
        |  bool_and(multi) AS all_multi, bool_or(disc) AS any_disc,
        |  CAST(count_if(taxed) AS BIGINT) AS n_taxed,
        |  CAST(count_if(multi AND disc) AS BIGINT) AS n_both
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q71_session_window" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us, value FROM events),
        |m AS (
        |  SELECT user_id, event_id, us, value,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, us, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin
  )
}
