package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** CART decision-tree trainer by LEVEL-WISE distributed histogram splits
  * (x284) — the tree member of the classifier family (x164 counts, x179
  * solves, x228 descends; this one PARTITIONS): the production
  * gradient-boosting building block, trained the way every distributed
  * tree library actually works at scale (Spark MLlib / XGBoost-hist /
  * LightGBM): one histogram pass per LEVEL over binned features, never a
  * pass per node, never per-row sorting.
  *
  * Determinism discipline (the x221/x228 quantized-objective rule):
  * integer end to end, replayable bit-exactly in DuckDB —
  *   - binning: fixed-width integer bins from TRAIN min/max,
  *     bin = ⌊(v − mn)·B / (mx − mn + 1)⌋ posmod-floor, eval rows clamped
  *     into [0, B−1];
  *   - split score: minimizing weighted Gini ⟺ maximizing
  *     S = (pL² + (nL−pL)²)·nR + (pR² + (nR−pR)²)·nL — the cross-
  *     multiplied common-denominator form, carried in DECIMAL(38,0)
  *     (S ~ n³: the x179/x181/x228 quadratic-fold discipline, one power
  *     worse);
  *   - argmax per node: the (S desc, feature asc, bin asc) total order;
  *   - candidates: thresholds at PRESENT bins with both sides non-empty;
  *     pure nodes (all-pos / all-neg) stop splitting.
  *
  * Layout (r11 optimization): rows stay WIDE — one row per example with
  * its F binned features as columns b0..b{F−1} and the label/residual and
  * the running `node` assignment riding alongside. The per-level histogram
  * is built by stack()ing the bin columns straight into ONE map-side-
  * combinable aggregation (output ≤ nodes·F·B cells — bounded regardless
  * of corpus size), and the node update is a BROADCAST join of the ≤2^level
  * split table plus a CASE-over-bin-columns projection. The previous long
  * layout (one row per (example, feature)) paid, per level, a full-data
  * shuffle join of the 4×-exploded feature table against the node table
  * plus a second full-data shuffle join on (k, f) for the routing update —
  * both gone; the only shuffle left per level is the bounded histogram
  * aggregation itself. Same census cells → same split scores → the same
  * tree, bit for bit (gate rows x284/x285/x287/x298 hash-pinned).
  */
object CartTree {

  val Bins = 16L

  /** Bin wide rows carrying long feature columns v0..v{nF−1} against
    * per-feature min/max computed over the rows matching `trainPred`
    * (eval rows clamp into [0, B−1]): adds bin columns b0..b{nF−1}.
    * The range table is ONE row (2·F cells), attached by broadcast.
    */
  def bin(df: DataFrame, nF: Int, trainPred: Column): DataFrame = {
    val aggs = (0 until nF).flatMap(i => Seq(min(col(s"v$i")).as(s"mn$i"), max(col(s"v$i")).as(s"mx$i")))
    val ranges = df.where(trainPred).agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(ranges))
    val binned = (0 until nF).foldLeft(joined) { (acc, i) =>
      acc.withColumn(
        s"b$i",
        least(
          greatest(expr(Prefix.floorDiv(s"(v$i - mn$i) * $Bins", s"mx$i - mn$i + 1")), lit(0L)),
          lit(Bins - 1)
        )
      )
    }
    binned.drop((0 until nF).flatMap(i => Seq(s"mn$i", s"mx$i")): _*)
  }

  /** stack(F, 0, b0, 1, b1, ...) AS (f, bin) — the census exploder. */
  private def stacked(nF: Int): Column =
    expr("stack(" + nF + ", " + (0 until nF).map(i => s"CAST($i AS BIGINT), b$i").mkString(", ") + ") AS (f, bin)")

  /** CASE f WHEN i THEN b_i — picks the split feature's bin at route time. */
  private def binOf(nF: Int): Column =
    (0 until nF).foldLeft(lit(null).cast("long")) { (acc, i) =>
      when(col("f") === i.toLong, col(s"b$i")).otherwise(acc)
    }

  /** One routing step: broadcast the level's ≤2^level split rows onto the
    * wide frame and descend node → 2·node(+1). Pure projection, no shuffle.
    */
  private def route(cur: DataFrame, lvl: DataFrame, nF: Int): DataFrame =
    cur
      .join(broadcast(lvl.select("node", "f", "thr")), Seq("node"), "left")
      .withColumn(
        "node",
        when(col("f").isNull, col("node"))
          .otherwise(col("node") * 2 + when(binOf(nF) > col("thr"), 1L).otherwise(0L))
      )
      .drop("f", "thr")

  /** Train a depth-`depth` classification tree over wide binned rows
    * (y∈{0,1}, b0..b{nF−1}, any other columns riding). Returns the split
    * table (level, node, f, thr) and the input rows with their final
    * `node` assignment attached (labels ride — leaf censuses need no join).
    */
  def train(wide: DataFrame, nF: Int, depth: Int): (DataFrame, DataFrame) =
    levels(wide, nF, depth, "y", col("stot") > 0 && col("stot") < col("tot"),
      "(CAST(sL AS DECIMAL(38,0)) * sL + CAST(nL - sL AS DECIMAL(38,0)) * (nL - sL)) * nR + " +
        "(CAST(sR AS DECIMAL(38,0)) * sR + CAST(nR - sR AS DECIMAL(38,0)) * (nR - sR)) * nL")

  /** Regression variant (x287): wide rows carry an integer residual `res`
    * instead of a binary label; splits maximize the variance-reduction
    * cross-product S = sumL²·nR + sumR²·nL (DECIMAL(38,0) — sum² ~ n²·1e12
    * at e6 residual scale). No purity stop (a constant-residual node just
    * ties deterministically); both sides non-empty.
    */
  def trainReg(wide: DataFrame, nF: Int, depth: Int): (DataFrame, DataFrame) =
    levels(wide, nF, depth, "res", lit(true), "CAST(sL AS DECIMAL(38,0)) * sL * nR + CAST(sR AS DECIMAL(38,0)) * sR * nL")

  /** The level-wise trainer both tree kinds share: census of `target` per
    * (node, f, bin) → cumulative left-side windows (nL, sL; totals tot,
    * stot; right side nR, sR) → candidates with both sides non-empty and
    * `splittable` → `score` → per-node argmax → split table → route.
    */
  private def levels(wide: DataFrame, nF: Int, depth: Int, target: String, splittable: Column, score: String)
      : (DataFrame, DataFrame) = {
    val spark = wide.sparkSession
    import spark.implicits._
    var cur = wide.withColumn("node", lit(1L))
    var splits = Seq.empty[(Long, Long, Long, Long)].toDF("level", "node", "f", "thr")
    for (t <- 0 until depth) {
      val census = cur
        .select(col("node"), col(target), stacked(nF))
        .groupBy("node", "f", "bin")
        .agg(count(lit(1)).as("cnt"), sum(target).as("sy")) // bounded: ≤ nodes·F·B cells
      val wNf = Window.partitionBy("node", "f").orderBy("bin")
      val cand = census
        .withColumn("nL", sum("cnt").over(wNf))
        .withColumn("sL", sum("sy").over(wNf))
        .withColumn("tot", sum("cnt").over(Window.partitionBy("node", "f")))
        .withColumn("stot", sum("sy").over(Window.partitionBy("node", "f")))
        .where(col("nL") > 0 && col("nL") < col("tot") && splittable)
        .withColumn("nR", col("tot") - col("nL"))
        .withColumn("sR", col("stot") - col("sL"))
        .withColumn("s", expr(score))
      val best = cand
        .withColumn(
          "rn",
          row_number().over(Window.partitionBy("node").orderBy(col("s").desc, col("f").asc, col("bin").asc))
        )
        .where(col("rn") === 1)
        .select(lit(t.toLong).as("level"), col("node"), col("f"), col("bin").as("thr"))
        .localCheckpoint() // ≤ 2^level rows
      splits = splits.unionByName(best).localCheckpoint()
      cur = route(cur, best, nF)
    }
    (splits, cur)
  }

  /** Route wide binned rows through a trained split table: the per-level
    * broadcast+CASE chain — zero shuffles. Returns the rows with `node`.
    */
  def apply(wide: DataFrame, nF: Int, splits: DataFrame, depth: Int): DataFrame =
    (0 until depth).foldLeft(wide.withColumn("node", lit(1L))) { (cur, t) =>
      route(cur, splits.where(col("level") === t), nF)
    }
}
