package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** x284 — the level-wise histogram CART trainer must recover planted
  * concepts, stop on pure nodes, break score ties deterministically, and
  * route out-of-range eval rows through the bin clamp. Since r11 the rows
  * stay WIDE (b0..b{F−1} columns, labels riding) — the histogram parity
  * test at the bottom pins the wide stack() census against a hand-built
  * long-form census, the cells the split scores are a pure function of.
  */
class CartTreeSpec extends AnyFunSuite {

  private lazy val s = TestSpark.spark
  import s.implicits._

  /** (k, y, split, v0, v1) wide rows → binned via train ranges. */
  private def binned2(rows: Seq[(Long, Long, Long, Long, Long)]) =
    CartTree.bin(rows.toDF("k", "y", "split", "v0", "v1"), 2, col("split") === 0)

  /** single-feature variant. */
  private def binned1(rows: Seq[(Long, Long, Long, Long)]) =
    CartTree.bin(rows.toDF("k", "y", "split", "v0"), 1, col("split") === 0)

  test("planted threshold concept: root splits on the informative feature, holdout is perfect") {
    // y = v0 >= 500; v1 is hash noise. 16 bins over [0, 999] put the
    // boundary exactly at bin 8, so one split separates perfectly.
    val rows = (0L until 400L).map { k =>
      val v0 = (k * 37 + 11) % 1000
      val y = if (v0 >= 500) 1L else 0L
      (k, y, k % 2, v0, (k * 91 + 3) % 17)
    }
    val b = binned2(rows).localCheckpoint()
    val (splits, trainNodes) = CartTree.train(b.where(col("split") === 0), 2, depth = 3)
    val root = splits.where(col("level") === 0).collect()
    assert(root.length == 1)
    assert(root(0).getAs[Long]("f") == 0L, "root must pick the informative feature")
    assert(root(0).getAs[Long]("thr") == 7L, "boundary bin: v<500 -> bins 0..7")
    // perfect holdout accuracy through apply() — labels ride the wide rows
    val leaves = trainNodes
      .groupBy("node")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
      .withColumn("pred", (col("pos") * 2 >= col("n")).cast("long"))
    val ev = CartTree
      .apply(b.where(col("split") === 1), 2, splits, depth = 3)
      .join(leaves.select("node", "pred"), "node")
    assert(ev.where(col("pred") =!= col("y")).count() == 0)
  }

  test("pure node: all-positive input trains no splits, a single root leaf") {
    val rows = (0L until 50L).map(k => (k, 1L, 0L, k % 30))
    val b = binned1(rows)
    val (splits, nodes) = CartTree.train(b, 1, depth = 3)
    assert(splits.count() == 0)
    assert(nodes.select("node").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("score ties break to the lower feature then lower bin") {
    // two IDENTICAL informative features: f=0 must win the argmax
    val rows = (0L until 200L).map { k =>
      val v = (k * 13 + 5) % 100
      val y = if (v >= 50) 1L else 0L
      (k, y, 0L, v, v)
    }
    val (splits, _) = CartTree.train(binned2(rows), 2, depth = 1)
    val root = splits.collect()
    assert(root.length == 1 && root(0).getAs[Long]("f") == 0L)
  }

  test("conjunction concept needs depth 2 and gets it exactly") {
    // y = (a >= 50) AND (b >= 50): greedy gini has positive root gain on
    // both features and resolves exactly with two levels. (XOR, by
    // contrast, has ZERO root gain everywhere — the classic greedy-CART
    // blind spot — so it is deliberately NOT the fixture here.)
    val rows = (0L until 400L).map { k =>
      val a = (k * 37 + 1) % 100
      val b0 = (k * 61 + 7) % 100
      val y = if (a >= 50 && b0 >= 50) 1L else 0L
      (k, y, k % 2, a, b0)
    }
    val b = binned2(rows).localCheckpoint()
    val (splits, trainNodes) = CartTree.train(b.where(col("split") === 0), 2, depth = 2)
    val leaves = trainNodes
      .groupBy("node")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
      .withColumn("pred", (col("pos") * 2 >= col("n")).cast("long"))
    val ev = CartTree
      .apply(b.where(col("split") === 1), 2, splits, depth = 2)
      .join(leaves.select("node", "pred"), "node")
    assert(ev.where(col("pred") =!= col("y")).count() == 0, "depth-2 tree must solve the conjunction exactly")
  }

  test("bagging (x285 shape): bootstraps are deterministic and replayable, majority vote is exact") {
    // the md5-bucket bootstrap must be replayable from the driver-side twin
    val ks = (0L until 300L)
    val df = ks.map(k => Tuple1(k)).toDF("k")
    for (t <- 0 until 3) {
      val engine = df
        .where(graft.functions.Hashing.md5Bucket(concat(col("k").cast("string"), lit(s"#rf$t")), 3L) < 2)
        .collect()
        .map(_.getLong(0))
        .toSet
      val twin = ks.filter(k => graft.functions.Hashing.md5BucketOf(s"$k#rf$t", 3L) < 2).toSet
      assert(engine == twin, s"bootstrap $t diverges from the driver twin")
      assert(engine.size > 150 && engine.size < 250, s"~2/3 sample expected, got ${engine.size}")
    }
    // the three bootstraps are distinct (different trees see different data)
    val sets = (0 until 3).map(t => ks.filter(k => graft.functions.Hashing.md5BucketOf(s"$k#rf$t", 3L) < 2).toSet)
    assert(sets.distinct.size == 3)
    // majority vote algebra: pv = (p0+p1+p2 >= 2) over all 8 combinations
    for (p0 <- 0 to 1; p1 <- 0 to 1; p2 <- 0 to 1) {
      val expected = if (p0 + p1 + p2 >= 2) 1L else 0L
      val got = Seq((p0.toLong, p1.toLong, p2.toLong))
        .toDF("pred0", "pred1", "pred2")
        .withColumn("pv", ((col("pred0") + col("pred1") + col("pred2")) >= 2).cast("long"))
        .collect()(0)
        .getAs[Long]("pv")
      assert(got == expected)
    }
  }

  test("boosting (x287 shape): regression rounds monotonically cut train MSE and solve a planted step") {
    // v0 = k exactly covers [0, 999], so the 16-bin grid puts the planted
    // boundary 500 ON a bin edge (a straddling bin would leave residual
    // the tree cannot separate — a binning artifact, not a trainer bug)
    val rows = (0L until 1000L).map { k =>
      val v0 = k % 1000
      val y = if (v0 >= 500) 1L else 0L
      (k, y, 0L, v0, (k * 91 + 3) % 17)
    }
    val b = binned2(rows).localCheckpoint()
    var scores = b.withColumn("target", col("y") * 1000000L).withColumn("sc", lit(0L))
    var prevMse = Long.MaxValue
    for (r <- 0 until 3) {
      val withRes = scores.withColumn("res", col("target") - col("sc"))
      val (splits, nodes) = CartTree.trainReg(withRes, 2, depth = 2)
      if (r == 0)
        assert(splits.where(col("level") === 0).collect()(0).getAs[Long]("f") == 0L, "root on the signal")
      val lv = nodes
        .groupBy("node")
        .agg(count(lit(1)).as("n"), sum("res").as("sres"))
        .withColumn("value", expr(Prefix.floorDiv("sres", "n * 2")))
      scores = nodes
        .join(broadcast(lv.select("node", "value")), "node")
        .withColumn("sc", col("sc") + col("value"))
        .drop("node", "value", "res")
        .localCheckpoint()
      val mse = scores
        .agg((sum(expr("CAST(target - sc AS DECIMAL(38,0)) * (target - sc)")) / count(lit(1))).cast("long").as("m"))
        .collect()(0)
        .getLong(0)
      assert(mse < prevMse, s"round $r: MSE $mse did not drop below $prevMse")
      prevMse = mse
    }
    // the planted step concept is separable: boosted scores threshold cleanly
    val wrong = scores.where(((col("sc") >= 500000L).cast("long") * 1000000L) =!= col("target")).count()
    assert(wrong == 0, s"$wrong rows misclassified on a separable planted step")
  }

  test("eval rows outside the train range clamp into the edge bins") {
    val train = (0L until 100L).map(k => (k, if (k % 100 >= 50) 1L else 0L, 0L, k % 100))
    val eval = Seq((1000L, 1L, 1L, 5000L), (1001L, 0L, 1L, -5000L))
    val b = binned1(train ++ eval).localCheckpoint()
    val (splits, _) = CartTree.train(b.where(col("split") === 0), 1, depth = 1)
    val routed = CartTree.apply(b.where(col("split") === 1), 1, splits, depth = 1).select("k", "node").collect()
    val byK = routed.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byK(1000L) == 3L, "v≫max clamps to bin 15 → right child")
    assert(byK(1001L) == 2L, "v≪min clamps to bin 0 → left child")
  }

  test("wide stack() census parity: the histogram cells equal a hand-built long-form census") {
    // the split scores are a pure function of the (node,f,bin)→(cnt,pos)
    // cells; pinning cell parity pins the whole trainer equivalence
    val rows = (0L until 500L).map { k =>
      val v0 = (k * 37 + 11) % 1000
      val v1 = (k * 91 + 3) % 17
      val y = if ((v0 + v1) % 3 == 0) 1L else 0L
      (k, y, 0L, v0, v1)
    }
    val wide = binned2(rows).localCheckpoint()
    val wideCensus = wide
      .select(col("y"), expr("stack(2, CAST(0 AS BIGINT), b0, CAST(1 AS BIGINT), b1) AS (f, bin)"))
      .groupBy("f", "bin")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val longCensus = wide
      .select("y", "b0", "b1")
      .collect()
      .flatMap(r => Seq((0L, r.getLong(1), r.getLong(0)), (1L, r.getLong(2), r.getLong(0))))
      .groupBy(t => (t._1, t._2))
      .map { case (fb, ts) => fb -> (ts.length.toLong, ts.map(_._3).sum) }
    assert(wideCensus == longCensus, "wide stack() census must equal the long-form census cell for cell")
  }
}
