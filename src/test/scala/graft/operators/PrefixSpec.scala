package graft.operators

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JobCounter
import org.scalatest.funsuite.AnyFunSuite

/** `Prefix.exclusive` against the plain single-task window it replaces,
  * and `Prefix.nearestRank` against a driver-side sort. */
class PrefixSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (g, k, w1, w2): k unique within g and negative-capable; part "solo"
    * holds one row. */
  private def randomRows(seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = for {
      g <- Seq("a", "b", "c")
      k <- rnd.shuffle((-300L to 300L).toList).take(120)
    } yield (g, k, rnd.nextInt(50).toLong, rnd.nextInt(7).toLong - 3L)
    (rows :+ (("solo", 5L, 9L, 4L))).toDF("g", "k", "w1", "w2")
  }

  private def bucketed(df: DataFrame): DataFrame = df.withColumn("bk", expr(Prefix.floorDiv("k", "16")))

  /** the reference: one window over the whole part, rows before this one */
  private def reference(df: DataFrame, part: Seq[String], order: Seq[Column], sums: (Column, String)*): DataFrame = {
    val w = Window.partitionBy(part.map(col): _*).orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
    df.select(df.columns.map(col) ++ sums.map { case (x, out) => coalesce(sum(x).over(w), lit(0L)).as(out) }: _*)
  }

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  test("matches the single-partition window with and without a part, negative keys, two weights") {
    for (seed <- 1L to 3L) {
      val df = bucketed(randomRows(seed))
      val sums = Seq(col("w1") -> "s1", col("w2") -> "s2")
      for (part <- Seq(Nil, Seq("g"))) {
        val got = Prefix.exclusive(df, part, "bk", Seq(col("k")))(sums: _*)
        val want = reference(df, part, Seq(col("k")), sums: _*)
        val cols = Seq("g", "k", "s1", "s2")
        assert(rows(got, cols: _*) === rows(want, cols: _*), s"seed $seed part $part")
        assert(got.columns.toSeq === df.columns.toSeq ++ Seq("s1", "s2"))
      }
      val solo = Prefix.exclusive(df, Seq("g"), "bk", Seq(col("k")))(col("w1") -> "s1").where(col("g") === "solo")
      assert(rows(solo, "k", "s1") === Seq("5|0"), "a one-row part starts at 0, not null")
    }
  }

  test("a string prefix bucket ranks words in binary order") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Seq.fill(300)(Seq.fill(1 + rnd.nextInt(4))(('a' + rnd.nextInt(5)).toChar).mkString).distinct
    val df = words.toDF("word").withColumn("bk", substring(col("word"), 1, 2))
    val got = Prefix.exclusive(df, Nil, "bk", Seq(col("word")))(lit(1L) -> "code")
    assert(rows(got, "word", "code") === rows(words.sorted.zipWithIndex.toDF("word", "code"), "word", "code"))
  }

  test("an empty input gives an empty frame") {
    val df = bucketed(randomRows(1)).where(lit(false))
    assert(Prefix.exclusive(df, Seq("g"), "bk", Seq(col("k")))(col("w1") -> "s1").count() === 0L)
  }

  test("building the frame runs no Spark job") {
    val df = bucketed(randomRows(2))
    val (_, jobs) = JobCounter(spark)(Prefix.exclusive(df, Seq("g"), "bk", Seq(col("k")))(col("w1") -> "s1"))
    assert(jobs === 0)
  }

  test("nearestRank picks the driver-side nearest-rank value on a census with ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val values = Seq.fill(401)(rnd.nextInt(60).toLong - 20L)
    val census = values
      .toDF("v")
      .groupBy("v")
      .agg(count(lit(1)).as("t"))
      .withColumn("bk", expr(Prefix.floorDiv("v", "8")))
    val pos = Prefix.exclusive(census, Nil, "bk", Seq(col("v")))(col("t") -> "cum").withColumn("n", lit(values.size.toLong))
    val sorted = values.sorted
    for (p <- Seq(0, 50, 99, 100)) {
      val picked = pos.where(Prefix.nearestRank("cum", "t", "n", p)).select("v").as[Long].collect().toSeq
      assert(picked === Seq(sorted(((values.size - 1) * p) / 100)), s"p = $p")
    }
  }

  test("the posmod-floor division is spelt once per dialect, in Prefix") {
    val offenders = TestSpark.spelledOutside("% (" + "$", "Prefix.scala")
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
