package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JobCounter
import org.scalatest.funsuite.AnyFunSuite

class IterateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def start: DataFrame = (1 to 8).toDF("v").localCheckpoint()

  /** shuffle-free, so each checkpoint of it is exactly one job */
  private def inc(df: DataFrame, i: Int): DataFrame = df.select((col("v") + i).as("v"))

  private def rddId(df: DataFrame): Int =
    df.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))

  private def values(df: DataFrame): Seq[Int] = df.as[Int].collect().toSeq.sorted

  test("every = 2 checkpoints after rounds 2, 4 and 5; every = 1 after each of 5") {
    val init = start
    val (two, jobsTwo) = JobCounter(spark)(Iterate(init, 1 to 5, every = 2)(inc))
    val (one, jobsOne) = JobCounter(spark)(Iterate(init, 1 to 5)(inc))
    assert(jobsTwo === 3)
    assert(jobsOne === 5)
    assert(values(two) === (16 to 23))
    assert(values(one) === values(two))
  }

  test("replaced states are freed; init and the result stay readable") {
    val init = start
    var stepped = Seq.empty[DataFrame]
    val out = Iterate(init, 1 to 4) { (df, i) => stepped :+= df; inc(df, i) }
    val replaced = stepped.tail // rounds 1-3's checkpoints, each replaced by the next
    assert(stepped.head eq init)
    assert(replaced.map(rddId).distinct.size === 3)
    assert(replaced.forall(!persisted(_)))
    assert(persisted(init) && persisted(out))
    assert(values(init) === (1 to 8))
    assert(values(out) === (11 to 18))
  }

  test("untilStable on a 6-vertex path stops on the first unchanged round") {
    val edges = Seq(1 -> 2, 2 -> 3, 3 -> 4, 4 -> 5, 5 -> 6)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .toDF("src", "dst")
      .localCheckpoint()
    var rounds = 0
    val out = Iterate.untilStable((1 to 6).toDF("v").withColumn("lbl", col("v"))) { prev =>
      rounds += 1
      val lb = prev.select("v", "lbl")
      val nbrMin = edges
        .join(lb.select(col("v").as("dst"), col("lbl").as("dlbl")), "dst")
        .groupBy(col("src").as("v"))
        .agg(min("dlbl").as("nl"))
      lb.join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("lbl"), col("nl")).as("lbl"), col("lbl").as("old"))
    }(next => next.where(col("lbl") =!= col("old")).limit(1).count() > 0)
    // vertex 6 takes label 1 in round 5; round 6 changes nothing
    assert(rounds === 6)
    assert(values(out.select("lbl")) === Seq.fill(6)(1))
  }

  test("only Iterate and the bridge reach a checkpoint's blocks") {
    val offenders = TestSpark.spelledOutside("checkpointRdd" + "(", "Iterate.scala", "bridge.scala")
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
