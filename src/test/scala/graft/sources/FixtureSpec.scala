package graft.sources

import graft.TestSpark
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite

/** [[Fixture]]'s contract: marker-last publication, fingerprint-driven
  * rebuilds, and one build across threads and JVMs racing on one name. */
class FixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** a fixture name no earlier run has built; its tree is removed after `f` */
  private def withName(f: String => Unit): Unit = {
    val name = s"graft_fixture_spec/${java.util.UUID.randomUUID()}"
    try f(name)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(Fixture.dir(name)).getParentFile)
  }

  private def marker(dir: String): Path = Paths.get(dir, "src_key")

  test("a build that throws halfway leaves no marker; the next call rebuilds from scratch") {
    withName { name =>
      val dir = Fixture.dir(name)
      intercept[IllegalStateException] {
        Fixture(name, None, "v1") { d =>
          Files.writeString(Paths.get(d, "half"), "torn")
          throw new IllegalStateException("crash mid-build")
        }
      }
      assert(Files.exists(Paths.get(dir, "half")) && !Files.exists(marker(dir)))
      var runs = 0
      Fixture(name, None, "v1") { d => runs += 1; Files.writeString(Paths.get(d, "whole"), "ok") }
      assert(runs === 1)
      assert(Files.exists(marker(dir)) && Files.exists(Paths.get(dir, "whole")))
      assert(!Files.exists(Paths.get(dir, "half")), "the torn build's files survived the rebuild")
    }
  }

  test("a fresh call skips the body; a changed salt or source rebuilds") {
    spark
    withName { name =>
      var runs = 0
      def ensure(source: Option[String], salt: String): String = Fixture(name, source, salt)(_ => runs += 1)
      ensure(None, "a")
      ensure(None, "a")
      assert(runs === 1)
      ensure(None, "b")
      assert(runs === 2)
      val src = Files.createTempDirectory("fixture_spec").resolve("sfX")
      Files.createDirectories(src)
      Files.writeString(src.resolve("t.parquet"), "1")
      val dir = ensure(Some(src.toString), "a")
      assert(dir === s"${Fixture.root}/$name/sfX")
      ensure(Some(src.toString), "a")
      assert(runs === 3)
      Files.writeString(src.resolve("u.parquet"), "22") // the source listing changes
      ensure(Some(src.toString), "a")
      assert(runs === 4)
    }
  }

  test("two JVMs and two threads racing on one fixture build it once and all read it whole") {
    withName { name =>
      val scratch = Files.createTempDirectory("fixture_race")
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val child = new ProcessBuilder(
        javaBin, "-Xmx128m", "-cp", System.getProperty("java.class.path"),
        "graft.sources.FixtureRace", name, scratch.toString, "child"
      ).directory(new java.io.File(System.getProperty("user.dir"))).redirectErrorStream(true).start()
      val threads = (1 to 2).map { i =>
        val t = new Thread(() => FixtureRace.run(name, scratch, s"thread$i"))
        t.start(); t
      }
      threads.foreach(_.join(120000))
      val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
      assert(child.waitFor() === 0, out)
      assert(out.contains("complete"), out)
      assert(Files.readAllLines(scratch.resolve("builds")).size === 1, "the body ran more than once")
      assert((1 to 2).forall(i => Files.exists(scratch.resolve(s"complete-thread$i"))))
    }
  }

  test("a build under Fixture.holding keeps the held fixture from being rebuilt meanwhile") {
    withName { name =>
      val held = Fixture(name, None, "v1")(d => Files.writeString(Paths.get(d, "f"), "v1"))
      val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val holding = new java.util.concurrent.CountDownLatch(1)
      val reader = new Thread(() =>
        Fixture.holding(held) {
          holding.countDown()
          Thread.sleep(300)
          events.add(s"read ${Files.readString(Paths.get(held, "f"))}")
        })
      reader.start()
      holding.await()
      Fixture(name, None, "v2") { d => events.add("rebuild"); Files.writeString(Paths.get(d, "f"), "v2") }
      reader.join()
      assert(events.toArray.toList === List("read v1", "rebuild"))
    }
  }

  test("CowTable keeps one tree per source: A, then B, then A again builds twice, not three times") {
    val base = Files.createTempDirectory("fixture_cow")
    val (a, b) = (base.resolve("sfA"), base.resolve("sfB"))
    for (d <- Seq(a, b))
      spark.range(1, 3001).selectExpr("id AS o_orderkey", "id * 1.25 AS o_totalprice").write.parquet(s"$d/orders.parquet")
    def stamp(d: Path): Long = Files.getLastModifiedTime(marker(CowTable.dir(d.toString))).toMillis
    try {
      val dirA = CowTable.ensure(spark, a.toString)
      val first = stamp(a)
      val dirB = CowTable.ensure(spark, b.toString)
      assert(dirA !== dirB)
      assert(CowTable.ensure(spark, a.toString) === dirA)
      assert(stamp(a) === first, "switching sources rebuilt the first source's tree")
      assert(CowTable.read(spark, 3, dirA).count() === CowTable.read(spark, 3, dirB).count())
      // a clone over A builds holding A's lock and reads A's files
      val clone = CowTable.ensureClone(spark, a.toString)
      assert(clone === CowTable.cloneDir(a.toString))
      assert(CowTable.read(spark, 1, clone).count() === CowTable.read(spark, 2, dirA).count())
    } finally for (d <- Seq(a, b); dir <- Seq(CowTable.dir(d.toString), CowTable.cloneDir(d.toString)); f <- Seq("", ".lock"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir + f))
  }
}

/** One contender in the race above, runnable in-process or as a main in
  * a second JVM: announce readiness, ensure the fixture, then check the
  * directory is whole. The body waits until all three contenders are at
  * the lock, so the losers really block on a build in progress. */
object FixtureRace {
  val Contenders = 3
  val Parts = 8

  def run(name: String, scratch: Path, who: String): Unit = {
    Files.writeString(scratch.resolve(s"ready-$who"), who)
    val dir = Fixture(name, None, "race") { d =>
      Files.writeString(scratch.resolve("builds"), s"$who\n", StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      val deadline = System.currentTimeMillis() + 60000
      def ready = Files.list(scratch).filter(_.getFileName.toString.startsWith("ready-")).count()
      while (ready < Contenders && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      (0 until Parts).foreach { i =>
        Files.writeString(Paths.get(d, s"part-$i"), s"$i")
        Thread.sleep(20)
      }
    }
    val whole = (0 until Parts).forall(i => Files.readString(Paths.get(dir, s"part-$i")) == s"$i")
    require(whole, s"$who read a partial fixture")
    Files.writeString(scratch.resolve(s"complete-$who"), who)
  }

  def main(args: Array[String]): Unit = {
    run(args(0), Paths.get(args(1)), args(2))
    println("complete")
  }
}
