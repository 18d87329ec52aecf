package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.{BeforeAndAfterAll, Suite}
import scala.jdk.CollectionConverters._

/** One shared local session for the whole forked test JVM (never stopped —
  * the fork exits after the run). */
object TestSpark {
  lazy val spark: SparkSession = Graft.session("graft-test", "4")

  /** Write small fixture tables as parquet so `(spark, dir) => DataFrame`
    * queries can run against synthetic inputs. Every one lives under one
    * per-JVM parent that is removed when the JVM exits. */
  def tempDir(): String =
    java.nio.file.Files.createTempDirectory(tempRoot, "graft-test").toString

  private lazy val tempRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-suite")
    sys.addShutdownHook(FileUtils.deleteQuietly(d.toFile))
    d
  }

  /** `file:line: text` of every occurrence of `needle` in the Scala
    * sources under src/main and src/test, except in files named in
    * `except`: the guards that keep a literal spelt in one place. */
  def spelledOutside(needle: String, except: String*): Seq[String] =
    matchesOutside(Seq("src/main", "src/test"), java.util.regex.Pattern.quote(needle).r, except)

  /** `file:line: text` of every match of `pattern` (which may span lines)
    * in the Scala sources under `tops`, except in files named in `except`. */
  def matchesOutside(tops: Seq[String], pattern: scala.util.matching.Regex, except: Seq[String]): Seq[String] = {
    def sources(top: String) =
      java.nio.file.Files.walk(java.nio.file.Paths.get(top)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    for {
      file <- tops.flatMap(sources)
      if !except.contains(file.getFileName.toString)
      text = java.nio.file.Files.readString(file)
      m <- pattern.findAllMatchIn(text)
      line = text.substring(0, m.start).count(_ == '\n')
    } yield s"$file:${line + 1}: ${text.linesIterator.drop(line).next().trim}"
  }

  def writeTable(dir: String, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Delete `src` and every fixture built from it: a fixture keyed by a
    * source lives at `<root>/<name>/<basename of src>` (names nest at most
    * two deep, e.g. `graft_ivf/n8_i3`), beside its `.lock`. */
  def dropFixtures(src: String): Unit = {
    val base = new java.io.File(src).getName
    val root = java.nio.file.Paths.get(graft.sources.Fixture.root)
    if (java.nio.file.Files.isDirectory(root)) {
      val hits = java.nio.file.Files.find(
        root,
        3,
        (p, _) => p.getFileName.toString == base || p.getFileName.toString == s"$base.lock"
      )
      try hits.iterator().asScala.toList.foreach(p => FileUtils.deleteQuietly(p.toFile))
      finally hits.close()
    }
    FileUtils.deleteQuietly(new java.io.File(src))
  }
}

/** A suite whose queries build fixtures from temporary sources: every
  * [[tempSource]] is removed after the suite together with the fixtures
  * built from it, so runs leave nothing behind under the fixture root. */
trait TempSources extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def tempSource(): String = {
    val d = TestSpark.tempDir()
    made.add(d)
    d
  }

  /** A [[tempSource]] holding a copy of `table` from the source dir `sf`. */
  def tempCopy(sf: String, table: String): String = {
    val d = tempSource()
    FileUtils.copyToDirectory(new java.io.File(s"$sf/$table.parquet"), new java.io.File(d))
    d
  }

  override def afterAll(): Unit =
    try made.forEach(d => TestSpark.dropFixtures(d))
    finally super.afterAll()
}
