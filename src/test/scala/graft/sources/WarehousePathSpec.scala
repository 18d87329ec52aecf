package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every path under the fixture root comes from [[Fixture]]: the warehouse
  * directory's name appears in no other source file, so no code writes to
  * a fixed checkout path and no oracle reads one. */
class WarehousePathSpec extends AnyFunSuite {
  test("the warehouse directory's name appears only in Fixture.scala") {
    val needle = "spark" + "-warehouse"
    def sources(top: String): Seq[Path] =
      Files.walk(Paths.get(top)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val offenders = for {
      file <- sources("src/main") ++ sources("src/test")
      if file.getFileName.toString != "Fixture.scala"
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if line.contains(needle)
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
