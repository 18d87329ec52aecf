package graft.sources

import graft.TestSpark
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The payload-corpus mechanism: a written corpus decodes back whole, an
  * undecodable payload gets the quarantine row under the declared schema,
  * and no other file lays out a corpus or builds its own decode encoder. */
class PayloadsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withCorpus[A](rows: Seq[(Long, Array[Byte])])(body: String => A): A = {
    val dir = TestSpark.tempDir()
    try {
      Payloads.write(spark, dir, "blob_id", rows)
      body(dir)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a written corpus decodes back every id and byte") {
    val rows = (0L until 40L).map(i => (i, Array.tabulate((i * 37 % 300).toInt)(k => (k * 31 + i).toByte)))
    withCorpus(rows) { dir =>
      val frame = Payloads.read(spark, dir)
      assert(frame.columns.toSeq === Seq("blob_id", "payload"))
      val got = Payloads
        .decode(frame, "blob_id BIGINT, body BINARY, body_md5 STRING") { (id, b) =>
          Some(Seq(Row(id, b, Payloads.md5Hex(b))))
        }
        .collect()
        .map(r => (r.getLong(0), (r.getAs[Array[Byte]](1).toSeq, r.getString(2))))
        .toMap
      assert(got.keySet === rows.map(_._1).toSet)
      for ((id, b) <- rows) assert(got(id) === ((b.toSeq, Payloads.md5Hex(b))), s"payload $id")
    }
    assert(Payloads.md5Hex("abc".getBytes("UTF-8")) === "900150983cd24fb0d6963f7d28e17f72")
  }

  test("an undecodable payload yields the quarantine row under the DDL's schema") {
    // one row per byte: payload 0 decodes to one row, 1 to none, 2 to
    // two; 3 cannot be decoded
    val rows = Seq(0L -> Array[Byte](1), 1L -> Array.emptyByteArray, 2L -> Array[Byte](3, 4), 3L -> Array[Byte](-1))
    withCorpus(rows) { dir =>
      val out = Payloads.decode(Payloads.read(spark, dir), "blob_id BIGINT, part INT, label STRING") { (id, b) =>
        if (b.headOption.contains(-1.toByte)) None
        else Some(b.toSeq.zipWithIndex.map { case (v, i) => Row(id, i, s"v$v") })
      }
      assert(
        out.schema === StructType(
          Seq(
            StructField("blob_id", LongType, nullable = true),
            StructField("part", IntegerType, nullable = true),
            StructField("label", StringType, nullable = true)
          )
        )
      )
      assert(
        out.orderBy("blob_id", "part").collect().toSeq ===
          Seq(Row(0L, 0, "v1"), Row(2L, 0, "v3"), Row(2L, 1, "v4"), Row(3L, null, null))
      )
    }
  }

  test("corpus layout and decode encoders live only in Payloads") {
    def sources(top: String): Seq[Path] =
      Files.walk(Paths.get(top)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    def offenders(files: Seq[Path], needle: String): Seq[String] = for {
      file <- files
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if line.contains(needle)
    } yield s"$file:${i + 1}: ${line.trim}"
    val layout = offenders(
      (sources("src/main") ++ sources("src/test")).filter(_.getFileName.toString != "Payloads.scala"),
      "/" + "payloads"
    )
    assert(layout.isEmpty, layout.mkString("\n", "\n", ""))
    val encoders = offenders(
      Seq(Paths.get("src/main/scala/graft/operators/Multimodal.scala")),
      "Encoders" + ".row"
    )
    assert(encoders.isEmpty, encoders.mkString("\n", "\n", ""))
  }
}
