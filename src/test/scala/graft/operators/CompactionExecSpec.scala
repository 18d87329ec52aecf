package graft.operators

import graft.{TempSources, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** x78 compaction execution: the rewrite must emit EXACTLY the planned
  * ⌈bytes/64KiB⌉ file count per lang partition, every emitted file must
  * stay near the target size, and the read-back must be content-identical
  * to the source (counts + order-free text digest). */
class CompactionExecSpec extends AnyFunSuite with TempSources {
  private lazy val spark = TestSpark.spark

  test("planned file counts executed exactly; content survives the rewrite") {
    import spark.implicits._
    // lang aa: ~120 KiB of text → 2 files planned; lang bb: tiny → 1 file
    val docsAa = (0L until 300L).map(i => (i, "aa", s"d$i " + ("x" * 395)))
    val docsBb = (1000L until 1020L).map(i => (i, "bb", s"s$i tiny"))
    val docs = docsAa ++ docsBb
    val dir = tempSource()
    docs.toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = Sampling
      .queries("x78_compaction_exec")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

    val target = graft.sources.Compaction.TargetBytes
    def planned(texts: Seq[String]): Long = {
      val bytes = texts.map(_.length.toLong).sum
      (bytes + target - 1) / target
    }
    def digest(texts: Seq[String]): Long =
      texts.map(t => BpeReference.md5Bucket(t, 1L << 40)).sum

    val aaTexts = docsAa.map(_._3)
    val bbTexts = docsBb.map(_._3)
    assert(planned(aaTexts) >= 2) // the fixture actually exercises multi-file
    assert(
      got === Seq(
        ("aa", 300L, digest(aaTexts), planned(aaTexts)),
        ("bb", 20L, digest(bbTexts), planned(bbTexts))
      )
    )

    // fs-level: the artifact holds exactly the planned files, each within
    // 2× target (round-robin splits the partition near-evenly)
    val base = new java.io.File(graft.sources.Compaction.ensure(spark, dir))
    for ((lang, _, _, nFiles) <- got) {
      val files = new java.io.File(base, s"lang=$lang").listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length.toLong === nFiles)
      for (f <- files) assert(f.length() < 2 * target)
    }
  }
}
