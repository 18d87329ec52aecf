package graft.sources

import org.apache.spark.sql.SparkSession

/** Deterministic SAS7BDAT fixture + parquet twin for the S3 scan gate.
  *
  * The reference checkout ships no `.sas7bdat` binary (MISSING_LARGE_BLOBS),
  * so the gate fixture is generated: the same logical rows written once
  * through [[Sas7bdatWriter]] and once as parquet. The oracle reads the
  * parquet twin in DuckDB; the query reads the SAS binary through
  * [[Sas7bdat.read]] — a hash match proves the binary decode end-to-end.
  * Content is a pure function of the row index → identical bytes every run.
  */
object SasFixture {
  val dir = Fixture.dir("graft_sas")
  val sasPath = s"$dir/fixture.sas7bdat"
  val twinPath = s"$dir/twin"

  val cols = Seq(
    Sas7bdatWriter.WCol("id", isNum = true, 8),
    Sas7bdatWriter.WCol("value", isNum = true, 8),
    Sas7bdatWriter.WCol("category", isNum = false, 8),
    Sas7bdatWriter.WCol("comment", isNum = false, 24)
  )

  /** 3000 rows ≈ 18 data pages at the 8 KiB page size → the distributed
    * page-range read actually fans out. Nulls on both column kinds. */
  def rows: Seq[Seq[Any]] = (0 until 3000).map { i =>
    Seq(
      java.lang.Double.valueOf(i.toDouble),
      if (i % 11 == 0) null else java.lang.Double.valueOf(((i * 2654435761L) % 100000L) / 100.0),
      "cat" + (i % 7),
      // .trim: SAS blank-pads char cells, so trailing spaces are not
      // representable — a fixture value ending in ' ' would round-trip
      // trimmed and (correctly) mismatch the parquet twin
      if (i % 13 == 0) null else s"row $i of the graft sas fixture".take(24).trim
    )
  }

  /** Both SAS fixtures (plain + RLE-compressed) and their parquet twins:
    * one directory, so one build. */
  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    Sas7bdatWriter.write(sasPath, cols, rows)
    rows
      .map(r => (r(0).asInstanceOf[java.lang.Double], r(1).asInstanceOf[java.lang.Double], r(2).asInstanceOf[String], r(3).asInstanceOf[String]))
      .toDF("id", "value", "category", "comment")
      .coalesce(1)
      .write.mode("overwrite").parquet(twinPath)
    Sas7bdatWriter.write(sasRlePath, rleCols, rleRows, compressRle = true)
    rleRows
      .map(r =>
        (
          r(0).asInstanceOf[java.lang.Double],
          r(1).asInstanceOf[java.lang.Double],
          r(2).asInstanceOf[java.lang.Double],
          r(3).asInstanceOf[java.lang.Double],
          r(4).asInstanceOf[String],
          r(5).asInstanceOf[String]
        )
      )
      .toDF("id", "z1", "z2", "z3", "tag", "pattern")
      .coalesce(1)
      .write.mode("overwrite").parquet(twinRlePath)
  }

  // ---- RLE-compressed fixture ---------------------------------------------

  val sasRlePath = s"$dir/fixture_rle.sas7bdat"
  val twinRlePath = s"$dir/twin_rle"

  val rleCols = Seq(
    Sas7bdatWriter.WCol("id", isNum = true, 8),
    // three adjacent 0.0 doubles = a 24-byte NUL run → exercises the long
    // NUL-run command; id's IEEE bytes give short NUL runs for free
    Sas7bdatWriter.WCol("z1", isNum = true, 8),
    Sas7bdatWriter.WCol("z2", isNum = true, 8),
    Sas7bdatWriter.WCol("z3", isNum = true, 8),
    Sas7bdatWriter.WCol("tag", isNum = false, 20),
    Sas7bdatWriter.WCol("pattern", isNum = false, 680)
  )

  /** Rows crafted so one file exercises EVERY RLE command, including the
    * >255 length-nibble forms: 280+ 'a' run (long byte run), '@' runs
    * (both '@' forms), a 330-char non-repeating stretch (long literal
    * copy), short repeats/literals, short + long space runs (cell
    * padding). Every 10th row is GUARANTEED incompressible — no two
    * adjacent bytes repeat anywhere (norun text everywhere the padding
    * can't reach, π/e/√2 doubles whose LE byte patterns carry no runs) —
    * so the encoder's compressed form costs control-byte overhead over the
    * raw row and the stored-raw subheader path (pointer compression 0,
    * length == rowLength) actually executes; Sas7bdatSpec asserts both
    * pointer flavors occur in the file. */
  def rleRows: Seq[Seq[Any]] = (0 until 400).map { i =>
    def pseudo(n: Int, salt: Long): String = {
      val sb = new StringBuilder(n)
      var h = i * 2654435761L + salt
      while (sb.length < n) { h = h * 6364136223846793005L + 1442695040888963407L; sb += ('A' + ((h >>> 33) % 26)).toChar }
      sb.toString
    }
    // like pseudo, but NO two adjacent chars equal → no RLE run anywhere
    def norun(n: Int, salt: Long): String = {
      val sb = new StringBuilder(n)
      var h = i * 2654435761L + salt
      while (sb.length < n) {
        h = h * 6364136223846793005L + 1442695040888963407L
        var c = ('A' + ((h >>> 33) % 26)).toChar
        if (sb.nonEmpty && sb.last == c) c = (if (c == 'Z') 'A' else (c + 1).toChar)
        sb += c
      }
      sb.toString
    }
    val raw = i % 10 == 0
    val pattern =
      if (raw) norun(680, 7L) // full width, runless → stored raw
      else if (i % 7 == 3) "z" // 679 trailing blanks → >255-length space run
      else "a" * (280 + i % 5) + "@" * (20 + i % 3) + pseudo(330, 11L) + "b" * (3 + i % 4) + "@@@" + "x y"
    Seq(
      // raw rows avoid the IEEE zero-byte runs of small integers/0.0: the
      // constants' little-endian byte patterns contain no repeated
      // adjacent bytes, keeping the whole 732-byte row literal-only
      java.lang.Double.valueOf(if (raw) i.toDouble + 0.3141592653589793 else i.toDouble),
      java.lang.Double.valueOf(if (raw) 3.141592653589793 else 0.0),
      java.lang.Double.valueOf(if (raw) 2.718281828459045 else 0.0),
      java.lang.Double.valueOf(if (raw) 1.4142135623730951 else 0.0),
      // full 20-char width for raw rows — blank padding would hand the
      // encoder a compressible space run
      if (raw) norun(16, 13L) + "tag" + (i % 5) else "tag" + (i % 5),
      pattern
    )
  }
}
