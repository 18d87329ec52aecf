package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class Sas7bdatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("writer → reader round trip preserves every value, null and type") {
    val dir = TestSpark.tempDir()
    val path = s"$dir/t.sas7bdat"
    val cols = Seq(
      Sas7bdatWriter.WCol("num", isNum = true, 8),
      Sas7bdatWriter.WCol("txt", isNum = false, 10)
    )
    val rows = Seq(
      Seq(java.lang.Double.valueOf(1.5), "alpha"),
      Seq(null, "beta"),
      Seq(java.lang.Double.valueOf(-2.25e10), null),
      Seq(java.lang.Double.valueOf(0.1), "ten chars!")
    )
    Sas7bdatWriter.write(path, cols, rows)
    val df = Sas7bdat.read(spark, path)
    assert(df.schema.fieldNames.toSeq === Seq("num", "txt"))
    assert(df.schema.fields.map(_.dataType.typeName).toSeq === Seq("double", "string"))
    val got = df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(
      got === Set(
        (Some(1.5), Some("alpha")),
        (None, Some("beta")),
        (Some(-2.25e10), None),
        (Some(0.1), Some("ten chars!"))
      )
    )
  }

  test("multi-page file: all rows decoded across distributed page ranges") {
    SasFixture.ensure(spark)
    val df = Sas7bdat.read(spark, SasFixture.sasPath)
    assert(df.count() === 3000)
    // exact value spot checks incl. both null patterns
    val m = df.where("id in (0, 11, 13, 2999)").collect().map(r => r.getDouble(0) -> r).toMap
    assert(m(0.0).isNullAt(1) && m(0.0).isNullAt(3)) // i=0: value and comment null
    assert(m(11.0).isNullAt(1) && m(11.0).getString(2) === "cat4")
    assert(m(13.0).isNullAt(3) && !m(13.0).isNullAt(1))
    assert(m(2999.0).getString(3).startsWith("row 2999"))
    // parquet twin agrees row-for-row (the gate's oracle contract)
    val twin = spark.read.parquet(SasFixture.twinPath)
    assert(df.exceptAll(twin).count() === 0 && twin.exceptAll(df).count() === 0)
  }

  test("metadata: page-splittable layout parsed from header + meta page only") {
    SasFixture.ensure(spark)
    val p = new org.apache.hadoop.fs.Path(SasFixture.sasPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = Sas7bdat.parseMeta { (pos, len) =>
      val in = fs.open(p)
      try { val b = new Array[Byte](len); in.readFully(pos, b); b } finally in.close()
    }
    assert(meta.u64 && meta.rowCount === 3000 && meta.cols.size === 4)
    assert(meta.rowLength === 8 + 8 + 8 + 24)
    assert(meta.cols.map(_.name) === Vector("id", "value", "category", "comment"))
    assert(meta.cols.map(_.isNum) === Vector(true, true, false, false))
    assert(meta.pageCount > 10) // genuinely multi-page → parallel scan
  }

  test("32-bit and mix-first-page layout variants round trip") {
    val dir = TestSpark.tempDir()
    val cols = Seq(
      Sas7bdatWriter.WCol("a", isNum = true, 8),
      Sas7bdatWriter.WCol("b", isNum = false, 6)
    )
    val rows = (0 until 450).map(i => Seq(java.lang.Double.valueOf(i * 0.5), s"s$i"): Seq[Any])
    val expected = rows.map(r => (r(0).asInstanceOf[java.lang.Double].doubleValue(), r(1).toString)).toSet
    for ((u64, mix) <- Seq((false, false), (true, true), (false, true))) {
      val p = s"$dir/v_${u64}_$mix.sas7bdat"
      Sas7bdatWriter.write(p, cols, rows, pageSize = 4096, u64 = u64, mixFirstPage = mix)
      val df = Sas7bdat.read(spark, p)
      assert(df.count() === 450, s"u64=$u64 mix=$mix")
      assert(df.collect().map(r => (r.getDouble(0), r.getString(1))).toSet === expected, s"u64=$u64 mix=$mix")
    }
  }

  test("RLE: compress/decompress round-trips arbitrary byte rows exactly") {
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      Array.fill[Byte](500)(0x20), // all spaces
      Array.fill[Byte](500)(0x00), // all NULs
      Array.fill[Byte](300)(0x40), // all '@'
      Array.fill[Byte](290)('a'.toByte), // >255 generic long run
      Array.tabulate[Byte](400)(i => (i % 251).toByte), // pure literal >319
      Array.tabulate[Byte](64)(i => i.toByte), // max short literal
      Array[Byte](1, 2, 3), // tiny literal
      Array[Byte](7, 7), // run below generic minimum → literal
      Array.fill[Byte](2)(0x20) ++ Array.fill[Byte](17)(0x00) ++ Array.fill[Byte](18)('q'.toByte)
    ) ++ (0 until 30).map { _ =>
      // random mix of runs and literals
      Seq.fill(rnd.nextInt(20) + 1) {
        if (rnd.nextBoolean()) Array.fill[Byte](rnd.nextInt(600) + 1)(rnd.nextInt(256).toByte)
        else Array.fill[Byte](rnd.nextInt(40) + 1)(rnd.nextInt(256).toByte).map(_ => rnd.nextInt(256).toByte)
      }.reduce(_ ++ _)
    }
    cases.foreach { row =>
      val comp = Sas7bdatWriter.rleCompress(row)
      val back = Sas7bdat.rleDecompress(comp, 0, comp.length, row.length)
      assert(back.sameElements(row), s"round trip failed for ${row.length}-byte row")
    }
  }

  test("RLE fixture: compressed file round-trips and actually shrinks") {
    SasFixture.ensure(spark)
    val meta = {
      val p = new org.apache.hadoop.fs.Path(SasFixture.sasRlePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Sas7bdat.parseMeta { (pos, len) =>
        val in = fs.open(p)
        try { val b = new Array[Byte](len); in.readFully(pos, b); b } finally in.close()
      }
    }
    assert(meta.rle, "compression literal SASYZCRL must be detected")
    assert(meta.rowCount === 400 && meta.cols.size === 6)
    // 400 rows x 732 bytes raw ≈ 293 KB of cells; the compressible patterns
    // must shrink the file well below an uncompressed layout
    val rawLayoutBytes = 400L * meta.rowLength
    val fileBytes = new java.io.File(SasFixture.sasRlePath).length()
    assert(fileBytes < rawLayoutBytes, s"file $fileBytes should undercut raw cells $rawLayoutBytes")
    val df = Sas7bdat.read(spark, SasFixture.sasRlePath)
    val twin = spark.read.parquet(SasFixture.twinRlePath)
    assert(df.count() === 400)
    assert(df.exceptAll(twin).count() === 0 && twin.exceptAll(df).count() === 0)
    // BOTH row-storage flavors must occur, or the stored-raw decode branch
    // ships untested: pointer compression 4 (RLE) and 0 (raw, the
    // incompressible every-10th rows)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(SasFixture.sasRlePath))
    def u16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    val flags = (1L until meta.pageCount).flatMap { pg =>
      val base = (meta.headerSize + pg * meta.pageSize).toInt
      val nSub = u16(base + meta.bitOffset + 4)
      (0 until nSub).map { i =>
        val p = base + meta.bitOffset + 8 + meta.ptrLen * i
        bytes(p + 2 * meta.intLen) & 0xff
      }
    }
    assert(flags.count(_ == 4) > 300, s"expected mostly RLE rows, got ${flags.groupBy(identity).view.mapValues(_.size).toMap}")
    assert(flags.count(_ == 0) === 40, s"every 10th row must store raw: ${flags.groupBy(identity).view.mapValues(_.size).toMap}")
  }

  test("RDC-compressed input is rejected with a clear error") {
    // hand-flip the literal in a copy of the RLE fixture: SASYZCRL→SASYZCR2
    SasFixture.ensure(spark)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(SasFixture.sasRlePath))
    val needle = "SASYZCRL".getBytes("US-ASCII")
    val idx = bytes.indices.indexWhere(i => i + 8 <= bytes.length && needle.indices.forall(j => bytes(i + j) == needle(j)))
    assert(idx > 0)
    bytes(idx + 7) = '2'.toByte
    val dir = TestSpark.tempDir()
    val p = s"$dir/rdc.sas7bdat"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    val e = intercept[Exception](Sas7bdat.read(spark, p))
    assert(e.getMessage.contains("SASYZCR2"))
  }

  test("rejects non-sas and big-endian input with clear errors") {
    val dir = TestSpark.tempDir()
    val bad = s"$dir/bad.bin"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad), Array.fill[Byte](512)(7))
    val e = intercept[IllegalArgumentException](Sas7bdat.read(spark, bad))
    assert(e.getMessage.contains("magic"))
  }
}
