package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** x189 ZIP reader: fixture truth, JDK-reader cross-agreement, the EOCD
  * comment scan, and the quarantine matrix. */
class ZipScanSpec extends AnyFunSuite {

  test("all 200 fixture archives parse to the formula-derived inventory") {
    (0L until 200L).foreach { z =>
      val ms = ZipScan.parse(ZipFixture.fileBytes(z)).getOrElse(fail(s"zip $z quarantined"))
      assert(ms.length === ZipFixture.nMembers(z))
      ms.zipWithIndex.foreach { case (m, j) =>
        assert(m.name === s"part_${z}_$j.csv")
        assert(m.method === (if (j % 2 == 1) 0 else 8), s"zip $z member $j method")
        assert(new String(m.body, "UTF-8") === ZipFixture.content(z, j.toLong), s"zip $z member $j")
      }
    }
  }

  test("the JDK's own ZipInputStream sees the same members (reader cross-agreement)") {
    val b = ZipFixture.fileBytes(7L)
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(b))
    val jdk = Iterator
      .continually(zin.getNextEntry)
      .takeWhile(_ != null)
      .map(e => e.getName -> new String(zin.readAllBytes(), "UTF-8"))
      .toSeq
    val ours = ZipScan.parse(b).get.map(m => m.name -> new String(m.body, "UTF-8"))
    assert(jdk === ours)
  }

  test("fixture archives are reproducible: two builds more than 2 s apart are byte-identical") {
    // DOS times tick every 2 s, so a wall-clock stamp would differ here
    val first = (0L until 3L).map(ZipFixture.fileBytes)
    Thread.sleep(2100)
    val second = (0L until 3L).map(ZipFixture.fileBytes)
    first.zip(second).zipWithIndex.foreach { case ((a, b), z) =>
      assert(a.sameElements(b), s"zip $z differs between builds")
    }
  }

  test("x277 writer: from-scratch archives parse member-identically to the official-writer archives") {
    for (z <- 0L until 200L by 13L) {
      val official = ZipScan.parse(ZipFixture.fileBytes(z)).getOrElse(fail(s"official $z"))
      val export = ZipScan.parse(ZipExportFixture.fileBytes(z)).getOrElse(fail(s"export $z"))
      assert(
        official.map(m => (m.idx, m.name, m.method, m.body.toSeq)) ===
          export.map(m => (m.idx, m.name, m.method, m.body.toSeq)),
        s"zip $z: export archive must carry the identical members"
      )
    }
    // the writer's edge shapes the fixture never hits: empty member, an
    // incompressible member where deflate still frames validly
    val edge = ZipWrite.archive(
      Seq(
        ("empty.bin", Array.empty[Byte], true),
        ("noise.bin", Array.tabulate[Byte](4096)(i => ((i * 131) ^ (i >> 3)).toByte), true),
        ("stored.bin", "plain".getBytes("UTF-8"), false)
      )
    )
    val ms = ZipScan.parse(edge).getOrElse(fail("edge archive quarantined"))
    assert(ms.map(_.name) === Seq("empty.bin", "noise.bin", "stored.bin"))
    assert(ms.head.body.isEmpty && ms(1).body.length === 4096)
  }

  test("an archive with an EOCD comment still parses (backward signature scan)") {
    val out = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(out)
    zo.setComment("trailing archive comment that displaces the EOCD signature")
    zo.putNextEntry(new java.util.zip.ZipEntry("a.txt")); zo.write("hello".getBytes); zo.closeEntry()
    zo.close()
    val ms = ZipScan.parse(out.toByteArray).getOrElse(fail("commented archive quarantined"))
    assert(ms.map(_.name) === Seq("a.txt"))
    assert(new String(ms.head.body) === "hello")
  }

  test("structural lies quarantine: CRC flip, truncation, bogus comment length, trailing bytes") {
    val good = ZipFixture.fileBytes(3L)
    assert(ZipScan.parse(good).isDefined)
    // flip a payload byte: the central CRC catches it — compute the first
    // member's data offset from its local header (name/extra lengths)
    def u16(b: Array[Byte], o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    val dataOff = 30 + u16(good, 26) + u16(good, 28)
    val crcFlip = good.clone()
    crcFlip(dataOff + 2) = (crcFlip(dataOff + 2) ^ 0x01).toByte
    assert(ZipScan.parse(crcFlip).isEmpty, "corrupted member must quarantine")
    assert(ZipScan.parse(good.take(good.length - 3)).isEmpty, "truncated EOCD must quarantine")
    // bytes after the archive break the comment-length-to-EOF contract
    assert(ZipScan.parse(good ++ Array[Byte](1, 2, 3)).isEmpty, "trailing bytes must quarantine")
    // lie about the entry count
    val e = good.lastIndexOfSlice(Array[Byte]('P', 'K', 5, 6))
    val countLie = good.clone()
    countLie(e + 10) = (countLie(e + 10) + 1).toByte
    countLie(e + 8) = countLie(e + 10)
    assert(ZipScan.parse(countLie).isEmpty, "entry-count lie must quarantine")
  }
}
