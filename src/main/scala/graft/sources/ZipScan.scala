package graft.sources

import java.util.zip.{CRC32, Inflater}

/** ZIP archive reader (x189) — the bulk-delivery container every ingest
  * pipeline eventually receives (a zip of CSVs/JSONs is the standard
  * data-drop shape), from the public APPNOTE.TXT layout, pure JDK:
  *
  *   - End-of-Central-Directory locate: scan back from EOF for PK\x05\x06
  *     (the record carries a variable-length comment, so the signature is
  *     not at a fixed offset), then entry count + central-directory
  *     offset/size with consistency checks.
  *   - Central-directory walk: PK\x01\x02 entries carrying method
  *     (0 = stored, 8 = deflate), CRC-32, sizes, name and the LOCAL
  *     header offset.
  *   - Member read: seek to PK\x03\x04, skip the LOCAL name/extra lengths
  *     (they may differ from the central ones — a classic zip-parser
  *     trap), then the payload: stored bytes verbatim or a raw
  *     `Inflater` stream, ALWAYS verified against the central CRC-32 and
  *     uncompressed size (the [[WarcScan]] both-trailer-fields
  *     discipline).
  *
  * Structural lies (bad signature anywhere, CRC/size mismatch, truncated
  * member, entry count disagreeing with the directory walk) quarantine
  * the whole archive — never a partial inventory. Scope: single-disk,
  * non-zip64, unencrypted archives (the data-drop shape); zip64 and
  * encryption quarantine via their signature/flag checks.
  *
  * Scale shape: one task per archive (mapPartitions — the central
  * directory is inherently a per-file index); the inventory row set IS
  * the work list a downstream pass shards member extraction by, the
  * x114-GOP split-planning idea applied to archives.
  */
object ZipScan {

  final case class Member(idx: Long, name: String, method: Int, uncompBytes: Long, body: Array[Byte])

  private def u16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** Archive → member inventory (central-directory order), or None. */
  def parse(b: Array[Byte]): Option[Seq[Member]] = {
    // EOCD: last occurrence of PK\x05\x06 within the trailing 64 KiB + 22
    var e = b.length - 22
    val floor = math.max(0, b.length - 22 - 65535)
    while (e >= floor && !(b(e) == 'P' && b(e + 1) == 'K' && b(e + 2) == 5 && b(e + 3) == 6)) e -= 1
    if (e < floor) return None
    val nEntries = u16(b, e + 10)
    if (u16(b, e + 8) != nEntries) return None // multi-disk
    val cdSize = u32(b, e + 12)
    val cdOff = u32(b, e + 16)
    if (u16(b, e + 20) != b.length - (e + 22)) return None // comment length must reach EOF
    if (cdOff + cdSize != e) return None // directory must abut the EOCD
    var p = cdOff.toInt
    val out = Seq.newBuilder[Member]
    var i = 0
    while (i < nEntries) {
      if (p + 46 > e || !(b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 1 && b(p + 3) == 2)) return None
      val flags = u16(b, p + 8)
      if ((flags & 0x1) != 0) return None // encrypted
      val method = u16(b, p + 10)
      if (method != 0 && method != 8) return None
      val crc = u32(b, p + 16)
      val csize = u32(b, p + 20)
      val usize = u32(b, p + 24)
      val nameLen = u16(b, p + 28)
      val extraLen = u16(b, p + 30)
      val cmtLen = u16(b, p + 32)
      val lhoL = u32(b, p + 42)
      if (usize == 0xffffffffL || csize == 0xffffffffL) return None // zip64
      // crafted offsets/lengths must quarantine, never index out of
      // bounds (the TIFF crafted-header lesson)
      if (p + 46 + nameLen > e) return None
      if (lhoL < 0 || lhoL + 30 > b.length) return None
      val lho = lhoL.toInt
      val name = new String(b, p + 46, nameLen, "UTF-8")
      // local header: sizes of name/extra may differ from the central ones
      if (!(b(lho) == 'P' && b(lho + 1) == 'K' && b(lho + 2) == 3 && b(lho + 3) == 4))
        return None
      val dataOff = lho + 30 + u16(b, lho + 26) + u16(b, lho + 28)
      if (dataOff.toLong + csize > b.length || csize > Int.MaxValue - 64) return None
      val body: Array[Byte] =
        if (method == 0) {
          if (csize != usize) return None
          java.util.Arrays.copyOfRange(b, dataOff, dataOff + csize.toInt)
        } else {
          // from-scratch RFC 1951 path (x264) or the JDK twin under the
          // conformance toggle: input bounded to the central-directory
          // csize, output to usize (a member producing more lies)
          if (usize > Int.MaxValue - 64) return None
          Inflate.rawDispatch(b, dataOff, dataOff + csize.toInt, usize.toInt) match {
            case Some(o) => o.data
            case None    => return None
          }
        }
      if (body.length.toLong != usize) return None
      val c = new CRC32(); c.update(body)
      if (c.getValue != crc) return None
      out += Member(i.toLong, name, method, usize, body)
      p += 46 + nameLen + extraLen + cmtLen
      i += 1
    }
    if (p != e) return None // directory walk must land exactly on the EOCD
    Some(out.result())
  }
}

/** x277's from-scratch ZIP WRITER (APPNOTE.TXT structures, x268's deflate
  * for method-8 members): local file headers → central directory → EOCD,
  * deterministic fields (DOS time/date zeroed), CRC-32 from the x264
  * implementation. The conformance twins are graft's own strict
  * [[ZipScan.parse]] (CRC + directory-walk verification) and the official
  * `java.util.zip.ZipInputStream`. */
object ZipWrite {

  private def w16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  private def w32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
    o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
    o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
  }

  /** members: (name, content, deflate?) → one archive. */
  def archive(members: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val central = new java.io.ByteArrayOutputStream()
    var nDone = 0
    members.foreach { case (name, data, deflate) =>
      val nameB = name.getBytes("UTF-8")
      val crc = Inflate.crc32(data)
      val comp = if (deflate) Deflate.deflateRaw(data) else data
      val method = if (deflate) 8 else 0
      val off = out.size()
      // local file header
      out.write(Array[Byte]('P', 'K', 3, 4))
      w16(out, 20); w16(out, 0); w16(out, method)
      w16(out, 0); w16(out, 0) // DOS time/date: deterministic zero
      w32(out, crc); w32(out, comp.length.toLong); w32(out, data.length.toLong)
      w16(out, nameB.length); w16(out, 0)
      out.write(nameB); out.write(comp)
      // central directory entry
      central.write(Array[Byte]('P', 'K', 1, 2))
      w16(central, 20); w16(central, 20); w16(central, 0); w16(central, method)
      w16(central, 0); w16(central, 0)
      w32(central, crc); w32(central, comp.length.toLong); w32(central, data.length.toLong)
      w16(central, nameB.length); w16(central, 0); w16(central, 0)
      w16(central, 0); w16(central, 0) // disk start, internal attrs
      w32(central, 0L) // external attrs
      w32(central, off.toLong)
      central.write(nameB)
      nDone += 1
    }
    val cdOff = out.size()
    val cd = central.toByteArray
    out.write(cd)
    out.write(Array[Byte]('P', 'K', 5, 6))
    w16(out, 0); w16(out, 0); w16(out, nDone); w16(out, nDone)
    w32(out, cd.length.toLong); w32(out, cdOff.toLong); w16(out, 0)
    out.toByteArray
  }
}

/** Deterministic zip corpus: archives written by the OFFICIAL
  * `ZipOutputStream` (the PngPixels/ImageIO conformance split — JDK
  * writer, from-scratch reader), member contents closed-form so the
  * oracle rebuilds every name/size/md5 from the formulas. Archive Z
  * carries 1 + Z%3 members; member (Z, j): name "part_Z_j.csv", content
  * = 2 + (Z+j)%4 CSV lines "Z,j,i,<Z*31+j*7+i>\n"; every second member
  * is STORED (method 0), the rest deflated. */
object ZipFixture {
  val dir = Fixture.dir("graft_zip")

  def nMembers(z: Long): Int = 1 + (z % 3).toInt
  def content(z: Long, j: Long): String =
    (0 until (2 + ((z + j) % 4)).toInt).map(i => s"$z,$j,$i,${z * 31 + j * 7 + i}\n").mkString

  def fileBytes(z: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(out)
    (0 until nMembers(z)).foreach { j =>
      val data = content(z, j.toLong).getBytes("UTF-8")
      val entry = new java.util.zip.ZipEntry(s"part_${z}_$j.csv")
      // a fixed DOS time: left unset, every header carries the build's clock
      entry.setTimeLocal(java.time.LocalDateTime.of(1980, 1, 1, 0, 0))
      if (j % 2 == 1) { // STORED requires sizes + CRC up front
        entry.setMethod(java.util.zip.ZipEntry.STORED)
        entry.setSize(data.length.toLong)
        entry.setCompressedSize(data.length.toLong)
        val c = new CRC32(); c.update(data)
        entry.setCrc(c.getValue)
      }
      zo.putNextEntry(entry)
      zo.write(data)
      zo.closeEntry()
    }
    zo.close()
    out.toByteArray
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v2") {
    Payloads.write(spark, dir, "zip_id", (0L until 200L).map(z => (z, fileBytes(z))))
  }
}

/** x277: the EXPORT corpus — the same member formulas (incl. the
  * stored/deflate alternation) written by [[ZipWrite]] with x268's
  * deflate instead of ZipOutputStream. */
object ZipExportFixture {
  val dir = Fixture.dir("graft_zip_export")

  def fileBytes(z: Long): Array[Byte] =
    ZipWrite.archive((0 until ZipFixture.nMembers(z)).map { j =>
      (
        s"part_${z}_$j.csv",
        ZipFixture.content(z, j.toLong).getBytes("UTF-8"),
        j % 2 == 0 // even members deflate — the x189 alternation
      )
    })

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "zip_id", (0L until 200L).map(z => (z, fileBytes(z))))
  }
}
