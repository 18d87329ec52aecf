package graft.sources

/** Ogg container walk (x190, RFC 3533) — the stream container the open
  * audio codecs ship in (Vorbis/Opus/FLAC-in-Ogg), completing the
  * container family (MP4 x23, MP3 frame walk x88, RIFF/WAV x22, FLAC
  * native x111, now the paged free-form container). From the public
  * spec, pure JDK:
  *
  *   - page walk: "OggS" capture pattern, version 0, header-type flags
  *     (0x1 packet continued from previous page, 0x2 BOS, 0x4 EOS),
  *     64-bit LE granule position, serial, page sequence (must increment
  *     by exactly 1 per stream), segment table of 8-bit lacing values;
  *   - the page CRC is NOT zlib's: Ogg uses polynomial 0x04c11db7,
  *     UNREFLECTED, init 0, no final xor — computed over the whole page
  *     with the CRC field zeroed. Implemented table-driven here and
  *     verified in the spec against an independent bit-at-a-time
  *     implementation (two-implementation conformance, [[PngPixels]]
  *     style but internal);
  *   - packet reassembly: lacing values chain (255 ⇒ the packet
  *     continues into the next lacing value, possibly on the NEXT page
  *     with the continuation flag set); a lacing < 255 terminates the
  *     packet. A packet left open at EOS, a continuation flag
  *     disagreeing with the carry state, a sequence gap, a missing BOS
  *     or a CRC mismatch quarantines the whole payload.
  *
  * Scale shape: pages are self-delimiting and capture-pattern-seekable —
  * exactly why Ogg is split-friendly at 100 TB; here one task per
  * payload walks its pages sequentially (the [[MpegAudio]] class).
  */
object OggPages {

  final case class Packet(idx: Long, bytes: Array[Byte], granule: Long, bos: Boolean, eos: Boolean)

  /** Ogg CRC-32: 0x04c11db7, unreflected, init 0, no final xor. */
  private[sources] val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private[sources] def crc(b: Array[Byte], from: Int, len: Int, zeroFrom: Int = -1, zeroLen: Int = 0): Int = {
    var r = 0
    var i = 0
    while (i < len) {
      val v = if (zeroFrom >= 0 && from + i >= zeroFrom && from + i < zeroFrom + zeroLen) 0
      else b(from + i) & 0xff
      r = (r << 8) ^ CrcTable(((r >>> 24) ^ v) & 0xff)
      i += 1
    }
    r
  }

  private def le8(b: Array[Byte], o: Int): Long =
    (0 until 8).map(i => (b(o + i) & 0xffL) << (8 * i)).reduce(_ | _)
  private def le4(b: Array[Byte], o: Int): Long =
    (0 until 4).map(i => (b(o + i) & 0xffL) << (8 * i)).reduce(_ | _)

  /** Whole payload → reassembled packets, or None on any structural lie.
    * Single logical stream per payload (one serial; BOS on the first
    * page, EOS on the last). */
  def parse(b: Array[Byte]): Option[Seq[Packet]] = {
    var o = 0
    var expectSeq = 0L
    var serial = -1L
    var carry: Option[java.io.ByteArrayOutputStream] = None
    var sawBos = false
    var sawEos = false
    val out = Seq.newBuilder[Packet]
    var idx = 0L
    while (o < b.length) {
      if (sawEos) return None // pages after EOS
      if (o + 27 > b.length) return None
      if (!(b(o) == 'O' && b(o + 1) == 'g' && b(o + 2) == 'g' && b(o + 3) == 'S')) return None
      if (b(o + 4) != 0) return None // version
      val flags = b(o + 5) & 0xff
      val granule = le8(b, o + 6)
      val ser = le4(b, o + 14)
      val seq = le4(b, o + 18)
      val pageCrc = le4(b, o + 22).toInt
      val nSegs = b(o + 26) & 0xff
      if (o + 27 + nSegs > b.length) return None
      val lacings = (0 until nSegs).map(i => b(o + 27 + i) & 0xff)
      val bodyLen = lacings.sum
      val pageLen = 27 + nSegs + bodyLen
      if (o + pageLen > b.length) return None
      if (crc(b, o, pageLen, zeroFrom = o + 22, zeroLen = 4) != pageCrc) return None
      if (serial < 0) serial = ser else if (ser != serial) return None
      if (seq != expectSeq) return None
      expectSeq += 1
      val bos = (flags & 2) != 0
      val eos = (flags & 4) != 0
      val continued = (flags & 1) != 0
      if (seq == 0 && !bos) return None
      if (seq != 0 && bos) return None
      if (bos) sawBos = true
      if (eos) sawEos = true
      if (continued != carry.isDefined) return None // carry state must agree
      var p = o + 27 + nSegs
      lacings.foreach { l =>
        val buf = carry.getOrElse(new java.io.ByteArrayOutputStream())
        buf.write(b, p, l)
        p += l
        if (l == 255) carry = Some(buf)
        else {
          out += Packet(idx, buf.toByteArray, granule, bos, eos)
          idx += 1
          carry = None
        }
      }
      o += pageLen
    }
    if (!sawBos || !sawEos || carry.isDefined) return None // open packet / no EOS
    Some(out.result())
  }

  /** Synthesize a single-stream payload: packets laid into pages holding
    * at most `maxSegsPerPage` lacing values, so long packets provably
    * continue across pages (flag 0x1). */
  private[sources] def synthesize(
      packets: Seq[Array[Byte]],
      serial: Long,
      granuleOf: Int => Long,
      maxSegsPerPage: Int = 4
  ): Array[Byte] = {
    // flatten packets into (lacing, bytes, terminal) segments
    val segs = packets.zipWithIndex.flatMap { case (pk, pi) =>
      val full = pk.length / 255
      val rest = pk.length % 255
      val slices = (0 until full).map(i => (255, pk.slice(i * 255, i * 255 + 255))) :+
        ((rest, pk.slice(full * 255, pk.length)))
      slices.map { case (l, s) => (l, s, pi) }
    }
    val pages = segs.grouped(maxSegsPerPage).toSeq
    val outAll = new java.io.ByteArrayOutputStream()
    var carryOpen = false
    pages.zipWithIndex.foreach { case (pg, pgIdx) =>
      val bos = pgIdx == 0
      val eos = pgIdx == pages.length - 1
      val flags = (if (carryOpen) 1 else 0) | (if (bos) 2 else 0) | (if (eos) 4 else 0)
      // granule: last packet index whose terminal segment is on this page
      val granule = pg.reverse.collectFirst { case (l, _, pi) if l < 255 => granuleOf(pi) }.getOrElse(-1L)
      val body = pg.flatMap(_._2.toSeq).toArray
      val hdr = new Array[Byte](27 + pg.length)
      hdr(0) = 'O'; hdr(1) = 'g'; hdr(2) = 'g'; hdr(3) = 'S'
      hdr(4) = 0
      hdr(5) = flags.toByte
      (0 until 8).foreach(i => hdr(6 + i) = ((granule >> (8 * i)) & 0xff).toByte)
      (0 until 4).foreach(i => hdr(14 + i) = ((serial >> (8 * i)) & 0xff).toByte)
      (0 until 4).foreach(i => hdr(18 + i) = ((pgIdx.toLong >> (8 * i)) & 0xff).toByte)
      hdr(26) = pg.length.toByte
      pg.zipWithIndex.foreach { case ((l, _, _), i) => hdr(27 + i) = l.toByte }
      val page = hdr ++ body
      val c = crc(page, 0, page.length)
      (0 until 4).foreach(i => page(22 + i) = ((c >> (8 * i)) & 0xff).toByte)
      outAll.write(page)
      carryOpen = pg.last._1 == 255
    }
    outAll.toByteArray
  }
}

/** Deterministic Ogg corpus: stream S has 1 + S%4 packets; packet (S, j)
  * is 40 + ((S + j) % 5)·160 bytes of the closed-form pattern
  * byte[i] = (S·7 + j·13 + i·3) mod 251 — lengths 40/200/360/520/680, so
  * multi-segment packets (≥ 255) and cross-page continuation (4 lacing
  * values per page) are both exercised on ~half the corpus. Granule of
  * packet j = S·1000 + j. */
object OggFixture {
  val dir = Fixture.dir("graft_ogg")

  def nPackets(s: Long): Int = 1 + (s % 4).toInt
  def packetLen(s: Long, j: Long): Int = 40 + (((s + j) % 5) * 160).toInt
  def packet(s: Long, j: Long): Array[Byte] =
    Array.tabulate(packetLen(s, j))(i => ((s * 7 + j * 13 + i * 3) % 251).toByte)

  def fileBytes(s: Long): Array[Byte] =
    OggPages.synthesize(
      (0 until nPackets(s)).map(j => packet(s, j.toLong)),
      serial = s,
      granuleOf = j => s * 1000 + j
    )

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "ogg_id", (0L until 200L).map(s => (s, fileBytes(s))))
  }
}
