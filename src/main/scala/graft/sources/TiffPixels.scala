package graft.sources

/** REAL pixel decode for classic TIFF (TIFF 6.0 spec): little-endian
  * header, first-IFD tag walk, strip assembly, and — the compressed faces —
  * PackBits (the spec's §9 byte-oriented RLE) and LZW (§13: MSB-first
  * variable-width codes with the spec's EARLY code-width change — one
  * table entry before GIF's LSB-first late change in x71, per-strip
  * restart, mandatory leading ClearCode), completing the container
  * family: BMP raw rows (x33), PNG deflate+filters (x70), GIF LZW (x71),
  * JPEG DCT (x80), and now the dominant scanned-document/legacy-raster
  * container. Scope: II AND MM byte orders (the JDK's own TIFF writer
  * emits MM, so big-endian is what official-encoder conformance reads),
  * 8-bit RGB chunky (PhotometricInterpretation
  * 2, SamplesPerPixel 3, BitsPerSample 8,8,8), Compression 1 (none),
  * 32773 (PackBits) or 5 (LZW), Predictor 1 only (horizontal differencing
  * quarantines — silently ignoring tag 317 would decode wrong pixels),
  * strip-organized. Structural lies ⇒ None, the sibling
  * discipline: wrong magic/bits/photometric, out-of-bounds strips, a
  * PackBits stream that over/under-runs its declared byte count or
  * produces the wrong number of bytes for its strip, an LZW strip that
  * does not open with ClearCode or whose EOI is not in its final byte,
  * all quarantine.
  *
  * The x163 oracle replays the fixture's pixel formula through the shared
  * 8×8 resample/checksum contract ([[BmpPixels.checksum]]'s arithmetic),
  * proving IFD walk + strip math + PackBits without touching a byte;
  * TiffPixelsSpec additionally pins both compressions against the JDK's
  * own ImageIO TIFF plugin (JDK 9+), the PNG-conformance discipline.
  */
object TiffPixels {

  private def u16le(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u16(b: Array[Byte], o: Int, be: Boolean): Int =
    if (be) ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff) else u16le(b, o)
  private def u32(b: Array[Byte], o: Int, be: Boolean): Long =
    if (be)
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) | ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    else
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** byte order from the header: Some(false) = II, Some(true) = MM
    * (values are left-justified in the 4-byte field either way, so
    * inline SHORTs read from the field's first two bytes in both). */
  private def byteOrder(b: Array[Byte]): Option[Boolean] = {
    if (b.length < 8) return None
    if (b(0) == 'I'.toByte && b(1) == 'I'.toByte && u16(b, 2, be = false) == 42) Some(false)
    else if (b(0) == 'M'.toByte && b(1) == 'M'.toByte && u16(b, 2, be = true) == 42) Some(true)
    else None
  }

  /** one IFD entry's values as Longs (SHORT or LONG, inline or at offset) */
  private def values(b: Array[Byte], typ: Int, count: Long, at: Int, be: Boolean): Option[IndexedSeq[Long]] = {
    val sz = typ match { case 3 => 2; case 4 => 4; case _ => return None }
    if (count < 0 || count > (1L << 20)) return None
    val total = sz * count
    val base =
      if (total <= 4) at // inline in the value field
      else {
        val ofs = u32(b, at, be)
        if (ofs + total > b.length) return None
        ofs.toInt
      }
    if (base + total > b.length) return None
    Some(
      (0 until count.toInt)
        .map(i => if (sz == 2) u16(b, base + 2 * i, be).toLong else u32(b, base + 4 * i, be))
    )
  }

  /** Decode PackBits into exactly `expect` bytes consuming exactly
    * `len` input bytes — anything else is a structural lie. */
  private[sources] def unpackBits(b: Array[Byte], ofs: Int, len: Int, expect: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expect)
    var i = ofs; var o = 0
    val end = ofs + len
    while (i < end && o < expect) {
      val n = b(i); i += 1
      if (n >= 0) { // literal run of n+1
        if (i + n + 1 > end || o + n + 1 > expect) return None
        System.arraycopy(b, i, out, o, n + 1); i += n + 1; o += n + 1
      } else if (n != -128) { // repeat next byte 1-n times
        if (i >= end || o + (1 - n) > expect) return None
        java.util.Arrays.fill(out, o, o + 1 - n, b(i)); i += 1; o += 1 - n
      } // -128: no-op
    }
    if (i == end && o == expect) Some(out) else None
  }

  private def lzwFirst(prefix: Array[Int], suffix: Array[Byte], code0: Int): Byte = {
    var c = code0
    while (c >= 258) c = prefix(c)
    c.toByte
  }

  /** TIFF-LZW decode of one strip into exactly `expect` bytes. MSB-first
    * bit order, clear=256 / EOI=257, and the spec's EARLY width change:
    * the decoder bumps when its next free slot reaches 2^w − 1 (511,
    * 1023, 2047) — one entry before the GIF pairing in
    * [[GifPixels.lzwDecode]], matching the encoder-side bump at 2^w.
    * Structural contract: the stream MUST open with ClearCode (§13),
    * EOI must land in the final declared byte (only sub-byte padding
    * after), and the output must be exactly the strip's byte count. */
  private[sources] def lzwUnpack(b: Array[Byte], ofs: Int, len: Int, expect: Int): Option[Array[Byte]] = {
    val prefix = new Array[Int](4096); val suffix = new Array[Byte](4096)
    val out = new Array[Byte](expect); var outN = 0
    val stack = new Array[Byte](4096)
    var codeSize = 9; var next = 258; var prev = -1
    var acc = 0L; var accBits = 0; var pos = ofs; val end = ofs + len
    var finished = false; var first = true
    while (!finished) {
      while (accBits < codeSize && pos < end) {
        acc = (acc << 8) | (b(pos) & 0xffL); accBits += 8; pos += 1
      }
      if (accBits < codeSize) return None // ran out of bits before EOI
      val code = ((acc >>> (accBits - codeSize)) & ((1L << codeSize) - 1)).toInt
      accBits -= codeSize; acc &= (1L << accBits) - 1
      if (first && code != 256) return None // strips must begin with ClearCode
      first = false
      if (code == 256) { codeSize = 9; next = 258; prev = -1 }
      else if (code == 257) finished = true
      else if (prev == -1) {
        if (code >= 256) return None // first code after clear must be a root
        if (outN >= expect) return None
        out(outN) = code.toByte; outN += 1; prev = code
      } else {
        if (code > next) return None
        var top = 0
        // KwKwK: code == next refers to prev + firstByte(prev)
        var c = if (code == next) prev else code
        if (code == next) { stack(top) = lzwFirst(prefix, suffix, prev); top += 1 }
        while (c >= 258) { stack(top) = suffix(c); top += 1; c = prefix(c) }
        stack(top) = c.toByte; top += 1
        if (outN + top > expect) return None
        while (top > 0) { top -= 1; out(outN) = stack(top); outN += 1 }
        if (next < 4096) {
          prefix(next) = prev; suffix(next) = lzwFirst(prefix, suffix, code)
          next += 1
          if (next == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1 // EARLY
        }
        prev = code
      }
    }
    if (pos != end || accBits >= 8 || outN != expect) None else Some(out)
  }

  /** Decoded image in the shared [[BmpPixels.Image]] shape (top-down). */
  def decode(b: Array[Byte]): Option[BmpPixels.Image] = {
    val be = byteOrder(b).getOrElse(return None)
    val ifd = u32(b, 4, be)
    if (ifd + 2 > b.length) return None
    val n = u16(b, ifd.toInt, be)
    if (ifd + 2 + n * 12 + 4 > b.length) return None
    var w = -1L; var h = -1L; var comp = 1L; var photo = -1L; var spp = 1L; var rps = Long.MaxValue
    var pred = 1L
    var bits: IndexedSeq[Long] = IndexedSeq(1L)
    var offsets: IndexedSeq[Long] = IndexedSeq.empty
    var counts: IndexedSeq[Long] = IndexedSeq.empty
    for (e <- 0 until n) {
      val at = ifd.toInt + 2 + e * 12
      val tag = u16(b, at, be); val typ = u16(b, at + 2, be); val cnt = u32(b, at + 4, be)
      def vs: Option[IndexedSeq[Long]] = values(b, typ, cnt, at + 8, be)
      def v1: Option[Long] = vs.flatMap(_.headOption)
      tag match {
        case 256 => w = v1.getOrElse(return None)
        case 257 => h = v1.getOrElse(return None)
        case 258 => bits = vs.getOrElse(return None)
        case 259 => comp = v1.getOrElse(return None)
        case 262 => photo = v1.getOrElse(return None)
        case 273 => offsets = vs.getOrElse(return None)
        case 277 => spp = v1.getOrElse(return None)
        case 278 => rps = v1.getOrElse(return None)
        case 279 => counts = vs.getOrElse(return None)
        // Predictor 2 (horizontal differencing, §14) is undone per strip
        // below; anything else would silently decode wrong pixels if
        // skipped as unknown — quarantine instead
        case 317 => pred = v1.getOrElse(return None); if (pred != 1L && pred != 2L) return None
        case _   => () // unknown tags are legal; skip
      }
    }
    // product cap (Long math): a crafted 65535×65535 header would wrap
    // the Int buffer size and throw instead of quarantining (the
    // PngPixels discipline — untrusted executor-side bytes never throw)
    if (w <= 0 || h <= 0 || w > (1L << 16) || h > (1L << 16) || w * h * 3 > Int.MaxValue) return None
    if (photo != 2 || spp != 3 || !(bits.length == 3 && bits.forall(_ == 8L))) return None
    if (comp != 1 && comp != 32773 && comp != 5) return None
    // §14 defines the differencing predictor FOR LZW; other pairings are
    // non-standard (ImageIO ignores the tag for PackBits) — quarantine
    if (pred == 2L && comp != 5L) return None
    if (rps <= 0) return None
    val rpsN = math.min(rps, h) // a huge RowsPerStrip means one strip; also keeps h+rps-1 overflow-free
    val nStrips = ((h + rpsN - 1) / rpsN).toInt
    if (offsets.length != nStrips || counts.length != nStrips) return None
    val wi = w.toInt; val hi = h.toInt
    val out = new Array[Byte](wi * hi * 3)
    var strip = 0
    while (strip < nStrips) {
      val rows = math.min(rpsN, h - strip * rpsN).toInt
      val expect = rows * wi * 3
      val ofs = offsets(strip); val len = counts(strip)
      if (ofs < 0 || len < 0 || ofs + len > b.length) return None
      val data =
        if (comp == 1) {
          if (len != expect) return None
          java.util.Arrays.copyOfRange(b, ofs.toInt, (ofs + len).toInt)
        } else if (comp == 5) lzwUnpack(b, ofs.toInt, len.toInt, expect).getOrElse(return None)
        else unpackBits(b, ofs.toInt, len.toInt, expect).getOrElse(return None)
      if (pred == 2L) {
        // undo horizontal differencing per row, per channel (§14)
        val rowBytes = wi * 3
        var ry = 0
        while (ry < rows) {
          var i = ry * rowBytes + 3
          val rowEnd = (ry + 1) * rowBytes
          while (i < rowEnd) { data(i) = (data(i) + data(i - 3)).toByte; i += 1 }
          ry += 1
        }
      }
      System.arraycopy(data, 0, out, (strip * rpsN).toInt * wi * 3, expect)
      strip += 1
    }
    Some(
      BmpPixels.Image(
        wi,
        hi,
        (x, y) => {
          val o = (y * wi + x) * 3
          ((out(o) & 0xff, out(o + 1) & 0xff, out(o + 2) & 0xff))
        }
      )
    )
  }

  /** compression tag of a decodable payload ("none" / "packbits" /
    * "lzw") — surfaced so the gate pins the dispatch, not just the
    * pixels */
  def compressionOf(b: Array[Byte]): Option[String] = {
    val be = byteOrder(b).getOrElse(return None)
    val ifd = u32(b, 4, be)
    if (ifd + 2 > b.length) return None
    val n = u16(b, ifd.toInt, be)
    if (ifd + 2 + n * 12 + 4 > b.length) return None // truncated IFD: quarantine, never throw
    (0 until n)
      .map(e => ifd.toInt + 2 + e * 12)
      .find(at => u16(b, at, be) == 259)
      .flatMap(at => values(b, u16(b, at + 2, be), u32(b, at + 4, be), at + 8, be).flatMap(_.headOption))
      .map { case 32773 => "packbits"; case 5 => "lzw"; case _ => "none" }
      .orElse(Some("none"))
  }

  // ------------------------------------------------------------- writer
  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** straightforward PackBits encoder: repeat runs ≥ 3 as repeats, else
    * literals (any valid encoding decodes identically — the decoder is
    * what the gate proves) */
  private[sources] def packBits(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < row.length) {
      var run = 1
      while (i + run < row.length && row(i + run) == row(i) && run < 128) run += 1
      if (run >= 3) {
        out.write(1 - run); out.write(row(i)); i += run
      } else {
        var lit = i + run
        var r2 = 1
        while (lit < row.length && r2 < 3 && lit - i < 128) {
          r2 = 1
          while (lit + r2 < row.length && row(lit + r2) == row(lit) && r2 < 128) r2 += 1
          if (r2 < 3) lit += r2
        }
        // the scan can overshoot the 128 boundary by one r2<3 step — cap
        val litLen = math.min(math.min(lit, row.length) - i, 128)
        out.write(litLen - 1)
        out.write(row, i, litLen)
        i += litLen
      }
    }
    out.toByteArray
  }

  /** greedy TIFF-LZW encoder for one strip (separate code path from
    * [[lzwUnpack]]'s dictionary reconstruction — fixture-vs-parser
    * discipline): MSB-first packing, leading ClearCode, encoder-side
    * EARLY width change at 2^w (one entry before GIF's 2^w+1 pairing),
    * table clear at 4094 per the spec. */
  private[sources] def lzwPack(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var accBits = 0
    var codeSize = 9; var next = 258
    val dict = new java.util.HashMap[Long, Integer]()
    def emit(code: Int): Unit = {
      acc = (acc << codeSize) | code; accBits += codeSize
      while (accBits >= 8) { out.write(((acc >>> (accBits - 8)) & 0xff).toInt); accBits -= 8 }
      acc &= (1L << accBits) - 1
    }
    emit(256)
    if (row.nonEmpty) {
      var prev = row(0) & 0xff
      var k = 1
      while (k < row.length) {
        val cur = row(k) & 0xff
        val key = (prev.toLong << 12) | cur
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          emit(prev)
          dict.put(key, next); next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
          prev = cur
          if (next == 4094) { // spec: write ClearCode and restart here
            emit(256); codeSize = 9; next = 258; dict.clear()
          }
        }
        k += 1
      }
      emit(prev)
    }
    emit(257)
    if (accBits > 0) out.write(((acc << (8 - accBits)) & 0xff).toInt)
    out.toByteArray
  }

  /** Spec-valid classic TIFF (II, 8-bit RGB chunky, 8-row strips) whose
    * pixel (x, y) carries `rgbAt(x, y)`; per-strip compression by tag
    * (1 = none, 32773 = PackBits, 5 = LZW), optionally through the §14
    * horizontal-differencing predictor — fixture-vs-parser discipline. */
  def synthesize(
      w: Int,
      h: Int,
      rgbAt: (Int, Int) => (Int, Int, Int),
      compTag: Long,
      predictor2: Boolean = false
  ): Array[Byte] = {
    val rps = 8
    val nStrips = (h + rps - 1) / rps
    val strips = (0 until nStrips).map { s =>
      val rows = math.min(rps, h - s * rps)
      val raw = new Array[Byte](rows * w * 3)
      for (ry <- 0 until rows; x <- 0 until w) {
        val (r, g, bl) = rgbAt(x, s * rps + ry)
        val o = (ry * w + x) * 3
        raw(o) = r.toByte; raw(o + 1) = g.toByte; raw(o + 2) = bl.toByte
      }
      if (predictor2) { // forward-difference per row, right to left
        val rowBytes = w * 3
        for (ry <- 0 until rows; i <- (ry * rowBytes + rowBytes - 1) until (ry * rowBytes + 3 - 1) by -1)
          raw(i) = (raw(i) - raw(i - 3)).toByte
      }
      compTag match { case 32773L => packBits(raw); case 5L => lzwPack(raw); case _ => raw }
    }
    val nTags = if (predictor2) 10 else 9
    val ifdOfs = 8
    val ifdSize = 2 + nTags * 12 + 4
    val bitsOfs = ifdOfs + ifdSize
    val offArrOfs = bitsOfs + 6
    val cntArrOfs = offArrOfs + (if (nStrips > 1) 4 * nStrips else 0)
    val dataOfs = cntArrOfs + (if (nStrips > 1) 4 * nStrips else 0)
    val stripOfs = strips.scanLeft(dataOfs.toLong)((a, s) => a + s.length).init
    def entry(tag: Int, typ: Int, count: Long, value: Long): Array[Byte] =
      le16(tag) ++ le16(typ) ++ le32(count) ++ le32(value)
    val entries =
      entry(256, 4, 1, w.toLong) ++
        entry(257, 4, 1, h.toLong) ++
        entry(258, 3, 3, bitsOfs.toLong) ++
        entry(259, 3, 1, compTag) ++
        entry(262, 3, 1, 2L) ++
        entry(273, 4, nStrips.toLong, if (nStrips > 1) offArrOfs.toLong else stripOfs.head) ++
        entry(277, 3, 1, 3L) ++
        entry(278, 4, 1, rps.toLong) ++
        entry(279, 4, nStrips.toLong, if (nStrips > 1) cntArrOfs.toLong else strips.head.length.toLong) ++
        (if (predictor2) entry(317, 3, 1, 2L) else Array.emptyByteArray)
    val header = "II".getBytes("US-ASCII") ++ le16(42) ++ le32(ifdOfs.toLong)
    val ifd = le16(nTags) ++ entries ++ le32(0L)
    val bitsArr = le16(8) ++ le16(8) ++ le16(8)
    val offArr = if (nStrips > 1) stripOfs.flatMap(le32(_)).toArray else Array.emptyByteArray
    val cntArr = if (nStrips > 1) strips.flatMap(s => le32(s.length.toLong)).toArray else Array.emptyByteArray
    header ++ ifd ++ bitsArr ++ offArr ++ cntArr ++ strips.flatten.toArray
  }
}

/** Fixture for the x163 gate: 250 classic TIFFs cycling all three
  * compressions (id%3: none / PackBits / LZW) over a closed-form pixel
  * formula — the BMP/PNG pattern; alternating-run columns make PackBits
  * repeat AND literal paths load-bearing, and the 12-byte-period rows
  * give LZW real growing matches (dictionaries cross the 9-bit width
  * boundary on the larger strips). */
object TiffFixture {
  val dir = Fixture.dir("graft_tiff")
  val twinPath = s"$dir/twin"

  /** pixel formula — mirrored verbatim in the x163 oracle SQL; the
    * x div 4 term creates 4-wide horizontal runs so PackBits repeats
    * actually occur (a pure per-pixel formula would be all literals) */
  def rgbAt(id: Long)(x: Int, y: Int): (Int, Int, Int) = (
    ((id * 5 + (x / 4) * 7 + y * 3) % 256).toInt,
    ((id * 3 + (x / 4) * 2 + y * 11) % 256).toInt,
    ((id * 17 + (x / 4) + y * 7) % 256).toInt
  )

  def rows: Seq[(Long, Array[Byte], Int, Int, String)] = (0 until 250).map { i =>
    val w = 6 + (i * 7) % 40
    val h = 5 + (i * 11) % 30
    val (tag, name) = (i % 3) match {
      case 1 => (32773L, "packbits")
      case 2 => (5L, "lzw")
      case _ => (1L, "none")
    }
    // every second LZW image routes through the §14 predictor (the
    // dominant real-world LZW configuration) — same pixel formula, so
    // the oracle is untouched and a broken inverse flips those hashes
    val pred2 = i % 6 == 5
    (i.toLong, TiffPixels.synthesize(w, h, rgbAt(i.toLong), tag, pred2), w, h, name)
  }

  // bump when the fixture definition changes: ensure() regenerates on
  // mismatch, so stale environments can't keep a pre-LZW corpus while
  // the SURVEY row claims LZW/predictor gate coverage (review finding)
  private val Version = "v2-lzw-mm-predictor"

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, Version) {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "img_id", r.map { case (id, p, _, _, _) => (id, p) })
    r.map { case (id, _, w, h, c) => (id, w, h, c) }
      .toDF("img_id", "width", "height", "compression")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}
