package graft.sources

/** REAL pixel decode for GIF — the LZW half of the compressed-image pair
  * (PNG/deflate is [[PngPixels]]): pure byte arithmetic from the public
  * GIF89a specification, no codec library. Header + logical screen
  * descriptor, global color table, image descriptor, then the variable-
  * width LSB-first LZW code stream (clear/EOI codes, dictionary growth to
  * 12 bits, KwKwK self-reference case, mid-stream clear resets) decoded
  * into palette indices and expanded through the color table.
  *
  * Scope: non-interlaced, global-color-table images whose frame fills the
  * logical screen (the shape [[synthesize]] emits and the dominant
  * single-frame corpus shape). Local color tables, interlace, and
  * transparency extensions quarantine as None — never a thrown task. All
  * offsets are bounds-checked (untrusted executor-side bytes, the
  * [[ImageMeta]]/[[PngPixels]] discipline).
  *
  * Conformance is pinned both directions against the JDK's own ImageIO
  * GIF plugin in GifPixelsSpec (the pandas.read_sas pattern): ImageIO
  * decodes [[synthesize]]'s output to the same pixels, and this decoder
  * matches ImageIO on every fixture payload.
  */
object GifPixels {

  private def u16le(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  /** Decode a non-interlaced GCT GIF; None for anything else or corrupt. */
  def decode(b: Array[Byte]): Option[BmpPixels.Image] = {
    if (b.length < 13) return None
    val sig = new String(b, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val sw = u16le(b, 6); val sh = u16le(b, 8)
    val packed = b(10) & 0xff
    if ((packed & 0x80) == 0) return None // no global color table: out of scope
    val gctSize = 2 << (packed & 0x07)
    var o = 13
    if (o + 3 * gctSize > b.length) return None
    val gct = o
    o += 3 * gctSize
    // walk blocks to the first image descriptor, skipping extensions
    while (o < b.length && (b(o) & 0xff) == 0x21) {
      o += 2 // introducer + label
      while (o < b.length && b(o) != 0) o += 1 + (b(o) & 0xff)
      if (o >= b.length) return None
      o += 1 // block terminator
    }
    if (o >= b.length || (b(o) & 0xff) != 0x2c) return None
    if (o + 10 > b.length) return None
    val left = u16le(b, o + 1); val top = u16le(b, o + 3)
    val w = u16le(b, o + 5); val h = u16le(b, o + 7)
    val ipacked = b(o + 9) & 0xff
    // local color table or interlace: out of scope; frame must fill screen
    if ((ipacked & 0x80) != 0 || (ipacked & 0x40) != 0) return None
    if (left != 0 || top != 0 || w != sw || h != sh || w == 0 || h == 0) return None
    if (w.toLong * h > (1 << 26)) return None // cap allocation for crafted dims
    o += 10
    if (o >= b.length) return None
    val mcs = b(o) & 0xff
    if (mcs < 2 || mcs > 8) return None
    o += 1
    // concatenate data sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      if (o >= b.length) return None
      val n = b(o) & 0xff
      if (n == 0) { done = true; o += 1 }
      else {
        if (o + 1 + n > b.length) return None
        data.write(b, o + 1, n); o += 1 + n
      }
    }
    val idx = lzwDecode(data.toByteArray, mcs, w * h).getOrElse(return None)
    // palette expansion, bounds-checked against the GCT size
    if (idx.exists(i => (i & 0xff) >= gctSize)) return None
    Some(BmpPixels.Image(w, h, (x, y) => {
      val p = gct + 3 * (idx(y * w + x) & 0xff)
      ((b(p) & 0xff, b(p + 1) & 0xff, b(p + 2) & 0xff))
    }))
  }

  /** Variable-width LSB-first GIF-LZW decode of exactly `expected` indices.
    * Dictionary as parallel prefix/suffix arrays; entries emitted by
    * walking the prefix chain (spec Appendix F shape). */
  private[sources] def lzwDecode(data: Array[Byte], mcs: Int, expected: Int): Option[Array[Byte]] = {
    val clear = 1 << mcs; val eoi = clear + 1
    val prefix = new Array[Int](4096); val suffix = new Array[Byte](4096)
    val out = new Array[Byte](expected)
    val stack = new Array[Byte](4096)
    var outN = 0
    var codeSize = mcs + 1; var next = eoi + 1; var prev = -1
    var acc = 0L; var accBits = 0; var pos = 0
    var finished = false
    while (!finished) {
      while (accBits < codeSize && pos < data.length) {
        acc |= (data(pos) & 0xffL) << accBits; accBits += 8; pos += 1
      }
      if (accBits < codeSize) return None // ran out of bits before EOI
      val code = (acc & ((1L << codeSize) - 1)).toInt
      acc >>>= codeSize; accBits -= codeSize
      if (code == clear) { codeSize = mcs + 1; next = eoi + 1; prev = -1 }
      else if (code == eoi) finished = true
      else if (prev == -1) {
        if (code >= clear) return None // first code after clear must be a root
        if (outN >= expected) return None
        out(outN) = code.toByte; outN += 1
        prev = code
      } else {
        if (code > next || code == eoi) return None
        var top = 0
        // KwKwK: code == next refers to prev + firstByte(prev)
        var c = if (code == next) prev else code
        if (code == next) { stack(top) = firstByte(prefix, suffix, prev, clear); top += 1 }
        while (c >= clear + 2) { stack(top) = suffix(c); top += 1; c = prefix(c) }
        stack(top) = c.toByte; top += 1
        if (outN + top > expected) return None
        while (top > 0) { top -= 1; out(outN) = stack(top); outN += 1 }
        if (next < 4096) {
          prefix(next) = prev
          suffix(next) = firstByte(prefix, suffix, code, clear)
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    if (outN != expected) None else Some(out)
  }

  private def firstByte(prefix: Array[Int], suffix: Array[Byte], code0: Int, clear: Int): Byte = {
    var c = code0
    while (c >= clear + 2) c = prefix(c)
    c.toByte
  }

  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Spec-valid single-frame GCT GIF whose pixel (x, y) carries palette
    * index `idxAt(x, y)` — a REAL greedy-longest-match LZW encoder
    * (separate code path from [[decode]]'s dictionary reconstruction:
    * fixture-vs-parser discipline), 256-entry global color table from
    * `palette`, mid-stream clear reset when the dictionary fills. */
  def synthesize(w: Int, h: Int, idxAt: (Int, Int) => Int, palette: Int => (Int, Int, Int)): Array[Byte] = {
    val mcs = 8; val clear = 1 << mcs; val eoi = clear + 1
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var accBits = 0
    var codeSize = mcs + 1; var next = eoi + 1
    val dict = new java.util.HashMap[Long, Integer]()
    def emit(code: Int): Unit = {
      acc |= code.toLong << accBits; accBits += codeSize
      while (accBits >= 8) { bits.write((acc & 0xff).toInt); acc >>>= 8; accBits -= 8 }
    }
    emit(clear)
    var prev = idxAt(0, 0) & 0xff
    var k = 1
    val total = w * h
    while (k < total) {
      val cur = idxAt(k % w, k / w) & 0xff
      val key = (prev.toLong << 12) | cur
      val hit = dict.get(key)
      if (hit != null) prev = hit.intValue()
      else {
        emit(prev)
        if (next == 4096) {
          emit(clear); codeSize = mcs + 1; next = eoi + 1; dict.clear()
        } else {
          dict.put(key, next); next += 1
          // encoder grows one entry later than the decoder: it emits a
          // code BEFORE adding the entry that code's arrival creates on
          // the decode side (the classic GIF-LZW off-by-one)
          if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
        }
        prev = cur
      }
      k += 1
    }
    emit(prev); emit(eoi)
    if (accBits > 0) bits.write((acc & 0xff).toInt)
    val lzw = bits.toByteArray
    val gct = Array.tabulate(256) { i => palette(i) }.flatMap { case (r, g, b) =>
      Array(r.toByte, g.toByte, b.toByte)
    }
    val blocks = new java.io.ByteArrayOutputStream()
    lzw.grouped(255).foreach { g => blocks.write(g.length); blocks.write(g, 0, g.length) }
    blocks.write(0)
    "GIF89a".getBytes("US-ASCII") ++ le16(w) ++ le16(h) ++
      Array((0x80 | 0x07).toByte, 0.toByte, 0.toByte) ++ gct ++
      Array(0x2c.toByte) ++ le16(0) ++ le16(0) ++ le16(w) ++ le16(h) ++ Array(0.toByte) ++
      Array(mcs.toByte) ++ blocks.toByteArray ++ Array(0x3b.toByte)
  }
}

/** Fixture for the x71 real-GIF gate query: 250 GIFs whose palette and
  * pixel indices follow closed-form formulas of (img_id, x, y) — the
  * composite palette[idx] formula is what the DuckDB oracle recomputes
  * from first principles without parsing a byte of GIF. */
object GifFixture {
  val dir = Fixture.dir("graft_gif")
  val twinPath = s"$dir/twin"

  /** index + palette formulas — mirrored verbatim in the x71 oracle SQL */
  def idxAt(id: Long)(x: Int, y: Int): Int = ((id * 7 + x * 3 + y * 5) % 256).toInt
  def palette(i: Int): (Int, Int, Int) = ((i * 3 + 7) % 256, (i * 5 + 11) % 256, (i * 7 + 13) % 256)

  def rows: Seq[(Long, Array[Byte], Int, Int)] = (0 until 250).map { i =>
    val w = 6 + (i * 7) % 40
    val h = 5 + (i * 11) % 32
    (i.toLong, GifPixels.synthesize(w, h, idxAt(i.toLong), palette), w, h)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "img_id", r.map { case (id, p, _, _) => (id, p) })
    r.map { case (id, _, w, h) => (id, w, h) }
      .toDF("img_id", "width", "height")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}
