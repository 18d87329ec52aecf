package graft.sources

/** DEFLATE decoder from RFC 1951, with the zlib (RFC 1950) and gzip
  * (RFC 1952) wrappers — the LAST borrowed codec replaced (x264): Snappy
  * (x198), LZ4 (x199) and zstd (x227) were already first-principles, but
  * PNG/ZIP/WARC/Avro leaned on `java.util.zip.Inflater`. This reader is
  * from the public RFCs and shares no line with zlib; the JDK Inflater is
  * demoted to the CONFORMANCE TWIN (the x198/x199/x227 split: the
  * official implementation writes the fixtures and pins equality in
  * InflateSpec + the x264 gate row, the from-scratch reader is the
  * production path).
  *
  * Coverage — the full RFC 1951 decode surface:
  *   - stored blocks (LEN/NLEN ones-complement check, byte alignment);
  *   - fixed-Huffman blocks (the §3.2.6 static code; the reserved
  *     symbols 286/287 and distances 30/31 exist as codes and QUARANTINE
  *     when used);
  *   - dynamic-Huffman blocks (§3.2.7: HLIT/HDIST/HCLEN, the 19-symbol
  *     code-length alphabet in its permuted order, repeat codes 16/17/18
  *     with the no-previous-length and overrun checks);
  *   - canonical code construction per §3.2.2 with the Kraft
  *     over-subscription check at build and missing-code detection at
  *     decode (incomplete trees are legal until a missing code is read);
  *   - LZ77 back-references up to 32 KiB against the produced output,
  *     overlapping copies byte-serial as the spec requires;
  *   - `consumed` reports bytes up to the byte containing the final
  *     block's last bit — the `Inflater.getBytesRead` contract WarcScan's
  *     member walk depends on.
  *
  * Malformed shapes (reserved block type 11, NLEN mismatch, bad code
  * lengths, distance before output start, output over `maxOut` — the
  * decompression-bomb guard) return None: quarantine, never wrong bytes.
  * CRC-32 (reflected 0xEDB88320) and Adler-32 (mod 65521) are computed
  * from their definitions for the wrapper trailers.
  *
  * Scale shape: a per-payload pure function under `mapPartitions` (the
  * x98/x151/x227 byte-codec class) — no driver work, no shuffle; a
  * gzip-transport crawl corpus (WARC.gz, the dominant form) inflates
  * embarrassingly parallel.
  */
object Inflate {

  /** twin toggle: true → this decoder is the PNG/ZIP/WARC/Avro inflate
    * path; false → `java.util.zip.Inflater`, the official twin the specs
    * and the x264 gate pin equality against. */
  @volatile var useScratch: Boolean = true

  /** decode result: output bytes, compressed bytes consumed (rounded up
    * to the byte holding the final bit — the Inflater.getBytesRead
    * contract), and per-type block counts (conformance-coverage audit). */
  final case class Out(data: Array[Byte], consumed: Int, nStored: Int, nFixed: Int, nDynamic: Int)

  // control-flow-only failure (no stack trace cost on the quarantine path)
  private final class Bad extends RuntimeException(null, null, false, false)
  private def bad(): Nothing = throw new Bad

  // ------------------------------------------------------------ bit input

  /** LSB-first bit reader over b[off until lim) (RFC 1951 §3.1.1). */
  private final class Bits(b: Array[Byte], off: Int, lim: Int) {
    var pos: Int = 0 // bit position relative to off*8
    private val maxBits = (lim - off).toLong * 8

    def bit(): Int = {
      if (pos >= maxBits) bad()
      val v = (b(off + (pos >> 3)) >> (pos & 7)) & 1
      pos += 1
      v
    }

    def bits(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) { v |= bit() << k; k += 1 }
      v
    }

    def alignByte(): Unit = pos = (pos + 7) & ~7

    /** absolute byte index of the current (aligned) position */
    def bytePos: Int = off + (pos >> 3)

    def skipBytes(n: Int): Unit = pos += n * 8

    /** bytes consumed, rounding the final partial byte up */
    def consumed: Int = (pos + 7) >> 3
  }

  // --------------------------------------------- canonical Huffman codes

  /** Canonical decode tables per RFC 1951 §3.2.2: per-length symbol
    * counts + first code + first symbol index. Over-subscribed length
    * vectors fail at build; incomplete ones fail when a missing code is
    * actually read. */
  private final class Huff(lengths: Array[Int]) {
    val counts = new Array[Int](16)
    locally {
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        if (l < 0 || l > 15) bad()
        if (l > 0) counts(l) += 1
        i += 1
      }
      // Kraft inequality: over-subscription is structurally invalid
      var left = 1
      var l = 1
      while (l <= 15) { left = (left << 1) - counts(l); if (left < 0) bad(); l += 1 }
    }
    val firstCode = new Array[Int](16)
    val firstIdx = new Array[Int](16)
    locally {
      var code = 0
      var idx = 0
      var l = 1
      while (l <= 15) {
        firstCode(l) = code
        firstIdx(l) = idx
        idx += counts(l)
        code = (code + counts(l)) << 1
        l += 1
      }
    }
    val symbols: Array[Int] = {
      val next = firstIdx.clone()
      val out = new Array[Int](lengths.count(_ > 0))
      var sym = 0
      while (sym < lengths.length) {
        val l = lengths(sym)
        if (l > 0) { out(next(l)) = sym; next(l) += 1 }
        sym += 1
      }
      out
    }

    def decode(r: Bits): Int = {
      var code = 0
      var l = 0
      while (l < 15) {
        code = (code << 1) | r.bit()
        l += 1
        val c = counts(l)
        if (c != 0 && code - firstCode(l) < c) return symbols(firstIdx(l) + code - firstCode(l))
      }
      bad()
    }
  }

  // §3.2.5 length/distance code tables
  private val LenBase =
    Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195,
      227, 258)
  private val LenExtra =
    Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val DistBase =
    Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073,
      4097, 6145, 8193, 12289, 16385, 24577)
  private val DistExtra =
    Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
  // §3.2.7: code-length alphabet transmission order
  private val ClOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)

  // §3.2.6: the fixed codes (symbols 286/287 and distances 30/31
  // participate in construction and quarantine when decoded)
  private lazy val FixedLit: Huff = {
    val l = new Array[Int](288)
    var i = 0
    while (i < 288) {
      l(i) = if (i < 144) 8 else if (i < 256) 9 else if (i < 280) 7 else 8
      i += 1
    }
    new Huff(l)
  }
  private lazy val FixedDist: Huff = new Huff(Array.fill(32)(5))

  // ----------------------------------------------------------- raw DEFLATE

  /** Inflate a raw DEFLATE stream at b[off until lim). None on any
    * malformed shape or output past `maxOut`. */
  def raw(b: Array[Byte], off: Int, lim: Int, maxOut: Int): Option[Out] =
    try Some(rawOrThrow(b, off, lim, maxOut))
    catch { case _: Bad | _: ArrayIndexOutOfBoundsException => None }

  private def rawOrThrow(b: Array[Byte], off: Int, lim: Int, maxOut: Int): Out = {
    if (off < 0 || lim > b.length || off > lim) bad()
    val r = new Bits(b, off, lim)
    var out = new Array[Byte](
      math.min(math.max(1024L, (lim - off).toLong * 4), math.max(1024L, maxOut.toLong)).toInt
    )
    var n = 0
    def grow(need: Int): Unit = {
      if (need > maxOut || need < 0) bad()
      if (need > out.length) {
        var cap = out.length
        while (cap < need) cap = math.min(cap.toLong * 2, maxOut.toLong).toInt
        out = java.util.Arrays.copyOf(out, cap)
      }
    }
    var nStored = 0
    var nFixed = 0
    var nDyn = 0
    var fin = false
    while (!fin) {
      fin = r.bit() == 1
      r.bits(2) match {
        case 0 => // stored: §3.2.4
          nStored += 1
          r.alignByte()
          val p = r.bytePos
          if (p + 4 > lim) bad()
          val len = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
          val nlen = (b(p + 2) & 0xff) | ((b(p + 3) & 0xff) << 8)
          if ((len ^ 0xffff) != nlen) bad()
          if (p + 4 + len > lim) bad()
          grow(n + len)
          System.arraycopy(b, p + 4, out, n, len)
          n += len
          r.skipBytes(4 + len)
        case 1 =>
          nFixed += 1
          n = block(r, FixedLit, FixedDist, out, n, maxOut, a => out = a)
        case 2 =>
          nDyn += 1
          val hlit = r.bits(5) + 257
          val hdist = r.bits(5) + 1
          val hclen = r.bits(4) + 4
          if (hlit > 286 || hdist > 30) bad()
          val clLens = new Array[Int](19)
          var i = 0
          while (i < hclen) { clLens(ClOrder(i)) = r.bits(3); i += 1 }
          val clTree = new Huff(clLens)
          val lens = new Array[Int](hlit + hdist)
          i = 0
          while (i < lens.length) {
            val sym = clTree.decode(r)
            if (sym < 16) { lens(i) = sym; i += 1 }
            else {
              val (rep, value) = sym match {
                case 16 => if (i == 0) bad() else (3 + r.bits(2), lens(i - 1))
                case 17 => (3 + r.bits(3), 0)
                case _  => (11 + r.bits(7), 0)
              }
              if (i + rep > lens.length) bad()
              var j = 0
              while (j < rep) { lens(i) = value; i += 1; j += 1 }
            }
          }
          if (lens(256) == 0) bad() // a block with no end-of-block code
          val lit = new Huff(java.util.Arrays.copyOfRange(lens, 0, hlit))
          val dist = new Huff(java.util.Arrays.copyOfRange(lens, hlit, hlit + hdist))
          n = block(r, lit, dist, out, n, maxOut, a => out = a)
        case _ => bad() // reserved block type 11
      }
    }
    Out(java.util.Arrays.copyOf(out, n), r.consumed, nStored, nFixed, nDyn)
  }

  /** One compressed block's symbol loop (§3.2.3). The output array may
    * grow mid-block; `setOut` publishes the replacement back to the
    * caller's slot, `latest` re-reads it after a grow. */
  private def block(
      r: Bits,
      lit: Huff,
      dist: Huff,
      out0: Array[Byte],
      n0: Int,
      maxOut: Int,
      setOut: Array[Byte] => Unit
  ): Int = {
    var out = out0
    var n = n0
    // reallocation publishes back to the caller's slot via setOut
    def ensure(need: Int): Unit = {
      if (need > maxOut || need < 0) bad()
      if (need > out.length) {
        var cap = out.length
        while (cap < need) cap = math.min(cap.toLong * 2, maxOut.toLong).toInt
        out = java.util.Arrays.copyOf(out, cap)
        setOut(out)
      }
    }
    while (true) {
      val sym = lit.decode(r)
      if (sym < 256) {
        ensure(n + 1)
        out(n) = sym.toByte
        n += 1
      } else if (sym == 256) return n
      else {
        if (sym > 285) bad() // fixed-code symbols 286/287: reserved
        val li = sym - 257
        val len = LenBase(li) + r.bits(LenExtra(li))
        val ds = dist.decode(r)
        if (ds > 29) bad() // fixed-code distances 30/31: reserved
        val d = DistBase(ds) + r.bits(DistExtra(ds))
        if (d > n) bad() // back-reference before the start of output
        ensure(n + len)
        var k = 0
        var src = n - d
        while (k < len) { out(n + k) = out(src); src += 1; k += 1 } // overlap-correct byte-serial copy
        n += len
      }
    }
    n // unreachable
  }

  // ------------------------------------------------------------ checksums

  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i
      var k = 0
      while (k < 8) { c = if ((c & 1) != 0) 0xedb88320 ^ (c >>> 1) else c >>> 1; k += 1 }
      t(i) = c
      i += 1
    }
    t
  }

  /** CRC-32 (reflected polynomial 0xEDB88320) from its definition. */
  def crc32(data: Array[Byte]): Long = {
    var c = 0xffffffff
    var i = 0
    while (i < data.length) { c = CrcTable((c ^ data(i)) & 0xff) ^ (c >>> 8); i += 1 }
    (c ^ 0xffffffff).toLong & 0xffffffffL
  }

  /** Adler-32 (RFC 1950 §8) from its definition. */
  def adler32(data: Array[Byte]): Long = {
    var a = 1L
    var bsum = 0L
    var i = 0
    while (i < data.length) {
      a += data(i) & 0xff
      bsum += a
      i += 1
      if ((i & 0xfff) == 0) { a %= 65521; bsum %= 65521 } // defer the mod, safely within Long
    }
    ((bsum % 65521) << 16) | (a % 65521)
  }

  // ------------------------------------------------------------- wrappers

  /** zlib stream (RFC 1950): CM=8, FCHECK, FDICT quarantined, Adler-32
    * trailer verified. */
  def zlib(b: Array[Byte], maxOut: Int): Option[Array[Byte]] = {
    if (b.length < 6) return None
    val cmf = b(0) & 0xff
    val flg = b(1) & 0xff
    if ((cmf & 0x0f) != 8) return None // CM must be deflate
    if (((cmf << 8) | flg) % 31 != 0) return None // FCHECK
    if ((flg & 0x20) != 0) return None // FDICT: preset dictionaries quarantine
    raw(b, 2, b.length, maxOut) match {
      case Some(o) =>
        val t = 2 + o.consumed
        if (t + 4 > b.length) None
        else {
          val stored =
            ((b(t) & 0xffL) << 24) | ((b(t + 1) & 0xffL) << 16) | ((b(t + 2) & 0xffL) << 8) | (b(t + 3) & 0xffL)
          if (adler32(o.data) == stored) Some(o.data) else None
        }
      case None => None
    }
  }

  /** One gzip member (RFC 1952) at `off`: header (FEXTRA/FNAME/FCOMMENT/
    * FHCRC walked, reserved FLG bits quarantined), deflate body, CRC-32 +
    * ISIZE trailer verified. `consumed` spans the WHOLE member. */
  def gzipMember(b: Array[Byte], off: Int, maxOut: Int): Option[Out] = {
    var p = off
    if (p + 10 > b.length) return None
    if ((b(p) & 0xff) != 0x1f || (b(p + 1) & 0xff) != 0x8b) return None
    if ((b(p + 2) & 0xff) != 8) return None // CM=deflate
    val flg = b(p + 3) & 0xff
    if ((flg & 0xe0) != 0) return None // reserved FLG bits
    p += 10
    if ((flg & 4) != 0) { // FEXTRA
      if (p + 2 > b.length) return None
      val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      p += 2 + xlen
      if (p > b.length) return None
    }
    if ((flg & 8) != 0) { // FNAME: NUL-terminated
      while (p < b.length && b(p) != 0) p += 1
      p += 1
      if (p > b.length) return None
    }
    if ((flg & 16) != 0) { // FCOMMENT: NUL-terminated
      while (p < b.length && b(p) != 0) p += 1
      p += 1
      if (p > b.length) return None
    }
    if ((flg & 2) != 0) { // FHCRC: low 16 bits of the header's CRC-32
      if (p + 2 > b.length) return None
      val hcrc = crc32(java.util.Arrays.copyOfRange(b, off, p)) & 0xffffL
      val stored = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8)
      if (hcrc != stored) return None
      p += 2
    }
    if (p >= b.length) return None
    raw(b, p, b.length, maxOut) match {
      case Some(o) =>
        val t = p + o.consumed
        if (t + 8 > b.length) None
        else {
          def le4(q: Int): Long =
            (b(q) & 0xffL) | ((b(q + 1) & 0xffL) << 8) | ((b(q + 2) & 0xffL) << 16) | ((b(q + 3) & 0xffL) << 24)
          if (le4(t) != crc32(o.data)) None
          else if (le4(t + 4) != (o.data.length & 0xffffffffL)) None
          else Some(o.copy(consumed = t + 8 - off))
        }
      case None => None
    }
  }

  /** Whole gzip object: every member decoded and concatenated (multi-
    * member files are spec-legal — WARC's record-per-member transport);
    * trailing garbage quarantines. */
  def gunzip(b: Array[Byte], maxOut: Int): Option[Array[Byte]] = {
    val bos = new java.io.ByteArrayOutputStream()
    var o = 0
    while (o < b.length) {
      gzipMember(b, o, maxOut - bos.size()) match {
        case Some(m) => bos.write(m.data); o += m.consumed
        case None    => return None
      }
    }
    Some(bos.toByteArray)
  }

  // ------------------------------------------- toggle-dispatched call paths

  /** The PNG/ZIP/WARC/Avro raw-inflate path: this decoder when
    * [[useScratch]] (the default), the JDK twin otherwise — byte- and
    * consumed-count-identical on every valid stream (InflateSpec + x264
    * pin it). */
  def rawDispatch(b: Array[Byte], off: Int, lim: Int, maxOut: Int): Option[Out] =
    if (useScratch) raw(b, off, lim, maxOut) else rawJdk(b, off, lim, maxOut)

  /** the official twin, Out-shaped (block counts are -1: opaque) */
  def rawJdk(b: Array[Byte], off: Int, lim: Int, maxOut: Int): Option[Out] = {
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(b, off, lim - off)
    val bos = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(tmp)
        if (n == 0 && !inf.finished()) return None // truncated / needs dict
        if (bos.size() + n > maxOut) return None
        bos.write(tmp, 0, n)
      }
      Some(Out(bos.toByteArray, inf.getBytesRead.toInt, -1, -1, -1))
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** zlib path with the same dispatch (PNG's IDAT stream). */
  def zlibDispatch(b: Array[Byte], maxOut: Int): Option[Array[Byte]] =
    if (useScratch) zlib(b, maxOut) else zlibJdk(b, maxOut)

  /** the official zlib (RFC 1950) twin */
  def zlibJdk(b: Array[Byte], maxOut: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(b)
    val bos = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(tmp)
        if (n == 0 && !inf.finished() && (inf.needsInput() || inf.needsDictionary())) return None
        if (bos.size() + n > maxOut) return None
        bos.write(tmp, 0, n)
      }
      Some(bos.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** the official gzip (RFC 1952) twin: every member, concatenated */
  def gunzipJdk(b: Array[Byte]): Option[Array[Byte]] =
    try {
      val g = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      val bos = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = g.read(tmp)
      while (n >= 0) { bos.write(tmp, 0, n); n = g.read(tmp) }
      Some(bos.toByteArray)
    } catch { case _: java.io.IOException => None }
}

/** x264 fixture: the OFFICIAL encoders (JDK Deflater / GZIPOutputStream —
  * zlib itself) compress closed-form content across every wrapper and
  * compression level 0–9, so stored, fixed AND dynamic blocks are all
  * load-bearing in the gate row; the oracle rebuilds content from the
  * formulas and never touches the format (the x227 conformance split). */
object InflateFixture {
  val dir = Fixture.dir("graft_inflate")

  private def md5hex(s: String): String = Payloads.md5Hex(s.getBytes("UTF-8"))

  def content(z: Long): String = (z % 4) match {
    case 0 => (0 until (200 + (z % 300)).toInt).map(i => s"w${(z * 13 + i * 7) % 31} ").mkString
    case 1 => ('A' + (z % 26).toInt).toChar.toString * (500 + (z % 700)).toInt
    case 2 => (0 until (4 + (z % 8)).toInt).map(j => md5hex(s"inf$z#$j")).mkString
    case _ => (0 until (10 + (z % 20)).toInt).map(i => s"L,$z,$i,${z * 19 + i * 11}\n").mkString
  }

  /** wrapper kind: 0 = gzip member, 1 = zlib stream, 2 = raw deflate */
  def kind(z: Long): Int = (z % 3).toInt

  def fileBytes(z: Long): Array[Byte] = {
    val data = content(z).getBytes("UTF-8")
    kind(z) match {
      case 0 =>
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(data); g.close()
        bos.toByteArray
      case k =>
        val d = new java.util.zip.Deflater((z % 10).toInt, k == 2) // nowrap for raw
        d.setInput(data); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        while (!d.finished()) bos.write(tmp, 0, d.deflate(tmp))
        d.end()
        bos.toByteArray
    }
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "blob_id", (0L until 240L).map(z => (z, fileBytes(z))))
  }
}
