package graft.sources

/** REAL pixel decode for baseline JPEG — pure JDK byte/bit arithmetic from
  * the public spec (ITU-T T.81 / ISO 10918-1): marker-segment walk (SOI /
  * DQT / SOF0 / DHT / SOS / EOI), canonical Huffman decode of the
  * byte-stuffed entropy stream (DC difference prediction, AC run-length
  * with ZRL and EOB, Annex-F EXTEND sign recovery), zigzag de-ordering,
  * dequantization, separable 2-D inverse DCT, level shift, and an
  * integer fixed-point YCbCr→RGB conversion. This retires the last image
  * codec stub: with BMP (x33), PNG/deflate (x70) and GIF/LZW (x71), every
  * image format in the corpus-fixture family now decodes to real pixels
  * ([[graft.operators.Multimodal]]).
  *
  * Scope: baseline sequential DCT (SOF0), 8-bit precision, grayscale or
  * 3-component 4:4:4 (all sampling factors 1×1), no restart markers —
  * the shape [[synthesize]] emits and the dominant shape of
  * machine-generated corpora. Progressive (SOF2), subsampled chroma and
  * arithmetic coding return None: quarantine, never a thrown task, the
  * same discipline as [[PngPixels]]/[[GifPixels]]. All reads are
  * bounds-checked against the payload (untrusted executor-side bytes).
  *
  * Chroma conversion is FLOOR fixed-point (×256 integer coefficients,
  * bias-shifted so every numerator is non-negative, then >>8) rather than
  * libjpeg's rounded fixed-point: deterministic and exactly reproducible
  * in any engine's integer SQL — the property the x80 first-principles
  * oracle needs — and within JPEG's decoder-conformance tolerance.
  * JpegPixelsSpec pins conformance two independent ways: the JDK's own
  * ImageIO JPEG reader agrees exactly on DC-only payloads and within the
  * documented ±2 fixed-point envelope on AC-bearing ones, and this
  * decoder agrees exactly with a direct (non-separable) reference IDCT.
  */
object JpegPixels {

  /** zigzag scan position k → natural (row-major) coefficient index,
    * T.81 Figure A.6. */
  val ZigZag: Array[Int] = {
    val z = new Array[Int](64)
    var k = 0
    // walk the anti-diagonals s = row+col; even diagonals descend rows
    // (bottom-left → top-right), odd ones ascend — T.81 Figure A.6
    for (s <- 0 until 15) {
      val cols = math.max(0, s - 7) to math.min(7, s)
      val cells = if (s % 2 == 0) cols.map(c => (s - c, c)) else cols.map(c => (s - c, c)).reverse
      for ((r, c) <- cells) { z(k) = r * 8 + c; k += 1 }
    }
    z
  }

  /** C(f)·cos((2p+1)·f·π/16) for the separable IDCT, p = pixel, f = freq. */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (p, f) =>
    (if (f == 0) 1.0 / math.sqrt(2.0) else 1.0) * math.cos((2 * p + 1) * f * math.Pi / 16.0)
  }

  private final case class Huff(maxcode: Array[Int], mincode: Array[Int], valptr: Array[Int], vals: Array[Int])

  /** Canonical code tables per T.81 Annex C from a DHT (BITS, HUFFVAL)
    * pair; None if the lengths overflow the code space (invalid table). */
  private def buildHuff(bits: Array[Int], vals: Array[Int]): Option[Huff] = {
    val mincode = new Array[Int](17); val maxcode = Array.fill(17)(-1); val valptr = new Array[Int](17)
    var code = 0; var k = 0
    for (l <- 1 to 16) {
      if (bits(l) > 0) {
        valptr(l) = k; mincode(l) = code
        code += bits(l); k += bits(l)
        maxcode(l) = code - 1
        if (code > (1 << l)) return None
      }
      code <<= 1
    }
    if (k != vals.length) None else Some(Huff(maxcode, mincode, valptr, vals))
  }

  private object Bail extends RuntimeException with scala.util.control.NoStackTrace

  /** MSB-first reader over the entropy-coded segment with FF00 unstuffing;
    * hitting a marker or the payload end mid-symbol bails the decode. */
  private final class BitReader(b: Array[Byte], start: Int) {
    private var pos = start
    private var cur = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) throw Bail
        var v = b(pos) & 0xff; pos += 1
        if (v == 0xff) {
          if (pos >= b.length) throw Bail
          val m = b(pos) & 0xff; pos += 1
          if (m != 0x00) throw Bail // a real marker: entropy data exhausted early
          v = 0xff
        }
        cur = v; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def bits(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    /** offset of the first unconsumed byte (for locating the trailing marker) */
    def bytePos: Int = pos
  }

  private def decodeHuff(r: BitReader, h: Huff): Int = {
    var code = 0
    var l = 1
    while (l <= 16) {
      code = (code << 1) | r.bit()
      if (h.maxcode(l) >= 0 && code <= h.maxcode(l) && code >= h.mincode(l))
        return h.vals(h.valptr(l) + code - h.mincode(l))
      l += 1
    }
    throw Bail
  }

  /** T.81 F.12 EXTEND: map an s-bit magnitude to its signed value. */
  private def extend(v: Int, s: Int): Int = if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def u16be(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Floor fixed-point JFIF YCbCr→RGB: ×256 coefficients, a bias that is an
    * exact multiple of 256 keeps every numerator ≥ 0 so `>> 8` is plain
    * floor division in any engine — mirrored verbatim in the x80 oracle. */
  def ycc2rgb(y: Int, cb: Int, cr: Int): (Int, Int, Int) = (
    clamp(((y * 256 + 359 * (cr - 128) + 46080) >> 8) - 180),
    clamp(((y * 256 - 88 * (cb - 128) - 183 * (cr - 128) + 34560) >> 8) - 135),
    clamp(((y * 256 + 454 * (cb - 128) + 58112) >> 8) - 227)
  )

  /** Decode a baseline sequential JPEG (scope above); None otherwise. */
  def decode(b: Array[Byte]): Option[BmpPixels.Image] =
    try decodeOrBail(b)
    catch { case Bail => None; case _: ArrayIndexOutOfBoundsException => None }

  private def decodeOrBail(b: Array[Byte]): Option[BmpPixels.Image] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var o = 2
    val qt = new Array[Array[Int]](4) // zigzag order, as transmitted
    val dcTab = new Array[Huff](4); val acTab = new Array[Huff](4)
    var w = 0; var h = 0; var ncomp = 0
    var compQ: Array[Int] = null // frame component → quant table id
    var compIds: Array[Int] = null // frame component → its id byte (binds SOS)
    var compDc: Array[Int] = null; var compAc: Array[Int] = null
    var scanOrder: Array[Int] = null // scan position → frame component index
    var scanStart = -1
    while (scanStart < 0) {
      if (o + 2 > b.length) return None
      if ((b(o) & 0xff) != 0xff) return None
      val m = b(o + 1) & 0xff; o += 2
      m match {
        case 0xd8 => // stray SOI
        case 0xd9 => return None // EOI before any scan
        case 0x01 => // TEM, standalone
        case _ =>
          if (o + 2 > b.length) return None
          val len = u16be(b, o)
          if (len < 2 || o + len > b.length) return None
          val end = o + len
          var p = o + 2
          m match {
            case 0xdb => // DQT: one or more (Pq/Tq, 64 entries) tables
              while (p < end) {
                val pq = (b(p) & 0xf0) >> 4; val tq = b(p) & 0x0f
                if (pq != 0 || tq > 3 || p + 65 > end) return None // 8-bit precision only
                qt(tq) = Array.tabulate(64)(i => b(p + 1 + i) & 0xff)
                p += 65
              }
            case 0xc4 => // DHT: one or more (Tc/Th, BITS, HUFFVAL) tables
              while (p < end) {
                val tc = (b(p) & 0xf0) >> 4; val th = b(p) & 0x0f
                if (tc > 1 || th > 3 || p + 17 > end) return None
                val bits = new Array[Int](17)
                var n = 0
                for (l <- 1 to 16) { bits(l) = b(p + l) & 0xff; n += bits(l) }
                if (p + 17 + n > end) return None
                val vals = Array.tabulate(n)(i => b(p + 17 + i) & 0xff)
                val t = buildHuff(bits, vals).getOrElse(return None)
                if (tc == 0) dcTab(th) = t else acTab(th) = t
                p += 17 + n
              }
            case 0xc0 => // SOF0 baseline
              if (ncomp != 0 || p + 6 > end) return None
              if ((b(p) & 0xff) != 8) return None // sample precision
              h = u16be(b, p + 1); w = u16be(b, p + 3)
              ncomp = b(p + 5) & 0xff
              if (w <= 0 || h <= 0 || w > 8192 || h > 8192) return None
              // pad to whole MCUs; cap the plane allocation (untrusted dims)
              if (((w + 7L) / 8) * 8 * (((h + 7L) / 8) * 8) > (1L << 24)) return None
              if (ncomp != 1 && ncomp != 3) return None
              if (p + 6 + 3 * ncomp > end) return None
              compQ = new Array[Int](ncomp); compIds = new Array[Int](ncomp)
              for (c <- 0 until ncomp) {
                compIds(c) = b(p + 6 + 3 * c) & 0xff
                val samp = b(p + 7 + 3 * c) & 0xff
                if (samp != 0x11) return None // 4:4:4 / grayscale only
                compQ(c) = b(p + 8 + 3 * c) & 0xff
                if (compQ(c) > 3) return None
              }
              if (compIds.distinct.length != ncomp) return None
            case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
              return None // extended/progressive/lossless/arithmetic SOFs
            case 0xdd => // DRI: restart markers unsupported → quarantine
              if (len != 4 || u16be(b, p) != 0) return None
            case 0xda => // SOS
              if (ncomp == 0) return None
              val ns = b(p) & 0xff
              if (ns != ncomp || p + 1 + 2 * ns + 3 > end) return None
              compDc = new Array[Int](ncomp); compAc = new Array[Int](ncomp)
              scanOrder = new Array[Int](ns)
              for (j <- 0 until ns) {
                // the Cs id byte — not the list position — binds a scan
                // entry to its frame component (T.81 B.2.3); MCU data-unit
                // order follows the SCAN's component order
                val cs = b(p + 1 + 2 * j) & 0xff
                val fi = compIds.indexOf(cs)
                if (fi < 0) return None
                scanOrder(j) = fi
                compDc(fi) = (b(p + 2 + 2 * j) & 0xf0) >> 4
                compAc(fi) = b(p + 2 + 2 * j) & 0x0f
                if (compDc(fi) > 3 || compAc(fi) > 3) return None
              }
              if (scanOrder.distinct.length != ns) return None
              scanStart = end
            case _ => // APPn / COM / other: skip
          }
          o = end
      }
    }
    // validate the tables every scan component references exist
    for (c <- 0 until ncomp)
      if (qt(compQ(c)) == null || dcTab(compDc(c)) == null || acTab(compAc(c)) == null) return None

    val mcusX = (w + 7) / 8; val mcusY = (h + 7) / 8
    val padW = mcusX * 8
    val planes = Array.fill(ncomp)(new Array[Byte](padW * mcusY * 8))
    val r = new BitReader(b, scanStart)
    val pred = new Array[Int](ncomp)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    for (my <- 0 until mcusY; mx <- 0 until mcusX; j <- 0 until ncomp) {
      val c = scanOrder(j) // data units follow the scan's component order
      java.util.Arrays.fill(coef, 0)
      val q = qt(compQ(c))
      // DC: category symbol, then the difference's magnitude bits
      val t = decodeHuff(r, dcTab(compDc(c)))
      if (t > 11) throw Bail
      pred(c) += extend(r.bits(t), t)
      // spec range for 8-bit baseline DC is 11 bits + sign; an adversarial
      // diff stream could otherwise walk pred past Int range via * q(0)
      if (pred(c) < -2048 || pred(c) > 2047) throw Bail
      coef(0) = pred(c) * q(0)
      // AC: (run, size) symbols over zigzag positions 1..63
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = decodeHuff(r, acTab(compAc(c)))
        val run = rs >> 4; val size = rs & 0x0f
        if (size == 0) { if (run == 15) k += 16 else eob = true }
        else {
          k += run
          if (k > 63) throw Bail
          coef(ZigZag(k)) = extend(r.bits(size), size) * q(k)
          k += 1
        }
      }
      // separable IDCT: rows then columns, 1/4 scale folded into pass 2
      for (v <- 0 until 8; x <- 0 until 8) {
        var s = 0.0
        for (u <- 0 until 8) s += Cos(x)(u) * coef(v * 8 + u)
        tmp(v * 8 + x) = s
      }
      val plane = planes(c)
      for (yb <- 0 until 8; xb <- 0 until 8) {
        var s = 0.0
        for (v <- 0 until 8) s += Cos(yb)(v) * tmp(v * 8 + xb)
        val px = my * 8 + yb
        plane((px * padW) + mx * 8 + xb) = clamp(math.round(0.25 * s).toInt + 128).toByte
      }
    }
    // exact-consumption contract (the MpegAudio discipline): the marker
    // after the last MCU must be EOI. Pad bits live inside the final
    // entropy byte the reader already consumed (a 0xFF pad byte carries
    // its stuffed 0x00 with it), so bytePos points at the marker's 0xFF —
    // a payload with garbage appended after a valid entropy stream is a
    // structural lie and quarantines instead of decoding.
    if (r.bytePos + 1 >= b.length ||
      (b(r.bytePos) & 0xff) != 0xff || (b(r.bytePos + 1) & 0xff) != 0xd9) return None
    Some(BmpPixels.Image(w, h, (x, y) => {
      val i = y * padW + x
      if (ncomp == 1) { val v = planes(0)(i) & 0xff; (v, v, v) }
      else ycc2rgb(planes(0)(i) & 0xff, planes(1)(i) & 0xff, planes(2)(i) & 0xff)
    }))
  }

  // ---------------------------------------------------------------- writer

  /** Fixture Huffman tables — spec-valid canonical (BITS, HUFFVAL) pairs
    * carried in the payload's own DHT segments, as any real JPEG's are;
    * the decoder reads them from the bytes, never from these objects.
    * Luma and chroma differ in value order so table selection is
    * load-bearing. The length-2 EOB code keeps the AC shape realistic. */
  private def dcSpec(chroma: Boolean): (Array[Int], Array[Int]) = {
    val bits = Array(0, 0, 1, 2, 4, 5, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val vals = if (chroma) Array(1, 0, 3, 2, 5, 4, 7, 6, 9, 8, 11, 10) else (0 to 11).toArray
    (bits, vals)
  }
  private def acSpec(chroma: Boolean): (Array[Int], Array[Int]) = {
    val bits = Array(0, 0, 1, 0, 0, 0, 0, 0, 161, 0, 0, 0, 0, 0, 0, 0, 0)
    val runSize = for (run <- 0 to 15; size <- 1 to 10) yield (run << 4) | size
    val vals =
      if (chroma) Array(0x00, 0xf0) ++ runSize
      else Array(0x00) ++ runSize ++ Array(0xf0)
    (bits, vals)
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (n > 0) { put(0xff, 8 - n) } // pad with 1-bits
  }

  private def encodeMap(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0; var k = 0
    val m = scala.collection.mutable.Map[Int, (Int, Int)]()
    for (l <- 1 to 16) {
      for (_ <- 0 until bits(l)) { m(vals(k)) = (code, l); code += 1; k += 1 }
      code <<= 1
    }
    m.toMap
  }

  private def category(v: Int): Int = { var a = math.abs(v); var s = 0; while (a > 0) { a >>= 1; s += 1 }; s }

  private def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
    Array(0xff.toByte, marker.toByte, ((payload.length + 2) >> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++ payload

  /** Spec-valid baseline JPEG from QUANTIZED coefficients: `coefAt(c, bx,
    * by)` returns block (bx, by) of component c in zigzag order. 1 or 3
    * components (4:4:4). A separate forward path from [[decode]]
    * (fixture-vs-parser discipline, as [[PngPixels.synthesize]]): it
    * Huffman-codes DC diffs and AC runs directly — including ZRL for
    * runs ≥ 16 — and byte-stuffs the stream. Quant tables `qts` are in
    * zigzag order; component c uses table `min(c, qts.length-1)`.
    * `scanOrder` permutes the SOS component listing AND the MCU data-unit
    * interleave (T.81 allows any scan order; the Cs ids bind components),
    * so the decoder's id-binding path is conformance-testable. */
  def synthesize(
      w: Int,
      h: Int,
      ncomp: Int,
      qts: Seq[Array[Int]],
      coefAt: (Int, Int, Int) => Array[Int],
      scanOrder: Seq[Int] = Seq.empty
  ): Array[Byte] = {
    require(ncomp == 1 || ncomp == 3)
    val order = if (scanOrder.isEmpty) 0 until ncomp else scanOrder
    require(order.sorted == (0 until ncomp))
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    // minimal JFIF APP0 for interoperability (ImageIO cross-validation)
    out.write(
      seg(0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0) ++ Array[Byte](0, 1, 0, 1, 0, 0))
    )
    for ((q, i) <- qts.zipWithIndex)
      out.write(seg(0xdb, Array((0 << 4 | i).toByte) ++ q.map(_.toByte)))
    val sof = Array[Byte](8, (h >> 8).toByte, (h & 0xff).toByte, (w >> 8).toByte, (w & 0xff).toByte, ncomp.toByte) ++
      (0 until ncomp).flatMap(c => Array((c + 1).toByte, 0x11.toByte, math.min(c, qts.length - 1).toByte))
    out.write(seg(0xc0, sof))
    val nTabs = if (ncomp == 1) 1 else 2
    val dcs = (0 until nTabs).map(i => dcSpec(chroma = i == 1))
    val acs = (0 until nTabs).map(i => acSpec(chroma = i == 1))
    for (i <- 0 until nTabs) {
      out.write(seg(0xc4, Array((0 << 4 | i).toByte) ++ dcs(i)._1.drop(1).map(_.toByte) ++ dcs(i)._2.map(_.toByte)))
      out.write(seg(0xc4, Array((1 << 4 | i).toByte) ++ acs(i)._1.drop(1).map(_.toByte) ++ acs(i)._2.map(_.toByte)))
    }
    val sos = Array[Byte](ncomp.toByte) ++
      order.flatMap { c =>
        val t = math.min(c, nTabs - 1); Array((c + 1).toByte, (t << 4 | t).toByte)
      } ++ Array[Byte](0, 63, 0)
    out.write(seg(0xda, sos))
    val dcMaps = dcs.map { case (b2, v) => encodeMap(b2, v) }
    val acMaps = acs.map { case (b2, v) => encodeMap(b2, v) }
    val bw = new BitWriter(out)
    val pred = new Array[Int](ncomp)
    val mcusX = (w + 7) / 8; val mcusY = (h + 7) / 8
    for (my <- 0 until mcusY; mx <- 0 until mcusX; c <- order) {
      val tab = math.min(c, nTabs - 1)
      val z = coefAt(c, mx, my)
      val diff = z(0) - pred(c); pred(c) = z(0)
      val t = category(diff)
      val (dcode, dlen) = dcMaps(tab)(t)
      bw.put(dcode, dlen)
      if (t > 0) bw.put(if (diff < 0) diff - 1 + (1 << t) else diff, t) // wait-free ones'-complement
      var k = 1
      var lastNz = 63
      while (lastNz >= 1 && z(lastNz) == 0) lastNz -= 1
      while (k <= lastNz) {
        var run = 0
        while (z(k) == 0) { run += 1; k += 1 }
        while (run >= 16) { val (zc, zl) = acMaps(tab)(0xf0); bw.put(zc, zl); run -= 16 }
        val v = z(k); val s = category(v)
        val (acode, alen) = acMaps(tab)((run << 4) | s)
        bw.put(acode, alen)
        bw.put(if (v < 0) v - 1 + (1 << s) else v, s)
        k += 1
      }
      if (lastNz < 63) { val (ec, el) = acMaps(tab)(0x00); bw.put(ec, el) }
    }
    bw.flush()
    out.write(Array(0xff, 0xd9).map(_.toByte)) // EOI
    out.toByteArray
  }
}

/** Fixture for the x80 real-JPEG gate query: 250 3-component 4:4:4
  * baseline JPEGs whose per-block luma/chroma values follow closed-form
  * formulas of (img_id, bx, by) — the x33/x70/x71 first-principles-oracle
  * pattern. Each block carries its DC (so DC difference prediction across
  * the interleaved MCU stream is load-bearing) plus one AC coefficient at
  * zigzag 14 = basis (u=4, v=0), whose IDCT is EXACTLY ±F/8 with the
  * column-sign pattern (+,−,−,+,+,−,−,+): with quant step 8 the decoded
  * pixel is the integer `dc + s(x)·ac`, so the DuckDB oracle recomputes
  * every pixel — and the fixed-point RGB conversion — in pure integer SQL
  * without parsing a byte of JPEG. Non-multiple-of-8 dimensions make MCU
  * padding/cropping load-bearing too. */
object JpegFixture {
  val dir = Fixture.dir("graft_jpeg")
  val twinPath = s"$dir/twin"

  /** luma DC stays in 8..247 so ±2 AC never clamps — mirrored in the oracle */
  def yAt(id: Long, bx: Int, by: Int): Int = (8 + (id * 5 + bx * 7 + by * 3) % 240).toInt
  def cbAt(id: Long, bx: Int, by: Int): Int = ((id * 3 + bx * 2 + by * 5) % 256).toInt
  def crAt(id: Long, bx: Int, by: Int): Int = ((id * 7 + bx * 4 + by) % 256).toInt
  def acAt(id: Long, bx: Int, by: Int): Int = ((id + bx + by) % 5 - 2).toInt

  private val q8 = Array.fill(64)(8)

  def payload(id: Long, w: Int, h: Int): Array[Byte] =
    JpegPixels.synthesize(
      w,
      h,
      3,
      Seq(q8, q8),
      (c, bx, by) => {
        val z = new Array[Int](64)
        z(0) = (c match {
          case 0 => yAt(id, bx, by)
          case 1 => cbAt(id, bx, by)
          case _ => crAt(id, bx, by)
        }) - 128
        if (c == 0) z(14) = acAt(id, bx, by) // zigzag 14 = (u=4, v=0)
        z
      }
    )

  def rows: Seq[(Long, Array[Byte], Int, Int)] = (0 until 250).map { i =>
    val w = 5 + (i * 7) % 45
    val h = 4 + (i * 11) % 37
    (i.toLong, payload(i.toLong, w, h), w, h)
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
