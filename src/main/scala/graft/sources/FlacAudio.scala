package graft.sources

/** FLAC lossless audio codec subset from first principles (RFC 9639 / the
  * xiph format spec) — the LOSSLESS tier of the audio family: [[MpegAudio]]
  * walks the MP3 container, [[AdpcmAudio]] decodes the lossy-predictor tier,
  * this decodes (and, for fixtures, encodes) real entropy-coded FLAC:
  * metadata-block walk (STREAMINFO), frame headers with UTF-8-coded frame
  * numbers + CRC-8, stereo decorrelation (independent, left/side,
  * right/side, mid/side), subframe predictors (CONSTANT, VERBATIM, FIXED
  * orders 0–4, LPC with quantized integer coefficients), wasted-bits
  * shifting, partitioned Rice residuals (both 4- and 5-bit parameter
  * methods, escape partitions), frame CRC-16, and the STREAMINFO MD5 of the
  * decoded PCM.
  *
  * Everything is integer arithmetic (Rice fold/unfold, 64-bit LPC
  * accumulate >> shift, floor-div mid/side), so decode is bit-exact by
  * construction — which is what lets the x111 oracle check the decoded
  * samples against the closed-form fixture signal: FLAC is lossless, so
  * decoded == encoder input independent of every predictor/partition
  * choice the encoder made.
  *
  * Conformance without an external codec (none exists in this container —
  * the PNG decoder had ImageIO, audio has nothing): the STREAMINFO MD5 is
  * computed by the encoder over its INPUT signal and verified by the
  * decoder over its OUTPUT PCM, so any asymmetry between the two sides
  * (and any mis-decode of a valid stream) quarantines instead of passing.
  * Structural lies (bad sync, CRC-8/CRC-16 mismatch, reserved codes,
  * non-canonical UTF-8 frame numbers, trailing bytes, out-of-range
  * samples) all quarantine — the sibling-parser discipline.
  *
  * Scope (documented subset): 16-bit samples, 1–2 channels, fixed blocking
  * strategy, frame sample-rate/size codes that agree with STREAMINFO.
  */
object FlacAudio {

  // ---- CRCs (RFC 9639 §9.1/§9.2: CRC-8 poly 0x07, CRC-16 poly 0x8005,
  // both init 0, MSB-first) ----
  def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= (b(i) & 0xff)
      var k = 0
      while (k < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff; k += 1 }
      i += 1
    }
    c
  }

  def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) { c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff; k += 1 }
      i += 1
    }
    c
  }

  private object Quarantine extends RuntimeException("flac quarantine") {
    override def fillInStackTrace(): Throwable = this
  }

  // ---- MSB-first bit IO ----
  final class BitWriter {
    private val bos = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def writeBit(v: Int): Unit = {
      cur = (cur << 1) | (v & 1); nbits += 1
      if (nbits == 8) { bos.write(cur); cur = 0; nbits = 0 }
    }
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(((v >>> i) & 1L).toInt); i -= 1 }
    }
    def writeUnary(n: Int): Unit = { var i = 0; while (i < n) { writeBit(0); i += 1 }; writeBit(1) }
    def padToByte(): Unit = while (nbits != 0) writeBit(0)
    def toBytes: Array[Byte] = { require(nbits == 0, "unaligned"); bos.toByteArray }
  }

  final class BitReader(b: Array[Byte], var bytePos: Int) {
    private var bitPos = 0
    def readBit(): Int = {
      if (bytePos >= b.length) throw Quarantine
      val v = (b(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      v
    }
    def readBits(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readSigned(n: Int): Long = {
      if (n == 0) return 0L
      val v = readBits(n)
      if ((v & (1L << (n - 1))) != 0) v - (1L << n) else v
    }
    def readUnary(): Int = {
      var n = 0
      while (readBit() == 0) { n += 1; if (n > (1 << 24)) throw Quarantine }
      n
    }
    def atByteBoundary: Boolean = bitPos == 0
  }

  /** Decoded stream: `samples` interleaved (frame-major, channel-minor). */
  case class Pcm(channels: Int, bps: Int, sampleRate: Int, nPerChannel: Long, samples: Array[Int])

  private val FrameRates =
    Array(-1, 88200, 176400, 192000, 8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000)

  private def readUtf8Num(r: BitReader): Long = {
    val b0 = r.readBits(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var n = 0
    var mask = 0x40
    while (n < 7 && (b0 & mask) != 0) { n += 1; mask >>= 1 }
    if (n < 1 || n > 6) throw Quarantine
    var v = (b0 & (mask - 1)).toLong
    var i = 0
    while (i < n) {
      val c = r.readBits(8).toInt
      if ((c & 0xc0) != 0x80) throw Quarantine
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    // canonical form only: an over-long encoding of a small number is a
    // structural lie (same rule UTF-8 proper applies)
    val minV = Array(0L, 0x80L, 0x800L, 0x10000L, 0x200000L, 0x4000000L, 0x80000000L)(n)
    if (v < minV) throw Quarantine
    v
  }

  private def decodeResidual(r: BitReader, bs: Int, order: Int): Array[Long] = {
    val method = r.readBits(2).toInt
    if (method > 1) throw Quarantine
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 15 else 31
    val po = r.readBits(4).toInt
    val nParts = 1 << po
    if (bs % nParts != 0) throw Quarantine
    val partLen = bs / nParts
    if (partLen < order || (partLen == order && nParts == 1)) throw Quarantine
    val res = new Array[Long](bs - order)
    var idx = 0
    var part = 0
    while (part < nParts) {
      val cnt = if (part == 0) partLen - order else partLen
      val param = r.readBits(pBits).toInt
      if (param == escape) {
        val rawBits = r.readBits(5).toInt
        var i = 0
        while (i < cnt) { res(idx) = if (rawBits == 0) 0L else r.readSigned(rawBits); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < cnt) {
          val q = r.readUnary().toLong
          val rem = if (param == 0) 0L else r.readBits(param)
          val u = (q << param) | rem
          res(idx) = (u >>> 1) ^ -(u & 1L) // Rice unfold (zigzag inverse)
          idx += 1
          i += 1
        }
      }
      part += 1
    }
    res
  }

  private def fixedPred(out: Array[Long], i: Int, order: Int): Long = order match {
    case 0 => 0L
    case 1 => out(i - 1)
    case 2 => 2 * out(i - 1) - out(i - 2)
    case 3 => 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3)
    case _ => 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) - out(i - 4)
  }

  private def decodeSubframe(r: BitReader, bs: Int, sbps: Int): Array[Long] = {
    if (r.readBit() != 0) throw Quarantine // padding bit
    val typ = r.readBits(6).toInt
    var wasted = 0
    if (r.readBit() == 1) wasted = r.readUnary() + 1
    val effBps = sbps - wasted
    if (effBps <= 0 || effBps > 33) throw Quarantine
    val out = new Array[Long](bs)
    if (typ == 0) {
      java.util.Arrays.fill(out, r.readSigned(effBps))
    } else if (typ == 1) {
      var i = 0
      while (i < bs) { out(i) = r.readSigned(effBps); i += 1 }
    } else if ((typ & 0x38) == 0x08 && (typ & 0x07) <= 4) { // FIXED 0b001ooo
      val order = typ & 0x07
      if (order > bs) throw Quarantine
      var i = 0
      while (i < order) { out(i) = r.readSigned(effBps); i += 1 }
      val res = decodeResidual(r, bs, order)
      i = order
      while (i < bs) { out(i) = fixedPred(out, i, order) + res(i - order); i += 1 }
    } else if ((typ & 0x20) != 0) { // LPC 0b1ooooo, order-1 in low 5 bits
      val order = (typ & 0x1f) + 1
      if (order > bs) throw Quarantine
      var i = 0
      while (i < order) { out(i) = r.readSigned(effBps); i += 1 }
      val precM1 = r.readBits(4).toInt
      if (precM1 == 15) throw Quarantine
      val prec = precM1 + 1
      val shift = r.readSigned(5).toInt
      if (shift < 0) throw Quarantine
      val coefs = new Array[Long](order)
      i = 0
      while (i < order) { coefs(i) = r.readSigned(prec); i += 1 }
      val res = decodeResidual(r, bs, order)
      i = order
      while (i < bs) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coefs(j) * out(i - 1 - j); j += 1 }
        out(i) = (acc >> shift) + res(i - order)
        i += 1
      }
    } else throw Quarantine // reserved subframe types
    if (wasted > 0) {
      var i = 0
      while (i < bs) { out(i) <<= wasted; i += 1 }
    }
    out
  }

  /** Decode a full FLAC stream; any structural lie ⇒ None. */
  def decode(b: Array[Byte]): Option[Pcm] =
    try {
      if (b.length < 42 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return None
      var p = 4
      var rate = 0; var nCh = 0; var bps = 0; var total = 0L; var maxBs = 0
      var md5Exp: Array[Byte] = null
      var last = false
      var first = true
      while (!last) {
        if (p + 4 > b.length) return None
        val hdr = b(p) & 0xff
        last = (hdr & 0x80) != 0
        val typ = hdr & 0x7f
        val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        p += 4
        if (p + len > b.length) return None
        if (first) {
          if (typ != 0 || len != 34) return None // STREAMINFO must be first
          val r = new BitReader(b, p)
          r.readBits(16) // min blocksize
          maxBs = r.readBits(16).toInt
          r.readBits(24); r.readBits(24) // min/max framesize (0 = unknown)
          rate = r.readBits(20).toInt
          nCh = r.readBits(3).toInt + 1
          bps = r.readBits(5).toInt + 1
          total = r.readBits(36)
          md5Exp = java.util.Arrays.copyOfRange(b, p + 18, p + 34)
          first = false
        } else if (typ == 0 || typ == 127) return None // dup STREAMINFO / invalid
        p += len
      }
      if (first || rate == 0 || bps < 4 || bps > 32 || nCh < 1 || nCh > 8 || maxBs < 16) return None
      if (total <= 0 || total * nCh > 100000000L) return None
      val lim = 1L << (bps - 1)
      val samples = new Array[Int]((total * nCh).toInt)
      var written = 0L
      var frameIdx = 0L
      while (written < total) {
        val frameStart = p
        val r = new BitReader(b, p)
        if (r.readBits(14) != 0x3ffe) return None
        if (r.readBit() != 0) return None
        if (r.readBit() != 0) return None // subset: fixed blocking strategy
        val bsBits = r.readBits(4).toInt
        val srBits = r.readBits(4).toInt
        val chAsgn = r.readBits(4).toInt
        val ssBits = r.readBits(3).toInt
        if (r.readBit() != 0) return None
        if (readUtf8Num(r) != frameIdx) return None
        val bs = bsBits match {
          case 0 => return None // reserved
          case 1 => 192
          case n if n >= 2 && n <= 5 => 576 << (n - 2)
          case 6 => r.readBits(8).toInt + 1
          case 7 => r.readBits(16).toInt + 1
          case n => 256 << (n - 8)
        }
        srBits match {
          case 0 => ()
          case 12 => if (r.readBits(8).toInt * 1000 != rate) return None
          case 13 => if (r.readBits(16).toInt != rate) return None
          case 14 => if (r.readBits(16).toInt * 10 != rate) return None
          case 15 => return None
          case n => if (FrameRates(n) != rate) return None
        }
        ssBits match {
          case 0 => ()
          case 1 => if (bps != 8) return None
          case 2 => if (bps != 12) return None
          case 4 => if (bps != 16) return None
          case 5 => if (bps != 20) return None
          case 6 => if (bps != 24) return None
          case 7 => if (bps != 32) return None
          case _ => return None // reserved
        }
        if (chAsgn > 10) return None
        val nSub = if (chAsgn <= 7) chAsgn + 1 else 2
        if (nSub != nCh) return None
        if (bs > maxBs || written + bs > total) return None
        if (written + bs < total && bs != maxBs) return None // only the last frame may be short
        if (!r.atByteBoundary) return None
        val crc8Pos = r.bytePos
        if (crc8(b, frameStart, crc8Pos) != r.readBits(8).toInt) return None
        val sub = new Array[Array[Long]](nSub)
        var c = 0
        while (c < nSub) {
          val extra = chAsgn match {
            case 8 => if (c == 1) 1 else 0 // left/side
            case 9 => if (c == 0) 1 else 0 // side/right
            case 10 => if (c == 1) 1 else 0 // mid/side
            case _ => 0
          }
          sub(c) = decodeSubframe(r, bs, bps + extra)
          c += 1
        }
        while (!r.atByteBoundary) if (r.readBit() != 0) return None // zero padding
        val crc16Pos = r.bytePos
        if (crc16(b, frameStart, crc16Pos) != r.readBits(16).toInt) return None
        p = r.bytePos
        // stereo decorrelation → per-channel samples
        val chans: Array[Array[Long]] = chAsgn match {
          case 8 => // ch0 = left, ch1 = side = l − r
            val l = sub(0); val s0 = sub(1)
            Array(l, Array.tabulate(bs)(i => l(i) - s0(i)))
          case 9 => // ch0 = side = l − r, ch1 = right
            val s0 = sub(0); val rr = sub(1)
            Array(Array.tabulate(bs)(i => s0(i) + rr(i)), rr)
          case 10 => // ch0 = mid = (l+r)>>1, ch1 = side = l − r
            val m = sub(0); val s0 = sub(1)
            val l = new Array[Long](bs); val rr = new Array[Long](bs)
            var i = 0
            while (i < bs) {
              val m2 = (m(i) << 1) | (s0(i) & 1L)
              l(i) = (m2 + s0(i)) >> 1
              rr(i) = (m2 - s0(i)) >> 1
              i += 1
            }
            Array(l, rr)
          case _ => sub
        }
        var i = 0
        while (i < bs) {
          c = 0
          while (c < nCh) {
            val v = chans(c)(i)
            if (v < -lim || v >= lim) return None // out of sample range
            samples(((written + i) * nCh + c).toInt) = v.toInt
            c += 1
          }
          i += 1
        }
        written += bs
        frameIdx += 1
      }
      if (p != b.length) return None // trailing garbage is a structural lie
      if (md5Exp.exists(_ != 0)) {
        if (bps % 8 != 0) return None // subset: md5 defined on whole bytes
        val md = java.security.MessageDigest.getInstance("MD5")
        val w = bps / 8
        val buf = new Array[Byte](samples.length * w)
        var i = 0
        while (i < samples.length) {
          var k = 0
          while (k < w) { buf(i * w + k) = ((samples(i) >> (8 * k)) & 0xff).toByte; k += 1 }
          i += 1
        }
        if (!java.util.Arrays.equals(md.digest(buf), md5Exp)) return None
      }
      Some(Pcm(nCh, bps, rate, total, samples))
    } catch {
      case Quarantine => None
      case _: ArrayIndexOutOfBoundsException => None
    }

  // =================== encoder (fixture writer) ===========================

  sealed trait Pred
  case object Verbatim extends Pred
  case class Fixed(order: Int) extends Pred
  case class Lpc(order: Int, prec: Int, shift: Int, coefs: Array[Long]) extends Pred

  private def fold(v: Long): Long = if (v >= 0) v << 1 else ((-v) << 1) - 1

  private def writeResidual(w: BitWriter, res: Array[Long], bs: Int, order: Int, po0: Int, esc: Int => Boolean): Unit = {
    var po = po0
    while (po > 0 && (bs % (1 << po) != 0 || (bs >> po) <= order)) po -= 1
    val nParts = 1 << po
    val partLen = bs / nParts
    w.writeBits(0L, 2) // method 0: 4-bit Rice params
    w.writeBits(po.toLong, 4)
    var part = 0
    var idx = 0
    while (part < nParts) {
      val cnt = if (part == 0) partLen - order else partLen
      var maxU = 0L
      var i = 0
      while (i < cnt) { val u = fold(res(idx + i)); if (u > maxU) maxU = u; i += 1 }
      val need = 64 - java.lang.Long.numberOfLeadingZeros(maxU)
      val param = math.max(0, need - 4)
      if (esc(part) || param > 14) {
        // escape: raw two's complement at a bit width that fits every value
        val rawBits = math.min(31, math.max(1, need + 1))
        w.writeBits(15L, 4)
        w.writeBits(rawBits.toLong, 5)
        i = 0
        while (i < cnt) { w.writeBits(res(idx + i) & ((1L << rawBits) - 1), rawBits); i += 1 }
      } else {
        w.writeBits(param.toLong, 4)
        i = 0
        while (i < cnt) {
          val u = fold(res(idx + i))
          w.writeUnary((u >>> param).toInt)
          if (param > 0) w.writeBits(u & ((1L << param) - 1), param)
          i += 1
        }
      }
      idx += cnt
      part += 1
    }
  }

  private def writeSubframe(w: BitWriter, s: Array[Long], sbps: Int, pred: Pred, po: Int, esc: Int => Boolean): Unit = {
    val bs = s.length
    // wasted-bits detection: common trailing zero bits across the subframe
    var wasted = 33
    var i = 0
    while (i < bs && wasted > 0) {
      if (s(i) != 0L) wasted = math.min(wasted, java.lang.Long.numberOfTrailingZeros(s(i)))
      i += 1
    }
    if (wasted >= 33) wasted = 0 // all-zero signal: no shift
    val eff = if (wasted > 0) s.map(_ >> wasted) else s
    val effBps = sbps - wasted
    def header(typ: Int): Unit = {
      w.writeBit(0)
      w.writeBits(typ.toLong, 6)
      if (wasted == 0) w.writeBit(0)
      else { w.writeBit(1); w.writeUnary(wasted - 1) }
    }
    val allEq = eff.forall(_ == eff(0))
    if (allEq) {
      header(0)
      w.writeBits(eff(0) & ((1L << effBps) - 1), effBps)
      return
    }
    // a short tail block can be <= the requested predictor order: the
    // warmup would index past the block and the emitted residual layout
    // would be one the decoder rightly rejects — downgrade to VERBATIM
    val safe = pred match {
      case Fixed(o) if o >= bs => Verbatim
      case Lpc(o, _, _, _) if o >= bs => Verbatim
      case p => p
    }
    safe match {
      case Verbatim =>
        header(1)
        eff.foreach(v => w.writeBits(v & ((1L << effBps) - 1), effBps))
      case Fixed(order) =>
        header(0x08 | order)
        var j = 0
        while (j < order) { w.writeBits(eff(j) & ((1L << effBps) - 1), effBps); j += 1 }
        val res = Array.tabulate(bs - order)(k => eff(k + order) - fixedPred(eff, k + order, order))
        writeResidual(w, res, bs, order, po, esc)
      case Lpc(order, prec, shift, coefs) =>
        header(0x20 | (order - 1))
        var j = 0
        while (j < order) { w.writeBits(eff(j) & ((1L << effBps) - 1), effBps); j += 1 }
        w.writeBits((prec - 1).toLong, 4)
        w.writeBits(shift.toLong & 0x1f, 5)
        coefs.foreach(c => w.writeBits(c & ((1L << prec) - 1), prec))
        val res = Array.tabulate(bs - order) { k =>
          var acc = 0L
          var t = 0
          while (t < order) { acc += coefs(t) * eff(k + order - 1 - t); t += 1 }
          eff(k + order) - (acc >> shift)
        }
        writeResidual(w, res, bs, order, po, esc)
    }
  }

  /** Encode planar 16-bit channels into a spec-valid FLAC stream.
    * `chMode(frame)` = channel assignment (nCh−1 for independent, 8/9/10
    * for the stereo decorrelation modes); `pred(frame, subframe)` picks the
    * predictor; `po(frame)` the Rice partition order (clamped per frame);
    * `esc(frame, part)` forces escape partitions. */
  def encode(
      chans: Array[Array[Int]],
      rate: Int,
      blockSize: Int,
      chMode: Int => Int,
      pred: (Int, Int) => Pred,
      po: Int => Int,
      esc: (Int, Int) => Boolean
  ): Array[Byte] = {
    val nCh = chans.length
    val n = chans(0).length
    val bps = 16
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      var c = 0
      while (c < nCh) {
        md.update((chans(c)(i) & 0xff).toByte); md.update(((chans(c)(i) >> 8) & 0xff).toByte)
        c += 1
      }
      i += 1
    }
    val si = new BitWriter
    si.writeBits(blockSize.toLong, 16) // min blocksize (last frame excluded per spec)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(0L, 24); si.writeBits(0L, 24)
    si.writeBits(rate.toLong, 20)
    si.writeBits((nCh - 1).toLong, 3)
    si.writeBits((bps - 1).toLong, 5)
    si.writeBits(n.toLong, 36)
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x80); out.write(0); out.write(0); out.write(34) // last block, STREAMINFO, len 34
    out.write(si.toBytes)
    out.write(md.digest())
    var frame = 0
    var pos = 0
    while (pos < n) {
      val bs = math.min(blockSize, n - pos)
      val asgn = if (nCh == 1) 0 else chMode(frame)
      val hw = new BitWriter
      hw.writeBits(0x3ffe, 14)
      hw.writeBit(0); hw.writeBit(0) // reserved, fixed blocking
      hw.writeBits(7L, 4) // uncommon 16-bit blocksize follows
      hw.writeBits(0L, 4) // rate from STREAMINFO
      hw.writeBits(asgn.toLong, 4)
      hw.writeBits(4L, 3) // 16-bit samples
      hw.writeBit(0)
      require(frame < 128, "fixture frames fit a 1-byte coded number")
      hw.writeBits(frame.toLong, 8)
      hw.writeBits((bs - 1).toLong, 16)
      val hb = hw.toBytes
      val bw = new BitWriter
      val l = Array.tabulate(bs)(k => chans(0)(pos + k).toLong)
      val subs: Array[(Array[Long], Int)] =
        if (nCh == 1) Array((l, bps))
        else {
          val r = Array.tabulate(bs)(k => chans(1)(pos + k).toLong)
          asgn match {
            case 8 => Array((l, bps), (Array.tabulate(bs)(k => l(k) - r(k)), bps + 1))
            case 9 => Array((Array.tabulate(bs)(k => l(k) - r(k)), bps + 1), (r, bps))
            case 10 =>
              Array(
                (Array.tabulate(bs)(k => (l(k) + r(k)) >> 1), bps),
                (Array.tabulate(bs)(k => l(k) - r(k)), bps + 1)
              )
            case _ => Array((l, bps), (r, bps))
          }
        }
      for (((s, sbps), c) <- subs.zipWithIndex)
        writeSubframe(bw, s, sbps, pred(frame, c), po(frame), part => esc(frame, part))
      bw.padToByte()
      val frameBytes = hb ++ Array(crc8(hb, 0, hb.length).toByte) ++ bw.toBytes
      out.write(frameBytes)
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      // CRC-16 covers the frame bytes written so far; recompute over the
      // contiguous stream slice to keep the definition single-sourced
      out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
      pos += bs
      frame += 1
    }
    out.toByteArray
  }
}

/** Fixture for the x111 gate: 200 FLAC payloads over closed-form signals —
  * the x98 pattern, with one structural upgrade: FLAC is LOSSLESS, so the
  * oracle never replays the codec at all. Decoded samples must equal the
  * encoder's input signal no matter which predictor / stereo mode / Rice
  * partitioning each payload used, so the DuckDB side just recomputes the
  * signal formula and aggregates — every decode path (fixed orders 0–4,
  * LPC, verbatim, constant, wasted bits, all four channel assignments,
  * escape partitions, partial tail frames) funnels into one truth.
  *
  * Signal families: md5 noise + ramp (generic), ×8-scaled noise
  * (id%50==25 — forces 3 wasted bits through the encoder's common-
  * trailing-zeros detection), per-channel constant (id%40==13 — forces
  * CONSTANT subframes). The families are disjoint mod 200.
  */
object FlacFixture {
  val dir = Fixture.dir("graft_flac")

  val N = 200

  private def h(s: String): Long =
    java.lang.Long.parseLong(Payloads.md5Hex(s.getBytes("UTF-8")).substring(0, 15), 16)

  def channels(id: Int): Int = 1 + id % 2
  def nSamples(id: Int): Int = 600 + (id * 37) % 500

  def signal(id: Int, c: Int, i: Int): Int =
    if (id % 40 == 13) (h(s"$id:$c:const") % 4096 - 2048).toInt
    else if (id % 50 == 25) (8 * (h(s"$id:$c:$i") % 4096 - 2048)).toInt
    else (h(s"$id:$c:$i") % 4096 - 2048 + ((i % 997) - 498) * (id % 5)).toInt

  private val rates = Seq(8000, 22050, 44100, 48000)

  def payload(id: Int): Array[Byte] = {
    val ch = channels(id)
    val n = nSamples(id)
    val chans = Array.tabulate(ch)(c => Array.tabulate(n)(i => signal(id, c, i)))
    FlacAudio.encode(
      chans,
      rate = rates(id % rates.size),
      blockSize = 256,
      chMode = f => Seq(1, 8, 9, 10)((id + f) % 4),
      pred = (f, c) =>
        ((id + f + c) % 3) match {
          case 0 => FlacAudio.Fixed((id + f) % 5)
          case 1 =>
            if (id % 10 == 0) FlacAudio.Verbatim
            else FlacAudio.Lpc(2, 12, 9, Array(700L, -400L))
          case _ => FlacAudio.Fixed(2)
        },
      po = f => (id + f) % 3,
      esc = (f, part) => id % 7 == 0 && part == 0
    )
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "audio_id", (0 until N).map(i => (i.toLong, payload(i))))
  }
}
