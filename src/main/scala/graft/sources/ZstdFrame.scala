package graft.sources

/** zstd frame decoder (x227) — the modern default parquet/ORC/shuffle
  * codec read back from scratch, from RFC 8878 (Zstandard Compression,
  * public spec; reference implementation facebook/zstd is the
  * conformance oracle via Spark's bundled zstd-jni). Completes the
  * compression family beside Snappy (x198) and LZ4 (x199) with the same
  * conformance split: fixtures are compressed by the OFFICIAL library,
  * this reader is from scratch and shares not a line with it.
  *
  * Coverage (the subset a real frame from the reference encoder uses):
  *   - Frame header: magic, descriptor (single-segment, FCS field sizes,
  *     dictionary-id rejection, checksum flag), window descriptor.
  *   - Blocks: Raw, RLE, Compressed; multi-block frames.
  *   - Literals: Raw, RLE, Huffman-Compressed (single-stream and
  *     4-stream with jump table), Treeless (previous table reuse).
  *   - Huffman tree descriptions: direct 4-bit weights AND
  *     FSE-compressed weights (two interleaved states on a backward
  *     bitstream, zero-padded overflow termination, RFC 4.2.1.2); last
  *     weight deduced from the power-of-two completion law.
  *   - Sequences: Predefined / RLE / FSE_Compressed / Repeat modes for
  *     LL/OF/ML, the RFC default distributions, baseline+extra-bits
  *     code tables, the three-slot repeat-offset history with the
  *     literals_length==0 shift rule (RFC 3.1.1.5).
  *   - FSE: normalized-count parsing (variable-width probabilities,
  *     zero-repeat flags, "less than 1" symbols spread from the table
  *     top) and decode-table construction (RFC 4.1).
  *
  * Out of scope, rejected cleanly (quarantine, never wrong bytes):
  * dictionary frames, content checksums (the fixture encoder emits
  * none; a flagged frame is refused rather than unverified),
  * skippable frames.
  *
  * Scale shape: per-payload pure function under `mapPartitions` (the
  * x98/x151/x198/x199 byte-codec class) — no shuffle before the output
  * sort; a corpus of zstd objects decodes embarrassingly parallel.
  */
object ZstdFrame {

  private val MaxOut = 64 << 20
  private val MagicLE = 0xfd2fb528L

  // ---------------------------------------------------------- bit readers

  /** Forward LSB-first bitstream (FSE table descriptions, RFC 4.1.1). */
  private final class FwdBits(b: Array[Byte], val from: Int, val until: Int) {
    var bitPos = 0
    def read(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) {
        val abs = bitPos + k
        val byteIx = from + (abs >> 3)
        if (byteIx >= until) throw Bad("fse desc overrun")
        v |= ((b(byteIx) >> (abs & 7)) & 1) << k
        k += 1
      }
      bitPos += n
      v
    }
    def bytesConsumed: Int = (bitPos + 7) >> 3
  }

  /** Backward bitstream (FSE/Huffman payload, RFC 3.1.1.7): bytes are
    * written forward LSB-first and read from the end; the highest set
    * bit of the last byte is the padding sentinel. `pos` is the number
    * of live bits remaining; reads take the `n` bits just below `pos`
    * as an integer (higher stream position = more significant bit) and
    * may go negative with zero-padding — `overflowed` is the FSE
    * weight-stream termination condition.
    */
  private final class BackBits(b: Array[Byte], from: Int, until: Int) {
    if (until <= from) throw Bad("empty backward stream")
    private val last = b(until - 1) & 0xff
    if (last == 0) throw Bad("backward stream: no sentinel")
    var pos: Int = (until - from - 1) * 8 + (31 - Integer.numberOfLeadingZeros(last))
    private def bitAt(i: Int): Int =
      if (i < 0) 0 else (b(from + (i >> 3)) >> (i & 7)) & 1
    def read(n: Int): Int = {
      pos -= n
      var v = 0
      var k = 0
      while (k < n) { v |= bitAt(pos + k) << k; k += 1 }
      v
    }
    def peek(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) { v |= bitAt(pos - n + k) << k; k += 1 }
      v
    }
    def overflowed: Boolean = pos < 0
    def exhausted: Boolean = pos == 0
  }

  private case class Bad(msg: String) extends Exception(msg)

  // ------------------------------------------------------------------ FSE

  /** FSE decode table: per state — symbol, nbBits to read, baseline. */
  private[sources] final class FseTable(val accuracyLog: Int, norm: Array[Int]) {
    val size: Int = 1 << accuracyLog
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
    val baseline = new Array[Int](size)
    locally {
      // "less than 1" symbols at the table top, then spread (RFC 4.1.1)
      var highThreshold = size - 1
      var s = 0
      while (s < norm.length) {
        if (norm(s) == -1) { symbol(highThreshold) = s; highThreshold -= 1 }
        s += 1
      }
      val step = (size >> 1) + (size >> 3) + 3
      val mask = size - 1
      var position = 0
      s = 0
      while (s < norm.length) {
        var i = 0
        while (i < norm(s)) {
          symbol(position) = s
          position = (position + step) & mask
          while (position > highThreshold) position = (position + step) & mask
          i += 1
        }
        s += 1
      }
      if (position != 0) throw Bad("fse spread incomplete")
      val next = norm.map(c => if (c == -1) 1 else c)
      var st = 0
      while (st < size) {
        val sym = symbol(st)
        val x = next(sym); next(sym) += 1
        val nb = accuracyLog - (31 - Integer.numberOfLeadingZeros(x))
        nbBits(st) = nb
        baseline(st) = (x << nb) - size
        st += 1
      }
    }
  }

  /** Parse a normalized-count table description (RFC 4.1.1). Returns the
    * table and the byte length consumed.
    */
  private def readFseDesc(b: Array[Byte], from: Int, until: Int, maxAL: Int, maxSym: Int): (FseTable, Int) = {
    val in = new FwdBits(b, from, until)
    val al = in.read(4) + 5
    if (al > maxAL) throw Bad(s"accuracy log $al > $maxAL")
    val tableSize = 1 << al
    val norm = new Array[Int](maxSym + 1)
    var remaining = tableSize + 1
    var threshold = 1 << al
    var nb = al + 1
    var sym = 0
    while (remaining > 1) {
      if (sym > maxSym) throw Bad("fse desc: too many symbols")
      val max = (2 * threshold - 1) - remaining
      val small = in.read(nb - 1)
      var count =
        if ((small & (threshold - 1)) < max) small
        else {
          val full = small | (in.read(1) << (nb - 1))
          if (full >= threshold) full - max else full
        }
      count -= 1 // "extra accuracy": raw 0 means probability -1
      remaining -= (if (count < 0) -count else count)
      norm(sym) = count
      sym += 1
      // a zero probability is followed by 2-bit zero-repeat flags: each
      // flag adds that many zero-probability symbols; a value of 3 both
      // adds 3 and continues the flag chain (RFC 4.1.1)
      if (count == 0) {
        var rep = 3
        while (rep == 3) {
          rep = in.read(2)
          var i = 0
          while (i < rep) {
            if (sym > maxSym) throw Bad("fse desc: zero-repeat overrun")
            norm(sym) = 0; sym += 1; i += 1
          }
        }
      }
      while (remaining > 1 && remaining < threshold) { nb -= 1; threshold >>= 1 }
    }
    if (remaining != 1) throw Bad("fse desc: probabilities overshoot")
    (new FseTable(al, java.util.Arrays.copyOf(norm, sym)), in.bytesConsumed)
  }

  // RFC 3.1.1.3.2.2 default distributions
  private val LLDefault = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
    2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MLDefault = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1,
    -1, -1)
  private val OFDefault = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1)
  private[sources] lazy val llDefaultTable = new FseTable(6, LLDefault)
  private[sources] lazy val mlDefaultTable = new FseTable(6, MLDefault)
  private[sources] lazy val ofDefaultTable = new FseTable(5, OFDefault)

  // RFC 3.1.1.3.2.1.1 — literals-length codes
  private[sources] val LLBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 18, 20, 22,
    24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768, 65536)
  private[sources] val LLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3,
    3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  // RFC 3.1.1.3.2.1.1 — match-length codes
  private[sources] val MLBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20, 21,
    22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 37, 39, 41, 43, 47, 51, 59, 67, 83,
    99, 131, 259, 515, 1027, 2051, 4099, 8195, 16387, 32771, 65539)
  private[sources] val MLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16)

  // -------------------------------------------------------------- Huffman

  /** Canonical Huffman decode table from weights (RFC 4.2.1.3): symbols
    * grouped by weight ascending, natural order within a weight; a
    * weight-w symbol spans 2^(w-1) cells and decodes tableLog+1-w bits.
    */
  private final class HufTable(weights: Array[Int], val tableLog: Int) {
    val size: Int = 1 << tableLog
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
    locally {
      val rankNext = new Array[Int](tableLog + 2)
      var w = 1
      var cur = 0
      while (w <= tableLog) {
        rankNext(w) = cur
        var s = 0
        while (s < weights.length) { if (weights(s) == w) cur += 1 << (w - 1); s += 1 }
        w += 1
      }
      if (cur != size) throw Bad("huffman weights do not fill the table")
      var s = 0
      while (s < weights.length) {
        val ww = weights(s)
        if (ww > 0) {
          val len = 1 << (ww - 1)
          val pos = rankNext(ww); rankNext(ww) += len
          var i = 0
          while (i < len) { symbol(pos + i) = s; nbBits(pos + i) = tableLog + 1 - ww; i += 1 }
        }
        s += 1
      }
    }
    /** Decode one backward stream into exactly `n` bytes. */
    def decodeStream(b: Array[Byte], from: Int, until: Int, n: Int, out: Array[Byte], outOff: Int): Unit = {
      val bits = new BackBits(b, from, until)
      var i = 0
      while (i < n) {
        val v = bits.peek(tableLog)
        out(outOff + i) = symbol(v).toByte
        bits.pos -= nbBits(v)
        i += 1
      }
      if (!bits.exhausted) throw Bad("huffman stream not exactly consumed")
    }
  }

  /** Huffman tree description (RFC 4.2.1): returns (table, bytes read). */
  private def readHufDesc(b: Array[Byte], from: Int, until: Int): (HufTable, Int) = {
    if (from >= until) throw Bad("missing huffman description")
    val h = b(from) & 0xff
    val (explicit, consumed) =
      if (h >= 128) {
        val n = h - 127
        val bytes = (n + 1) / 2
        if (from + 1 + bytes > until) throw Bad("direct weights overrun")
        val w = new Array[Int](n)
        var i = 0
        while (i < n) {
          val by = b(from + 1 + i / 2) & 0xff
          w(i) = if (i % 2 == 0) by >> 4 else by & 0xf
          i += 1
        }
        (w, 1 + bytes)
      } else {
        // FSE-compressed weights: h = compressed byte size
        if (from + 1 + h > until) throw Bad("weight fse overrun")
        val (tab, descLen) = readFseDesc(b, from + 1, from + 1 + h, maxAL = 6, maxSym = 255)
        val bits = new BackBits(b, from + 1 + descLen, from + 1 + h)
        val buf = new Array[Int](256)
        var n = 0
        var st1 = bits.read(tab.accuracyLog)
        var st2 = bits.read(tab.accuracyLog)
        if (bits.overflowed) throw Bad("weight stream too short")
        var done = false
        while (!done) {
          if (n >= 255) throw Bad("too many weights")
          buf(n) = tab.symbol(st1); n += 1
          st1 = tab.baseline(st1) + bits.read(tab.nbBits(st1))
          if (bits.overflowed) { if (n >= 255) throw Bad("too many weights"); buf(n) = tab.symbol(st2); n += 1; done = true }
          else {
            if (n >= 255) throw Bad("too many weights")
            buf(n) = tab.symbol(st2); n += 1
            st2 = tab.baseline(st2) + bits.read(tab.nbBits(st2))
            if (bits.overflowed) { if (n >= 255) throw Bad("too many weights"); buf(n) = tab.symbol(st1); n += 1; done = true }
          }
        }
        (java.util.Arrays.copyOf(buf, n), 1 + h)
      }
    // deduce the last weight from the power-of-two completion law
    var total = 0L
    var i = 0
    while (i < explicit.length) {
      if (explicit(i) > 11) throw Bad("weight > 11")
      if (explicit(i) > 0) total += 1L << (explicit(i) - 1)
      i += 1
    }
    if (total == 0) throw Bad("all-zero weights")
    val tableLog = 64 - java.lang.Long.numberOfLeadingZeros(total) // highbit+1
    if (tableLog > 11) throw Bad("huffman table log > 11")
    val rest = (1L << tableLog) - total
    if (rest <= 0 || (rest & (rest - 1)) != 0) throw Bad("weights not power-of-two completable")
    val lastWeight = (64 - java.lang.Long.numberOfLeadingZeros(rest)).toInt // highbit(rest)+1
    val weights = java.util.Arrays.copyOf(explicit, explicit.length + 1)
    weights(explicit.length) = lastWeight
    (new HufTable(weights, tableLog.toInt), consumed)
  }

  // ------------------------------------------------------------ sequences

  private final class SeqTables(var ll: FseTable, var of: FseTable, var ml: FseTable)

  // ---------------------------------------------------------------- frame

  /** Decode one zstd frame → bytes, or None on any structural lie. */
  def decode(b: Array[Byte]): Option[Array[Byte]] =
    try Some(decodeOrThrow(b))
    catch { case _: Bad | _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None }

  private def decodeOrThrow(b: Array[Byte]): Array[Byte] = {
    var p = 0
    def u8(i: Int): Long = b(i) & 0xffL
    if (b.length < 5) throw Bad("too short")
    val magic = u8(0) | (u8(1) << 8) | (u8(2) << 16) | (u8(3) << 24)
    if (magic != MagicLE) throw Bad("bad magic")
    p = 4
    val fhd = b(p) & 0xff; p += 1
    val fcsFlag = fhd >> 6
    val singleSegment = (fhd & 0x20) != 0
    if ((fhd & 0x08) != 0) throw Bad("reserved bit set")
    if ((fhd & 0x04) != 0) throw Bad("content checksum unsupported (quarantined, never unverified)")
    if ((fhd & 0x03) != 0) throw Bad("dictionary frames unsupported")
    if (!singleSegment) p += 1 // window descriptor (unused: in-memory decode)
    val fcsLen = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2
      case 2 => 4
      case 3 => 8
    }
    if (p + fcsLen > b.length) throw Bad("fcs overrun")
    var fcs = -1L
    if (fcsLen > 0) {
      fcs = 0L
      var i = 0
      while (i < fcsLen) { fcs |= u8(p + i) << (8 * i); i += 1 }
      if (fcsLen == 2) fcs += 256
      p += fcsLen
    }
    if (fcs > MaxOut) throw Bad("declared size too large")

    var window = new Array[Byte](0) // decoded-so-far (offsets reach into it)
    var wlen = 0
    def ensureCap(extra: Int): Unit = {
      if (wlen + extra > MaxOut) throw Bad("output cap")
      if (wlen + extra > window.length) {
        val nl = math.max(window.length * 2, wlen + extra + 1024)
        window = java.util.Arrays.copyOf(window, math.min(nl.toLong, (MaxOut + 8).toLong).toInt)
      }
    }
    val reps = Array(1L, 4L, 8L)
    var prevHuf: HufTable = null
    val seqTabs = new SeqTables(null, null, null)

    var lastBlock = false
    while (!lastBlock) {
      if (p + 3 > b.length) throw Bad("block header overrun")
      val bh = (u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16)).toInt; p += 3
      lastBlock = (bh & 1) != 0
      val btype = (bh >> 1) & 3
      val bsize = bh >> 3
      btype match {
        case 0 => // raw
          if (p + bsize > b.length) throw Bad("raw block overrun")
          ensureCap(bsize)
          System.arraycopy(b, p, window, wlen, bsize); wlen += bsize; p += bsize
        case 1 => // RLE: bsize is the REGENERATED size, payload is 1 byte
          if (p + 1 > b.length) throw Bad("rle block overrun")
          ensureCap(bsize)
          java.util.Arrays.fill(window, wlen, wlen + bsize, b(p)); wlen += bsize; p += 1
        case 2 =>
          if (p + bsize > b.length) throw Bad("compressed block overrun")
          val end = p + bsize
          // ---- literals section
          val lh0 = b(p) & 0xff
          val ltype = lh0 & 3
          val sf = (lh0 >> 2) & 3
          var litRegen = 0
          var litComp = 0
          var fourStreams = false
          var lp = p
          if (ltype <= 1) {
            sf match {
              case 0 | 2 => litRegen = lh0 >> 3; lp += 1
              case 1     => litRegen = (lh0 >> 4) | ((b(lp + 1) & 0xff) << 4); lp += 2
              case 3 =>
                litRegen = (lh0 >> 4) | ((b(lp + 1) & 0xff) << 4) | ((b(lp + 2) & 0xff) << 12); lp += 3
            }
          } else {
            sf match {
              case 0 | 1 =>
                litRegen = (lh0 >> 4) | ((b(lp + 1) & 0x3f) << 4)
                litComp = ((b(lp + 1) & 0xff) >> 6) | ((b(lp + 2) & 0xff) << 2)
                lp += 3
                fourStreams = sf == 1
              case 2 =>
                litRegen = (lh0 >> 4) | ((b(lp + 1) & 0xff) << 4) | ((b(lp + 2) & 0x03) << 12)
                litComp = ((b(lp + 2) & 0xff) >> 2) | ((b(lp + 3) & 0xff) << 6)
                lp += 4
                fourStreams = true
              case 3 =>
                litRegen = (lh0 >> 4) | ((b(lp + 1) & 0xff) << 4) | ((b(lp + 2) & 0x3f) << 12)
                litComp = ((b(lp + 2) & 0xff) >> 6) | ((b(lp + 3) & 0xff) << 2) | ((b(lp + 4) & 0xff) << 10)
                lp += 5
                fourStreams = true
            }
          }
          if (litRegen > (128 << 10)) throw Bad("literals too large")
          val literals = new Array[Byte](litRegen)
          ltype match {
            case 0 => // raw
              if (lp + litRegen > end) throw Bad("raw literals overrun")
              System.arraycopy(b, lp, literals, 0, litRegen); lp += litRegen
            case 1 => // rle
              if (lp + 1 > end) throw Bad("rle literals overrun")
              java.util.Arrays.fill(literals, b(lp)); lp += 1
            case _ => // compressed (2) / treeless (3)
              if (lp + litComp > end) throw Bad("compressed literals overrun")
              val lend = lp + litComp
              val huf =
                if (ltype == 2) {
                  val (t, used) = readHufDesc(b, lp, lend)
                  lp += used
                  prevHuf = t
                  t
                } else {
                  if (prevHuf == null) throw Bad("treeless literals without previous table")
                  prevHuf
                }
              if (fourStreams) {
                if (lp + 6 > lend) throw Bad("jump table overrun")
                val s1 = ((b(lp) & 0xff) | ((b(lp + 1) & 0xff) << 8))
                val s2 = ((b(lp + 2) & 0xff) | ((b(lp + 3) & 0xff) << 8))
                val s3 = ((b(lp + 4) & 0xff) | ((b(lp + 5) & 0xff) << 8))
                lp += 6
                val seg = (litRegen + 3) / 4
                val starts = Array(lp, lp + s1, lp + s1 + s2, lp + s1 + s2 + s3)
                val ends = Array(lp + s1, lp + s1 + s2, lp + s1 + s2 + s3, lend)
                var st = 0
                while (st < 4) {
                  if (starts(st) >= ends(st) || ends(st) > lend) throw Bad("stream bounds")
                  val n = if (st < 3) seg else litRegen - 3 * seg
                  if (n < 0) throw Bad("bad 4-stream split")
                  huf.decodeStream(b, starts(st), ends(st), n, literals, st * seg)
                  st += 1
                }
              } else {
                huf.decodeStream(b, lp, lend, litRegen, literals, 0)
              }
              lp = lend
          }
          // ---- sequences section
          if (lp >= end) throw Bad("missing sequences header")
          val s0 = b(lp) & 0xff
          var nbSeq = 0
          if (s0 < 128) { nbSeq = s0; lp += 1 }
          else if (s0 < 255) { nbSeq = ((s0 - 128) << 8) | (b(lp + 1) & 0xff); lp += 2 }
          else { nbSeq = ((b(lp + 1) & 0xff) | ((b(lp + 2) & 0xff) << 8)) + 0x7f00; lp += 3 }
          if (nbSeq == 0) {
            if (lp != end) throw Bad("trailing bytes after empty sequences")
            ensureCap(litRegen)
            System.arraycopy(literals, 0, window, wlen, litRegen); wlen += litRegen
            p = end
          } else {
            val modes = b(lp) & 0xff; lp += 1
            if ((modes & 3) != 0) throw Bad("reserved mode bits")
            def loadTable(mode: Int, prev: FseTable, dflt: FseTable, maxAL: Int, maxSym: Int): FseTable =
              mode match {
                case 0 => dflt
                case 1 =>
                  val sym = b(lp) & 0xff; lp += 1
                  if (sym > maxSym) throw Bad("rle symbol out of range")
                  val norm = new Array[Int](sym + 1); norm(sym) = 1
                  new FseTable(0, norm)
                case 2 =>
                  val (t, used) = readFseDesc(b, lp, end, maxAL, maxSym)
                  lp += used
                  t
                case 3 =>
                  if (prev == null) throw Bad("repeat mode without previous table")
                  prev
              }
            seqTabs.ll = loadTable((modes >> 6) & 3, seqTabs.ll, llDefaultTable, 9, 35)
            seqTabs.of = loadTable((modes >> 4) & 3, seqTabs.of, ofDefaultTable, 8, 31)
            seqTabs.ml = loadTable((modes >> 2) & 3, seqTabs.ml, mlDefaultTable, 9, 52)
            val bits = new BackBits(b, lp, end)
            var llSt = bits.read(seqTabs.ll.accuracyLog)
            var ofSt = bits.read(seqTabs.of.accuracyLog)
            var mlSt = bits.read(seqTabs.ml.accuracyLog)
            if (bits.overflowed) throw Bad("sequence stream too short")
            var litPos = 0
            var sq = 0
            while (sq < nbSeq) {
              val ofCode = seqTabs.of.symbol(ofSt)
              val mlCode = seqTabs.ml.symbol(mlSt)
              val llCode = seqTabs.ll.symbol(llSt)
              if (ofCode > 31 || mlCode > 52 || llCode > 35) throw Bad("code out of range")
              val ofVal = (1L << ofCode) + (if (ofCode > 0) bits.read(ofCode).toLong else 0L)
              val ml = MLBase(mlCode) + (if (MLBits(mlCode) > 0) bits.read(MLBits(mlCode)) else 0)
              val ll = LLBase(llCode) + (if (LLBits(llCode) > 0) bits.read(LLBits(llCode)) else 0)
              if (bits.overflowed) throw Bad("sequence bits overrun")
              // repeat-offset history (RFC 3.1.1.5)
              var offset = 0L
              if (ofVal > 3) {
                offset = ofVal - 3
                reps(2) = reps(1); reps(1) = reps(0); reps(0) = offset
              } else {
                val idx = ofVal.toInt + (if (ll == 0) 1 else 0) // 1..4
                idx match {
                  case 1 => offset = reps(0)
                  case 2 => offset = reps(1); reps(1) = reps(0); reps(0) = offset
                  case 3 => offset = reps(2); reps(2) = reps(1); reps(1) = reps(0); reps(0) = offset
                  case 4 =>
                    offset = reps(0) - 1
                    if (offset <= 0) throw Bad("rep1-1 underflow")
                    reps(2) = reps(1); reps(1) = reps(0); reps(0) = offset
                }
              }
              if (litPos + ll > litRegen) throw Bad("literal overrun")
              ensureCap(ll + ml)
              System.arraycopy(literals, litPos, window, wlen, ll); litPos += ll; wlen += ll
              if (offset > wlen) throw Bad("offset beyond window")
              var i = 0
              val off = offset.toInt
              while (i < ml) { window(wlen) = window(wlen - off); wlen += 1; i += 1 }
              sq += 1
              if (sq < nbSeq) {
                llSt = seqTabs.ll.baseline(llSt) + bits.read(seqTabs.ll.nbBits(llSt))
                mlSt = seqTabs.ml.baseline(mlSt) + bits.read(seqTabs.ml.nbBits(mlSt))
                ofSt = seqTabs.of.baseline(ofSt) + bits.read(seqTabs.of.nbBits(ofSt))
                if (bits.overflowed) throw Bad("state update overrun")
              }
            }
            if (!bits.exhausted) throw Bad("sequence stream not exactly consumed")
            val rest = litRegen - litPos
            ensureCap(rest)
            System.arraycopy(literals, litPos, window, wlen, rest); wlen += rest
            p = end
          }
        case _ => throw Bad("reserved block type")
      }
    }
    if (p != b.length) throw Bad("trailing bytes after last block")
    if (fcs >= 0 && wlen != fcs) throw Bad("content size mismatch")
    java.util.Arrays.copyOf(window, wlen)
  }
}

/** Deterministic zstd corpus: payloads compressed by the OFFICIAL
  * zstd-jni (the x198/x199 conformance split), content closed-form so
  * the DuckDB oracle rebuilds every length/md5 without touching a zstd
  * byte. Four content classes cycle by id to cover the block/literals
  * strategy space the encoder actually picks:
  *   z%4==0 — skewed 23-token vocabulary text (Huffman literals + FSE
  *            sequences, 4-stream at the larger sizes)
  *   z%4==1 — CSV header + long letter run + header again (RLE-ish
  *            literals, far matches, repeat offsets)
  *   z%4==2 — md5-hex chains (high-entropy-ish 16-char alphabet: raw or
  *            lightly-compressed literals)
  *   z%4==3 — single-letter runs (RLE blocks)
  */
object ZstdFixture {
  val dir = Fixture.dir("graft_zstd")

  private def md5hex(s: String): String = Payloads.md5Hex(s.getBytes("UTF-8"))

  def content(z: Long): String = (z % 4) match {
    case 0 =>
      (0 until (150 + (z % 200)).toInt).map(i => s"tok${(z * 31 + i * 17) % 23} ").mkString
    case 1 =>
      val h = (0 until (5 + (z % 9)).toInt).map(i => s"Z,$z,$i,${z * 17 + i * 13}\n").mkString
      h + ('A' + (z % 26).toInt).toChar.toString * (800 + (z % 400)).toInt + h
    case 2 =>
      (0 until (3 + (z % 9)).toInt).map(j => md5hex(s"$z#$j")).mkString
    case _ =>
      ('a' + (z % 26).toInt).toChar.toString * (300 + (z % 500)).toInt
  }

  def fileBytes(z: Long): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(content(z).getBytes("UTF-8"), 3)

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "blob_id", (0L until 200L).map(z => (z, fileBytes(z))))
  }
}
