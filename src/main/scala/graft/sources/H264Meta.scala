package graft.sources

/** Real H.264 (AVC) bitstream metadata — the Annex-B NAL walk + SPS parse
  * every video ingest runs before touching a decoder: find start codes
  * (00 00 01 / 00 00 00 01), classify NAL unit types, strip emulation-
  * prevention bytes (00 00 03 → 00 00) from the SPS payload, and read the
  * sequence parameter set with an Exp-Golomb bit reader to recover the
  * REAL coded dimensions (pic_width_in_mbs / pic_height_in_map_units and
  * the frame-cropping rectangle), profile and level — from the public
  * ITU-T H.264 spec (7.3.2.1). Sample decode (CABAC/CAVLC + motion
  * compensation) stays out of scope: the established transform-codec
  * boundary, now pushed down to residual decoding only.
  *
  * Scope: baseline/main/extended profiles (profile_idc < 100, so no
  * chroma_format_idc block), frame_mbs_only streams, 4:2:0 crop units.
  * Anything else — and any structural lie (truncated SPS, forbidden bit
  * set) — returns None: quarantine, never a throw.
  */
object H264Meta {

  final case class Meta(
      width: Int,
      height: Int,
      profile: Int,
      level: Int,
      nNals: Int,
      nSps: Int,
      nPps: Int,
      nIdr: Int,
      nSlices: Int
  )

  /** Exp-Golomb / fixed-bit reader over an RBSP (emulation already stripped). */
  private final class Bits(b: Array[Byte]) {
    private var pos = 0
    def bit(): Int = {
      if (pos >= b.length * 8) throw new IndexOutOfBoundsException
      val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      v
    }
    def bits(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    /** ue(v): count leading zeros, read that many bits, 2^z - 1 + suffix */
    def ue(): Int = {
      var zeros = 0
      // > 24 leading zeros means a value past any sane SPS field (and 31
      // would wrap (1 << 31) - 1) -> structurally absurd, quarantine
      while (bit() == 0) { zeros += 1; if (zeros > 24) throw new IndexOutOfBoundsException }
      if (zeros == 0) 0 else (1 << zeros) - 1 + bits(zeros)
    }
    def se(): Int = { val k = ue(); if (k % 2 == 0) -(k / 2) else (k + 1) / 2 }
  }

  /** 00 00 03 → 00 00 (spec 7.4.1.1 emulation prevention) */
  private def stripEmulation(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(until - from)
    var i = from
    while (i < until) {
      if (i + 2 < until && b(i) == 0 && b(i + 1) == 0 && (b(i + 2) & 0xff) == 3) {
        out.write(0); out.write(0); i += 3
      } else { out.write(b(i) & 0xff); i += 1 }
    }
    out.toByteArray
  }

  /** Parse one SPS RBSP → (width, height, profile, level); None if out of
    * scope or structurally invalid. */
  private def parseSps(rbsp: Array[Byte]): Option[(Int, Int, Int, Int)] =
    try {
      val r = new Bits(rbsp)
      val profile = r.bits(8)
      r.bits(8) // constraint flags + reserved
      val level = r.bits(8)
      r.ue() // seq_parameter_set_id
      if (profile >= 100) return None // high profiles' chroma block: out of scope
      r.ue() // log2_max_frame_num_minus4
      val pocType = r.ue()
      if (pocType == 0) r.ue() // log2_max_pic_order_cnt_lsb_minus4
      else if (pocType == 1) {
        r.bit(); r.se(); r.se()
        val n = r.ue()
        for (_ <- 0 until n) r.se()
      }
      r.ue() // max_num_ref_frames
      r.bit() // gaps_in_frame_num_value_allowed
      val widthMbs = r.ue() + 1
      val heightUnits = r.ue() + 1
      val frameMbsOnly = r.bit()
      if (frameMbsOnly == 0) return None // interlaced: out of scope
      r.bit() // direct_8x8_inference
      val cropping = r.bit()
      val (cl, cr, ct, cb) =
        if (cropping == 1) (r.ue(), r.ue(), r.ue(), r.ue()) else (0, 0, 0, 0)
      // 4:2:0 frame crop units: 2 horizontally, 2 vertically (frame_mbs_only)
      val w = widthMbs * 16 - 2 * (cl + cr)
      val h = heightUnits * 16 - 2 * (ct + cb)
      if (w <= 0 || h <= 0) None else Some((w, h, profile, level))
    } catch { case _: IndexOutOfBoundsException => None }

  /** Walk an Annex-B stream: start codes → NAL type census + first SPS. */
  /** NAL payload offsets (the byte after each 00 00 01 start code) — one
    * O(n) walk shared by [[parse]] and [[gopIndex]]. */
  private def startCodes(b: Array[Byte]): Array[Int] = {
    var starts = List.empty[Int]
    var i = 0
    while (i + 3 <= b.length) {
      if (b(i) == 0 && b(i + 1) == 0 && (b(i + 2) & 0xff) == 1) { starts ::= (i + 3); i += 3 }
      else i += 1
    }
    starts.reverse.toArray
  }

  def parse(b: Array[Byte]): Option[Meta] = parseWith(b, startCodes(b))

  private def parseWith(b: Array[Byte], ss: Array[Int]): Option[Meta] = {
    if (ss.isEmpty) return None
    // Annex B: only leading_zero_8bits (0x00) may precede the first start
    // code -- arbitrary junk prefixes are a structural lie, not a stream
    for (j <- 0 until ss.head - 3) if (b(j) != 0) return None
    var sps: Option[(Int, Int, Int, Int)] = None
    var nSps = 0; var nPps = 0; var nIdr = 0; var nSlices = 0
    for (j <- ss.indices) {
      val s = ss(j)
      // NAL payload ends where the next start code's zero run begins
      val rawEnd = if (j + 1 < ss.length) ss(j + 1) - 3 else b.length
      val end = { // trim the 4-byte start code's extra leading zero
        var e = rawEnd
        while (e > s && b(e - 1) == 0) e -= 1
        e
      }
      if (s >= end) return None
      val hdr = b(s) & 0xff
      if ((hdr & 0x80) != 0) return None // forbidden_zero_bit
      val typ = hdr & 0x1f
      typ match {
        case 7 =>
          nSps += 1
          if (sps.isEmpty) {
            sps = parseSps(stripEmulation(b, s + 1, end))
            if (sps.isEmpty) return None // SPS present but unparseable
          }
        case 8 => nPps += 1
        case 5 => nIdr += 1
        case 1 => nSlices += 1
        case _ => ()
      }
    }
    sps.map { case (w, h, p, l) => Meta(w, h, p, l, ss.length, nSps, nPps, nIdr, nSlices) }
  }

  /** One GOP (group of pictures): a keyframe and everything up to the next
    * keyframe — the independently-decodable unit a distributed video
    * pipeline cuts at. `offset` is the byte position of the IDR NAL's
    * 3-byte start code, so `bytes[offset, offset+nBytes)` prefixed with
    * the stream's SPS+PPS is a standalone decode task. */
  final case class Gop(gopIdx: Long, offset: Long, nSlices: Long, nBytes: Long)

  /** x114 keyframe/GOP index of an Annex-B stream. Runs the full [[parse]]
    * validation first, then maps IDR positions to split points. Structural
    * lies on top of parse's (no keyframe at all, slices before the first
    * keyframe — nothing to anchor them to) ⇒ None. */
  def gopIndex(b: Array[Byte]): Option[Seq[Gop]] = {
    val ss = startCodes(b) // one walk, shared with the validation pass
    if (parseWith(b, ss).isEmpty) return None
    val idrAt = ss.indices.filter(j => (b(ss(j)) & 0x1f) == 5)
    if (idrAt.isEmpty) return None
    for (j <- 0 until idrAt.head) if ((b(ss(j)) & 0x1f) == 1) return None
    Some(idrAt.indices.map { g =>
      val j0 = idrAt(g)
      val j1 = if (g + 1 < idrAt.size) idrAt(g + 1) else ss.length
      val off = ss(j0) - 3
      val end = if (g + 1 < idrAt.size) ss(idrAt(g + 1)) - 3 else b.length
      val nS = (j0 + 1 until j1).count(j => (b(ss(j)) & 0x1f) == 1)
      Gop(g.toLong, off.toLong, nS.toLong, (end - off).toLong)
    })
  }

  /** Multi-GOP Annex-B generator for the x114 fixture: SPS + PPS, then
    * `nGops` groups of one IDR + `slicesOf(g)` non-IDR slices, ALL with
    * short start codes (so a GOP's recorded offset is exactly its start
    * code's first byte — no leading-zero ambiguity). Returns the stream
    * plus the generator's ground-truth (offset, nSlices, nBytes) per GOP. */
  def synthesizeGops(
      widthMbs: Int,
      heightUnits: Int,
      profile: Int,
      level: Int,
      nGops: Int,
      slicesOf: Int => Int,
      seed: Int
  ): (Array[Byte], Seq[(Long, Long, Long)]) = {
    val sps = spsPayload(widthMbs, heightUnits, (0, 0, 0, 0), profile, level, 0)
    val out = new java.io.ByteArrayOutputStream()
    def nal(header: Int, payload: Array[Byte]): Unit = {
      out.write(0); out.write(0); out.write(1)
      out.write(header)
      out.write(payload, 0, payload.length)
    }
    nal(0x67, sps)
    nal(0x68, Array.tabulate(4)(k => ((seed + k) % 0x5f + 0x20).toByte))
    val offs = new scala.collection.mutable.ArrayBuffer[Int]
    for (g <- 0 until nGops) {
      offs += out.size()
      nal(0x65, Array.tabulate(20 + g % 5)(k => ((seed * 7 + g * 13 + k * 3) % 0x5f + 0x20).toByte))
      for (sl <- 0 until slicesOf(g))
        nal(0x41, Array.tabulate(12 + (g + sl) % 7)(k => ((seed * 11 + g * 17 + sl * 5 + k) % 0x5f + 0x20).toByte))
    }
    val bytes = out.toByteArray
    val gops = (0 until nGops).map { g =>
      val end = if (g + 1 < nGops) offs(g + 1) else bytes.length
      (offs(g).toLong, slicesOf(g).toLong, (end - offs(g)).toLong)
    }
    (bytes, gops)
  }

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var n = 0
    def putBit(v: Int): Unit = { acc = (acc << 1) | (v & 1); n += 1; if (n == 8) { out.write(acc); acc = 0; n = 0 } }
    def putBits(v: Int, len: Int): Unit = { var i = len - 1; while (i >= 0) { putBit((v >> i) & 1); i -= 1 } }
    def putUe(v: Int): Unit = {
      val k = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(k)
      putBits(0, len - 1); putBits(k, len)
    }
    /** rbsp_trailing_bits: stop bit + zero pad to byte */
    def finish(): Array[Byte] = { putBit(1); while (n != 0) putBit(0); out.toByteArray }
  }

  /** Spec-valid Annex-B stream: SPS (real Exp-Golomb encode of the given
    * geometry, WITH emulation prevention), a PPS stub, one IDR and `slices`
    * non-IDR NALs of deterministic junk that cannot form start codes. A
    * separate forward path from [[parse]]. */
  /** SPS NAL payload (escaped RBSP) for the given geometry — shared by the
    * x89 single-GOP and x114 multi-GOP generators. */
  private def spsPayload(
      widthMbs: Int,
      heightUnits: Int,
      crop: (Int, Int, Int, Int),
      profile: Int,
      level: Int,
      trailingZeroWords: Int
  ): Array[Byte] = {
    val w = new BitWriter
    w.putBits(profile, 8)
    w.putBits(0, 8)
    w.putBits(level, 8)
    w.putUe(0) // sps id
    w.putUe(0) // log2_max_frame_num_minus4
    w.putUe(2) // pic_order_cnt_type = 2 (no dependents)
    w.putUe(1) // max_num_ref_frames
    w.putBit(0) // gaps allowed
    w.putUe(widthMbs - 1)
    w.putUe(heightUnits - 1)
    w.putBit(1) // frame_mbs_only
    w.putBit(1) // direct_8x8
    val (cl, cr, ct, cb) = crop
    if (cl + cr + ct + cb > 0) { w.putBit(1); w.putUe(cl); w.putUe(cr); w.putUe(ct); w.putUe(cb) }
    else w.putBit(0)
    w.putBit(0) // vui_parameters_present
    // trailing zero words after the stop bit (the cabac_zero_word shape
    // real encoders emit) force 00 00 runs the escaper MUST protect —
    // makes emulation prevention deterministically load-bearing
    val rbsp = w.finish() ++ Array.fill(2 * trailingZeroWords)(0.toByte)
    // re-insert emulation prevention: 00 00 00|01|02|03 → 00 00 03 0x
    val esc = new java.io.ByteArrayOutputStream()
    var zeros = 0
    for (x <- rbsp) {
      if (zeros == 2 && (x & 0xff) <= 3) { esc.write(3); zeros = 0 }
      esc.write(x & 0xff)
      zeros = if (x == 0) zeros + 1 else 0
    }
    esc.toByteArray
  }

  def synthesize(
      widthMbs: Int,
      heightUnits: Int,
      crop: (Int, Int, Int, Int),
      profile: Int,
      level: Int,
      slices: Int,
      seed: Int,
      trailingZeroWords: Int = 0
  ): Array[Byte] = {
    val esc = new java.io.ByteArrayOutputStream()
    esc.write(spsPayload(widthMbs, heightUnits, crop, profile, level, trailingZeroWords))
    val out = new java.io.ByteArrayOutputStream()
    def nal(longStart: Boolean, header: Int, payload: Array[Byte]): Unit = {
      if (longStart) out.write(0)
      out.write(0); out.write(0); out.write(1)
      out.write(header)
      out.write(payload, 0, payload.length)
    }
    nal(longStart = true, 0x67, esc.toByteArray) // SPS (ref_idc=3, type 7)
    nal(longStart = false, 0x68, Array.tabulate(4)(k => ((seed + k) % 0x5f + 0x20).toByte)) // PPS stub
    nal(longStart = false, 0x65, Array.tabulate(24)(k => ((seed * 7 + k * 3) % 0x5f + 0x20).toByte)) // IDR
    for (sl <- 0 until slices)
      nal(longStart = sl % 2 == 0, 0x41, Array.tabulate(16 + sl % 9)(k => ((seed * 11 + sl * 5 + k) % 0x5f + 0x20).toByte))
    out.toByteArray
  }
}

/** Fixture for the x89 H.264-metadata gate: 200 Annex-B streams whose SPS
  * geometry (macroblock dims + crop rectangle), profile/level and NAL
  * census follow formulas of video_id; the twin is the generator's ground
  * truth (x21/x22 pattern). Emulation prevention is load-bearing: crop
  * values are chosen so some SPS payloads contain 00 00 0x runs. */
/** Fixture for the x114 GOP-index gate: 200 multi-GOP Annex-B streams; the
  * twin records the generator's ground-truth split table (per-GOP byte
  * offset, slice count, byte extent) — the x89/x21/x22 twin pattern. */
object H264GopFixture {
  val dir = Fixture.dir("graft_h264gop")
  val twinPath = s"$dir/twin"

  def rows: Seq[(Long, Array[Byte], Seq[(Long, Long, Long)])] = (0 until 200).map { i =>
    val (bytes, gops) = H264Meta.synthesizeGops(
      widthMbs = 2 + i % 20,
      heightUnits = 2 + (i * 3) % 20,
      profile = Seq(66, 77, 88)(i % 3),
      level = Seq(30, 31, 40, 41, 50)(i % 5),
      nGops = 1 + i % 6,
      slicesOf = g => 1 + (i + 2 * g) % 8,
      seed = i
    )
    (i.toLong, bytes, gops)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "video_id", r.map { case (id, p, _) => (id, p) })
    r.flatMap { case (id, _, gops) =>
      gops.zipWithIndex.map { case ((off, ns, nb), g) => (id, g.toLong, off, ns, nb) }
    }.toDF("video_id", "gop_idx", "gop_offset", "n_slices", "gop_bytes")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}

object H264Fixture {
  val dir = Fixture.dir("graft_h264")
  val twinPath = s"$dir/twin"

  def rows: Seq[(Long, Array[Byte], Int, Int, Int, Int, Long, Long)] = (0 until 200).map { i =>
    val widthMbs = 2 + i % 40
    val heightUnits = 2 + (i * 3) % 30
    val crop = if (i % 3 == 0) (i % 3, (i / 3) % 4, i % 2, (i / 2) % 3) else (0, 0, 0, 0)
    val profile = Seq(66, 77, 88)(i % 3)
    val level = Seq(30, 31, 40, 41, 50)(i % 5)
    val slices = 1 + i % 7
    val bytes =
      H264Meta.synthesize(widthMbs, heightUnits, crop, profile, level, slices, seed = i,
        trailingZeroWords = if (i % 4 == 0) 2 else 0)
    val w = widthMbs * 16 - 2 * (crop._1 + crop._2)
    val h = heightUnits * 16 - 2 * (crop._3 + crop._4)
    (i.toLong, bytes, w, h, profile, level, (3 + slices).toLong, slices.toLong)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "video_id", r.map { case (id, p, _, _, _, _, _, _) => (id, p) })
    r.map { case (id, _, w, h, pr, lv, nn, ns) => (id, w, h, pr, lv, nn, ns) }
      .toDF("video_id", "width", "height", "profile", "level", "n_nals", "n_slices")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}
