package graft.sources

import org.apache.spark.sql.SparkSession

/** IMA ADPCM (DVI4 / WAVE format tag 0x11) sample decode from first
  * principles — completing the audio family the way [[PngPixels]] /
  * [[GifPixels]] / [[JpegPixels]] completed images: [[MpegAudio]] walks the
  * MP3 container, [[AudioMeta.pcmFeatures]] decodes raw PCM, and this
  * decodes a genuinely COMPRESSED stream (4 bits/sample) with the public
  * IMA spec's integer predictor: per nibble,
  *
  *   diff = step>>3 (+ step if b2) (+ step>>1 if b1) (+ step>>2 if b0);
  *   pred ± diff (sign bit b3), clamped to s16;
  *   stepIndex += {-1,-1,-1,-1,2,4,6,8}[n&7], clamped to [0,88]
  *
  * over the 89-entry step-size table. Every state transition is integer
  * arithmetic — the decode is bit-exact by construction, which is what
  * lets the x98 oracle replay it in pure SQL.
  *
  * Scope: mono, 4-bit, full blocks (the canonical WAV-IMA layout:
  * block = 4-byte header [s16le predictor = sample 0, u8 step index, u8
  * reserved] + nibble bytes, LOW nibble first). Structural lies ⇒ None,
  * the sibling-parser discipline: wrong fmt tag / bits / channels,
  * stepIndex > 88, data length not a whole number of blocks, or a fact
  * chunk that disagrees with the decoded sample count all quarantine.
  * The reserved header byte is NOT checked (real encoders write garbage
  * there; tolerating it is spec-conformant leniency, documented here).
  */
object AdpcmAudio {

  val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190, 209, 230,
    253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876, 963,
    1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
    3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794,
    32767)

  val IndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** one predictor step; returns (newPred, newStepIndex) */
  def step(pred: Int, stepIdx: Int, nib: Int): (Int, Int) = {
    val st = StepTable(stepIdx)
    var diff = st >> 3
    if ((nib & 4) != 0) diff += st
    if ((nib & 2) != 0) diff += st >> 1
    if ((nib & 1) != 0) diff += st >> 2
    val p = if ((nib & 8) != 0) pred - diff else pred + diff
    val pc = math.max(-32768, math.min(32767, p))
    val si = math.max(0, math.min(88, stepIdx + IndexTable(nib & 7)))
    (pc, si)
  }

  /** Decode a mono WAV-IMA payload to loudness features over the decoded
    * samples: (n_samples, Σ|s|, max|s|, Σ (globalPos+1)·s). The positional
    * checksum pins sample ORDER, not just the multiset — a swapped block
    * or reversed nibble order flips it. */
  def features(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    val (fmtOfs, dataOfs, dataLen, factSamples) = Riff.walk(b) match {
      case Some(t) => t
      case None    => return None
    }
    if (fmtOfs + 20 > b.length) return None
    val fmtTag = Riff.u16le(b, fmtOfs)
    val channels = Riff.u16le(b, fmtOfs + 2)
    val blockAlign = Riff.u16le(b, fmtOfs + 12)
    val bits = Riff.u16le(b, fmtOfs + 14)
    if (fmtTag != 0x11 || channels != 1 || bits != 4 || blockAlign < 5) return None
    val samplesPerBlock = (blockAlign - 4) * 2 + 1
    if (fmtOfs + 20 <= b.length && Riff.u16le(b, fmtOfs + 16) == 2) {
      // cbSize = 2 ⇒ the extra u16 is wSamplesPerBlock; it must agree
      if (Riff.u16le(b, fmtOfs + 18) != samplesPerBlock) return None
    }
    // full blocks only; trailing partial data is a structural lie
    if (dataLen <= 0 || dataLen % blockAlign != 0 || dataOfs + dataLen > b.length) return None
    val nBlocks = (dataLen / blockAlign).toInt
    val total = nBlocks.toLong * samplesPerBlock
    if (factSamples >= 0 && factSamples != total) return None
    var sumAbs = 0L; var peak = 0L; var chk = 0L
    var pos = 0L
    var blk = 0
    while (blk < nBlocks) {
      val o = dataOfs + blk * blockAlign
      var pred = Riff.u16le(b, o).toShort.toInt // s16le, the block's sample 0
      var si = b(o + 2) & 0xff
      if (si > 88) return None // invalid step index: quarantine
      sumAbs += math.abs(pred); peak = math.max(peak, math.abs(pred).toLong)
      chk += (pos + 1) * pred; pos += 1
      var t = 0
      while (t < (blockAlign - 4) * 2) {
        val byte = b(o + 4 + (t >> 1)) & 0xff
        val nib = if ((t & 1) == 0) byte & 0x0f else (byte >> 4) & 0x0f
        val (p2, s2) = step(pred, si, nib)
        pred = p2; si = s2
        sumAbs += math.abs(pred); peak = math.max(peak, math.abs(pred).toLong)
        chk += (pos + 1) * pred; pos += 1
        t += 1
      }
      blk += 1
    }
    Some((total, sumAbs, peak, chk))
  }


  /** Spec-valid mono WAV-IMA payload from explicit per-block state and a
    * nibble generator (any nibble sequence is a valid IMA stream — the
    * decode is what gives it meaning, so the oracle can replay it from
    * the generator formula). `blocks(b) = (pred0, stepIdx0)`; nibble t of
    * block b is `nib(b, t) & 0xf`; all blocks full at `blockAlign`. */
  def synthesize(rate: Int, blockAlign: Int, blocks: Seq[(Int, Int)], nib: (Int, Int) => Int): Array[Byte] = {
    val samplesPerBlock = (blockAlign - 4) * 2 + 1
    val data = new java.io.ByteArrayOutputStream()
    for (((p0, s0), b) <- blocks.zipWithIndex) {
      data.write(Riff.le16(p0 & 0xffff)); data.write(s0); data.write(0)
      var t = 0
      while (t < (blockAlign - 4) * 2) {
        data.write((nib(b, t) & 0x0f) | ((nib(b, t + 1) & 0x0f) << 4))
        t += 2
      }
    }
    val payload = data.toByteArray
    val avgBytes = (rate.toLong * blockAlign / samplesPerBlock).toInt
    val fmt = Riff.le16(0x11) ++ Riff.le16(1) ++ Riff.le32(rate.toLong) ++ Riff.le32(avgBytes.toLong) ++
      Riff.le16(blockAlign) ++ Riff.le16(4) ++ Riff.le16(2) ++ Riff.le16(samplesPerBlock)
    Riff.container(fmt, Some(Riff.le32(blocks.size.toLong * samplesPerBlock)), payload)
  }
}

/** Fixture for the x98 gate: 200 mono WAV-IMA payloads whose block count,
  * per-block initial predictor/step index, and nibble stream all follow
  * closed-form formulas of (audio_id, block, t) — the x70/x80 pattern. The
  * DuckDB oracle replays the IMA predictor recurrence over those formulas
  * in a recursive CTE, so a gate match proves the container parse AND
  * every integer state transition, without the oracle touching a byte. */
object AdpcmFixture {
  val dir = Fixture.dir("graft_adpcm")

  val N = 200
  val BlockAlign = 256 // → 505 samples per block
  val SamplesPerBlock: Int = (BlockAlign - 4) * 2 + 1

  def nBlocks(id: Int): Int = 1 + id % 3
  def pred0(id: Int, blk: Int): Int = ((id * 2731 + blk * 1217) % 65536) - 32768
  def step0(id: Int, blk: Int): Int = (id * 7 + blk * 13) % 89
  def nib(id: Int, blk: Int, t: Int): Int = (id * 11 + blk * 5 + t * 3) % 16

  private val rates = Seq(8000, 11025, 22050, 44100)

  def payload(id: Int): Array[Byte] =
    AdpcmAudio.synthesize(
      rates(id % rates.size),
      BlockAlign,
      (0 until nBlocks(id)).map(b => (pred0(id, b), step0(id, b))),
      (b, t) => nib(id, b, t)
    )

  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "audio_id", (0 until N).map(i => (i.toLong, payload(i))))
  }
}
