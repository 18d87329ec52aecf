package graft.sources

/** Real MP3 (MPEG audio) container metadata — the frame-header walk every
  * audio ingest pipeline runs before any sample decode: skip an ID3v2 tag
  * (synchsafe length), then iterate sync-word frame headers, decoding
  * version / layer / bitrate-table index / sample rate / padding / CRC
  * flag per frame and advancing by the exact computed frame length. VBR
  * streams fall out naturally (per-frame bitrates summed for the gate);
  * duration is integer math over total samples. The walk must land
  * exactly on the payload end (a trailing 128-byte ID3v1 tag allowed), so
  * a single wrong frame-length computation desynchronizes the sync check
  * and quarantines — the structural proof that the table arithmetic is
  * right, the same way [[Sas7bdat]]'s page walk proves its layout math.
  *
  * Scope: MPEG-1 Layers I/II/III and MPEG-2 Layer III, constant sample
  * rate per stream, no free-format (bitrate index 0). Sample DECODE
  * (IMDCT + synthesis filterbank) stays out of scope — the established
  * transform-codec boundary ([[graft.operators.Multimodal]]), now at
  * samples only: the container layer is fully parsed.
  */
object MpegAudio {

  final case class Meta(
      version: String,
      layer: Int,
      sampleRate: Int,
      channels: Int,
      nFrames: Long,
      kbpsSum: Long, // Σ per-frame bitrate — ÷ nFrames = average (VBR-aware)
      durationMs: Long
  )

  // bitrate tables, kbps, index 1..14 (T.ISO 11172-3 / 13818-3)
  private[sources] val BrV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private[sources] val BrV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private[sources] val BrV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private[sources] val BrV2L3 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  private[sources] val SrV1 = Array(44100, 48000, 32000, -1)
  private val SrV2 = Array(22050, 24000, 16000, -1)
  private val SrV25 = Array(11025, 12000, 8000, -1)

  /** (frameLenBytes, samplesPerFrame, bitrateKbps, sampleRate, channels)
    * for one 4-byte header at `o`, or None if not a valid frame header. */
  private[sources] def frameInfo(b: Array[Byte], o: Int): Option[(Int, Int, Int, Int, Int)] = {
    if (o + 4 > b.length) return None
    val h =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    if ((h >>> 21) != 0x7ff) return None // 11-bit sync
    val versionBits = (h >>> 19) & 3 // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    val layerBits = (h >>> 17) & 3 // 1=III, 2=II, 3=I
    val brIdx = (h >>> 12) & 15
    val srIdx = (h >>> 10) & 3
    val padding = (h >>> 9) & 1
    val mode = (h >>> 6) & 3 // 3 = mono
    if (versionBits == 1 || layerBits == 0 || brIdx == 0 || brIdx == 15 || srIdx == 3) return None
    val layer = 4 - layerBits // 1, 2, 3
    val sr = versionBits match {
      case 3 => SrV1(srIdx); case 2 => SrV2(srIdx); case _ => SrV25(srIdx)
    }
    val kbps = (versionBits, layer) match {
      case (3, 1) => BrV1L1(brIdx)
      case (3, 2) => BrV1L2(brIdx)
      case (3, 3) => BrV1L3(brIdx)
      case (_, 3) => BrV2L3(brIdx)
      case _ => return None // MPEG-2 Layers I/II out of scope
    }
    val spf = (versionBits, layer) match {
      case (_, 1) => 384
      case (_, 2) => 1152
      case (3, 3) => 1152
      case (_, 3) => 576 // MPEG-2/2.5 Layer III
    }
    val bitrate = kbps * 1000
    val len =
      if (layer == 1) (12 * bitrate / sr + padding) * 4
      else spf / 8 * bitrate / sr + padding
    Some((len, spf, kbps, sr, if (mode == 3) 1 else 2))
  }

  /** Walk the whole payload; None unless every byte is accounted for
    * (ID3v2 prefix + frames + optional trailing ID3v1). */
  def parse(b: Array[Byte]): Option[Meta] = {
    var o = 0
    // ID3v2: "ID3" ver(2) flags(1) synchsafe-size(4)
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) | ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      o = 10 + size
      if (o > b.length) return None
    }
    var end = b.length
    // trailing ID3v1: fixed 128 bytes starting "TAG"
    if (end - o >= 128 && b(end - 128) == 'T' && b(end - 127) == 'A' && b(end - 126) == 'G')
      end -= 128
    var nFrames = 0L
    var kbpsSum = 0L
    var totalSamples = 0L
    var sr = -1
    var ch = -1
    var layer = -1
    var vlBits = -1 // version+layer bits of byte 1: streams must not mix
    var version: String = null
    while (o < end) {
      val fi = frameInfo(b, o).getOrElse(return None) // desync = quarantine
      val (len, spf, kbps, fsr, fch) = fi
      if (sr == -1) {
        sr = fsr; ch = fch; vlBits = (b(o + 1) & 0xff) & 0x1e
        layer = { val lb = ((b(o + 1) & 0xff) >> 1) & 3; 4 - lb }
        version = (((b(o + 1) & 0xff) >> 3) & 3) match {
          case 3 => "MPEG1"; case 2 => "MPEG2"; case _ => "MPEG2.5"
        }
      } else if (fsr != sr || fch != ch || ((b(o + 1) & 0xff) & 0x1e) != vlBits)
        return None // mixed sample rates, channels, versions or layers: out of scope
      if (len <= 4 || o + len > end) return None
      nFrames += 1; kbpsSum += kbps; totalSamples += spf
      o += len
    }
    if (nFrames == 0 || sr <= 0) None
    else Some(Meta(version, layer, sr, ch, nFrames, kbpsSum, totalSamples * 1000L / sr))
  }

  /** Spec-valid MPEG-1 Layer III stream: `n` frames whose bitrate indices
    * come from `brIdxAt` (VBR when it varies), deterministic junk payload,
    * optional ID3v2 prefix and ID3v1 trailer. A separate forward path from
    * [[parse]] (fixture-vs-parser discipline). */
  def synthesize(
      n: Int,
      srIdx: Int,
      brIdxAt: Int => Int,
      mono: Boolean,
      id3v2Bytes: Int = 0,
      id3v1: Boolean = false,
      seed: Int = 0
  ): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2Bytes > 0) {
      out.write(Array[Byte]('I', 'D', '3', 4, 0, 0))
      out.write(
        Array(((id3v2Bytes >> 21) & 0x7f).toByte, ((id3v2Bytes >> 14) & 0x7f).toByte,
          ((id3v2Bytes >> 7) & 0x7f).toByte, (id3v2Bytes & 0x7f).toByte)
      )
      for (k <- 0 until id3v2Bytes) out.write((seed * 31 + k * 7) & 0x7f)
    }
    val sr = SrV1(srIdx)
    for (f <- 0 until n) {
      val brIdx = brIdxAt(f)
      require(brIdx >= 1 && brIdx <= 14)
      val bitrate = BrV1L3(brIdx) * 1000
      val padding = f % 2 // exercise both paddings
      val len = 144 * bitrate / sr + padding
      val mode = if (mono) 3 else 1
      val h = (0x7ff << 21) | (3 << 19) | (1 << 17) | (1 << 16) | (brIdx << 12) |
        (srIdx << 10) | (padding << 9) | (mode << 6)
      out.write((h >>> 24) & 0xff); out.write((h >>> 16) & 0xff)
      out.write((h >>> 8) & 0xff); out.write(h & 0xff)
      for (k <- 4 until len) out.write((seed * 13 + f * 5 + k * 3) % 0x5f + 0x20)
    }
    if (id3v1) {
      out.write(Array[Byte]('T', 'A', 'G'))
      for (k <- 0 until 125) out.write((seed + k) % 0x5f + 0x20)
    }
    out.toByteArray
  }
}

/** Fixture for the x88 MP3-metadata gate: 200 MPEG-1 Layer III streams
  * with formula-driven VBR bitrate schedules, alternating padding, a mix
  * of mono/stereo, sample rates and ID3v2/ID3v1 wrapping. The twin table
  * is the generator's ground truth (the x21/x22 metadata pattern); the
  * walker must land exactly on payload end, so one wrong frame-length
  * desynchronizes and the gate hash flips. */
object MpegFixture {
  val dir = Fixture.dir("graft_mp3")
  val twinPath = s"$dir/twin"

  private[sources] val BrV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val SrV1 = Array(44100, 48000, 32000)

  def rows: Seq[(Long, Array[Byte], Int, Int, Long, Long)] = (0 until 200).map { i =>
    val n = 3 + i % 17
    val srIdx = i % 3
    val brIdxAt = (f: Int) => 1 + (i + f * 3) % 14
    val mono = i % 4 == 0
    val bytes = MpegAudio.synthesize(
      n,
      srIdx,
      brIdxAt,
      mono,
      id3v2Bytes = if (i % 5 == 0) 40 + i % 30 else 0,
      id3v1 = i % 7 == 0,
      seed = i
    )
    val kbpsSum = (0 until n).map(f => MpegAudio.BrV1L3(brIdxAt(f)).toLong).sum
    val durationMs = n.toLong * 1152L * 1000L / MpegAudio.SrV1(srIdx)
    (i.toLong, bytes, n, if (mono) 1 else 2, kbpsSum, durationMs)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "audio_id", r.map { case (id, p, _, _, _, _) => (id, p) })
    r.map { case (id, _, n, ch, ks, dur) => (id, n.toLong, ch, ks, dur) }
      .toDF("audio_id", "n_frames", "channels", "kbps_sum", "duration_ms")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}
