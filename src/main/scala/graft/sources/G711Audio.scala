package graft.sources

import org.apache.spark.sql.SparkSession

/** ITU-T G.711 μ-law / A-law sample decode from first principles — the
  * telephony-audio completion of the codec family ([[AdpcmAudio]] covers
  * 4-bit predictive compression; this covers the 8-bit logarithmic
  * companding that PSTN/VoIP corpora actually ship). Per G.711 (and the
  * public-domain CCITT reference implementation's integer arithmetic):
  *
  * μ-law (format tag 0x07):  u = ~code & 0xff;
  *   t = ((u & 0xf) << 3 + 0x84) << ((u >> 4) & 7);
  *   sample = (u & 0x80) ? 0x84 − t : t − 0x84          (±32124 max)
  *
  * A-law (format tag 0x06):  a = code ^ 0x55; seg = (a >> 4) & 7;
  *   t = seg 0 → (a & 0xf) << 4 + 8; seg 1 → (a & 0xf) << 4 + 0x108;
  *       else  → ((a & 0xf) << 4 + 0x108) << (seg − 1);
  *   sample = (a & 0x80) ? t : −t                        (±32256 max)
  *
  * Both expansions are CLOSED-FORM integer arithmetic per byte — no
  * decoder state at all — which is what lets the x151 oracle decode the
  * byte formula directly in SQL (no recursive CTE, unlike x98's ADPCM
  * predictor replay). Scope: mono 8-bit WAV containers, format tag 0x06
  * or 0x07, blockAlign 1. Structural lies ⇒ None, the sibling-parser
  * discipline: any other tag/bits/channels/blockAlign, a data chunk
  * longer than the payload, or a fact chunk disagreeing with the byte
  * count all quarantine.
  */
object G711Audio {

  /** expand one μ-law code byte to a 16-bit sample */
  def ulaw(code: Int): Int = {
    val u = ~code & 0xff
    val t = (((u & 0xf) << 3) + 0x84) << ((u >> 4) & 7)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** expand one A-law code byte to a 16-bit sample */
  def alaw(code: Int): Int = {
    val a = (code ^ 0x55) & 0xff
    val seg = (a >> 4) & 7
    val t0 = (a & 0xf) << 4
    val t = seg match {
      case 0 => t0 + 8
      case 1 => t0 + 0x108
      case _ => (t0 + 0x108) << (seg - 1)
    }
    if ((a & 0x80) != 0) t else -t
  }

  /** Decode a mono G.711 WAV payload to loudness features over the
    * decoded samples: (law, n_samples, Σ|s|, max|s|, Σ (pos+1)·s) — the
    * x98 positional-checksum convention (order-pinning, not multiset). */
  def features(b: Array[Byte]): Option[(String, Long, Long, Long, Long)] = {
    val (fmtOfs, dataOfs, dataLen, factSamples) = Riff.walk(b) match {
      case Some(t) => t
      case None    => return None
    }
    if (fmtOfs + 16 > b.length) return None
    val fmtTag = Riff.u16le(b, fmtOfs)
    val channels = Riff.u16le(b, fmtOfs + 2)
    val blockAlign = Riff.u16le(b, fmtOfs + 12)
    val bits = Riff.u16le(b, fmtOfs + 14)
    val law = fmtTag match {
      case 0x07 => "ulaw"
      case 0x06 => "alaw"
      case _    => return None
    }
    if (channels != 1 || bits != 8 || blockAlign != 1) return None
    if (dataLen <= 0 || dataOfs + dataLen > b.length) return None
    if (factSamples >= 0 && factSamples != dataLen) return None
    var sumAbs = 0L; var peak = 0L; var chk = 0L
    var t = 0
    while (t < dataLen.toInt) {
      val c = b(dataOfs + t) & 0xff
      val s = if (fmtTag == 0x07) ulaw(c) else alaw(c)
      sumAbs += math.abs(s); peak = math.max(peak, math.abs(s).toLong)
      chk += (t + 1L) * s
      t += 1
    }
    Some((law, dataLen, sumAbs, peak, chk))
  }

  /** Spec-valid mono G.711 WAV from an explicit code-byte generator (any
    * byte sequence is a valid G.711 stream — decode gives it meaning, so
    * the oracle replays the generator formula through the expansion). */
  def synthesize(law: String, rate: Int, n: Int, code: Int => Int): Array[Byte] = {
    val fmtTag = if (law == "ulaw") 0x07 else 0x06
    val payload = Array.tabulate(n)(t => (code(t) & 0xff).toByte)
    val fmt = Riff.le16(fmtTag) ++ Riff.le16(1) ++ Riff.le32(rate.toLong) ++
      Riff.le32(rate.toLong) ++ Riff.le16(1) ++ Riff.le16(8)
    Riff.container(fmt, Some(Riff.le32(n.toLong)), payload)
  }
}

/** Fixture for the x151 gate: 200 mono G.711 WAV payloads (even ids μ-law,
  * odd A-law) whose byte stream follows a closed-form formula of
  * (audio_id, t) — the x98 pattern; the DuckDB oracle pushes the SAME
  * formula through the G.711 expansion arithmetic inline. */
object G711Fixture {
  val dir = Fixture.dir("graft_g711")

  val N = 200
  def law(id: Int): String = if (id % 2 == 0) "ulaw" else "alaw"
  def nSamples(id: Int): Int = 400 + id % 57
  def code(id: Int, t: Int): Int = (id * 31 + t * 17) % 256

  def payload(id: Int): Array[Byte] =
    G711Audio.synthesize(law(id), 8000, nSamples(id), t => code(id, t))

  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "audio_id", (0 until N).map(i => (i.toLong, payload(i))))
  }
}
