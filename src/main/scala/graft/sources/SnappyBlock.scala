package graft.sources

/** Snappy raw-block decoder (x198) — the shuffle/Parquet-page codec of
  * the Spark ecosystem itself, from the public format description
  * (google/snappy `format_description.txt`), pure JVM:
  *
  *   - Preamble: uncompressed length as a little-endian base-128 varint
  *     (≤ 5 bytes, < 2^32).
  *   - Tagged elements until the input is exhausted. Tag low 2 bits:
  *     00 literal (6-bit length, 60–63 escape to a 1–4-byte LE length),
  *     01 copy with 1-byte offset (3-bit length 4–11, 11-bit offset),
  *     10 copy with 2-byte LE offset (6-bit length 1–64),
  *     11 copy with 4-byte LE offset.
  *   - Copies may overlap their own output (offset < length is the RLE
  *     idiom — a run of N equal bytes is one literal + one offset-1
  *     copy), so the copy loop is byte-at-a-time by construction.
  *
  * Conformance split (the PngPixels/ImageIO, ZipScan/ZipOutputStream
  * pattern): fixtures are compressed by the OFFICIAL `snappy-java`
  * library that ships with Spark's own jars; this reader is from
  * scratch. Structural lies quarantine the whole payload — truncated
  * varint or element, literal/copy running past the declared length,
  * offset 0 or beyond the bytes produced so far, output shorter than
  * declared, or ANY trailing byte (every element produces ≥ 1 output
  * byte, so a spare tag cannot parse to a no-op — exact consumption is
  * enforced by construction, the MpegAudio contract).
  *
  * Scale shape: per-payload pure function under `mapPartitions` (the
  * x98/x151 byte-codec class) — embarrassingly parallel, no shuffle
  * before the output sort; the decoded inventory is what a downstream
  * scan shards by.
  */
object SnappyBlock {

  /** Cap on the declared uncompressed length: a crafted preamble must
    * not allocate unbounded memory before the body fails (the ZipScan
    * crafted-offset lesson). 64 MiB ≫ any fixture payload. */
  private val MaxLen = 64 << 20

  /** Store-mode snappy ENCODER (x303): varint preamble + all-literal
    * runs — the valid zero-compression subset (the x279 AllowRaw
    * analog), so the engine can EMIT snappy payloads (Avro's snappy
    * codec) that any conforming decoder — including this file's own —
    * accepts. Literal tags per the public snappy format description:
    * lengths ≤ 60 inline, else 60..63 with 1..4 LE extra length bytes.
    */
  def encodeStored(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 8)
    var v = data.length.toLong
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
    var p = 0
    while (p < data.length) {
      val run = math.min(data.length - p, 1 << 16)
      if (run <= 60) out.write((run - 1) << 2)
      else if (run <= 256) { out.write(60 << 2); out.write(run - 1) }
      else { out.write(61 << 2); out.write((run - 1) & 0xff); out.write(((run - 1) >> 8) & 0xff) }
      out.write(data, p, run)
      p += run
    }
    out.toByteArray
  }

  /** Raw snappy block → decoded bytes, or None on any structural lie. */
  def decode(b: Array[Byte]): Option[Array[Byte]] = {
    var p = 0
    var ulen = 0L
    var shift = 0
    var more = true
    while (more) {
      if (p >= b.length || shift > 28) return None
      val v = b(p) & 0xff; p += 1
      ulen |= (v & 0x7fL) << shift
      if ((v & 0x80) == 0) more = false else shift += 7
    }
    if (ulen > MaxLen) return None
    val out = new Array[Byte](ulen.toInt)
    var o = 0
    while (p < b.length) {
      val tag = b(p) & 0xff; p += 1
      if ((tag & 3) == 0) { // literal
        var len = (tag >> 2) + 1
        if (len > 60) { // 61..64 escape: length lives in the next 1–4 bytes
          val nb = len - 60
          if (p + nb > b.length) return None
          var l = 0L; var i = 0
          while (i < nb) { l |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
          p += nb
          if (l >= MaxLen) return None
          len = l.toInt + 1
        }
        if (p + len > b.length || o + len > out.length) return None
        System.arraycopy(b, p, out, o, len); p += len; o += len
      } else { // copy
        var len = 0; var off = 0
        (tag & 3) match {
          case 1 =>
            if (p + 1 > b.length) return None
            len = ((tag >> 2) & 0x7) + 4
            off = ((tag >> 5) << 8) | (b(p) & 0xff); p += 1
          case 2 =>
            if (p + 2 > b.length) return None
            len = (tag >> 2) + 1
            off = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8); p += 2
          case _ =>
            if (p + 4 > b.length) return None
            len = (tag >> 2) + 1
            val o4 = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
              ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
            p += 4
            if (o4 > Int.MaxValue) return None
            off = o4.toInt
        }
        if (off <= 0 || off > o || o + len > out.length) return None
        var i = 0
        while (i < len) { out(o) = out(o - off); o += 1; i += 1 }
      }
    }
    if (o != out.length) return None
    Some(out)
  }
}

/** Deterministic snappy corpus: payloads compressed by the OFFICIAL
  * snappy-java (`org.xerial.snappy.Snappy.compress`), content closed-form
  * so the oracle rebuilds every length/md5 from the formulas. Payload Z:
  * a CSV block H of 5 + Z%5 lines "Z,i,<Z*31+i*7>\n" (distinct literal
  * material), then a run of 20 + Z%50 copies of letter ('a' + Z%26)
  * (the offset-1 overlap-copy idiom), then H again (a far match for the
  * 2-byte-offset form). */
object SnappyFixture {
  val dir = Fixture.dir("graft_snappy")

  def content(z: Long): String = {
    val h = (0 until (5 + (z % 5)).toInt).map(i => s"$z,$i,${z * 31 + i * 7}\n").mkString
    val run = ("a"(0) + (z % 26).toInt).toChar.toString * (20 + (z % 50)).toInt
    h + run + h
  }

  def fileBytes(z: Long): Array[Byte] =
    org.xerial.snappy.Snappy.compress(content(z).getBytes("UTF-8"))

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "blob_id", (0L until 200L).map(z => (z, fileBytes(z))))
  }
}
