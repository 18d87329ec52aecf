package graft.sources

/** LZ4 raw-block decoder (x199) — the other shuffle codec of the Spark
  * ecosystem (spark.io.compression.codec=lz4 is the default), from the
  * public block format (lz4/lz4 `lz4_Block_format.md`), pure JVM:
  *
  *   - Sequences: token byte — high nibble = literal length (15 escapes
  *     to 255-valued continuation bytes, summed until a byte < 255),
  *     literal bytes, then a 2-byte LE match offset (1..65535; 0 is
  *     malformed) and the match length = low nibble + 4 (15 escapes the
  *     same way). Matches may overlap their own output (offset < length
  *     is the run idiom), so the match copy is byte-at-a-time.
  *   - The LAST sequence is literals-only: the block ends right after
  *     its literal bytes and its token's match nibble must be 0.
  *
  * The raw block carries no decompressed size, so the fixture prepends
  * one as a 4-byte LE header (the standard "block + stored size" framing
  * every raw-block consumer adds); decode() reads it, allocates once
  * (bounded — the ZipScan crafted-header lesson) and requires the body
  * to fill it EXACTLY.
  *
  * Conformance split: fixtures are compressed by the OFFICIAL `lz4-java`
  * in Spark's jars; this reader is from scratch. Structural lies
  * quarantine: truncated token/offset/extension, offset 0 or beyond the
  * bytes produced, literal/match overrunning the declared size, a
  * non-zero match nibble on the final sequence, under-filled output.
  * Exact consumption holds by construction — a trailing byte becomes a
  * token whose sequence either truncates or overflows.
  *
  * Scale shape: per-payload pure function under `mapPartitions` (the
  * x98/x151/x198 byte-codec class) — no shuffle before the output sort.
  */
object Lz4Block {

  /** Declared-size cap: a crafted header must not allocate unbounded
    * memory before the body fails. */
  private val MaxLen = 64 << 20

  /** 4-byte-LE-length-framed LZ4 block → decoded bytes, or None. */
  def decode(b: Array[Byte]): Option[Array[Byte]] = {
    if (b.length < 4) return None
    val ulen = (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) | ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
    if (ulen > MaxLen) return None
    val out = new Array[Byte](ulen.toInt)
    var p = 4
    var o = 0
    // an empty payload may be framed with an empty body or with the
    // single literals-only token 0x00 the reference encoder emits —
    // the loop below accepts the latter
    if (ulen == 0 && p == b.length) return Some(out)
    while (p < b.length) {
      val token = b(p) & 0xff; p += 1
      // literal length: high nibble, 15 escapes to continuation bytes
      var llen = token >> 4
      if (llen == 15) {
        var v = 255
        while (v == 255) {
          if (p >= b.length) return None
          v = b(p) & 0xff; p += 1
          llen += v
          if (llen > MaxLen) return None
        }
      }
      if (p + llen > b.length || o + llen > out.length) return None
      System.arraycopy(b, p, out, o, llen); p += llen; o += llen
      if (p == b.length) {
        // final literals-only sequence: the match nibble must be unused
        if ((token & 0x0f) != 0) return None
        return if (o == out.length) Some(out) else None
      }
      if (p + 2 > b.length) return None
      val off = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8); p += 2
      if (off <= 0 || off > o) return None
      var mlen = (token & 0x0f) + 4
      if ((token & 0x0f) == 15) {
        var v = 255
        while (v == 255) {
          if (p >= b.length) return None
          v = b(p) & 0xff; p += 1
          mlen += v
          if (mlen > MaxLen) return None
        }
      }
      if (o + mlen > out.length) return None
      var i = 0
      while (i < mlen) { out(o) = out(o - off); o += 1; i += 1 }
    }
    None // input exhausted without a final literals-only sequence
  }

  /** UNFRAMED block (x299's ORC chunk shape): no length prefix — the
    * caller bounds the output with `cap` (ORC's compressionBlockSize);
    * returns exactly the decoded bytes.
    */
  def decodeUnframed(b: Array[Byte], cap: Int): Option[Array[Byte]] = {
    if (cap < 0 || cap > MaxLen) return None
    val out = new Array[Byte](cap)
    var p = 0
    var o = 0
    while (p < b.length) {
      val token = b(p) & 0xff; p += 1
      var llen = token >> 4
      if (llen == 15) {
        var v = 255
        while (v == 255) {
          if (p >= b.length) return None
          v = b(p) & 0xff; p += 1
          llen += v
          if (llen > MaxLen) return None
        }
      }
      if (p + llen > b.length || o + llen > out.length) return None
      System.arraycopy(b, p, out, o, llen); p += llen; o += llen
      if (p == b.length) {
        if ((token & 0x0f) != 0) return None
        return Some(java.util.Arrays.copyOf(out, o))
      }
      if (p + 2 > b.length) return None
      val off = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8); p += 2
      if (off <= 0 || off > o) return None
      var mlen = (token & 0x0f) + 4
      if ((token & 0x0f) == 15) {
        var v = 255
        while (v == 255) {
          if (p >= b.length) return None
          v = b(p) & 0xff; p += 1
          mlen += v
          if (mlen > MaxLen) return None
        }
      }
      if (o + mlen > out.length) return None
      var i = 0
      while (i < mlen) { out(o) = out(o - off); o += 1; i += 1 }
    }
    if (o == 0 && b.isEmpty) Some(new Array[Byte](0)) else None
  }
}

/** Deterministic LZ4 corpus: payloads framed as 4-byte LE plain length +
  * a block compressed by the OFFICIAL lz4-java, content closed-form so
  * the oracle rebuilds every length/md5. Payload Z: a CSV block H of
  * 4 + Z%7 lines "L,Z,i,<Z*17+i*13>\n", a run of 24 + Z%40 copies of
  * letter ('A' + Z%26) (the overlap-match idiom), then H again (a far
  * match). */
object Lz4Fixture {
  val dir = Fixture.dir("graft_lz4")

  def content(z: Long): String = {
    val h = (0 until (4 + (z % 7)).toInt).map(i => s"L,$z,$i,${z * 17 + i * 13}\n").mkString
    val run = ('A' + (z % 26).toInt).toChar.toString * (24 + (z % 40)).toInt
    h + run + h
  }

  def fileBytes(z: Long): Array[Byte] = {
    val raw = content(z).getBytes("UTF-8")
    val comp = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor().compress(raw)
    val n = raw.length
    Array[Byte](n.toByte, (n >> 8).toByte, (n >> 16).toByte, (n >> 24).toByte) ++ comp
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "blob_id", (0L until 200L).map(z => (z, fileBytes(z))))
  }
}
