package graft.sources

/** REAL frame extraction over a raw uncompressed video payload — completing
  * the decode (x33) / feature-extract (x34) / resize (x33) / frame-sample
  * (x35) chain with genuine byte-level work in every step. The container is
  * the classic rawvideo/y4m shape: a fixed header followed by back-to-back
  * uncompressed RGB frames (row-major, top-down, no padding) — exactly what
  * `ffmpeg -f rawvideo` style pipelines move around, and decodable with zero
  * codec libraries.
  *
  * Layout: magic "GRV1" | u32le width | u32le height | u32le nFrames |
  * nFrames × (width·height·3 RGB bytes).
  */
object RawVideo {

  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  final case class Video(width: Int, height: Int, nFrames: Int, bytes: Array[Byte]) {
    /** pixel (x, y) of frame t — (r, g, b), y from the top row */
    def rgb(t: Int, x: Int, y: Int): (Int, Int, Int) = {
      val o = 16 + (t.toLong * width * height + y.toLong * width + x).toInt * 3
      ((bytes(o) & 0xff, bytes(o + 1) & 0xff, bytes(o + 2) & 0xff))
    }
  }

  /** Bounds-checked decode; None for wrong magic / inconsistent length
    * (untrusted executor-side bytes, as everywhere in sources/). */
  def decode(b: Array[Byte]): Option[Video] = {
    if (b.length < 16 || new String(b, 0, 4, "US-ASCII") != "GRV1") return None
    val w = u32le(b, 4); val h = u32le(b, 8); val n = u32le(b, 12)
    if (w <= 0 || h <= 0 || n <= 0 || w > 65535 || h > 65535 || n > 1000000) return None
    val expect = 16L + w * h * 3L * n
    if (expect != b.length) return None
    Some(Video(w.toInt, h.toInt, n.toInt, b))
  }

  /** Every k-th frame index (0, k, 2k, …) — the sampling schedule a training
    * pipeline uses to cut video to a frame budget. */
  def sampleIndices(nFrames: Int, everyK: Int): Seq[Int] = 0 until nFrames by everyK

  /** One sampled frame → nearest-neighbor tw×th tile → position-weighted
    * checksum (same conventions as [[BmpPixels]]). */
  def frameChecksum(v: Video, t: Int, tw: Int, th: Int): Long = {
    var sum = 0L
    var j = 0
    while (j < th) {
      var i = 0
      while (i < tw) {
        val (r, g, b) = v.rgb(t, i * v.width / tw, j * v.height / th)
        sum += (j.toLong * tw + i + 1) * (3L * r + 5L * g + 7L * b)
        i += 1
      }
      j += 1
    }
    sum
  }

  /** Spec-valid payload with pixel (t, x, y) = `rgbAt(t, x, y)` (separate
    * code path from [[decode]], fixture-vs-parser discipline). */
  def synthesize(w: Int, h: Int, nFrames: Int, rgbAt: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val data = new Array[Byte](w * h * 3 * nFrames)
    var o = 0
    for (t <- 0 until nFrames; y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgbAt(t, x, y)
      data(o) = r.toByte; data(o + 1) = g.toByte; data(o + 2) = b.toByte
      o += 3
    }
    "GRV1".getBytes("US-ASCII") ++ le32(w) ++ le32(h) ++ le32(nFrames) ++ data
  }
}

/** Fixture for x35: 150 raw videos with closed-form pixels so the oracle
  * recomputes sampled-frame checksums from first principles. */
object RawVideoFixture {
  val dir = Fixture.dir("graft_rawvideo")
  val twinPath = s"$dir/twin"

  /** pixel formula — mirrored verbatim in the x35 oracle SQL */
  def rgbAt(id: Long)(t: Int, x: Int, y: Int): (Int, Int, Int) = (
    ((id * 7 + t * 3 + x * 5 + y * 11) % 256).toInt,
    ((id * 11 + t * 5 + x * 2 + y * 3) % 256).toInt,
    ((id * 13 + t * 7 + x + y * 2) % 256).toInt
  )

  def rows: Seq[(Long, Array[Byte], Int, Int, Int)] = (0 until 150).map { i =>
    val w = 4 + (i * 5) % 16
    val h = 4 + (i * 3) % 12
    val n = 6 + (i * 7) % 24
    (i.toLong, RawVideo.synthesize(w, h, n, rgbAt(i.toLong)), w, h, n)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "video_id", r.map { case (id, p, _, _, _) => (id, p) })
    r.map { case (id, _, w, h, n) => (id, w, h, n) }
      .toDF("video_id", "width", "height", "n_frames")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}
