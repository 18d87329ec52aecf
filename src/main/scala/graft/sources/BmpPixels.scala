package graft.sources

/** REAL pixel decode for 24-bit uncompressed BMP — the one mainstream image
  * format whose pixel data is raw bytes (BGR rows, bottom-up, 4-byte row
  * stride), so a full decode → transform pipeline runs without any codec
  * library. This upgrades the multimodal story from "decode stubbed" to
  * "decode real where the container allows": x33 decodes every payload's
  * pixels, nearest-neighbor-resizes them, and checksums the result — and
  * the DuckDB oracle recomputes the expected checksum from first principles
  * (the fixture's pixel formula + the same resize arithmetic), never seeing
  * the binary. A hash match therefore proves the byte-level decode AND the
  * resample arithmetic end-to-end, not just a metadata echo.
  *
  * [[PngPixels]] extends the same contract to the deflate-compressed path
  * (x70); only transform-coded formats (JPEG DCT) stay stubbed
  * ([[graft.operators.Multimodal]]).
  */
object BmpPixels {

  private def u16le(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def i32le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** Decoded image: `rgb(x, y)` with y measured from the TOP row. */
  final case class Image(width: Int, height: Int, rgb: (Int, Int) => (Int, Int, Int))

  /** Decode a 24bpp uncompressed bottom-up BMP; None for anything else.
    * All offsets are bounds-checked against the payload (untrusted
    * executor-side bytes — same discipline as the metadata parsers). */
  def decode(b: Array[Byte]): Option[Image] = {
    if (b.length < 54 || b(0) != 'B'.toByte || b(1) != 'M'.toByte) return None
    val dataOfs = i32le(b, 10)
    val w = i32le(b, 18)
    val h = i32le(b, 22)
    val bpp = u16le(b, 28)
    val compression = i32le(b, 30)
    if (bpp != 24 || compression != 0 || w <= 0 || h <= 0) return None
    // Stride in Long: a crafted width ≥ ~715M overflows Int `w * 3` to a
    // negative stride that slips past the bounds guard. Rejecting
    // strideL > b.length first also caps strideL ≤ 2^31, so strideL * h
    // (h ≤ 2^31) cannot overflow Long in the second guard.
    val strideL = ((w.toLong * 3 + 3) / 4) * 4
    if (dataOfs < 0 || strideL > b.length || dataOfs.toLong + strideL * h > b.length) return None
    val stride = strideL.toInt
    Some(Image(w, h, (x, y) => {
      val o = dataOfs + (h - 1 - y) * stride + x * 3 // bottom-up rows, BGR
      ((b(o + 2) & 0xff, b(o + 1) & 0xff, b(o) & 0xff))
    }))
  }

  /** Nearest-neighbor resample to tw×th: target (i, j) reads source pixel
    * (⌊i·w/tw⌋, ⌊j·h/th⌋) — integer floor arithmetic so any engine can
    * reproduce the mapping exactly. */
  def resizeNearest(img: Image, tw: Int, th: Int): IndexedSeq[(Int, Int, Int)] =
    for (j <- 0 until th; i <- 0 until tw) yield img.rgb(i * img.width / tw, j * img.height / th)

  /** Position-weighted integer checksum of a resized tile: Σ (pos+1)·(3r+5g+7b).
    * Order-sensitive (the weight encodes the pixel position), so it pins the
    * full resample layout, not just the pixel multiset. */
  def checksum(pixels: IndexedSeq[(Int, Int, Int)]): Long =
    pixels.zipWithIndex.map { case ((r, g, b), k) => (k + 1).toLong * (3L * r + 5L * g + 7L * b) }.sum

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Spec-valid 24bpp BMP whose pixel (x, y) carries `rgbAt(x, y)` —
    * a separate code path from [[decode]] (fixture-vs-parser discipline,
    * as in [[ImageMeta]]). */
  def synthesize(w: Int, h: Int, rgbAt: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val pixelOfs = 14 + 40
    val data = new Array[Byte](stride * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgbAt(x, y)
      val o = (h - 1 - y) * stride + x * 3
      data(o) = b.toByte; data(o + 1) = g.toByte; data(o + 2) = r.toByte
    }
    "BM".getBytes("US-ASCII") ++ le32(pixelOfs + data.length) ++ le32(0) ++ le32(pixelOfs) ++
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++ le32(0) ++ le32(data.length) ++
      le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++ data
  }
}

/** Fixture for the x33 real-pixel gate query: 250 BMPs whose pixel values
  * follow a closed-form formula of (img_id, x, y) — which is exactly what
  * lets the DuckDB oracle recompute the decoded+resized checksum from first
  * principles without parsing a byte of BMP. */
object BmpFixture {
  val dir = Fixture.dir("graft_bmp")
  val twinPath = s"$dir/twin"

  /** pixel formula — mirrored verbatim in the x33 oracle SQL */
  def rgbAt(id: Long)(x: Int, y: Int): (Int, Int, Int) = (
    ((id * 7 + x * 3 + y * 5) % 256).toInt,
    ((id * 11 + x + y * 2) % 256).toInt,
    ((id * 13 + x * 2 + y) % 256).toInt
  )

  def rows: Seq[(Long, Array[Byte], Int, Int)] = (0 until 250).map { i =>
    val w = 5 + (i * 7) % 32
    val h = 4 + (i * 11) % 24
    (i.toLong, BmpPixels.synthesize(w, h, rgbAt(i.toLong)), w, h)
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

/** Fixture for x55 perceptual-hash image dedup: 100 base BMPs plus 10 exact
  * clones (same source formula, new ids) and 10 near-clones (pixel (0, 0)
  * brightened, saturating at 255 — which perturbs exactly ONE 8×8 sample
  * cell, since widths/heights ≥ 16 map cell (0, 0) alone to that pixel).
  * The twin table carries (src_id, bumped) so the DuckDB oracle can
  * recompute every aHash from the closed-form pixel formula. */
object PhashFixture {
  val dir = Fixture.dir("graft_phash")
  val twinPath = s"$dir/twin"

  /** pixel formula by SOURCE id — mirrored verbatim in the x55 oracle SQL */
  def rgbAt(src: Long, bump: Boolean)(x: Int, y: Int): (Int, Int, Int) = {
    val r = ((src * 7 + x * 3 + y * 5) % 256).toInt
    val g = ((src * 11 + x + y * 2) % 256).toInt
    val b = ((src * 13 + x * 2 + y) % 256).toInt
    if (bump && x == 0 && y == 0)
      (math.min(r + 120, 255), math.min(g + 120, 255), math.min(b + 120, 255))
    else (r, g, b)
  }

  def dims(src: Long): (Int, Int) = ((16 + (src * 5) % 24).toInt, (16 + (src * 3) % 20).toInt)

  def rows: Seq[(Long, Long, Boolean, Int, Int, Array[Byte])] =
    ((0L until 100L).map(i => (i, i, false)) ++
      (100L until 110L).map(i => (i, i - 100L, false)) ++ // exact clones of 0..9
      (110L until 120L).map(i => (i, i - 100L, true))) // near-clones of 10..19
      .map { case (id, src, bump) =>
        val (w, h) = dims(src)
        (id, src, bump, w, h, BmpPixels.synthesize(w, h, rgbAt(src, bump)))
      }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "img_id", r.map { case (id, _, _, _, _, p) => (id, p) })
    r.map { case (id, src, bump, w, h, _) => (id, src, bump, w, h) }
      .toDF("img_id", "src_id", "bumped", "width", "height")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}
