package graft.sources

/** EXIF metadata extraction (x197) — the metadata face of the image
  * family (x70/x80/x163 decode pixels; every real photo pipeline ALSO
  * needs orientation/camera/timestamp before any pixel work): EXIF is a
  * TIFF structure embedded in a JPEG APP1 segment ("Exif\0\0" + a
  * complete byte-order-marked TIFF IFD chain, CIPA DC-008 / the TIFF 6.0
  * §2 layout x163 already decodes). From scratch, pure JDK:
  *
  *   - JPEG segment walk: SOI, then marker segments with 16-bit
  *     big-endian lengths until SOS/EOI — APP1 is located structurally,
  *     never by byte scanning (a "Exif" string inside entropy data must
  *     not match);
  *   - TIFF walk INSIDE the segment: II and MM byte orders, IFD0 entries
  *     (Make ASCII via offset, Orientation SHORT validated 1..8), the
  *     EXIF sub-IFD pointer (tag 0x8769) followed into
  *     PixelXDimension/PixelYDimension (LONG) and DateTimeOriginal
  *     (20-byte ASCII). Inline-vs-offset value placement follows the
  *     4-byte rule exactly as in [[TiffPixels]].
  *
  * Structural lies (bad APP1 header, orientation outside 1..8, truncated
  * IFD, missing sub-IFD, runaway offsets) quarantine the payload — the
  * crafted-header discipline (bounds before every read). Per-row map
  * (mapPartitions); the inventory feeds orientation-aware decode and
  * time-based curation downstream.
  */
object ExifMeta {

  final case class Meta(
      byteOrder: String, // "II" | "MM"
      orientation: Int,
      make: String,
      width: Long,
      height: Long,
      dtOriginal: String
  )

  private def u16be(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def u16(b: Array[Byte], o: Int, be: Boolean): Int =
    if (be) u16be(b, o) else (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int, be: Boolean): Long =
    if (be)
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) | ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    else
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** Locate the APP1 Exif payload via the structural JPEG segment walk. */
  private[sources] def app1Of(b: Array[Byte]): Option[Array[Byte]] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None // SOI
    var o = 2
    while (o + 4 <= b.length) {
      if ((b(o) & 0xff) != 0xff) return None
      val marker = b(o + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS before APP1
      val len = u16be(b, o + 2)
      if (len < 2 || o + 2 + len > b.length) return None
      if (marker == 0xe1) {
        val seg = java.util.Arrays.copyOfRange(b, o + 4, o + 2 + len)
        if (seg.length < 6 || !(seg(0) == 'E' && seg(1) == 'x' && seg(2) == 'i' && seg(3) == 'f' &&
            seg(4) == 0 && seg(5) == 0)) return None
        return Some(java.util.Arrays.copyOfRange(seg, 6, seg.length))
      }
      o += 2 + len
    }
    None
  }

  /** One IFD → (tag → (type, count, valueField offset)) plus next-IFD. */
  private def ifdEntries(t: Array[Byte], at: Long, be: Boolean): Option[Map[Int, (Int, Long, Int)]] = {
    if (at < 0 || at + 2 > t.length) return None
    val n = u16(t, at.toInt, be)
    val base = at.toInt + 2
    if (base + n * 12 + 4 > t.length) return None
    Some((0 until n).map { i =>
      val e = base + i * 12
      u16(t, e, be) -> ((u16(t, e + 2, be), u32(t, e + 4, be), e + 8))
    }.toMap)
  }

  private def asciiVal(t: Array[Byte], be: Boolean, e: (Int, Long, Int)): Option[String] = {
    val (typ, cnt, vf) = e
    if (typ != 2 || cnt < 1 || cnt > 1024) return None
    val off = if (cnt <= 4) vf.toLong else u32(t, vf, be)
    if (off < 0 || off + cnt > t.length) return None
    val raw = new String(t, off.toInt, cnt.toInt, "ISO-8859-1")
    Some(raw.takeWhile(_.toInt != 0)) // EXIF ASCII is NUL-terminated
  }

  private def intVal(t: Array[Byte], be: Boolean, e: (Int, Long, Int)): Option[Long] = {
    val (typ, cnt, vf) = e
    if (cnt != 1) return None
    typ match {
      case 3 => Some(u16(t, vf, be).toLong)
      case 4 => Some(u32(t, vf, be))
      case _ => None
    }
  }

  def parse(b: Array[Byte]): Option[Meta] = {
    val t = app1Of(b).getOrElse(return None)
    if (t.length < 8) return None
    val be =
      if (t(0) == 'M'.toByte && t(1) == 'M'.toByte) {
        if (u16(t, 2, be = true) != 42) return None
        true
      } else if (t(0) == 'I'.toByte && t(1) == 'I'.toByte) {
        if (u16(t, 2, be = false) != 42) return None
        false
      } else return None
    val ifd0 = ifdEntries(t, u32(t, 4, be), be).getOrElse(return None)
    val make = asciiVal(t, be, ifd0.getOrElse(0x010f, return None)).getOrElse(return None)
    val orient = intVal(t, be, ifd0.getOrElse(0x0112, return None)).getOrElse(return None)
    if (orient < 1 || orient > 8) return None
    val exifPtr = intVal(t, be, ifd0.getOrElse(0x8769, return None)).getOrElse(return None)
    val sub = ifdEntries(t, exifPtr, be).getOrElse(return None)
    val w = intVal(t, be, sub.getOrElse(0xa002, return None)).getOrElse(return None)
    val h = intVal(t, be, sub.getOrElse(0xa003, return None)).getOrElse(return None)
    val dt = asciiVal(t, be, sub.getOrElse(0x9003, return None)).getOrElse(return None)
    if (w <= 0 || h <= 0) return None
    Some(Meta(if (be) "MM" else "II", orient.toInt, make, w, h, dt))
  }

  // ---- synthesize ----------------------------------------------------------

  /** Minimal metadata-only JPEG: SOI + APP1(Exif TIFF) + EOI. */
  private[sources] def synthesize(
      be: Boolean,
      orientation: Int,
      make: String,
      width: Long,
      height: Long,
      dt: String
  ): Array[Byte] = {
    def p16(v: Int): Array[Byte] =
      if (be) Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      else Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def p32(v: Long): Array[Byte] =
      if (be) Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      else Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val makeBytes = make.getBytes("ISO-8859-1") :+ 0.toByte
    val dtBytes = dt.getBytes("ISO-8859-1") :+ 0.toByte
    require(dtBytes.length == 20, "EXIF DateTime is a fixed 20-byte ASCII field")
    // layout: hdr(8) | IFD0(2 + 3*12 + 4) | make | ExifIFD(2 + 3*12 + 4) | dt
    val ifd0At = 8
    val ifd0Len = 2 + 3 * 12 + 4
    val makeAt = ifd0At + ifd0Len
    val subAt = makeAt + makeBytes.length
    val subLen = 2 + 3 * 12 + 4
    val dtAt = subAt + subLen
    def entry(tag: Int, typ: Int, cnt: Long, valueField: Array[Byte]): Array[Byte] =
      p16(tag) ++ p16(typ) ++ p32(cnt) ++ valueField.padTo(4, 0.toByte)
    def shortVal(v: Int): Array[Byte] = p16(v) ++ Array[Byte](0, 0)
    val ifd0 = p16(3) ++
      entry(0x010f, 2, makeBytes.length.toLong, p32(makeAt.toLong)) ++
      entry(0x0112, 3, 1, shortVal(orientation)) ++
      entry(0x8769, 4, 1, p32(subAt.toLong)) ++
      p32(0)
    val sub = p16(3) ++
      entry(0x9003, 2, 20, p32(dtAt.toLong)) ++
      entry(0xa002, 4, 1, p32(width)) ++
      entry(0xa003, 4, 1, p32(height)) ++
      p32(0)
    val tiff = (if (be) Array[Byte]('M', 'M') else Array[Byte]('I', 'I')) ++
      p16(42) ++ p32(ifd0At.toLong) ++ ifd0 ++ makeBytes ++ sub ++ dtBytes
    val payload = ("Exif".getBytes("ISO-8859-1") ++ Array[Byte](0, 0)) ++ tiff
    val app1 = Array[Byte](0xff.toByte, 0xe1.toByte) ++
      Array((((payload.length + 2) >> 8) & 0xff).toByte, ((payload.length + 2) & 0xff).toByte) ++ payload
    Array[Byte](0xff.toByte, 0xd8.toByte) ++ app1 ++ Array[Byte](0xff.toByte, 0xd9.toByte)
  }
}

/** Formula corpus: img i is MM iff i%2=0; orientation 1 + i%8; make
  * "cam" + i%3; dims (640 + i%7, 480 + i%5); DateTimeOriginal
  * "2026:01:<dd> 0<h>:00:00" with dd = 1 + i%28, h = i%10. */
object ExifFixture {
  val dir = Fixture.dir("graft_exif")

  def meta(i: Long): ExifMeta.Meta = ExifMeta.Meta(
    if (i % 2 == 0) "MM" else "II",
    (1 + i % 8).toInt,
    s"cam${i % 3}",
    640 + i % 7,
    480 + i % 5,
    f"2026:01:${1 + i % 28}%02d 0${i % 10}:00:00"
  )

  def fileBytes(i: Long): Array[Byte] = {
    val m = meta(i)
    ExifMeta.synthesize(m.byteOrder == "MM", m.orientation, m.make, m.width, m.height, m.dtOriginal)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "img_id", (0L until 200L).map(i => (i, fileBytes(i))))
  }
}
