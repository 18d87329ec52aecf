package graft.sources

import java.util.zip.{CRC32, Deflater, Inflater}

/** REAL pixel decode for PNG (truecolor, 8-bit) — pure JDK, no codec
  * library: the compressed IDAT stream is zlib/deflate, which
  * `java.util.zip.Inflater` handles, and the rest of the format is byte
  * arithmetic from the public spec (RFC 2083 / W3C PNG): chunk walk with
  * CRC32 verification, then per-scanline unfiltering through the five
  * filter types (None/Sub/Up/Average/Paeth). This moves PNG from the
  * "compressed ⇒ stubbed" family into the real-decode family alongside BMP
  * (x33), WAV PCM (x34) and rawvideo (x35): the x70 gate query decodes
  * writer-emitted PNGs and checksums/aHashes the pixels, and the DuckDB
  * oracle recomputes both from the fixture's closed-form pixel formula —
  * it never parses a byte of PNG, so a hash match proves signature →
  * chunk walk → inflate → unfilter → resample end-to-end.
  *
  * Scope: color types 0 (grayscale — x146), 2 (RGB), 3 (PLTE indexed —
  * the dominant icon/small-image web shape, with or without a tRNS
  * alpha prefix — x144), 4 (gray+alpha — x168) and 6 (RGBA), alpha
  * composited over white with an integer-exact formula the
  * x100/x144/x168 oracles mirror; bit depth 8 everywhere plus depth 16
  * for types 0/2 (x168) and 4/6 (x230 — full-depth composite, then the
  * §12.5 rounded reduction); KEYED transparency via tRNS on types 0/2
  * at both depths (x230); sequential AND Adam7-interlaced scanline
  * layouts (x146 — the seven passes are independently filtered
  * sub-images deinterlaced by scatter; interlacing is TRANSPORT, so the
  * pixel oracles are unchanged). Only spec-invalid shapes (16-bit
  * indexed, tRNS on alpha types) return None — the color-type surface
  * is COMPLETE. All offsets are bounds-checked
  * against the payload (untrusted executor-side bytes — the same
  * discipline as [[ImageMeta]]/[[BmpPixels]]).
  *
  * Conformance is pinned two independent ways (PngPixelsSpec): the JDK's
  * own ImageIO PNG reader decodes [[synthesize]]'s output to the same
  * pixels (writer validity), and this decoder agrees with ImageIO on
  * every fixture payload (reader validity).
  */
object PngPixels {

  /** x278: the writers' IDAT zlib routes through the from-scratch RFC 1950
    * encoder (x268) by default — the write-side mirror of
    * [[Inflate.useScratch]]; the JDK Deflater remains the toggle twin.
    * Every PNG spec's ImageIO-conformance loop thereby exercises the
    * encoder: a framing bug anywhere would fail ImageIO's own zlib. */
  @volatile var useScratchDeflate = true

  private val Signature = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def u32be(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) | ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  /** Paeth predictor (PNG spec §6.6): nearest of left/up/up-left to
    * the linear estimate a + b - c, ties broken a, then b. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** 16→8-bit sample reduction: round(s·255/65535), the spec §12.5
    * recommendation — exactly what ImageIO's component color model
    * computes, so conformance holds pixel-for-pixel (x168). */
  private def red16(s: Int): Int = (s * 255 + 32767) / 65535

  /** Decode a non-interlaced PNG of color type 2 (RGB), 3 (PLTE indexed,
    * with or without a tRNS palette-alpha prefix — x144), 6 (RGBA), 0
    * (grayscale — x146), 4 (gray+alpha — x168), at bit depth 8; depth 16
    * for types 0 and 2 (x168) AND 4/6 (x230), reduced by the §12.5
    * rounding. All 8-bit transparency composites over white with the
    * integer-exact `c' = (a·c + (255−a)·255) div 255` mirrored in the
    * x100/x144/x168 oracles; 16-bit alpha composites at full depth —
    * `(a·c + (65535−a)·65535) div 65535` — then reduces. KEYED
    * transparency (tRNS on types 0/2, x230): the sample / RGB triple
    * matching the key at native depth is fully transparent. None for
    * anything else (including any CRC mismatch — corrupt payloads
    * quarantine cleanly); 16-bit indexed stays out (spec-invalid). */
  def decode(b: Array[Byte]): Option[BmpPixels.Image] = {
    if (b.length < 8 + 25 || !Signature.indices.forall(i => b(i) == Signature(i))) return None
    var o = 8
    var w = 0; var h = 0
    var colorType = -1; var bpp = 0; var interlaced = false; var deep = false
    var pal: Array[Byte] = null
    var trns: Array[Byte] = null
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    val crc = new CRC32
    while (!seenIend) {
      if (o + 8 > b.length) return None
      val len = u32be(b, o)
      // chunk length is a u31 by spec; also guard the window against the payload
      if (len > Int.MaxValue - 12 || o + 12 + len > b.length) return None
      val n = len.toInt
      val typ = new String(b, o + 4, 4, "US-ASCII")
      crc.reset()
      crc.update(b, o + 4, 4 + n)
      if (crc.getValue != u32be(b, o + 8 + n)) return None
      typ match {
        case "IHDR" =>
          if (n != 13 || seenIhdr) return None
          seenIhdr = true
          val wL = u32be(b, o + 8); val hL = u32be(b, o + 12)
          val bitDepth = b(o + 16) & 0xff; colorType = b(o + 17) & 0xff
          val compression = b(o + 18) & 0xff; val filterMethod = b(o + 19) & 0xff
          val il = b(o + 20) & 0xff
          if ((bitDepth != 8 && bitDepth != 16) || compression != 0 || filterMethod != 0 || il > 1)
            return None
          // 16-bit indexed is spec-invalid; every other 16-bit type is
          // in scope (x168 added 0/2, x230 closed 4/6)
          if (bitDepth == 16 && colorType == 3) return None
          deep = bitDepth == 16
          interlaced = il == 1
          val channels = colorType match {
            case 0 => 1 // grayscale (x146)
            case 2 => 3
            case 3 => 1
            case 4 => 2 // gray+alpha (x168)
            case 6 => 4
            case _ => return None
          }
          // filters operate on BYTES with bpp = channels·bytes-per-sample
          // (spec §6.2) — the unfilter loop below is depth-agnostic
          bpp = channels * (if (deep) 2 else 1)
          // cap total raw size so a crafted header can't allocate
          // unboundedly: the interlaced layout adds at most 8 filter
          // bytes per image row beyond h·(1 + bpp·w), hence the 9
          if (wL <= 0 || hL <= 0 || wL > (1 << 24) || hL > (1 << 24) || hL * (9 + bpp * wL) > Int.MaxValue)
            return None
          w = wL.toInt; h = hL.toInt
        case "PLTE" =>
          // before IDAT, 1..256 rgb triples; a second PLTE is a lie
          if (!seenIhdr || pal != null || idat.size() > 0) return None
          if (n % 3 != 0 || n == 0 || n > 768) return None
          pal = java.util.Arrays.copyOfRange(b, o + 8, o + 8 + n)
        case "tRNS" =>
          // PALETTE transparency (x144): per-entry alpha for a PREFIX of
          // the palette, entries past it opaque (spec §11.3.2). KEYED
          // transparency (x230) on types 0/2: one 2-byte sample / one
          // 6-byte RGB triple at the image's bit depth. Always before
          // IDAT, never repeated, never on alpha-carrying types (4/6 —
          // spec-forbidden) — those quarantine rather than decode opaque.
          if (!seenIhdr || trns != null || idat.size() > 0) return None
          colorType match {
            case 3 =>
              if (pal == null || n == 0 || n > pal.length / 3) return None
            case 0 => if (n != 2) return None
            case 2 => if (n != 6) return None
            case _ => return None
          }
          // spec §11.3.2: key samples must fit the image bit depth — an
          // 8-bit image with a nonzero high byte is spec-invalid and
          // QUARANTINES (advice-found: letting it silently never match
          // decoded fully opaque, off the never-silently-wrong line)
          if (colorType != 3 && !deep) {
            var ki = 0
            while (ki < n) { if (b(o + 8 + ki) != 0) return None; ki += 2 }
          }
          trns = java.util.Arrays.copyOfRange(b, o + 8, o + 8 + n)
        case "IDAT" => if (!seenIhdr) return None else idat.write(b, o + 8, n)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunks (tEXt, pHYs, …) are skippable by design
      }
      o += 12 + n
    }
    if (!seenIhdr) return None
    if (colorType == 3 && pal == null) return None // indexed without a palette
    val stride = bpp * w
    // sequential = the single pass (0,0,1,1); Adam7 = the spec §8.2 seven
    // passes, each an independently filtered sub-image
    val passes: Seq[(Int, Int, Int, Int)] =
      if (!interlaced) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val dims = passes.map { case (x0, y0, dx, dy) =>
      (if (w > x0) (w - x0 + dx - 1) / dx else 0, if (h > y0) (h - y0 + dy - 1) / dy else 0)
    }
    val rawLen = dims.map { case (wp, hp) => if (wp > 0 && hp > 0) hp * (1 + bpp * wp) else 0 }.sum
    val raw = new Array[Byte](rawLen)
    if (Inflate.useScratch) {
      // from-scratch RFC 1950/1951 path (x264); FDICT and bad Adler-32
      // quarantine inside, the exact-size contract checked here — the
      // stream must produce every scanline byte and nothing more
      Inflate.zlib(idat.toByteArray, rawLen) match {
        case Some(d) if d.length == rawLen => System.arraycopy(d, 0, raw, 0, rawLen)
        case _                             => return None
      }
    } else {
    val inf = new Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < rawLen && !inf.finished()) {
        val k = inf.inflate(raw, got, rawLen - got)
        // k == 0 without progress: truncated stream (needsInput) or a
        // zlib FDICT preset-dictionary header (needsDictionary — inflate
        // would return 0 forever; PNG forbids FDICT, so quarantine)
        if (k == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        got += k
      }
      // exact-size contract: the stream must produce every scanline byte
      // and nothing more (a trailing byte means the header lied)
      if (got != rawLen || inf.inflate(new Array[Byte](1)) != 0) return None
    } catch { case _: java.util.zip.DataFormatException => return None } finally inf.end()
    }
    // unfilter per pass into a pass-local buffer (recon(x) per spec §6,
    // neighbors = 0 beyond the PASS edge — each pass filters as its own
    // sub-image), then scatter into the image grid at (x0 + i·dx,
    // y0 + j·dy). The sequential case is the identity pass.
    val px = new Array[Byte](h * stride)
    var off = 0
    for ((((x0, y0, dx, dy), (wp, hp))) <- passes.zip(dims) if wp > 0 && hp > 0) {
      val pStride = bpp * wp
      val sub = new Array[Byte](hp * pStride)
      var y = 0
      while (y < hp) {
        val f = raw(off + y * (1 + pStride)) & 0xff
        if (f > 4) return None
        val rowIn = off + y * (1 + pStride) + 1
        val rowOut = y * pStride
        var x = 0
        while (x < pStride) {
          val filt = raw(rowIn + x) & 0xff
          val a = if (x >= bpp) sub(rowOut + x - bpp) & 0xff else 0
          val up = if (y > 0) sub(rowOut - pStride + x) & 0xff else 0
          val c = if (x >= bpp && y > 0) sub(rowOut - pStride + x - bpp) & 0xff else 0
          val recon = f match {
            case 0 => filt
            case 1 => filt + a
            case 2 => filt + up
            case 3 => filt + ((a + up) >> 1)
            case 4 => filt + paeth(a, up, c)
          }
          sub(rowOut + x) = recon.toByte
          x += 1
        }
        y += 1
      }
      off += hp * (1 + pStride)
      var j = 0
      while (j < hp) {
        var i = 0
        while (i < wp) {
          val dst = ((y0 + j * dy) * w + (x0 + i * dx)) * bpp
          val src = (j * wp + i) * bpp
          var cch = 0
          while (cch < bpp) { px(dst + cch) = sub(src + cch); cch += 1 }
          i += 1
        }
        j += 1
      }
    }
    def s16(p: Int): Int = ((px(p) & 0xff) << 8) | (px(p + 1) & 0xff)
    // tRNS key samples (types 0/2): 2-byte big-endian each; 8-bit images
    // with a nonzero high byte were quarantined at chunk parse above
    def key16(i: Int): Int = ((trns(2 * i) & 0xff) << 8) | (trns(2 * i + 1) & 0xff)
    // 16-bit white composite, then the §12.5 reduction (x230)
    def over16(a: Int, c: Int): Int = red16(((a.toLong * c + (65535L - a) * 65535L) / 65535L).toInt)
    colorType match {
      case 0 if deep =>
        val k = if (trns != null) key16(0) else -1
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val s = s16(y0 * stride + x * 2)
          if (s == k) ((255, 255, 255))
          else { val g = red16(s); ((g, g, g)) }
        }))
      case 2 if deep =>
        val (kr, kg, kb) = if (trns != null) (key16(0), key16(1), key16(2)) else (-1, -1, -1)
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val p = y0 * stride + x * 6
          val (r, g, b2) = (s16(p), s16(p + 2), s16(p + 4))
          if (r == kr && g == kg && b2 == kb) ((255, 255, 255))
          else ((red16(r), red16(g), red16(b2)))
        }))
      case 0 =>
        val k = if (trns != null) key16(0) else -1
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val g = px(y0 * stride + x) & 0xff
          if (g == k) ((255, 255, 255)) else ((g, g, g))
        }))
      case 2 =>
        val (kr, kg, kb) = if (trns != null) (key16(0), key16(1), key16(2)) else (-1, -1, -1)
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val p = y0 * stride + x * 3
          val (r, g, b2) = (px(p) & 0xff, px(p + 1) & 0xff, px(p + 2) & 0xff)
          if (r == kr && g == kg && b2 == kb) ((255, 255, 255)) else ((r, g, b2))
        }))
      case 4 if deep =>
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val p = y0 * stride + x * 4
          val v = over16(s16(p + 2), s16(p))
          ((v, v, v))
        }))
      case 6 if deep =>
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val p = y0 * stride + x * 8
          val a = s16(p + 6)
          ((over16(a, s16(p)), over16(a, s16(p + 2)), over16(a, s16(p + 4))))
        }))
      case 4 =>
        // gray+alpha over white, the same integer floor composite
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val p = y0 * stride + x * 2
          val a = px(p + 1) & 0xff
          val v = (a * (px(p) & 0xff) + (255 - a) * 255) / 255
          ((v, v, v))
        }))
      case 3 =>
        // eager index validation: an index past the palette is a
        // structural lie, caught here rather than at (lazy) access time
        val nPal = pal.length / 3
        var i = 0
        while (i < px.length) { if ((px(i) & 0xff) >= nPal) return None; i += 1 }
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val idx = px(y0 * stride + x) & 0xff
          val j = idx * 3
          // tRNS alpha (255 past the prefix) through the SAME white
          // composite as color type 6 — mirrored in the x144 oracle
          val a = if (trns != null && idx < trns.length) trns(idx) & 0xff else 255
          def over(c: Int) = (a * c + (255 - a) * 255) / 255
          ((over(pal(j) & 0xff), over(pal(j + 1) & 0xff), over(pal(j + 2) & 0xff)))
        }))
      case _ => // 6: RGBA over white, integer floor composite
        Some(BmpPixels.Image(w, h, (x, y0) => {
          val p = y0 * stride + x * 4
          val a = px(p + 3) & 0xff
          def over(c: Int) = (a * c + (255 - a) * 255) / 255
          ((over(px(p) & 0xff), over(px(p + 1) & 0xff), over(px(p + 2) & 0xff)))
        }))
    }
  }

  /** (colorType, depth) kind label from the IHDR — surfaced so the x168
    * gate pins the header dispatch, not just the pixels. */
  def kindOf(b: Array[Byte]): Option[String] = {
    if (b.length < 8 + 25 || !Signature.indices.forall(i => b(i) == Signature(i))) return None
    ((b(25) & 0xff, b(24) & 0xff): @unchecked) match {
      case (0, 8)  => Some("gray")
      case (0, 16) => Some("gray16")
      case (2, 8)  => Some("rgb")
      case (2, 16) => Some("rgb16")
      case (3, 8)  => Some("palette")
      case (4, 8)  => Some("gray_alpha")
      case (4, 16) => Some("gray_alpha16")
      case (6, 8)  => Some("rgba")
      case (6, 16) => Some("rgba16")
      case _       => None
    }
  }

  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val crc = new CRC32
    crc.update(t); crc.update(data)
    be32(data.length.toLong) ++ t ++ data ++ be32(crc.getValue)
  }

  /** Spec-valid 8-bit RGB PNG whose pixel (x, y) carries `rgbAt(x, y)`,
    * scanline y filtered with type `filterAt(y)` (0–4) — the FORWARD
    * filter transform, a separate code path from [[decode]]'s inverse
    * (fixture-vs-parser discipline, as [[BmpPixels.synthesize]]). The
    * compressed stream is split across multiple IDAT chunks so the
    * decoder's concatenation path is always exercised. */
  def synthesize(
      w: Int,
      h: Int,
      rgbAt: (Int, Int) => (Int, Int, Int),
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 3, colorType = 2, plte = None, filterAt,
      (x, y, cur) => { val (r, g, b) = rgbAt(x, y); cur(x * 3) = r; cur(x * 3 + 1) = g; cur(x * 3 + 2) = b })

  /** Spec-valid 8-bit PLTE-indexed PNG (color type 3): `pal` is 1..256
    * rgb triples, pixel (x, y) carries index `idxAt(x, y)`; a non-empty
    * `trnsAlpha` emits a tRNS chunk giving the first entries' alpha
    * (x144). */
  def synthesizePalette(
      w: Int,
      h: Int,
      pal: Seq[(Int, Int, Int)],
      idxAt: (Int, Int) => Int,
      filterAt: Int => Int = _ % 5,
      trnsAlpha: Seq[Int] = Seq.empty
  ): Array[Byte] = {
    require(pal.nonEmpty && pal.size <= 256 && trnsAlpha.size <= pal.size)
    val plte = pal.flatMap { case (r, g, b) => Seq(r.toByte, g.toByte, b.toByte) }.toArray
    val extra = if (trnsAlpha.isEmpty) Array.empty[Byte] else chunk("tRNS", trnsAlpha.map(_.toByte).toArray)
    assemble(w, h, bpp = 1, colorType = 3, plte = Some(plte), filterAt,
      (x, y, cur) => cur(x) = idxAt(x, y), afterPlte = extra)
  }

  /** Spec-valid 8-bit RGBA PNG (color type 6). */
  def synthesizeRgba(
      w: Int,
      h: Int,
      rgbaAt: (Int, Int) => (Int, Int, Int, Int),
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 4, colorType = 6, plte = None, filterAt,
      (x, y, cur) => {
        val (r, g, b, a) = rgbaAt(x, y)
        cur(x * 4) = r; cur(x * 4 + 1) = g; cur(x * 4 + 2) = b; cur(x * 4 + 3) = a
      })

  /** Spec-valid 8-bit grayscale PNG (color type 0) — x146. */
  def synthesizeGray(
      w: Int,
      h: Int,
      grayAt: (Int, Int) => Int,
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 1, colorType = 0, plte = None, filterAt,
      (x, y, cur) => cur(x) = grayAt(x, y))

  /** Spec-valid 8-bit gray+alpha PNG (color type 4) — x168. */
  def synthesizeGrayAlpha(
      w: Int,
      h: Int,
      gaAt: (Int, Int) => (Int, Int),
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 2, colorType = 4, plte = None, filterAt,
      (x, y, cur) => { val (g, a) = gaAt(x, y); cur(x * 2) = g; cur(x * 2 + 1) = a })

  /** Spec-valid 16-bit grayscale PNG (type 0, depth 16) — x168; samples
    * are written big-endian per spec §7.1. */
  def synthesizeGray16(
      w: Int,
      h: Int,
      g16At: (Int, Int) => Int,
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 2, colorType = 0, plte = None, filterAt,
      (x, y, cur) => {
        val s = g16At(x, y)
        cur(x * 2) = (s >> 8) & 0xff; cur(x * 2 + 1) = s & 0xff
      }, depth = 16)

  /** Spec-valid 16-bit truecolor PNG (type 2, depth 16) — x168. */
  def synthesizeRgb16(
      w: Int,
      h: Int,
      rgb16At: (Int, Int) => (Int, Int, Int),
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 6, colorType = 2, plte = None, filterAt,
      (x, y, cur) => {
        val (r, g, b) = rgb16At(x, y)
        cur(x * 6) = (r >> 8) & 0xff; cur(x * 6 + 1) = r & 0xff
        cur(x * 6 + 2) = (g >> 8) & 0xff; cur(x * 6 + 3) = g & 0xff
        cur(x * 6 + 4) = (b >> 8) & 0xff; cur(x * 6 + 5) = b & 0xff
      }, depth = 16)

  /** 2-byte-big-endian tRNS key chunk for types 0/2 (x230). */
  private def trnsKeyChunk(vals: Seq[Int]): Array[Byte] =
    chunk("tRNS", vals.flatMap(v => Seq(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)).toArray)

  /** Spec-valid 16-bit gray+alpha PNG (type 4, depth 16) — x230. */
  def synthesizeGrayAlpha16(
      w: Int,
      h: Int,
      ga16At: (Int, Int) => (Int, Int),
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 4, colorType = 4, plte = None, filterAt,
      (x, y, cur) => {
        val (g, a) = ga16At(x, y)
        cur(x * 4) = (g >> 8) & 0xff; cur(x * 4 + 1) = g & 0xff
        cur(x * 4 + 2) = (a >> 8) & 0xff; cur(x * 4 + 3) = a & 0xff
      }, depth = 16)

  /** Spec-valid 16-bit RGBA PNG (type 6, depth 16) — x230. */
  def synthesizeRgba16(
      w: Int,
      h: Int,
      rgba16At: (Int, Int) => (Int, Int, Int, Int),
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 8, colorType = 6, plte = None, filterAt,
      (x, y, cur) => {
        val (r, g, b, a) = rgba16At(x, y)
        for ((v, i) <- Seq(r, g, b, a).zipWithIndex) {
          cur(x * 8 + 2 * i) = (v >> 8) & 0xff; cur(x * 8 + 2 * i + 1) = v & 0xff
        }
      }, depth = 16)

  /** 8-bit grayscale with a keyed-transparency tRNS (x230). */
  def synthesizeGrayKeyed(
      w: Int,
      h: Int,
      grayAt: (Int, Int) => Int,
      key: Int,
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 1, colorType = 0, plte = None, filterAt,
      (x, y, cur) => cur(x) = grayAt(x, y), afterPlte = trnsKeyChunk(Seq(key)))

  /** 16-bit grayscale with a keyed-transparency tRNS (x230). */
  def synthesizeGray16Keyed(
      w: Int,
      h: Int,
      g16At: (Int, Int) => Int,
      key: Int,
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 2, colorType = 0, plte = None, filterAt,
      (x, y, cur) => {
        val s = g16At(x, y)
        cur(x * 2) = (s >> 8) & 0xff; cur(x * 2 + 1) = s & 0xff
      }, afterPlte = trnsKeyChunk(Seq(key)), depth = 16)

  /** 16-bit truecolor with a keyed-transparency tRNS (x230). */
  def synthesizeRgb16Keyed(
      w: Int,
      h: Int,
      rgb16At: (Int, Int) => (Int, Int, Int),
      key: (Int, Int, Int),
      filterAt: Int => Int = _ % 5
  ): Array[Byte] =
    assemble(w, h, bpp = 6, colorType = 2, plte = None, filterAt,
      (x, y, cur) => {
        val (r, g, b) = rgb16At(x, y)
        cur(x * 6) = (r >> 8) & 0xff; cur(x * 6 + 1) = r & 0xff
        cur(x * 6 + 2) = (g >> 8) & 0xff; cur(x * 6 + 3) = g & 0xff
        cur(x * 6 + 4) = (b >> 8) & 0xff; cur(x * 6 + 5) = b & 0xff
      }, afterPlte = trnsKeyChunk(Seq(key._1, key._2, key._3)), depth = 16)

  /** Spec-valid ADAM7-INTERLACED 8-bit truecolor PNG (x146): the seven
    * passes extracted, each filtered as its OWN sub-image (per-pass
    * scanline neighborhoods — the forward transform [[decode]]'s
    * deinterlacer inverts), concatenated and deflated. */
  def synthesizeInterlaced(
      w: Int,
      h: Int,
      rgbAt: (Int, Int) => (Int, Int, Int),
      filterAt: Int => Int = _ % 5
  ): Array[Byte] = {
    val bpp = 3
    val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val out = new java.io.ByteArrayOutputStream()
    for ((x0, y0, dx, dy) <- passes) {
      val wp = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val hp = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (wp > 0 && hp > 0) {
        val pStride = bpp * wp
        val cur = new Array[Int](pStride)
        val prev = new Array[Int](pStride)
        for (j <- 0 until hp) {
          for (i <- 0 until wp) {
            val (r, g, b0) = rgbAt(x0 + i * dx, y0 + j * dy)
            cur(i * 3) = r; cur(i * 3 + 1) = g; cur(i * 3 + 2) = b0
          }
          val f = filterAt(j) % 5
          out.write(f)
          for (x <- 0 until pStride) {
            val a = if (x >= bpp) cur(x - bpp) else 0
            val up = if (j > 0) prev(x) else 0
            val c = if (x >= bpp && j > 0) prev(x - bpp) else 0
            val v = f match {
              case 0 => cur(x)
              case 1 => cur(x) - a
              case 2 => cur(x) - up
              case 3 => cur(x) - ((a + up) >> 1)
              case 4 => cur(x) - paeth(a, up, c)
            }
            out.write(v & 0xff)
          }
          System.arraycopy(cur, 0, prev, 0, pStride)
        }
      }
    }
    pack(w, h, colorType = 2, interlace = 1, plte = None, afterPlte = Array.empty, raw = out.toByteArray)
  }

  /** the shared forward path: fill → filter (the transform [[decode]]
    * inverts) → deflate → chunk assembly; byte-identical to the original
    * truecolor writer for color type 2. */
  private def assemble(
      w: Int,
      h: Int,
      bpp: Int,
      colorType: Int,
      plte: Option[Array[Byte]],
      filterAt: Int => Int,
      fill: (Int, Int, Array[Int]) => Unit,
      afterPlte: Array[Byte] = Array.empty,
      depth: Int = 8
  ): Array[Byte] = {
    val stride = bpp * w
    val raw = new Array[Byte](h * (1 + stride))
    val cur = new Array[Int](stride)
    val prev = new Array[Int](stride)
    for (y <- 0 until h) {
      for (x <- 0 until w) fill(x, y, cur)
      val f = filterAt(y) % 5
      raw(y * (1 + stride)) = f.toByte
      for (x <- 0 until stride) {
        val a = if (x >= bpp) cur(x - bpp) else 0
        val up = if (y > 0) prev(x) else 0
        val c = if (x >= bpp && y > 0) prev(x - bpp) else 0
        val out = f match {
          case 0 => cur(x)
          case 1 => cur(x) - a
          case 2 => cur(x) - up
          case 3 => cur(x) - ((a + up) >> 1)
          case 4 => cur(x) - paeth(a, up, c)
        }
        raw(y * (1 + stride) + 1 + x) = (out & 0xff).toByte
      }
      System.arraycopy(cur, 0, prev, 0, stride)
    }
    pack(w, h, colorType, interlace = 0, plte, afterPlte, raw, depth)
  }

  /** deflate + chunk assembly shared by the sequential and interlaced
    * writers */
  private def pack(
      w: Int,
      h: Int,
      colorType: Int,
      interlace: Int,
      plte: Option[Array[Byte]],
      afterPlte: Array[Byte],
      raw: Array[Byte],
      depth: Int = 8
  ): Array[Byte] = {
    val compressed =
      if (PngPixels.useScratchDeflate) Deflate.zlibCompress(raw)
      else {
        val def_ = new Deflater()
        def_.setInput(raw); def_.finish()
        val buf = new Array[Byte](raw.length + 64)
        val outBytes = new java.io.ByteArrayOutputStream()
        while (!def_.finished()) outBytes.write(buf, 0, def_.deflate(buf))
        def_.end()
        outBytes.toByteArray
      }
    val ihdr = be32(w.toLong) ++ be32(h.toLong) ++ Array[Byte](depth.toByte, colorType.toByte, 0, 0, interlace.toByte)
    val idats = compressed.grouped(800).map(g => chunk("IDAT", g)).reduce(_ ++ _)
    Signature ++ chunk("IHDR", ihdr) ++
      plte.map(p => chunk("PLTE", p)).getOrElse(Array.empty[Byte]) ++
      afterPlte ++ idats ++ chunk("IEND", Array.empty[Byte])
  }
}

/** x278: the PNG EXPORT gate corpus — truecolor images whose IDAT streams
  * come from the from-scratch zlib writer (the pack toggle's default),
  * filters cycling all five types so the filter WRITERS are load-bearing,
  * decoded back by the from-scratch reader under the x70 census. Distinct
  * pixel formula from x70's so a fixture mix-up cannot silently pass. */
object PngExportFixture {
  val dir = Fixture.dir("graft_png_export")
  val twinPath = s"$dir/twin"

  def rgbAt(id: Long)(x: Int, y: Int): (Int, Int, Int) = (
    ((id * 11 + x * 3 + y * 13) % 256).toInt,
    ((id * 7 + x * 5 + y * 2) % 256).toInt,
    ((id * 13 + x * 9 + y * 4) % 256).toInt
  )

  def rows: Seq[(Long, Array[Byte], Int, Int)] = (0 until 150).map { i =>
    val w = 5 + (i * 9) % 37
    val h = 4 + (i * 13) % 29
    (i.toLong, PngPixels.synthesize(w, h, rgbAt(i.toLong), y => (y + i) % 5), w, h)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val prev = PngPixels.useScratchDeflate
    PngPixels.useScratchDeflate = true // the export corpus is ALWAYS scratch-compressed
    val r =
      try rows
      finally PngPixels.useScratchDeflate = prev
    Payloads.write(spark, dir, "img_id", r.map { case (id, p, _, _) => (id, p) })
    r.map { case (id, _, w, h) => (id, w, h) }
      .toDF("img_id", "width", "height")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}

/** Fixture for the x70 real-PNG gate query: 250 PNGs whose pixel values
  * follow a closed-form formula of (img_id, x, y) — exactly what lets the
  * DuckDB oracle recompute the decoded, resampled checksum AND the aHash
  * from first principles without parsing a byte of PNG. Scanline filters
  * cycle through all five types with a per-image phase, so the whole
  * unfilter surface is load-bearing for the gate hash. */
object PngFixture {
  val dir = Fixture.dir("graft_png")
  val twinPath = s"$dir/twin"

  /** pixel formula — mirrored verbatim in the x70 oracle SQL */
  def rgbAt(id: Long)(x: Int, y: Int): (Int, Int, Int) = (
    ((id * 5 + x * 7 + y * 3) % 256).toInt,
    ((id * 9 + x * 2 + y * 5) % 256).toInt,
    ((id * 3 + x * 4 + y * 7) % 256).toInt
  )

  def rows: Seq[(Long, Array[Byte], Int, Int)] = (0 until 250).map { i =>
    val w = 5 + (i * 7) % 40
    val h = 4 + (i * 11) % 32
    (i.toLong, PngPixels.synthesize(w, h, rgbAt(i.toLong), y => (y + i) % 5), w, h)
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

/** Fixture for the x100 gate: 200 PNGs CYCLING the supported color types —
  * id % 3 = 0 → PLTE indexed (variable palette size 16..256), 1 → RGBA
  * (alpha load-bearing through the white-composite formula), 2 → plain
  * truecolor. Palette entries, indices, channels and alpha all follow
  * closed-form formulas of (img_id, x, y), so the oracle recomputes every
  * composited pixel without parsing a byte — the x70 pattern extended
  * across the color-type surface. x70's own fixture stays untouched (the
  * x91 dispatch oracle depends on it byte-for-byte). */
object PngExtFixture {
  val dir = Fixture.dir("graft_png_ext")
  val twinPath = s"$dir/twin"

  def nPal(id: Long): Int = 16 + ((id * 13) % 241).toInt // 16..256
  def palAt(id: Long)(j: Int): (Int, Int, Int) = (
    ((id * 11 + j * 3) % 256).toInt,
    ((id * 7 + j * 5) % 256).toInt,
    ((id * 13 + j * 11) % 256).toInt
  )
  def idxAt(id: Long)(x: Int, y: Int): Int = ((id * 5 + x * 7 + y * 3) % nPal(id)).toInt
  def rgbaAt(id: Long)(x: Int, y: Int): (Int, Int, Int, Int) = (
    ((id * 5 + x * 7 + y * 3) % 256).toInt,
    ((id * 9 + x * 2 + y * 5) % 256).toInt,
    ((id * 3 + x * 4 + y * 7) % 256).toInt,
    ((id * 7 + x * 3 + y * 11) % 256).toInt
  )

  def rows: Seq[(Long, Array[Byte], Int, Int, Int)] = (0 until 200).map { i =>
    val id = i.toLong
    val w = 5 + (i * 7) % 40
    val h = 4 + (i * 11) % 32
    val ctype = Seq(3, 6, 2)(i % 3)
    val p = ctype match {
      case 3 => PngPixels.synthesizePalette(w, h, (0 until nPal(id)).map(palAt(id)), idxAt(id), y => (y + i) % 5)
      case 6 => PngPixels.synthesizeRgba(w, h, rgbaAt(id), y => (y + i) % 5)
      case _ => PngPixels.synthesize(w, h, PngFixture.rgbAt(id), y => (y + i) % 5)
    }
    (id, p, w, h, ctype)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "img_id", r.map { case (id, p, _, _, _) => (id, p) })
    r.map { case (id, _, w, h, ct) => (id, w, h, ct) }
      .toDF("img_id", "width", "height", "ctype")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}

/** Fixture for the x144 gate: 150 PLTE-indexed PNGs whose tRNS chunk
  * covers a varying PREFIX of the palette — entries inside it carry a
  * closed-form alpha, entries past it are opaque by spec §11.3.2, so the
  * boundary rule itself is gate-load-bearing. Same formula discipline as
  * [[PngExtFixture]] (whose artifact stays byte-untouched). */
object PngTrnsFixture {
  val dir = Fixture.dir("graft_png_trns")
  val twinPath = s"$dir/twin"

  // palette geometry SHARED with PngExtFixture by reference, so the
  // "same formula discipline" is compiler-enforced (review-found); only
  // the alpha prefix is x144's own
  def nPal(id: Long): Int = PngExtFixture.nPal(id)
  def nTrns(id: Long): Int = 1 + ((id * 7) % nPal(id)).toInt // 1..nPal
  def palAt(id: Long)(j: Int): (Int, Int, Int) = PngExtFixture.palAt(id)(j)
  def idxAt(id: Long)(x: Int, y: Int): Int = PngExtFixture.idxAt(id)(x, y)
  def alphaAt(id: Long)(j: Int): Int = ((id * 3 + j * 7 + 13) % 256).toInt

  def rows: Seq[(Long, Array[Byte], Int, Int)] = (0 until 150).map { i =>
    val id = i.toLong
    val w = 5 + (i * 7) % 40
    val h = 4 + (i * 11) % 32
    val p = PngPixels.synthesizePalette(
      w,
      h,
      (0 until nPal(id)).map(palAt(id)),
      idxAt(id),
      y => (y + i) % 5,
      trnsAlpha = (0 until nTrns(id)).map(alphaAt(id))
    )
    (id, p, w, h)
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


/** Fixture for the x146 gate: 150 PNGs alternating ADAM7-INTERLACED
  * truecolor (even ids — the x70 pixel formula transported through the
  * seven-pass layout, so the oracle's pixel math is IDENTICAL to x70's)
  * and 8-bit GRAYSCALE (odd ids — one closed-form channel replicated).
  * Interlacing is transport: a hash match proves the deinterlacer's
  * per-pass unfilter + scatter reproduces the sequential pixels. */
object PngAdam7Fixture {
  val dir = Fixture.dir("graft_png_adam7")
  val twinPath = s"$dir/twin"

  def grayAt(id: Long)(x: Int, y: Int): Int = ((id * 7 + x * 5 + y * 11) % 256).toInt

  def rows: Seq[(Long, Array[Byte], Int, Int)] = (0 until 150).map { i =>
    val id = i.toLong
    val w = 5 + (i * 7) % 40
    val h = 4 + (i * 11) % 32
    val p =
      if (i % 2 == 0) PngPixels.synthesizeInterlaced(w, h, PngFixture.rgbAt(id), y => (y + i) % 5)
      else PngPixels.synthesizeGray(w, h, grayAt(id), y => (y + i) % 5)
    (id, p, w, h)
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

/** Fixture for the x168 depth/alpha gate: 250 PNGs cycling gray+alpha
  * (8-bit type 4), 16-bit grayscale and 16-bit truecolor over closed-form
  * formulas — the ·4799/·9601 multipliers make BOTH bytes of every 16-bit
  * sample vary, so a high-byte-only shortcut (instead of the §12.5
  * rounded reduction) flips the hash. */
object PngDepthFixture {
  val dir = Fixture.dir("graft_png_depth")
  val twinPath = s"$dir/twin"

  /** formulas — mirrored verbatim in the x168 oracle SQL */
  def gaAt(id: Long)(x: Int, y: Int): (Int, Int) =
    (((id * 7 + x * 5 + y * 11) % 256).toInt, ((id * 3 + x * 13 + y * 7) % 256).toInt)
  def g16At(id: Long)(x: Int, y: Int): Int =
    ((id * 131 + x * 4799 + y * 9601) % 65536).toInt
  def rgb16At(id: Long)(x: Int, y: Int): (Int, Int, Int) = (
    ((id * 131 + x * 4799 + y * 9601) % 65536).toInt,
    ((id * 137 + x * 4801 + y * 9613) % 65536).toInt,
    ((id * 139 + x * 4813 + y * 9619) % 65536).toInt
  )

  def rows: Seq[(Long, Array[Byte], Int, Int, String)] = (0 until 250).map { i =>
    val id = i.toLong
    val w = 5 + (i * 7) % 40
    val h = 4 + (i * 11) % 32
    val (p, kind) = (i % 3) match {
      case 0 => (PngPixels.synthesizeGrayAlpha(w, h, gaAt(id), y => (y + i) % 5), "gray_alpha")
      case 1 => (PngPixels.synthesizeGray16(w, h, g16At(id), y => (y + i) % 5), "gray16")
      case _ => (PngPixels.synthesizeRgb16(w, h, rgb16At(id), y => (y + i) % 5), "rgb16")
    }
    (id, p, w, h, kind)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "img_id", r.map { case (id, p, _, _, _) => (id, p) })
    r.map { case (id, _, w, h, k) => (id, w, h, k) }
      .toDF("img_id", "width", "height", "kind")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}

/** Fixture for the x230 gate — the LAST PNG slices leaving quarantine:
  * 16-bit gray+alpha, 16-bit RGBA, and keyed transparency (tRNS on
  * types 0/2 at both depths). Five classes cycle by id; each keyed
  * image's key equals its (0,0) sample, so the transparent path is
  * load-bearing in every keyed payload. Formulas mirrored verbatim in
  * the x230 oracle SQL.
  */
object PngFullFixture {
  val dir = Fixture.dir("graft_png_full")
  val twinPath = s"$dir/twin"

  def c1(id: Long)(x: Int, y: Int): Int = ((id * 131 + x * 4799 + y * 9601) % 65536).toInt
  def c2(id: Long)(x: Int, y: Int): Int = ((id * 137 + x * 4801 + y * 9613) % 65536).toInt
  def c3(id: Long)(x: Int, y: Int): Int = ((id * 139 + x * 4813 + y * 9619) % 65536).toInt
  def c4(id: Long)(x: Int, y: Int): Int = ((id * 149 + x * 4817 + y * 9623) % 65536).toInt
  def g8(id: Long)(x: Int, y: Int): Int = ((id * 3 + x * 13 + y * 7) % 256).toInt

  def rows: Seq[(Long, Array[Byte], Int, Int, String, String)] = (0 until 200).map { i =>
    val id = i.toLong
    val w = 5 + (i * 7) % 40
    val h = 4 + (i * 11) % 32
    val f = (y: Int) => (y + i) % 5
    val (p, clazz, kind) = (i % 5) match {
      case 0 =>
        (PngPixels.synthesizeGrayAlpha16(w, h, (x, y) => (c1(id)(x, y), c2(id)(x, y)), f), "ga16", "gray_alpha16")
      case 1 =>
        (PngPixels.synthesizeRgba16(w, h, (x, y) => (c1(id)(x, y), c2(id)(x, y), c3(id)(x, y), c4(id)(x, y)), f),
          "rgba16", "rgba16")
      case 2 =>
        (PngPixels.synthesizeGrayKeyed(w, h, g8(id), key = ((id * 3) % 256).toInt, f), "gray_keyed", "gray")
      case 3 =>
        (PngPixels.synthesizeGray16Keyed(w, h, c1(id), key = ((id * 131) % 65536).toInt, f), "gray16_keyed", "gray16")
      case _ =>
        (PngPixels.synthesizeRgb16Keyed(
          w, h,
          (x, y) => (c1(id)(x, y), c2(id)(x, y), c3(id)(x, y)),
          key = (((id * 131) % 65536).toInt, ((id * 137) % 65536).toInt, ((id * 139) % 65536).toInt),
          f
        ), "rgb16_keyed", "rgb16")
    }
    (id, p, w, h, clazz, kind)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "img_id", r.map { case (id, p, _, _, _, _) => (id, p) })
    r.map { case (id, _, w, h, cl, k) => (id, w, h, cl, k) }
      .toDF("img_id", "width", "height", "clazz", "kind")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}
