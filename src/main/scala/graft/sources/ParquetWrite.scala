package graft.sources

import scala.collection.mutable.ArrayBuffer

/** x286 — parquet WRITE from first principles, closing the data-plane loop
  * x282 opened: the engine emits its own storage format with zero
  * `org.apache.parquet` imports, and the pages ride the repo's own
  * from-scratch encoders — gzip via x268's DEFLATE, zstd via x279 — so a
  * graft pipeline can produce the files every warehouse reads without a
  * borrowed codec or metadata library anywhere on the write path.
  * Conformance is maximal: DuckDB's native reader adjudicates in the gate
  * (the oracle census runs over OUR bytes and must match the
  * source-derived census computed before writing), Spark's parquet-mr
  * reader and graft's own x282 scratch reader adjudicate in the spec.
  *
  * Reference behavior studied from dangkhoipham/data_engineering_capstone
  * (its outputs are parquet on S3; `dags/libs/lib.py:171-218`) — the
  * format is the public parquet-format spec.
  *
  * Shape (a valid, simple subset every conforming reader accepts):
  *   - Thrift compact-protocol WRITER (the exact inverse of x282's
  *     reader): delta-coded field headers, zigzag varints, list headers,
  *     nested structs.
  *   - Flat required/optional columns of BOOLEAN/INT32/INT64/FLOAT/
  *     DOUBLE/BYTE_ARRAY, PLAIN-encoded, v1 data pages split every
  *     [[ParquetWrite.PageValues]] values.
  *   - Definition levels (optional columns): RLE/bit-packed hybrid writer
  *     — one RLE run when the page is null-free or all-null, bit-packed
  *     groups otherwise.
  *   - Codecs: UNCOMPRESSED / GZIP (x268 from scratch) / ZSTD (x279 from
  *     scratch); per-page strictly-smaller fallback to uncompressed is
  *     not required by the spec for parquet pages (codec is declared at
  *     chunk grain), so pages compress unconditionally.
  *
  * Scale shape: one column chunk is buffered at a time (page-split, so
  * memory is bounded by PageValues·width, not rows); at cluster scale the
  * writer is the per-task leaf of a partitioned write exactly like any
  * sink — file parallelism comes from partitioning above it.
  */
object ParquetWrite {

  val PageValues = 20000

  val CodecUncompressed = 0
  val CodecGzip = 2
  val CodecZstd = 6

  // physical types (parquet-format Types)
  val TBool = 0
  val TInt32 = 1
  val TInt64 = 2
  val TFloat = 4
  val TDouble = 5
  val TBytes = 6

  /** `utf8`: annotate a BYTE_ARRAY leaf with ConvertedType UTF8 so readers
    * surface it as a string rather than raw binary. */
  final case class ColSpec(name: String, ptype: Int, optional: Boolean, utf8: Boolean = false)

  // ------------------------------------------------ thrift compact writer

  private final class TW {
    val out = new java.io.ByteArrayOutputStream(256)
    def byte(b: Int): Unit = out.write(b & 0xff)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { byte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      byte(v.toInt)
    }
    def zig(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    /** field header; returns the new lastFid */
    def field(last: Int, fid: Int, tpe: Int): Int = {
      val delta = fid - last
      if (delta >= 1 && delta <= 15) byte((delta << 4) | tpe)
      else { byte(tpe); zig(fid.toLong) }
      fid
    }
    def stop(): Unit = byte(0)
    def i32Field(last: Int, fid: Int, v: Long): Int = { val l = field(last, fid, 5); zig(v); l }
    def i64Field(last: Int, fid: Int, v: Long): Int = { val l = field(last, fid, 6); zig(v); l }
    def strField(last: Int, fid: Int, s: String): Int = {
      val l = field(last, fid, 8)
      val b = s.getBytes("UTF-8")
      varint(b.length.toLong)
      out.write(b, 0, b.length)
      l
    }
    def listHeader(size: Int, elemType: Int): Unit =
      if (size < 15) byte((size << 4) | elemType)
      else { byte((15 << 4) | elemType); varint(size.toLong) }
    def bytes: Array[Byte] = out.toByteArray
  }

  // ------------------------------------------------- level/value encoders

  /** RLE/bit-packed hybrid (levels AND dictionary indices): one RLE run
    * when every value agrees, one bit-packed span otherwise (trailing
    * pad values beyond `n` are zeros, read never past `n`).
    */
  private def hybridWrite(vals: Array[Int], n: Int, bitWidth: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(n * bitWidth / 8 + 8)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { bos.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      bos.write(v.toInt)
    }
    var uniform = true
    var i = 1
    while (uniform && i < n) { uniform = vals(i) == vals(0); i += 1 }
    if (uniform && n > 0) {
      varint((n.toLong << 1)) // RLE run
      var k = 0
      while (k < (bitWidth + 7) / 8) { bos.write((vals(0) >>> (8 * k)) & 0xff); k += 1 }
    } else {
      val groups = (n + 7) / 8
      varint((groups.toLong << 1) | 1) // bit-packed
      val bytes = new Array[Byte](groups * bitWidth)
      var v = 0
      while (v < n) {
        val base = v * bitWidth
        var k = 0
        while (k < bitWidth) {
          if (((vals(v) >>> k) & 1) != 0) {
            val abs = base + k
            bytes(abs >> 3) = (bytes(abs >> 3) | (1 << (abs & 7))).toByte
          }
          k += 1
        }
        v += 1
      }
      bos.write(bytes, 0, bytes.length)
    }
    bos.toByteArray
  }

  private def hybridLevels(defs: Array[Int], from: Int, n: Int): Array[Byte] =
    hybridWrite(java.util.Arrays.copyOfRange(defs, from, from + n), n, 1)

  /** PLAIN-encode `n` non-null cells (already null-stripped). */
  private def plainValues(vals: ArrayBuffer[Any], ptype: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(vals.length * 8 + 16)
    def i32(v: Int): Unit = { bos.write(v); bos.write(v >> 8); bos.write(v >> 16); bos.write(v >> 24) }
    def i64(v: Long): Unit = { var k = 0; while (k < 8) { bos.write((v >>> (8 * k)).toInt); k += 1 } }
    ptype match {
      case TBool =>
        var acc = 0
        var nb = 0
        vals.foreach { v =>
          if (v.asInstanceOf[Boolean]) acc |= 1 << nb
          nb += 1
          if (nb == 8) { bos.write(acc); acc = 0; nb = 0 }
        }
        if (nb > 0) bos.write(acc)
      case TInt32  => vals.foreach(v => i32(v.asInstanceOf[Long].toInt))
      case TInt64  => vals.foreach(v => i64(v.asInstanceOf[Long]))
      case TFloat  => vals.foreach(v => i32(java.lang.Float.floatToIntBits(v.asInstanceOf[Float])))
      case TDouble => vals.foreach(v => i64(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])))
      case TBytes =>
        vals.foreach { v =>
          val b = v match {
            case s: String      => s.getBytes("UTF-8")
            case a: Array[Byte] => a
          }
          i32(b.length)
          bos.write(b, 0, b.length)
        }
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
    bos.toByteArray
  }

  private def compress(codec: Int, raw: Array[Byte]): Array[Byte] = codec match {
    case CodecUncompressed => raw
    case CodecGzip         => Deflate.gzipCompress(raw)
    case CodecZstd         => ZstdEncode.compress(raw)
    case other             => throw new IllegalArgumentException(s"unsupported codec $other")
  }

  // ------------------------------------------------------------- the file

  /** Write one parquet file (single row group) of flat columns. Cells:
    * Long (int32/int64), Double, Float, Boolean, String/Array[Byte]; null
    * only in optional columns.
    */
  val DictMax = 4096

  def write(
      schema: Seq[ColSpec],
      rows: Seq[Array[Any]],
      codec: Int,
      dictionary: Boolean = false,
      statistics: Boolean = false,
      rowGroupRows: Int = Int.MaxValue
  ): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    val nRows = rows.length

    final case class ChunkInfo(
        dataPageOffset: Long,
        dictPageOffset: Long, // -1 when absent
        totalComp: Long,
        totalUncomp: Long,
        numValues: Long,
        nullCount: Long,
        minBytes: Array[Byte], // PLAIN single value, null when absent
        maxBytes: Array[Byte]
    )

    // native per-type comparison: a Double sort key would collapse distinct
    // longs with |v| > 2^53, silently corrupting the min/max that
    // readFileRange prunes on
    def statCmp(cs: ColSpec, a: Any, b: Any): Int = cs.ptype match {
      case TInt32 | TInt64 => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case TFloat          => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
      case TDouble         => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case _               => 0
    }

    def emitPage(
        cs: ColSpec,
        defs: Array[Int],
        n: Int,
        values: Array[Byte],
        encoding: Int
    ): (Array[Byte], Array[Byte], Int) = {
      val body = new java.io.ByteArrayOutputStream(n * 8)
      if (cs.optional) {
        val lv = hybridLevels(defs, 0, n)
        body.write(lv.length); body.write(lv.length >> 8); body.write(lv.length >> 16); body.write(lv.length >> 24)
        body.write(lv, 0, lv.length)
      }
      body.write(values, 0, values.length)
      val raw = body.toByteArray
      val comp = compress(codec, raw)
      val tw = new TW
      var l = tw.i32Field(0, 1, 0L) // DATA_PAGE
      l = tw.i32Field(l, 2, raw.length.toLong)
      l = tw.i32Field(l, 3, comp.length.toLong)
      l = tw.field(l, 5, 12)
      var dl = tw.i32Field(0, 1, n.toLong)
      dl = tw.i32Field(dl, 2, encoding.toLong)
      dl = tw.i32Field(dl, 3, 3L)
      dl = tw.i32Field(dl, 4, 3L)
      tw.stop()
      tw.stop()
      (tw.bytes, comp, raw.length)
    }

    def buildRg(gRows: Seq[Array[Any]]): Seq[ChunkInfo] = {
      val gn = gRows.length
      schema.zipWithIndex.map { case (cs, ci) =>
      // dictionary eligibility: first-occurrence distinct scan
      var dict: ArrayBuffer[Any] = null
      var dictIdx: java.util.HashMap[Any, Integer] = null
      if (dictionary && cs.ptype != TBool && gn > 0) {
        def key(v: Any): Any = v match {
          case a: Array[Byte] => new String(a, java.nio.charset.StandardCharsets.ISO_8859_1)
          case x              => x
        }
        val d = new java.util.HashMap[Any, Integer]()
        val order = ArrayBuffer.empty[Any]
        var i = 0
        var ok = true
        var nonNull = 0L
        while (ok && i < gn) {
          val cell = gRows(i)(ci)
          if (cell != null) {
            nonNull += 1
            if (!d.containsKey(key(cell))) {
              d.put(key(cell), d.size())
              order += cell
              if (d.size() > DictMax) ok = false
            }
          }
          i += 1
        }
        // dictionary pays only when values REPEAT — near-unique columns
        // packed as wide indices beat zstd'd PLAIN only past ~2× reuse
        // (measured in ParquetWriteSpec before this guard existed)
        if (ok && order.length.toLong * 2 <= nonNull) { dict = order; dictIdx = d }
      }

      val chunkStart = out.size().toLong
      var dictOffset = -1L
      var totalComp = 0L
      var totalUncomp = 0L
      if (dict != null) {
        val raw = plainValues(dict, cs.ptype)
        val comp = compress(codec, raw)
        val tw = new TW
        var l = tw.i32Field(0, 1, 2L) // DICTIONARY_PAGE
        l = tw.i32Field(l, 2, raw.length.toLong)
        l = tw.i32Field(l, 3, comp.length.toLong)
        l = tw.field(l, 7, 12) // dictionary_page_header
        var dl = tw.i32Field(0, 1, dict.length.toLong)
        dl = tw.i32Field(dl, 2, 0L) // PLAIN
        tw.stop(); tw.stop()
        val hdr = tw.bytes
        dictOffset = chunkStart
        out.write(hdr, 0, hdr.length)
        out.write(comp, 0, comp.length)
        totalComp += hdr.length + comp.length
        totalUncomp += hdr.length + raw.length
      }
      val dataPageOffset = out.size().toLong

      var nullCount = 0L
      var minCell: Any = null
      var maxCell: Any = null
      // parquet spec: writers must OMIT min/max when a float/double column
      // contains NaN (Float/Double.compare orders NaN above everything, so
      // a naive accumulation makes it a sticky max — and a strict reader
      // pruning on `col > 5` against max=NaN would wrongly skip the group)
      var statNaN = false

      var done = 0
      while (done < gn || (gn == 0 && done == 0)) {
        val n = math.min(PageValues, gn - done)
        val defs = new Array[Int](n)
        val vals = ArrayBuffer.empty[Any]
        var i = 0
        while (i < n) {
          val cell = gRows(done + i)(ci)
          if (cell == null) {
            require(cs.optional, s"null in required column ${cs.name}")
            defs(i) = 0
            nullCount += 1
          } else {
            defs(i) = 1
            vals += cell
            if (statistics && cs.ptype != TBool && cs.ptype != TBytes) {
              val isNaN = cs.ptype match {
                case TFloat  => java.lang.Float.isNaN(cell.asInstanceOf[Float])
                case TDouble => java.lang.Double.isNaN(cell.asInstanceOf[Double])
                case _       => false
              }
              if (isNaN) statNaN = true
              else {
                if (minCell == null || statCmp(cs, cell, minCell) < 0) minCell = cell
                if (maxCell == null || statCmp(cs, cell, maxCell) > 0) maxCell = cell
              }
            }
          }
          i += 1
        }
        val (hdr, comp, rawLen) =
          if (dict != null) {
            val bw = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, dict.length - 1)))
            val idx = new Array[Int](vals.length)
            var j = 0
            while (j < vals.length) {
              val k0 = vals(j) match {
                case a: Array[Byte] => new String(a, java.nio.charset.StandardCharsets.ISO_8859_1)
                case x              => x
              }
              idx(j) = dictIdx.get(k0)
              j += 1
            }
            val vb = new java.io.ByteArrayOutputStream(vals.length)
            vb.write(bw)
            val hy = hybridWrite(idx, idx.length, bw)
            vb.write(hy, 0, hy.length)
            emitPage(cs, defs, n, vb.toByteArray, 8) // RLE_DICTIONARY
          } else {
            val pv = plainValues(vals, cs.ptype)
            emitPage(cs, defs, n, pv, 0)
          }
        out.write(hdr, 0, hdr.length)
        out.write(comp, 0, comp.length)
        totalComp += hdr.length + comp.length
        totalUncomp += hdr.length + rawLen
        done += n
        if (gn == 0) done = 1 // single empty page for empty tables
      }
      val minB = if (minCell != null && !statNaN) plainValues(ArrayBuffer(minCell), cs.ptype) else null
      val maxB = if (maxCell != null && !statNaN) plainValues(ArrayBuffer(maxCell), cs.ptype) else null
      ChunkInfo(dataPageOffset, dictOffset, totalComp, totalUncomp, gn.toLong, nullCount, minB, maxB)
      }
    }

    val groups: Seq[Seq[Array[Any]]] =
      if (rows.isEmpty) Seq(rows)
      else rows.grouped(math.max(1, math.min(rowGroupRows, Int.MaxValue))).toSeq
    val rgChunks = groups.map(buildRg)

    // footer
    val fw = new TW
    var l = fw.i32Field(0, 1, 1L) // version
    l = fw.field(l, 2, 9) // schema
    fw.listHeader(schema.length + 1, 12)
    locally { // root element
      var rl = fw.strField(0, 4, "schema")
      rl = fw.i32Field(rl, 5, schema.length.toLong)
      fw.stop()
    }
    schema.foreach { cs =>
      var el = fw.i32Field(0, 1, cs.ptype.toLong)
      el = fw.i32Field(el, 3, if (cs.optional) 1L else 0L)
      el = fw.strField(el, 4, cs.name)
      if (cs.ptype == TBytes && cs.utf8) el = fw.i32Field(el, 6, 0L) // ConvertedType UTF8
      fw.stop()
    }
    l = fw.i64Field(l, 3, nRows.toLong) // num_rows
    l = fw.field(l, 4, 9) // row_groups
    fw.listHeader(rgChunks.length, 12)
    groups.zip(rgChunks).foreach { case (gRows, chunks) =>
      var rl = fw.field(0, 1, 9) // columns
      fw.listHeader(schema.length, 12)
      schema.zip(chunks).foreach { case (cs, ch) =>
        // file_offset = chunk's FIRST byte (parquet-mr getStartingPos):
        // the dictionary page when present, else the first data page —
        // strict readers derive chunk byte ranges from this
        val chunkStart = if (ch.dictPageOffset >= 0) ch.dictPageOffset else ch.dataPageOffset
        var cl = fw.i64Field(0, 2, chunkStart) // file_offset
        cl = fw.field(cl, 3, 12) // meta_data
        var ml = fw.i32Field(0, 1, cs.ptype.toLong)
        ml = fw.field(ml, 2, 9) // encodings
        if (ch.dictPageOffset >= 0) {
          fw.listHeader(3, 5)
          fw.zig(0L); fw.zig(3L); fw.zig(8L) // PLAIN (dict page), RLE, RLE_DICTIONARY
        } else {
          fw.listHeader(2, 5)
          fw.zig(0L); fw.zig(3L) // PLAIN, RLE
        }
        ml = fw.field(ml, 3, 9) // path_in_schema
        fw.listHeader(1, 8)
        locally {
          val b = cs.name.getBytes("UTF-8")
          fw.varint(b.length.toLong)
          fw.out.write(b, 0, b.length)
        }
        ml = fw.i32Field(ml, 4, codec.toLong)
        ml = fw.i64Field(ml, 5, ch.numValues)
        ml = fw.i64Field(ml, 6, ch.totalUncomp)
        ml = fw.i64Field(ml, 7, ch.totalComp)
        ml = fw.i64Field(ml, 9, ch.dataPageOffset)
        if (ch.dictPageOffset >= 0) ml = fw.i64Field(ml, 11, ch.dictPageOffset)
        if (statistics && (ch.minBytes != null || ch.nullCount > 0)) {
          ml = fw.field(ml, 12, 12) // statistics
          var sl = fw.i64Field(0, 3, ch.nullCount)
          if (ch.maxBytes != null) {
            sl = fw.field(sl, 5, 8)
            fw.varint(ch.maxBytes.length.toLong)
            fw.out.write(ch.maxBytes, 0, ch.maxBytes.length)
          }
          if (ch.minBytes != null) {
            sl = fw.field(sl, 6, 8)
            fw.varint(ch.minBytes.length.toLong)
            fw.out.write(ch.minBytes, 0, ch.minBytes.length)
          }
          fw.stop()
        }
        fw.stop() // meta_data
        fw.stop() // column chunk
      }
      rl = fw.i64Field(rl, 2, chunks.map(_.totalComp).sum) // total_byte_size
      rl = fw.i64Field(rl, 3, gRows.length.toLong) // num_rows
      fw.stop()
    }
    l = fw.strField(l, 6, "graft x286 (from-scratch writer)")
    fw.stop()

    val footer = fw.bytes
    out.write(footer, 0, footer.length)
    val fl = footer.length
    out.write(fl); out.write(fl >> 8); out.write(fl >> 16); out.write(fl >> 24)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    out.toByteArray
  }
}

/** x300 fixture: ONE deterministic 20k-row dataset written through all
  * three format paths — the from-scratch parquet writer (zstd pages), the
  * from-scratch Avro writer (deflate blocks), and the OFFICIAL ORC writer
  * (the one direction the repo reads from scratch but does not write) —
  * so the parity instrument can prove the x106 contract ("format choice
  * is invisible to results") across the engine's OWN implementations.
  */
object FormatParityFixture {
  val dir = Fixture.dir("graft_fmt")
  val N = 20000

  def row(i: Long): (Long, String, Any, Double, Boolean) = (
    i,
    Seq("A", "B", "C")((i % 3).toInt),
    if (i % 7 == 0) null else java.lang.Long.valueOf(i * 37 % 100000),
    (i % 1000) * 0.25,
    i % 3 == 0
  )

  def ensure(s: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    val rows = (0L until N.toLong).map(row)
    // parquet via the x286 scratch writer
    val pqSchema = Seq(
      ParquetWrite.ColSpec("k", ParquetWrite.TInt64, optional = false),
      ParquetWrite.ColSpec("status", ParquetWrite.TBytes, optional = false, utf8 = true),
      ParquetWrite.ColSpec("cents", ParquetWrite.TInt64, optional = true),
      ParquetWrite.ColSpec("price", ParquetWrite.TDouble, optional = false),
      ParquetWrite.ColSpec("flag", ParquetWrite.TBool, optional = false)
    )
    val pqRows = rows.map(r => Array[Any](r._1, r._2, r._3, r._4, r._5))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data.parquet"),
      ParquetWrite.write(pqSchema, pqRows, ParquetWrite.CodecZstd, dictionary = true, statistics = true)
    )
    // avro via the x297 scratch writer
    val avFields = Seq(
      AvroWrite.AvField("k", "long", nullable = false),
      AvroWrite.AvField("status", "string", nullable = false),
      AvroWrite.AvField("cents", "long", nullable = true),
      AvroWrite.AvField("price", "double", nullable = false),
      AvroWrite.AvField("flag", "boolean", nullable = false)
    )
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data.avro"),
      AvroWrite.write(avFields, pqRows, "deflate")
    )
    // ORC via the OFFICIAL writer (read-side-only format for the scratch family)
    import org.apache.spark.sql.functions._
    s.range(N.toLong)
      .select(
        col("id").as("k"),
        expr("element_at(array('A','B','C'), CAST(id % 3 AS INT) + 1)").as("status"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 37 % 100000).as("cents"),
        ((col("id") % 1000) * 0.25).as("price"),
        (col("id") % 3 === 0).as("flag")
      )
      .coalesce(1)
      .write
      .option("compression", "zlib")
      .mode("overwrite")
      .orc(s"$dir/data_orc")
  }
}

/** x286 fixture: one deterministic 20k-row table written THREE times by the
  * from-scratch writer — uncompressed, gzip-paged (x268), zstd-paged
  * (x279). Every cell is closed-form in the row index, so the gate census
  * is computed from the FORMULAS on the engine side and from DuckDB's read
  * of OUR BYTES on the oracle side: a value corruption anywhere in the
  * writer (or its codecs) diverges the hash. Content is sf-independent;
  * the marker guards a content-version key.
  */
object ParquetWriteFixture {
  val dir = Fixture.dir("graft_pq")
  val N = 20000

  import ParquetWrite._

  val schema = Seq(
    ColSpec("k", TInt64, optional = false),
    ColSpec("status", TBytes, optional = false, utf8 = true),
    ColSpec("cents", TInt64, optional = true),
    ColSpec("day", TInt64, optional = false),
    ColSpec("price", TDouble, optional = false),
    ColSpec("lineno", TInt32, optional = false),
    ColSpec("flag", TBool, optional = false),
    ColSpec("ratio", TFloat, optional = false)
  )

  def row(i: Long): Array[Any] = Array[Any](
    i,
    Seq("A", "B", "C")((i % 3).toInt),
    if (i % 7 == 0) null else i * 37 % 100000,
    8000L + i % 365,
    (i % 1000) * 0.25,
    i % 5,
    i % 3 == 0,
    (i % 128).toFloat * 0.0078125f
  )

  def ensure(): Unit = Fixture.at(dir, "v3") {
    val rows = (0L until N.toLong).map(row)
    for ((codec, tag) <- Seq(CodecUncompressed -> "c0", CodecGzip -> "c2", CodecZstd -> "c6")) {
      val bytes = write(schema, rows, codec)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/orders_$tag.parquet"), bytes)
    }
    // x288/x289: dictionary-encoded + statistics variant (zstd pages)
    val dictBytes = write(schema, rows, CodecZstd, dictionary = true, statistics = true)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/orders_dict.parquet"), dictBytes)
    // x292/x293: 5 row groups of 4000 rows, k-sorted → disjoint k stats
    val mrgBytes = write(schema, rows, CodecZstd, dictionary = true, statistics = true, rowGroupRows = 4000)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/orders_mrg.parquet"), mrgBytes)
  }
}
