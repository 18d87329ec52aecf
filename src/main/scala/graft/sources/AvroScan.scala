package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Avro Object Container File reader from first principles (x119) — the
  * interchange format completing the source family (CSV, ;-CSV, JSON
  * lines, parquet, ORC, SAS7BDAT): magic `Obj\1`, file-metadata map
  * (schema JSON + codec), 16-byte sync markers, blocks of
  * (row count, byte size, payload), and the Avro binary encoding itself —
  * zigzag-varint ints/longs, little-endian IEEE float/double, 1-byte
  * booleans, length-prefixed UTF-8 strings, and `["null", T]` unions —
  * per the public Avro 1.x specification. Codecs: `null` and `deflate`
  * (raw/nowrap, as the spec requires).
  *
  * Scope: flat record schemas over the primitive types above (the
  * tabular-interchange shape). The schema JSON is parsed by a minimal
  * self-contained tokenizer — no Avro library anywhere in the read path.
  * Conformance is REAL, not self-referential: fixtures and the spec's
  * cross-check are written/read with the official Avro library from the
  * Spark classpath (the PNG↔ImageIO pattern), so our reader is validated
  * against the reference implementation's bytes, and vice versa.
  *
  * Structural lies quarantine (None): bad magic, unsupported codec or
  * schema shape, a sync-marker mismatch after any block, a block row
  * count that disagrees with its payload, trailing bytes inside a block.
  *
  * Scale shape: one task per file (`mapPartitions` over the file list);
  * within a file, blocks decode sequentially — Avro's own splittability
  * story (seek to sync markers) maps to one-file-per-task here, which is
  * the right grain for the fixture sizes and documented for the real
  * cluster (block-level splitting would hang off the same sync walk).
  */
object AvroScan {

  // ------------------------------------------------ minimal JSON (schema)
  private sealed trait J
  private case class JStr(s: String) extends J
  private case class JNum(s: String) extends J
  private case class JBool(b: Boolean) extends J
  private case object JNull extends J
  private case class JArr(xs: List[J]) extends J
  private case class JObj(m: Map[String, J]) extends J

  private final class P(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def parse(): J = { ws(); parseVal() }
    private def parseVal(): J = s.charAt(i) match {
      case '{' =>
        i += 1; ws()
        var m = Map.empty[String, J]
        if (s.charAt(i) == '}') { i += 1; return JObj(m) }
        while (true) {
          ws()
          val k = parseStr()
          ws(); require(s.charAt(i) == ':'); i += 1; ws()
          m += (k -> parseVal())
          ws()
          if (s.charAt(i) == ',') { i += 1 }
          else { require(s.charAt(i) == '}'); i += 1; return JObj(m) }
        }
        JObj(m)
      case '[' =>
        i += 1; ws()
        var xs = List.empty[J]
        if (s.charAt(i) == ']') { i += 1; return JArr(Nil) }
        while (true) {
          ws()
          xs ::= parseVal()
          ws()
          if (s.charAt(i) == ',') { i += 1 }
          else { require(s.charAt(i) == ']'); i += 1; return JArr(xs.reverse) }
        }
        JArr(xs.reverse)
      case '"' => JStr(parseStr())
      case 't' => i += 4; JBool(true)
      case 'f' => i += 5; JBool(false)
      case 'n' => i += 4; JNull
      case _ =>
        val j = i
        while (i < s.length && "-+.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
        JNum(s.substring(j, i))
    }
    private def parseStr(): String = {
      require(s.charAt(i) == '"'); i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case o => sb += o
          }
        } else sb += c
        i += 1
      }
      i += 1
      sb.toString
    }
  }

  /** Supported field type: primitive name + nullability. */
  private case class F(name: String, typ: String, nullable: Boolean)

  /** Flat record schema → field list; None for out-of-scope shapes. */
  private def parseSchema(json: String): Option[Seq[F]] =
    try {
      val JObj(m) = new P(json).parse(): @unchecked
      if (m.get("type") != Some(JStr("record"))) return None
      val JArr(fields) = m("fields"): @unchecked
      val fs = fields.map {
        case JObj(fm) =>
          val JStr(name) = fm("name"): @unchecked
          fm("type") match {
            case JStr(t) => F(name, t, nullable = false)
            case JArr(List(JStr("null"), JStr(t))) => F(name, t, nullable = true)
            case JArr(List(JStr(t), JStr("null"))) => F(name, t, nullable = true)
            case _ => return None // nested/complex types out of scope
          }
        case _ => return None
      }
      val ok = Set("int", "long", "float", "double", "boolean", "string")
      if (fs.forall(f => ok(f.typ))) Some(fs) else None
    } catch { case _: Exception => None }

  // --------------------------------------------------- binary primitives
  private final class Dec(b: Array[Byte]) {
    var p = 0
    def hasMore: Boolean = p < b.length
    def varlong(): Long = {
      var x = 0L
      var shift = 0
      var done = false
      while (!done) {
        val c = b(p) & 0xff
        p += 1
        x |= (c & 0x7fL) << shift
        shift += 7
        if ((c & 0x80) == 0) done = true
        if (shift > 70) throw new IllegalArgumentException("varint overflow")
      }
      (x >>> 1) ^ -(x & 1L) // zigzag
    }
    def bytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(b, p, p + n)
      p += n
      out
    }
  }

  private def inflateRaw(b: Array[Byte]): Array[Byte] =
    // from-scratch RFC 1951 path (x264) or the JDK twin under the
    // conformance toggle; decode() quarantines any throw
    Inflate
      .rawDispatch(b, 0, b.length, 256 << 20)
      .map(_.data)
      .getOrElse(throw new IllegalArgumentException("malformed deflate"))

  /** Decoded file: field metadata + rows of boxed values. */
  case class AvroData(fields: Seq[F2], rows: Seq[Seq[Any]])
  case class F2(name: String, typ: String, nullable: Boolean)

  /** Decode one container file; structural lies ⇒ None. */
  def decode(b: Array[Byte]): Option[AvroData] =
    try {
      if (b.length < 4 || b(0) != 'O' || b(1) != 'b' || b(2) != 'j' || b(3) != 1) return None
      val d = new Dec(b)
      d.p = 4
      // file metadata map: blocks of (count, pairs), 0-terminated
      var meta = Map.empty[String, Array[Byte]]
      var n = d.varlong()
      while (n != 0) {
        val cnt = if (n < 0) { d.varlong(); -n } // negative count: block size follows
        else n
        var i = 0L
        while (i < cnt) {
          val k = new String(d.bytes(d.varlong().toInt), "UTF-8")
          meta += (k -> d.bytes(d.varlong().toInt))
          i += 1
        }
        n = d.varlong()
      }
      val codec = meta.get("avro.codec").map(new String(_, "UTF-8")).getOrElse("null")
      if (codec != "null" && codec != "deflate" && codec != "snappy") return None
      val schemaJson = new String(meta.getOrElse("avro.schema", return None), "UTF-8")
      val fields = parseSchema(schemaJson).getOrElse(return None)
      val sync = d.bytes(16)
      val rows = Seq.newBuilder[Seq[Any]]
      while (d.hasMore) {
        val cnt = d.varlong()
        val size = d.varlong()
        if (cnt < 0 || size < 0 || d.p + size > b.length) return None
        val payload0 = d.bytes(size.toInt)
        val payload = codec match {
          case "deflate" => inflateRaw(payload0)
          case "snappy" =>
            // Avro snappy (x303): raw snappy block + 4-byte BIG-endian
            // CRC-32 of the UNCOMPRESSED data — verified, never skipped
            if (payload0.length < 4) return None
            val body = java.util.Arrays.copyOf(payload0, payload0.length - 4)
            val want =
              ((payload0(payload0.length - 4) & 0xffL) << 24) | ((payload0(payload0.length - 3) & 0xffL) << 16) |
                ((payload0(payload0.length - 2) & 0xffL) << 8) | (payload0(payload0.length - 1) & 0xffL)
            val dec = SnappyBlock.decode(body).getOrElse(return None)
            if (Inflate.crc32(dec) != want) return None
            dec
          case _ => payload0
        }
        val pd = new Dec(payload)
        var i = 0L
        while (i < cnt) {
          rows += fields.map { f =>
            val present = if (f.nullable) pd.varlong() == 1L else true
            if (!present) null
            else
              f.typ match {
                case "int" => pd.varlong().toInt
                case "long" => pd.varlong()
                case "boolean" => { val v = payload(pd.p); pd.p += 1; v == 1 }
                case "float" =>
                  java.lang.Float.intBitsToFloat(
                    java.nio.ByteBuffer.wrap(pd.bytes(4)).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
                  )
                case "double" =>
                  java.lang.Double.longBitsToDouble(
                    java.nio.ByteBuffer.wrap(pd.bytes(8)).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
                  )
                case "string" => new String(pd.bytes(pd.varlong().toInt), "UTF-8")
              }
          }
          i += 1
        }
        if (pd.hasMore) return None // trailing bytes inside a block
        if (!java.util.Arrays.equals(d.bytes(16), sync)) return None
      }
      Some(AvroData(fields.map(f => F2(f.name, f.typ, f.nullable)), rows.result()))
    } catch {
      case _: Exception => None
    }

  private def sparkType(t: String): DataType = t match {
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case _ => StringType
  }

  /** Distributed read of a directory of .avro files: one task per file,
    * schema taken from the first file (homogeneous-dir contract). */
  def read(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs
      .listStatus(p)
      .map(_.getPath)
      .filter(_.getName.endsWith(".avro"))
      .map(_.toString)
      .sorted
      .toSeq
    require(files.nonEmpty, s"no .avro files under $dir")
    val first = decode(readAll(fs, files.head)).getOrElse(
      throw new IllegalArgumentException(s"unreadable avro file: ${files.head}")
    )
    val schema = StructType(first.fields.map(f => StructField(f.name, sparkType(f.typ), nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    files
      .toDS()
      .repartition(math.min(files.size, s.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.flatMap { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          val ffs = path.getFileSystem(conf)
          decode(readAll(ffs, f)) match {
            case Some(data) => data.rows.map(r => Row(r: _*))
            case None => throw new IllegalArgumentException(s"corrupt avro file: $f")
          }
        }
      }(enc)
  }

  private def readAll(fs: org.apache.hadoop.fs.FileSystem, f: String): Array[Byte] = {
    val path = new org.apache.hadoop.fs.Path(f)
    val len = fs.getFileStatus(path).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(path)
    try in.readFully(0, buf)
    finally in.close()
    buf
  }

  // ------------------------------------------------ fixture (official lib)
  /** Write the orders projection as REAL Avro (official library, deflate
    * codec) — our reader is then validated against reference-written
    * bytes, keyed per source dir and fingerprint-guarded. */
  def ensure(s: SparkSession, d: String): String = Fixture("graft_avro", Some(d), "avro1") { dir =>
    val root = new java.io.File(s"$dir/data")
    root.mkdirs()
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"Order","fields":[
        |{"name":"o_orderkey","type":"long"},
        |{"name":"o_custkey","type":"long"},
        |{"name":"o_orderstatus","type":"string"},
        |{"name":"o_totalprice","type":"double"},
        |{"name":"o_comment","type":["null","string"]}]}""".stripMargin
    )
    val rows = graft.Graft
      .table(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .collect()
    // 4 files, round-robin by key — multiple tasks on the read side
    val writers = (0 until 4).map { i =>
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema)
      )
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      w.create(schema, new java.io.File(root, s"part-$i.avro"))
      w
    }
    rows.foreach { r =>
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      val k = r.getLong(0)
      rec.put("o_orderkey", k)
      rec.put("o_custkey", r.getLong(1))
      rec.put("o_orderstatus", r.getString(2))
      rec.put("o_totalprice", r.getDouble(3))
      rec.put("o_comment", if (k % 5 == 0) null else s"order-$k") // exercised null union
      writers((k % 4).toInt).append(rec)
    }
    writers.foreach(_.close())
  } + "/data"
}
