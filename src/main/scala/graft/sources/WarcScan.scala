package graft.sources

import java.util.zip.{CRC32, Inflater}

/** WARC web-archive reader (x176) — the ingestion format of the large web
  * crawls (Common Crawl ships ~100 TB of exactly this layout), built from
  * the public specs: ISO 28500 (WARC/1.0 record framing) over RFC 1952
  * (gzip member framing). The Common Crawl convention is one gzip MEMBER
  * per WARC record, members concatenated — which is what makes the format
  * splittable at scale: a reader can seek to any member boundary and
  * stream records without touching the rest of the file.
  *
  * From-scratch, pure JDK: the gzip member walk parses the RFC 1952
  * header itself (magic, CM=8, FLG bits FEXTRA/FNAME/FCOMMENT/FHCRC with
  * their variable-length fields), inflates with a raw `Inflater(nowrap)`,
  * and verifies BOTH trailer fields (CRC32 of the inflated bytes, ISIZE
  * mod 2³²) before advancing by the exact consumed length — the
  * [[MpegAudio]] exact-consumption discipline: one wrong length anywhere
  * desynchronizes the next member's magic check and quarantines.
  *
  * Record layer: `WARC/1.0`/`1.1` version line, case-insensitive headers,
  * mandatory Content-Length framing the content block, the spec's two
  * closing CRLFs, and NOTHING further in the member (one record per
  * member, enforced). `application/http` payloads split at the first
  * blank line into status/request line + headers + body. Structural lies
  * (bad CRC, short member, wrong Content-Length, missing version line,
  * trailing bytes) quarantine the whole payload — never a partial row.
  *
  * Scale shape: the record walk is per-file sequential (inherent — gzip
  * members chain), so distribution is one task per payload via
  * `mapPartitions`, the same unit Common Crawl itself shards by (~1 GB
  * per .warc.gz). Offsets are emitted so a downstream pass could
  * range-split giant members the way [[Sas7bdat]] splits pages.
  */
object WarcScan {

  /** decompression-bomb guard for one gzip member */
  private val MaxInflate = 256 << 20

  /** One parsed WARC record. `httpStatus` is -1 for non-HTTP payloads and
    * HTTP requests; `body` is the HTTP payload body for application/http
    * records, the whole content block otherwise. */
  final case class Rec(
      recIdx: Long,
      warcType: String,
      targetUri: String, // "" when the header is absent (warcinfo)
      httpStatus: Long,
      body: Array[Byte]
  )

  /** Walk every gzip member of `b`; returns the concatenated member
    * payloads, or None on any structural lie. */
  private[sources] def gunzipMembers(b: Array[Byte]): Option[Seq[Array[Byte]]] = {
    var o = 0
    val out = Seq.newBuilder[Array[Byte]]
    while (o < b.length) {
      if (o + 10 > b.length || (b(o) & 0xff) != 0x1f || (b(o + 1) & 0xff) != 0x8b || b(o + 2) != 8)
        return None
      val flg = b(o + 3) & 0xff
      if ((flg & 0xe0) != 0) return None // reserved bits must be zero
      var p = o + 10
      if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
        if (p + 2 > b.length) return None
        val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
        p += 2 + xlen
      }
      if ((flg & 8) != 0) { // FNAME: NUL-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT: NUL-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 2) != 0) p += 2 // FHCRC
      if (p >= b.length) return None
      // raw member body: the from-scratch RFC 1951 path (x264) or the
      // JDK twin under the conformance toggle; consumed drives the
      // member walk to the trailer exactly like Inflater.getBytesRead
      val o2 = Inflate.rawDispatch(b, p, b.length, MaxInflate) match {
        case Some(x) => x
        case None    => return None // truncated / malformed / needs dict
      }
      val consumed = o2.consumed
      val data = o2.data
      val t = p + consumed // 8-byte trailer: CRC32 LE, ISIZE LE
      if (t + 8 > b.length) return None
      val crc = new CRC32(); crc.update(data)
      def le4(q: Int): Long =
        ((b(q) & 0xffL)) | ((b(q + 1) & 0xffL) << 8) | ((b(q + 2) & 0xffL) << 16) | ((b(q + 3) & 0xffL) << 24)
      if (le4(t) != crc.getValue) return None
      if (le4(t + 4) != (data.length & 0xffffffffL)) return None
      out += data
      o = t + 8
    }
    Some(out.result())
  }

  private val Crlf = "\r\n".getBytes("ISO-8859-1")

  /** Parse ONE WARC record occupying the whole member (trailing bytes
    * after the two closing CRLFs quarantine). */
  private[sources] def parseRecord(m: Array[Byte], idx: Long): Option[Rec] = {
    // header block: version line + header lines, terminated by a blank line
    var p = 0
    def readLine(): Option[String] = {
      var q = p
      while (q + 1 < m.length && !(m(q) == '\r' && m(q + 1) == '\n')) q += 1
      if (q + 1 >= m.length) None
      else {
        val s = new String(m, p, q - p, "ISO-8859-1")
        p = q + 2
        Some(s)
      }
    }
    val version = readLine().getOrElse(return None)
    if (!(version == "WARC/1.0" || version == "WARC/1.1")) return None
    val hdrs = scala.collection.mutable.Map[String, String]()
    var line = readLine().getOrElse(return None)
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i <= 0) return None
      hdrs(line.substring(0, i).trim.toLowerCase) = line.substring(i + 1).trim
      line = readLine().getOrElse(return None)
    }
    val wtype = hdrs.getOrElse("warc-type", return None)
    val clen = hdrs.get("content-length").flatMap(_.toLongOption).getOrElse(return None)
    if (clen < 0 || p + clen + 4 != m.length) return None // content + CRLF CRLF, exactly
    val content = java.util.Arrays.copyOfRange(m, p, p + clen.toInt)
    val tail = p + clen.toInt
    if (!(m(tail) == '\r' && m(tail + 1) == '\n' && m(tail + 2) == '\r' && m(tail + 3) == '\n'))
      return None
    val uri = hdrs.getOrElse("warc-target-uri", "")
    val isHttp = hdrs.get("content-type").exists(_.toLowerCase.startsWith("application/http"))
    if (!isHttp) return Some(Rec(idx, wtype, uri, -1L, content))
    // HTTP payload: start line + headers, blank line, body
    val sep = indexOfSeq(content, (Crlf ++ Crlf), 0)
    if (sep < 0) return None
    val head = new String(content, 0, sep, "ISO-8859-1")
    val body = java.util.Arrays.copyOfRange(content, sep + 4, content.length)
    val start = head.split("\r\n", 2)(0)
    val status =
      if (start.startsWith("HTTP/")) {
        val parts = start.split(" ")
        if (parts.length < 2) return None
        parts(1).toLongOption.getOrElse(return None)
      } else -1L // request line (GET /x HTTP/1.1)
    Some(Rec(idx, wtype, uri, status, body))
  }

  private def indexOfSeq(b: Array[Byte], pat: Array[Byte], from: Int): Int = {
    var i = from
    while (i + pat.length <= b.length) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }

  /** Full payload → records, or None on ANY structural lie. */
  def parse(b: Array[Byte]): Option[Seq[Rec]] = {
    if (b.length == 0) return None
    gunzipMembers(b).flatMap { members =>
      val recs = members.zipWithIndex.map { case (m, i) => parseRecord(m, i.toLong) }
      if (recs.exists(_.isEmpty)) None else Some(recs.flatten)
    }
  }

  /** One WARC record → one gzip member (JDK Deflater writer side — the
    * reader is the from-scratch half, the [[PngPixels]]/ImageIO split). */
  private[sources] def gzipMember(record: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(out)
    g.write(record); g.close()
    out.toByteArray
  }

  private[sources] def record(
      wtype: String,
      uri: Option[String],
      date: String,
      contentType: Option[String],
      content: Array[Byte]
  ): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $wtype\r\n")
    sb.append(s"WARC-Date: $date\r\n")
    sb.append(s"WARC-Record-ID: <urn:uuid:$wtype-$date>\r\n")
    uri.foreach(u => sb.append(s"WARC-Target-URI: $u\r\n"))
    contentType.foreach(ct => sb.append(s"Content-Type: $ct\r\n"))
    sb.append(s"Content-Length: ${content.length}\r\n\r\n")
    sb.toString.getBytes("ISO-8859-1") ++ content ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }
}

/** Deterministic .warc.gz corpus + the closed-form content formulas the
  * oracle and the x177 extractor replay. 200 files; file W carries a
  * warcinfo record, 1 + W%4 HTTP responses (status per [[status]]), and
  * for W%3==0 a trailing HTTP request record. */
object WarcFixture {
  val dir = Fixture.dir("graft_warc")

  def nResponses(w: Long): Int = 1 + (w % 4).toInt
  def status(w: Long, j: Long): Long =
    if ((w + j) % 7 == 0) 404L else if ((w + j) % 11 == 0) 301L else 200L

  /** The HTML body of a 200 response — script/style/comment blocks, a
    * quoted '>' inside an attribute, and decimal + named entities, so a
    * naive regex stripper provably diverges from a real tokenizer. */
  def html(w: Long, j: Long): String =
    s"<html><head><title>Doc $w-$j</title><style>p{color:red}</style></head>" +
      s"""<body onload="f()"><h1>Head $w</h1><script>var x=$j;</script>""" +
      s"<p>alpha&amp;beta $w &lt;q&gt;</p><!--c $w-->" +
      s"""<a href="u>v">link $j</a><p>gamma &#65; delta</p></body></html>"""

  def body(w: Long, j: Long): String = status(w, j) match {
    case 404L => s"missing $w/$j"
    case 301L => ""
    case _ => html(w, j)
  }

  val warcinfoContent = "software: graft-warc/1.0\r\nformat: WARC file version 1.0\r\n"

  private def date(w: Long): String = f"2026-01-${1 + w % 28}%02dT00:00:00Z"

  def fileBytes(w: Long): Array[Byte] = fileBytes(w, WarcScan.gzipMember)

  /** record stream with a pluggable member encoder — x176 writes with the
    * official GZIPOutputStream, x276 with the from-scratch [[Deflate]] */
  def fileBytes(w: Long, enc: Array[Byte] => Array[Byte]): Array[Byte] = {
    val recs = Seq.newBuilder[Array[Byte]]
    recs += WarcScan.record(
      "warcinfo", None, date(w), Some("application/warc-fields"),
      warcinfoContent.getBytes("ISO-8859-1"))
    (0 until nResponses(w)).foreach { j =>
      val b = body(w, j.toLong).getBytes("ISO-8859-1")
      val st = status(w, j.toLong)
      val extra = if (st == 301L) s"Location: https://example.com/$w/$j/new\r\n" else ""
      val http =
        (s"HTTP/1.1 $st X\r\nContent-Type: text/html\r\n$extra" +
          s"Content-Length: ${b.length}\r\n\r\n").getBytes("ISO-8859-1") ++ b
      recs += WarcScan.record(
        "response", Some(s"https://example.com/$w/$j"), date(w),
        Some("application/http;msgtype=response"), http)
    }
    if (w % 3 == 0) {
      val http = s"GET /$w/0 HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes("ISO-8859-1")
      recs += WarcScan.record(
        "request", Some(s"https://example.com/$w/0"), date(w),
        Some("application/http;msgtype=request"), http)
    }
    recs.result().map(enc).reduce(_ ++ _)
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "warc_id", (0L until 200L).map(w => (w, fileBytes(w))))
  }
}

/** x276: the EXPORT corpus — the same record formulas, every member
  * compressed by the from-scratch [[Deflate.gzipCompress]] instead of the
  * official GZIPOutputStream. The scan side (from-scratch member walk with
  * CRC-32 + ISIZE verification and exact consumed counts) becomes the
  * conformance check on the encoder's gzip framing. */
object WarcExportFixture {
  val dir = Fixture.dir("graft_warc_export")

  def fileBytes(w: Long): Array[Byte] =
    WarcFixture.fileBytes(w, r => Deflate.gzipCompress(r))

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    Payloads.write(spark, dir, "warc_id", (0L until 200L).map(w => (w, fileBytes(w))))
  }
}
