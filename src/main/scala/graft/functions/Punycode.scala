package graft.functions

import graft.sources.Fixture

/** Punycode / IDN decoder (x206) — the hostname face of URL
  * canonicalization (x58 normalizes structure; internationalized hosts
  * additionally hide their identity behind RFC 3492 "xn--" ACE labels,
  * and a dedup key built on the ASCII form misses the unicode twin):
  * the full RFC 3492 §6.2 decode loop — generalized variable-length
  * integers with the bias adaptation schedule (damp 700, skew 38,
  * tmin/tmax 1/26), codepoint insertion order — implemented from the
  * public RFC, pure JVM.
  *
  * Conformance split (the x198/x199 pattern): fixtures are ENCODED by
  * the official `java.net.IDN` (JDK); this decoder inverts them from
  * scratch and the spec additionally cross-checks `IDN.toUnicode`
  * agreement plus the RFC's own published test shape.
  *
  * Structural lies quarantine (None): a non-basic char in the basic
  * prefix, an invalid digit char, arithmetic overflow in i/w/n (the
  * RFC's MUST-detect overflow cases), a codepoint beyond U+10FFFF, or a
  * truncated variable-length integer.
  */
object Punycode {

  private val Base = 36
  private val TMin = 1
  private val TMax = 26
  private val Skew = 38
  private val Damp = 700
  private val InitialBias = 72
  private val InitialN = 128

  private def digit(c: Char): Int =
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c >= 'A' && c <= 'Z') c - 'A'
    else if (c >= '0' && c <= '9') c - '0' + 26
    else -1

  private def adapt(delta0: Int, numPoints: Int, firstTime: Boolean): Int = {
    var delta = if (firstTime) delta0 / Damp else delta0 / 2
    delta += delta / numPoints
    var k = 0
    while (delta > ((Base - TMin) * TMax) / 2) {
      delta /= Base - TMin
      k += Base
    }
    k + ((Base - TMin + 1) * delta) / (delta + Skew)
  }

  /** RFC 3492 §6.2: decode one punycode body (no "xn--" prefix). */
  def decodeLabel(s: String): Option[String] = {
    val delim = s.lastIndexOf('-')
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var p = 0
    if (delim > 0) {
      while (p < delim) {
        val c = s.charAt(p)
        if (c >= 0x80) return None // basic prefix must be basic
        out += c.toInt
        p += 1
      }
      p = delim + 1
    }
    // delim == 0 (leading '-', no basic part) intentionally falls through
    // with p = 0: the RFC reference decoder (punycode.c) copies basic
    // chars only when the last delimiter is PAST position 0, so the '-'
    // is then consumed as a digit, fails, and quarantines — matched here.
    var n = InitialN
    var i = 0
    var bias = InitialBias
    while (p < s.length) {
      val oldi = i
      var w = 1
      var k = Base
      var done = false
      while (!done) {
        if (p >= s.length) return None // truncated integer
        val d = digit(s.charAt(p)); p += 1
        if (d < 0) return None
        if (d > (Int.MaxValue - i) / w) return None // overflow (RFC MUST)
        i += d * w
        val t = if (k <= bias) TMin else if (k >= bias + TMax) TMax else k - bias
        if (d < t) done = true
        else {
          if (w > Int.MaxValue / (Base - t)) return None
          w *= Base - t
          k += Base
        }
      }
      bias = adapt(i - oldi, out.length + 1, oldi == 0)
      if (i / (out.length + 1) > Int.MaxValue - n) return None
      n += i / (out.length + 1)
      i %= out.length + 1
      if (n > 0x10ffff || (n >= 0xd800 && n <= 0xdfff)) return None
      out.insert(i, n)
      i += 1
    }
    val sb = new java.lang.StringBuilder()
    out.foreach(sb.appendCodePoint)
    Some(sb.toString)
  }

  /** Decode a dotted hostname: every "xn--" label through
    * [[decodeLabel]], others pass through; any bad label quarantines the
    * whole host. */
  def decodeHost(host: String): Option[String] = {
    val labels = host.split("\\.", -1)
    val out = new Array[String](labels.length)
    var j = 0
    while (j < labels.length) {
      val l = labels(j)
      if (l.length >= 4 && l.substring(0, 4).equalsIgnoreCase("xn--")) {
        // bare "xn--" (empty body) is a structural lie, not an empty
        // label — decodeLabel would vacuously return "" (review-found)
        if (l.length == 4) return None
        decodeLabel(l.substring(4)) match {
          case Some(u) => out(j) = u
          case None => return None
        }
      } else out(j) = l
      j += 1
    }
    Some(out.mkString("."))
  }
}

/** Deterministic IDN corpus: unicode hostnames from a codepoint-palette
  * formula, encoded to ASCII by the OFFICIAL java.net.IDN (the JDK's
  * RFC 3490 implementation); every 5th host is pure ASCII (pass-through
  * rows are load-bearing). Host Z: label "w{Z}" + (3 + Z%4) palette
  * chars at indices (Z*7 + j*3) % 8, + ".example.com". */
object IdnFixture {
  val dir = Fixture.dir("graft_idn")
  val payloadPath = s"$dir/hosts"

  /** Latin-1, Greek, Cyrillic, Devanagari, Hiragana, CJK — BMP spread. All
    * nameprep-STABLE codepoints (lowercase, NFC-invariant): IDN.toASCII
    * runs RFC 3491 nameprep first, so an uppercase letter (Ж) would
    * round-trip as its case-fold and break the formula oracle. */
  val palette: Array[Int] = Array(233, 252, 241, 945, 1078, 2309, 12354, 20013)

  def unicodeHost(z: Long): String = {
    if (z % 5 == 0) s"w$z.example.com"
    else {
      val sb = new java.lang.StringBuilder(s"w$z")
      (0 until (3 + (z % 4)).toInt).foreach { j =>
        sb.appendCodePoint(palette(((z * 7 + j * 3) % 8).toInt))
      }
      sb.toString + ".example.com"
    }
  }

  def asciiHost(z: Long): String = java.net.IDN.toASCII(unicodeHost(z))

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    (0L until 300L)
      .map(z => (z, asciiHost(z)))
      .toDF("host_id", "ascii_host")
      .coalesce(1).write.mode("overwrite").parquet(payloadPath)
  }
}
