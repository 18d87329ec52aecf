package graft.operators

import graft.Graft
import graft.Graft.table
import graft.sources.{Fixture, Payloads}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** Training-data curation operators [EXT] — the filter/scrub stages a
  * large-scale LLM data pipeline runs between ingest and dedup:
  *
  *   - x17 PII redaction: emails / IPv4s / phone numbers replaced with
  *     typed placeholders, per-doc match counts; one codegen'd scan, no
  *     shuffle — the 100 TB shape. (Patterns chosen to behave identically
  *     under Java regex and DuckDB's RE2.)
  *   - x18 benchmark decontamination: flag corpus docs sharing any exact
  *     word-4-gram with a benchmark set (stand-in benchmark: doc_id % 50
  *     = 0). Inverted-index semi-join on the gram key — never all-pairs;
  *     the benchmark side is small, so its gram set broadcast-joins at
  *     scale.
  *   - x19 repetition detection (Gopher-style): top word-2-gram frequency
  *     fraction per doc; docs above threshold are the boilerplate/spam
  *     candidates. Two hash aggregations + a per-doc argmax.
  *
  * All three are oracle-checked end-to-end; planted-input behavior (real
  * PII, real contamination) is additionally pinned in CurationSpec.
  */
object Curation {

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\+\\d[\\d -]{7,}\\d"

  private def toks: Column = split(lower(trim(col("text"))), "\\s+")

  /** word-n-gram strings per doc; `dedup = false` skips the per-doc
    * distinct shuffle for callers that filter grams map-side first (x46) */
  private def wordGrams(s: SparkSession, d: String, n: Int, dedup: Boolean = true): DataFrame = {
    val g = table(s, d, "documents")
      .select(col("doc_id"), toks.as("w"))
      .where(size(col("w")) >= n)
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), size(col("w")) - n),
            i => concat_ws(" ", (1 to n).map(k => element_at(col("w"), i + k)): _*)
          )
        ).as("gram")
      )
    if (dedup) g.distinct() else g
  }

  /** The PII scrub as a reusable Column — email/IPv4/phone → placeholder
    * tokens, three chained codegen'd regexp_replace passes. Stateless and
    * per-row, so the same expression runs in batch (x17) and inside a
    * streaming query ([[graft.streaming.EventStreams.curateDocs]]). */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"),
      PhoneRe,
      "<PHONE>"
    )

  /** Mojibake repair (x204): if every char of `u` fits one byte and that
    * byte string is STRICTLY valid UTF-8 decoding to something else, `u`
    * is a Latin-1 misread of UTF-8 text — return the repair. Strictness
    * is the whole detector: a genuine Latin-1 'é' mid-ASCII is an invalid
    * UTF-8 lead byte, so clean accented text never false-positives; only
    * the characteristic Ã/Â two-byte shapes decode. (A document that
    * legitimately CONTAINS "Ã©" is indistinguishable from mojibake by
    * construction — the inherent ambiguity of the repair, spec-pinned.)
    * One repair pass undoes ONE layer of double-encoding; run to fixpoint
    * for deeper stacks (the gate plants one layer). */
  private[operators] def demojibake(u: String): Option[String] = {
    var i = 0
    while (i < u.length) { if (u.charAt(i) >= 0x100) return None; i += 1 }
    val bytes = new Array[Byte](u.length)
    i = 0
    while (i < u.length) { bytes(i) = u.charAt(i).toByte; i += 1 }
    val dec = java.nio.charset.StandardCharsets.UTF_8
      .newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (out != u) Some(out) else None
    } catch { case _: java.nio.charset.CharacterCodingException => None }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Filter-attribution matrix (x240) — the instrument a filter STACK
    // needs that per-filter gates (x19/x51/x60) can't give: which
    // filter kills how much, what ONLY it catches (unique kills — a
    // filter with zero unique kills is dead weight), and how filters
    // overlap pairwise (Jaccard between kill sets — near-1 pairs are
    // redundant). Five integer-ppm filters from ONE per-doc token
    // census (length, mean token length, repetition, diversity,
    // stopword ratio) fold into a 5-bit mask per doc; EVERYTHING
    // downstream — per-filter kills, unique kills, all 10 pairwise
    // overlaps, the any-filter total — is conditional sums over the
    // ≤32-row mask census. Scale shape: one corpus pass with map-side
    // combine, then 32-row arithmetic; no filter is ever re-scanned.
    "x240_filter_attribution" -> ((s, d) => {
      val stop = Seq("the", "of", "and", "to", "in", "a")
      val perDoc = table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("t"))
        .groupBy("doc_id", "t")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(
          sum("cnt").as("n_tokens"),
          count(lit(1)).as("n_types"),
          max("cnt").as("max_cnt"),
          sum(expr("length(t) * cnt")).as("sum_len"),
          sum(when(col("t").isin(stop: _*), col("cnt")).otherwise(0L)).as("stop_cnt")
        )
      val mask = perDoc
        .select(
          (when(expr("n_tokens < 30"), 1L).otherwise(0L) +
            when(expr("sum_len * 100 < n_tokens * 300 OR sum_len * 100 > n_tokens * 800"), 2L).otherwise(0L) +
            when(expr("max_cnt * 10 > n_tokens"), 4L).otherwise(0L) +
            when(expr("n_types * 100 < n_tokens * 40"), 8L).otherwise(0L) +
            when(expr("stop_cnt * 100 < n_tokens * 5"), 16L).otherwise(0L)).as("mask")
        )
        .groupBy("mask")
        .agg(count(lit(1)).as("cnt"))
      val names = Seq("len", "meanlen", "repeat", "diversity", "stopword")
      val killCols = (0 until 5).map(i => sum(expr(s"IF((mask >> $i) & 1 = 1, cnt, 0L)")).as(s"k$i"))
      val uniqCols = (0 until 5).map(i => sum(expr(s"IF(mask = ${1 << i}, cnt, 0L)")).as(s"u$i"))
      val pairIdx = for (i <- 0 until 5; j <- i + 1 until 5) yield (i, j)
      val pairCols = pairIdx.map { case (i, j) =>
        sum(expr(s"IF((mask >> $i) & 1 = 1 AND (mask >> $j) & 1 = 1, cnt, 0L)")).as(s"p${i}_$j")
      }
      val base = Seq(sum("cnt").as("n_docs"), sum(expr("IF(mask != 0, cnt, 0L)")).as("killed"))
      val aggs = killCols ++ uniqCols ++ pairCols ++ base
      val one = mask.agg(aggs.head, aggs.tail: _*)
      val filterStack = (0 until 5)
        .map(i => s"'filter:${names(i)}', k$i, u$i, IF(n_docs = 0, 0L, (k$i * 1000000) div n_docs)")
        .mkString(", ")
      val pairStack = pairIdx
        .map { case (i, j) =>
          s"'pair:${names(i)}&${names(j)}', p${i}_$j, k$i + k$j - p${i}_$j, " +
            s"IF(k$i + k$j - p${i}_$j = 0, 0L, (p${i}_$j * 1000000) div (k$i + k$j - p${i}_$j))"
        }
        .mkString(", ")
      one
        .selectExpr(
          s"stack(16, $filterStack, $pairStack, 'any', killed, n_docs, " +
            "IF(n_docs = 0, 0L, (killed * 1000000) div n_docs)) AS (name, n, n2, ratio_ppm)"
        )
        .orderBy("name")
    }),
    // Mojibake detection + repair (x204) — the encoding-hygiene stage a
    // web corpus needs before any text operator (CP1252/Latin-1 misreads
    // of UTF-8 are the dominant encoding corruption in crawled text):
    // every doc gets a Latin-1 suffix appended (" café ü straße" — the
    // corpus is pure ASCII, where misreads are invisible by identity),
    // and the doc_id % 7 == 3 stripe is then CORRUPTED in-query by the
    // exact misread transform (chars := UTF-8 bytes, the x101/x94
    // plant-in-query class). [[demojibake]] must repair EXACTLY the
    // stripe: genuine Latin-1 accents are invalid UTF-8 lead bytes, so
    // the clean rows prove the no-false-positive half. The oracle
    // rebuilds every field from the plant formulas (dirty length =
    // octet_length of the clean text — the misread's char count IS the
    // byte count). Per-row mapPartitions, zero shuffles before the sort.
    "x204_mojibake" -> ((s, d) => {
      val schema = StructType(
        Seq(
          StructField("doc_id", LongType),
          StructField("mojibake", BooleanType),
          StructField("dirty_chars", LongType),
          StructField("clean_chars", LongType),
          StructField("clean_md5", StringType)
        )
      )
      val enc = org.apache.spark.sql.Encoders.row(schema)
      val suffix = " café ü straße"
      table(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .mapPartitions { it =>
          it.map { r =>
            val id = r.getAs[Long]("doc_id")
            val clean = r.getAs[String]("text") + suffix
            val dirty =
              if (id % 7 == 3) new String(clean.getBytes("UTF-8"), "ISO-8859-1")
              else clean
            val (flag, repaired) = demojibake(dirty) match {
              case Some(fixed) => (true, fixed)
              case None => (false, dirty)
            }
            val hex = Payloads.md5Hex(repaired.getBytes("UTF-8"))
            // codePointCount, not String.length: the oracle's length()
            // counts CODEPOINTS, and astral chars (which the repair
            // handles — 4-byte UTF-8) are 2 UTF-16 units (review-found)
            Row(
              id,
              flag,
              dirty.codePointCount(0, dirty.length).toLong,
              repaired.codePointCount(0, repaired.length).toLong,
              hex
            )
          }
        }(enc)
        .orderBy("doc_id")
    }),

    // IDN / punycode hostname decode (x206) — x58's missing hostname
    // face: internationalized domains hide behind RFC 3492 "xn--" ACE
    // labels, so URL dedup keyed on the ASCII form misses unicode twins.
    // Fixture hosts are encoded by the OFFICIAL java.net.IDN (the
    // x198/x199 conformance split); [[graft.functions.Punycode]] decodes
    // them from scratch — full variable-length-integer + bias-adaptation
    // loop — and the oracle rebuilds every unicode host from the
    // codepoint-palette formula via chr(), so one wrong insertion index
    // or bias step anywhere flips a string. Pure-ASCII hosts pass
    // through untouched (load-bearing negatives). Per-row map, zero
    // shuffles before the sort.
    "x206_idn_decode" -> ((s, _) => {
      graft.functions.IdnFixture.ensure(s)
      val schema = StructType(
        Seq(
          StructField("host_id", LongType),
          StructField("unicode_host", StringType),
          StructField("n_ace", LongType)
        )
      )
      val enc = org.apache.spark.sql.Encoders.row(schema)
      Graft.parquet(s, graft.functions.IdnFixture.payloadPath)
        .mapPartitions { it =>
          it.map { r =>
            val id = r.getAs[Long]("host_id")
            val ascii = r.getAs[String]("ascii_host")
            graft.functions.Punycode.decodeHost(ascii) match {
              case Some(u) =>
                val nAce = ascii.split("\\.", -1).count(_.toLowerCase.startsWith("xn--")).toLong
                Row(id, u, nAce)
              case None => Row(id, null, null)
            }
          }
        }(enc)
        .orderBy("host_id")
    }),

    // Luhn-validated payment-card redaction (x209) — the PRECISION
    // upgrade of x17's pattern scrub: a bare 13–19-digit regex
    // false-positives on order numbers and tracking ids, so production
    // PII scrubbers gate the redaction on the Luhn checksum (ISO/IEC
    // 7812), which a random digit run fails 9 times in 10. Both plants
    // are in-query (the x204 class): a Luhn-VALID card lands on the
    // id%11==5 stripe (must redact) and a checksum-INVALID twin — same
    // digits, last digit bumped — on id%11==7 (must NOT redact: the
    // false-positive control). The checksum is one codegen'd
    // aggregate() over the digit positions — no UDF; the oracle replays
    // digit-for-digit. Per-row expressions, zero shuffles before the
    // sort.
    "x209_luhn_redact" -> ((s, d) => {
      val luhnSum =
        "aggregate(sequence(0, length(cand) - 1), 0, (acc, i) -> acc + " +
          "IF(i % 2 = 1, " +
          "IF(2 * CAST(substring(cand, length(cand) - i, 1) AS INT) > 9, " +
          "2 * CAST(substring(cand, length(cand) - i, 1) AS INT) - 9, " +
          "2 * CAST(substring(cand, length(cand) - i, 1) AS INT)), " +
          "CAST(substring(cand, length(cand) - i, 1) AS INT)))"
      table(s, d, "documents")
        .select(
          col("doc_id"),
          concat(
            col("text"),
            when(col("doc_id") % 11 === 5, lit(" card 4539578763621486 on file"))
              .when(col("doc_id") % 11 === 7, lit(" ref 4539578763621487 code"))
              .otherwise(lit(""))
          ).as("t")
        )
        .withColumn("cand", regexp_extract(col("t"), "([0-9]{13,19})", 1))
        .withColumn("cc_found", col("cand") =!= "")
        .withColumn(
          "luhn_valid",
          col("cc_found") && expr(s"$luhnSum % 10 = 0")
        )
        .select(
          col("doc_id"),
          col("cc_found"),
          col("luhn_valid"),
          md5(when(col("luhn_valid"), regexp_replace(col("t"), "[0-9]{13,19}", "<CC>")).otherwise(col("t")))
            .as("redacted_md5")
        )
        .orderBy("doc_id")
    }),

    // k-anonymity release (x171, Sweeney 2002) — the data-release
    // governance verb beside x17 (PII scrub), x92 (data card) and x145
    // (erasure audit): an aggregate over quasi-identifiers (lang ×
    // source × 100-char length bucket) may only publish groups of ≥ k
    // individuals; smaller groups are SUPPRESSED — pooled into one
    // '*'-generalized row so the release still accounts for every
    // document (mass conservation is part of the contract, and the gate
    // pins it via a broadcast total). k_ok rides per released row: the
    // release is re-audited in the same query (the x13/x159 in-query
    // contract discipline). One grouped census, metadata-sized output.

    // Unicode NFC normalization keys (x184, UAX #15) — the canonical-
    // equivalence face of text dedup: "café" typed with a precomposed
    // U+00E9 and with "e"+COMBINING ACUTE are byte-different, render
    // identically, and MUST collapse to one dedup key (x10's raw-md5
    // fingerprints split them). Engine side is java.text.Normalizer NFC
    // (pure JDK); the oracle is DuckDB's independent `nfc_normalize` —
    // TWO implementations of the Unicode algorithm checked against each
    // other per document (the PngPixels/ImageIO conformance split, here
    // at the gate itself). The corpus is ASCII, so the unicode regime is
    // PLANTED in-query (x101 device), covering the three hard paths:
    // precomposed-vs-combining (é), canonical REORDERING with
    // non-adjacent composition (A + U+0308 + U+0331 in both orders — the
    // below-mark sorts first, the above-mark still composes across it),
    // and a singleton decomposition (U+212B ANGSTROM → U+00C5 Å).
    // ascii_stable pins the identity path. Per-row map, zero shuffles
    // before the sort (the byte/string-codec mapPartitions class).
    "x184_nfc_keys" -> ((s, d) => {
      val suffixA = " caf\u00e9 A\u0308\u0331 \u212b"
      val suffixB = " cafe\u0301 A\u0331\u0308 \u00c5"
      val base = table(s, d, "documents")
        .select(col("doc_id"), lower(trim(col("text"))).as("base"))
        .select(
          col("doc_id"),
          col("base"),
          concat(col("base"), lit(suffixA)).as("va"),
          concat(col("base"), lit(suffixB)).as("vb")
        )
      val schema = StructType(
        Seq(
          StructField("doc_id", LongType),
          StructField("ascii_stable", BooleanType),
          StructField("nfc_match", BooleanType),
          StructField("key", StringType)
        )
      )
      val enc = org.apache.spark.sql.Encoders.row(schema)
      base
        .mapPartitions { it =>
          def nfc(x: String): String =
            java.text.Normalizer.normalize(x, java.text.Normalizer.Form.NFC)
          def m(x: String): String = Payloads.md5Hex(x.getBytes("UTF-8"))
          it.map { r =>
            val b = r.getAs[String]("base")
            val na = nfc(r.getAs[String]("va"))
            val nb = nfc(r.getAs[String]("vb"))
            Row(r.getAs[Long]("doc_id"), nfc(b) == b, m(na) == m(nb), m(na))
          }
        }(enc)
        .orderBy("doc_id")
    }),
    "x171_k_anonymity" -> ((s, d) => {
      val k = 5L
      val census = table(s, d, "documents")
        .groupBy(col("lang"), col("source"), expr("(n_chars div 100) * 100").as("len_bucket"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // two plan refs: released rows, suppressed pool
      val released = census
        .where(col("n") >= k)
        .select(col("lang"), col("source"), col("len_bucket").cast("string").as("len_bucket"), col("n"))
      val suppressed = census
        .where(col("n") < k)
        .agg(coalesce(sum("n"), lit(0L)).as("n"), coalesce(count(lit(1)), lit(0L)).as("n_cells"))
        .select(lit("*").as("lang"), lit("*").as("source"), lit("*").as("len_bucket"), col("n"), col("n_cells"))
      val total = census.agg(sum("n").as("n_total"))
      released
        .withColumn("n_cells", lit(1L))
        .unionByName(suppressed)
        .crossJoin(broadcast(total))
        .withColumn("k_ok", col("lang") === "*" || col("n") >= k)
        .orderBy("lang", "source", "len_bucket")
    }),

    // ---- corrupt-record quarantine ingestion -------------------------------
    // x122: PERMISSIVE CSV parse + per-row quarantine (see CorruptCsv) —
    // every input line lands exactly once: parsed ('good') or quarantined
    // with a reason code. Spark's parser only raises the corrupt channel
    // for UNPARSEABLE fields; an under-length row is silently padded with
    // nulls (found empirically — the gate caught truncated rows landing
    // as 'good'), so the reader enforces the required-field contract
    // itself: missing required field ⇒ 'truncated'. When the raw line IS
    // available (corrupt channel), the reason comes from its field
    // census, not parser state. The gate pins the full census per class:
    // counts, key sums (quarantined keys recovered from the raw text —
    // the re-drive path an operator would use), and parsed-cents totals.
    // One distributed scan, splittable, no driver loop.
    "x122_corrupt_quarantine" -> ((s, d) => {
      graft.sources.CorruptCsv.ensure(s, d)
      graft.sources.CorruptCsv
        .read(s, d)
        .select(
          when(
            col("_corrupt").isNotNull,
            when(size(split(col("_corrupt"), ",")) < 3, "truncated").otherwise("bad_value")
          ).when(col("o_totalprice").isNull, "truncated") // parser-padded short row
            .otherwise("good")
            .as("class"),
          coalesce(col("o_orderkey"), split(col("_corrupt"), ",").getItem(0).cast("long"))
            .as("k"),
          col("o_totalprice")
        )
        .groupBy("class")
        .agg(
          count(lit(1)).as("n"),
          sum("k").as("key_sum"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents")
        )
        .orderBy("class")
    }),

    // ---- PII redaction: single codegen'd scan ------------------------------
    "x17_pii_redact" -> ((s, d) => {
      val redacted = redact(col("text"))
      table(s, d, "documents")
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ips"),
          regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
          md5(redacted).as("redacted_md5")
        )
        .orderBy("doc_id")
    }),

    // ---- benchmark decontamination: gram-key semi join ---------------------
    // n-gram NOVELTY rate (x137) — the eval-hygiene METRIC next to the
    // decontamination OPERATORS (x18 drops exact twins, x67 drops spans;
    // this measures, per language, how much of the heldout half's 5-gram
    // mass already appears in the train half — the memorization /
    // overlap statistic dataset cards report before anyone trusts an
    // eval number). Grams hash through the module-wide md5 window; the
    // train side collapses to a DISTINCT hash set (corpus-shaped but
    // dedup'd), the membership probe is one equi-join, and the per-lang
    // census is a single hash agg — no caps needed, nothing quadratic.
    "x137_ngram_novelty" -> ((s, d) => {
      val n = 5
      val grams = table(s, d, "documents")
        .select(col("doc_id"), col("lang"), toks.as("w"))
        .where(size(col("w")) >= n)
        .select(
          col("doc_id"),
          col("lang"),
          explode(expr(s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))")).as("g")
        )
        .select(col("doc_id"), col("lang"), graft.functions.Hashing.md5Window15(col("g")).as("h"))
        .localCheckpoint() // two plan refs: train set, heldout probe
      val train = grams.where(col("doc_id") % 2 === 0).select("h").distinct()
      grams
        .where(col("doc_id") % 2 === 1)
        .join(train.withColumn("seen", lit(1L)), Seq("h"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
        .withColumn("novelty_ppm", expr("((n_grams - n_seen) * 1000000) div n_grams"))
        .orderBy("lang")
    }),
    "x18_decontaminate" -> ((s, d) => {
      val grams = wordGrams(s, d, 4)
      val bench = grams.where(col("doc_id") % 50 === 0).select("gram").distinct()
      grams
        .where(col("doc_id") % 50 =!= 0)
        .join(bench, "gram") // inner on the gram key; count of distinct shared grams
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    }),

    // ---- Bloom-filter decontamination (the compact-filter scale path) -----
    // x18 joins corpus grams against the benchmark gram SET — exact, but at
    // 100 TB the benchmark set itself can be too large to broadcast and the
    // join shuffles every corpus gram. The Bloom path compresses the
    // benchmark to a fixed ~8 KiB bit array (1041 63-bit int64 blocks — bit 63 stays clear
    // because DuckDB rejects sign-bit shifts — k=3
    // md5-window hashes) built with one bit_or aggregation, then probes
    // corpus grams against the BROADCAST bitset — no shuffle carries
    // benchmark data. Flags are a deterministic superset of x18's (false
    // positives possible, bounded by (1-e^{-kn/m})^k; zero on the sf
    // fixtures — CurationSpec pins the superset law). Every hash/bit step
    // is integer arithmetic the oracle replicates exactly.
    "x46_bloom_decontaminate" -> ((s, d) => {
      val m = 65536L
      val nBlocks = (m / 63 + 1).toInt
      val starts = Seq(1, 9, 17) // md5 hex windows → k=3 independent hashes
      def pos(st: Int) = conv(substring(col("h"), st, 15), 16, 10).cast("long") % m
      val grams = wordGrams(s, d, 4)
      // Build: one bit_or aggregation over the benchmark gram hashes →
      // densified into a SINGLE array row (≤1041 int64 blocks, 8 KiB FIXED
      // regardless of benchmark cardinality) that cross-joins as a 1-row
      // broadcast — the tiny-metadata exception (see x25/x27). Staying one
      // DAG (no driver collect) keeps the shared gram-scan subtree
      // reusable by Spark's exchange reuse.
      val bloomRow = grams
        .where(col("doc_id") % 50 === 0)
        .select(md5(col("gram")).as("h"))
        .select(explode(array(starts.map(pos): _*)).as("pos"))
        .groupBy(expr("pos div 63").as("blk"))
        .agg(expr("bit_or(shiftleft(1L, cast(pos % 63 as int)))").as("bits"))
        .agg(map_from_entries(collect_list(struct(col("blk"), col("bits")))).as("bm"))
        .select(
          transform(sequence(lit(0L), lit(nBlocks - 1L)), i => coalesce(element_at(col("bm"), i), lit(0L)))
            .as("bloom_arr")
        )
      // Probe: 3 map-side bit tests per RAW gram against the broadcast
      // array — BEFORE any shuffle. x18 (and the naive bloom) must
      // distinct-shuffle every (doc, gram) string first; here only the
      // grams that pass the filter (≈ true contaminations + the tiny FP
      // band) ever reach the distinct, so the shuffle volume collapses
      // from the whole corpus gram stream to the contamination set. This
      // is the filter-pushdown shape a Bloom exists for.
      def bitSet(st: Int): Column = {
        val p = pos(st)
        val blk = (p.cast("double") / 63).cast("int") + lit(1) // element_at is 1-based
        val bit = (p % 63L).cast("int")
        call_function("shiftright", element_at(col("bloom_arr"), blk), bit).bitwiseAND(lit(1L)) === lit(1L)
      }
      wordGrams(s, d, 4, dedup = false)
        .where(col("doc_id") % 50 =!= 0)
        .withColumn("h", md5(col("gram")))
        .crossJoin(broadcast(bloomRow))
        .where(starts.map(bitSet).reduce(_ && _))
        .select("doc_id", "gram")
        .distinct()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bloom_hits"))
        .orderBy("doc_id")
    }),

    // ---- compression quality signal — hash-checked at last (r11) ----------
    "x39_compression_ratio" -> ((s, d) =>
      compressionCensus(table(s, d, "documents")).orderBy("doc_id")),

    // ---- line-level boilerplate dedup (CCNet-style) ------------------------
    // Remove the lines that repeat across many documents (nav bars, cookie
    // banners, signatures) while keeping each document's unique content in
    // its original line order. The corpus-wide line-frequency table is one
    // hash aggregation on the normalized line key; the filter joins lines
    // back to that table on the same key (inverted-index shape — at 100 TB
    // the high-df boilerplate table is tiny and broadcasts). The sf tables
    // carry no newlines, so this runs on a planted 400-doc fixture whose
    // boilerplate/unique structure both engines read from parquet.
    "x41_line_dedup" -> ((s, _) => {
      LineFixture.ensure(s)
      val lines = Graft.parquet(s, LineFixture.docsPath)
        .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
        .withColumn("lkey", lower(trim(col("line"))))
      val lineDf = lines.groupBy("lkey").agg(countDistinct("doc_id").as("line_df"))
      lines
        .join(lineDf, "lkey")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when(col("line_df") < LineFixture.dfThreshold, 1L).otherwise(0L)).as("n_kept"),
          sort_array(
            collect_list(when(col("line_df") < LineFixture.dfThreshold, struct(col("pos"), col("line"))))
          ).as("kept")
        )
        .select(
          col("doc_id"),
          col("n_lines"),
          col("n_kept"),
          md5(concat_ws("\n", transform(col("kept"), x => x.getField("line")))).as("kept_md5")
        )
        .orderBy("doc_id")
    }),

    // ---- repetition detection (top-2-gram fraction) ------------------------
    "x19_repetition" -> ((s, d) => {
      val grams = table(s, d, "documents")
        .select(col("doc_id"), toks.as("w"))
        .where(size(col("w")) >= 2)
        .select(
          col("doc_id"),
          explode(
            transform(sequence(lit(0), size(col("w")) - 2), i =>
              concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2)))
          ).as("gram")
        )
      val counts = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("gram"))
      counts
        .withColumn("tot", sum("cnt").over(Window.partitionBy("doc_id")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .withColumn("rep_ratio", col("cnt").cast("double") / col("tot").cast("double"))
        .where(col("rep_ratio") >= 0.1)
        .select(col("doc_id"), col("gram").as("top_gram"), col("cnt").as("top_cnt"), col("tot").as("n_grams"), col("rep_ratio"))
        .orderBy("doc_id")
    }),

    // ---- URL canonicalization + dedup --------------------------------------
    // The web-corpus ingest gate: collapse surface URL variants (scheme and
    // host case, `www.`, explicit ports, trailing slash, fragments) onto one
    // canonical (host, path) key, keep the lowest-id capture per key. Built
    // on Spark's parse_url (Hive's URL extraction surface); ports are
    // stripped from the host key (canonicalization is port-insensitive
    // here — documented policy, not an accident). One projection + one hash
    // aggregation: the 100 TB shape is a straight map-side scan, shuffle on
    // the canonical key only.
    "x58_url_canonicalize" -> ((s, _) => {
      UrlFixture.ensure(s)
      Graft.parquet(s, UrlFixture.urlsPath)
        .select(
          col("url_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query")
        )
        .select(
          col("url_id"),
          regexp_replace(regexp_replace(lower(col("host")), ":[0-9]+$", ""), "^www\\.", "")
            .as("canon_host"),
          when(regexp_replace(col("path"), "/$", "") === "", "/")
            .otherwise(regexp_replace(col("path"), "/$", ""))
            .as("canon_path"),
          (col("query").isNotNull && col("query") =!= "").as("has_q")
        )
        .groupBy("canon_host", "canon_path")
        .agg(
          count(lit(1)).as("n_urls"),
          min("url_id").as("keeper_id"),
          sum(when(col("has_q"), 1L).otherwise(0L)).as("n_with_query")
        )
        .orderBy("canon_host", "canon_path")
    }),

    // ---- C4-style rule filter (Raffel et al. 2020 §2.2) --------------------
    // The second classic rule gate next to x51's Gopher rules. Line level:
    // keep lines ending in terminal punctuation, with ≥5 words, not
    // mentioning javascript. Page level: drop pages containing "lorem
    // ipsum", curly braces, or a bad-word hit; then require ≥3 surviving
    // sentences (kept lines, each punctuation-terminated, stand in for
    // sentences). Verdict reports the FIRST violated page rule in a fixed
    // precedence so the output is deterministic under overlapping
    // violations. Single scan + per-doc line explode + one hash agg — at
    // 100 TB this is scan-bound map work, shuffling one row per document.
    "x60_c4_filter" -> ((s, _) => {
      C4Fixture.ensure(s)
      val docs = Graft.parquet(s, C4Fixture.docsPath)
      val lineKeep = col("line").rlike("[.!?\"]$") &&
        size(split(trim(col("line")), "\\s+")) >= 5 &&
        !lower(col("line")).contains("javascript")
      docs
        .select(col("doc_id"), col("text"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
        .withColumn("keep_line", lineKeep)
        .groupBy("doc_id")
        .agg(
          first(col("text")).as("text"),
          count(lit(1)).as("n_lines"),
          sum(when(col("keep_line"), 1L).otherwise(0L)).as("n_kept"),
          // order-deterministic digest: collect (pos, line) structs, sort
          // by pos, THEN join — collect_list order is not a contract
          md5(
            concat_ws(
              "\n",
              transform(
                array_sort(collect_list(when(col("keep_line"), struct(col("pos"), col("line"))))),
                x => x.getField("line")
              )
            )
          ).as("kept_md5")
        )
        .select(
          col("doc_id"),
          col("n_lines"),
          col("n_kept"),
          when(lower(col("text")).contains("lorem ipsum"), "lorem_ipsum")
            .when(col("text").contains("{"), "curly_brace")
            .when(lower(col("text")).rlike("\\bbadword1\\b"), "bad_word")
            .when(col("n_kept") < 3, "too_few_sentences")
            .otherwise("keep")
            .as("verdict"),
          col("kept_md5")
        )
        .orderBy("doc_id")
    })
  )

  /** Compression-ratio quality signal (the third classic text-quality
    * family next to heuristic scoring x08 and repetition x19): highly
    * repetitive/templated text deflates far below natural prose, and a
    * near-1 ratio flags binary/garbage. One Deflater per partition
    * (allocated once, reset per row — the mapPartitions amortization
    * shape), BEST_COMPRESSION for stability. Rows-only in the gate: no SQL
    * engine exposes deflate, so the semantics are pinned by CurationSpec
    * (monotonicity vs repetition, determinism) instead of an oracle. */
  /** x39's gate face, hash-checked at last (rounds 1-10 it was the one
    * rows-only row — no SQL engine exposes deflate). Two legs per doc:
    *
    *   - OWN ENCODER, byte-exact: [[graft.sources.Deflate.deflateRaw]]
    *     with `AllowStored` emits the RFC 1951 §3.2.4 stored-block
    *     stream, whose bytes are a PURE FUNCTION of the input
    *     (BFINAL/LEN/NLEN headers + raw 65535-byte chunks) — DuckDB
    *     reconstructs the stream hex-for-hex in SQL, so the md5 and the
    *     closed-form length (n + 5·⌈n/65535⌉; single block at gate doc
    *     sizes) are real oracles over real encoder output.
    *   - REAL CODEC, invariant-checked: the java.util.zip.Deflater
    *     compression still runs (the quality signal the row is named
    *     for), and its raw stream is decoded by BOTH java.util.zip
    *     .Inflater and graft's own from-scratch [[graft.sources.Inflate]]
    *     (x264) — the three-way roundtrip equality is the oracle-able
    *     column. The exact ratio value stays pinned by CurationSpec
    *     (monotonicity vs repetition, determinism) where SQL can't reach.
    */
  def compressionCensus(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(
      Seq(
        StructField("doc_id", LongType),
        StructField("n_bytes", LongType),
        StructField("stored_bytes", LongType),
        StructField("stored", BinaryType),
        StructField("roundtrip_ok", BooleanType)
      )
    )
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs
      .select(col("doc_id"), col("text"))
      .mapPartitions { it =>
        // raw (nowrap) streams so graft's own raw-DEFLATE inflater can
        // decode the JDK encoder's output — the cross-implementation leg
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION, true)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit] { _ => d.end() })
        val tmp = new Array[Byte](1 << 16)
        it.map { r =>
          val bytes = r.getString(1).getBytes("UTF-8")
          val stored = graft.sources.Deflate.deflateRaw(bytes, graft.sources.Deflate.AllowStored)
          d.reset(); d.setInput(bytes); d.finish()
          val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 16)
          while (!d.finished()) bos.write(tmp, 0, d.deflate(tmp))
          val comp = bos.toByteArray
          val jdkBack = graft.sources.Inflate
            .rawJdk(comp, 0, comp.length, bytes.length)
            .exists(o => java.util.Arrays.equals(o.data, bytes))
          val ownBack = graft.sources.Inflate
            .raw(comp, 0, comp.length, math.max(bytes.length, 1))
            .exists(o => java.util.Arrays.equals(o.data, bytes))
          org.apache.spark.sql.Row(
            r.getLong(0),
            bytes.length.toLong,
            stored.length.toLong,
            stored,
            jdkBack && ownBack
          )
        }
      }(enc)
      .select(
        col("doc_id"),
        col("n_bytes"),
        col("stored_bytes"),
        md5(hex(col("stored"))).as("stored_md5"),
        col("roundtrip_ok")
      )
  }

  def compressionRatio(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(
      Seq(
        StructField("doc_id", LongType),
        StructField("n_bytes", LongType),
        StructField("deflate_bytes", LongType),
        StructField("ratio_e6", LongType)
      )
    )
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id"), col("text")).mapPartitions { it =>
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
      // Deflater holds native (off-heap) buffers until end() — releasing at
      // task completion, not finalization, keeps repeated runs flat.
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
      val buf = new Array[Byte](1 << 16)
      it.map { r =>
        val bytes = r.getString(1).getBytes("UTF-8")
        d.reset(); d.setInput(bytes); d.finish()
        var out = 0L
        while (!d.finished()) out += d.deflate(buf)
        org.apache.spark.sql.Row(
          r.getLong(0),
          bytes.length.toLong,
          out,
          if (bytes.length == 0) 0L else out * 1000000L / bytes.length
        )
      }
    }(enc)
  }

  def oracles: Map[String, String] = Map(
    // x39: DuckDB rebuilds the stored-block DEFLATE stream hex-for-hex
    // (RFC 1951 §3.2.4 is a pure function of the input at single-block
    // sizes: 01 | LEN le16 | NLEN le16 | raw bytes) and md5s the same
    // uppercase hex string Spark md5s; stored_bytes is the closed form
    // n + 5. The real-codec leg is the always-TRUE roundtrip invariant —
    // three decoders (JDK Inflater, graft Inflate, and the stored-stream
    // construction itself) agreeing on the bytes.
    "x39_compression_ratio" ->
      """WITH d AS (
        |  SELECT doc_id, strlen(text) AS n, upper(hex(encode(text))) AS body_hex
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n,
        |    '01'
        |    || upper(lpad(to_hex(n % 256), 2, '0'))
        |    || upper(lpad(to_hex(n // 256), 2, '0'))
        |    || upper(lpad(to_hex((65535 - n) % 256), 2, '0'))
        |    || upper(lpad(to_hex((65535 - n) // 256), 2, '0'))
        |    || body_hex AS stream_hex
        |  FROM d)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |  CAST(n + 5 AS BIGINT) AS stored_bytes,
        |  md5(stream_hex) AS stored_md5,
        |  TRUE AS roundtrip_ok
        |FROM h ORDER BY doc_id""".stripMargin,
    // x240: the same census, mask fold, and conditional sums.
    "x240_filter_attribution" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t FROM documents),
        |tc AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |pd AS (SELECT doc_id, sum(cnt) AS n_tokens, count(*) AS n_types, max(cnt) AS max_cnt,
        |  sum(length(t) * cnt) AS sum_len,
        |  sum(CASE WHEN t IN ('the','of','and','to','in','a') THEN cnt ELSE 0 END) AS stop_cnt
        |  FROM tc GROUP BY 1),
        |mk AS (SELECT (CASE WHEN n_tokens < 30 THEN 1 ELSE 0 END
        |  + CASE WHEN sum_len * 100 < n_tokens * 300 OR sum_len * 100 > n_tokens * 800 THEN 2 ELSE 0 END
        |  + CASE WHEN max_cnt * 10 > n_tokens THEN 4 ELSE 0 END
        |  + CASE WHEN n_types * 100 < n_tokens * 40 THEN 8 ELSE 0 END
        |  + CASE WHEN stop_cnt * 100 < n_tokens * 5 THEN 16 ELSE 0 END) AS mask, count(*) AS cnt
        |  FROM pd GROUP BY 1),
        |agg AS (SELECT sum(CASE WHEN (mask >> 0) & 1 = 1 THEN cnt ELSE 0 END) AS k0, sum(CASE WHEN (mask >> 1) & 1 = 1 THEN cnt ELSE 0 END) AS k1, sum(CASE WHEN (mask >> 2) & 1 = 1 THEN cnt ELSE 0 END) AS k2, sum(CASE WHEN (mask >> 3) & 1 = 1 THEN cnt ELSE 0 END) AS k3, sum(CASE WHEN (mask >> 4) & 1 = 1 THEN cnt ELSE 0 END) AS k4, sum(CASE WHEN mask = 1 THEN cnt ELSE 0 END) AS u0, sum(CASE WHEN mask = 2 THEN cnt ELSE 0 END) AS u1, sum(CASE WHEN mask = 4 THEN cnt ELSE 0 END) AS u2, sum(CASE WHEN mask = 8 THEN cnt ELSE 0 END) AS u3, sum(CASE WHEN mask = 16 THEN cnt ELSE 0 END) AS u4, sum(CASE WHEN (mask >> 0) & 1 = 1 AND (mask >> 1) & 1 = 1 THEN cnt ELSE 0 END) AS p0_1, sum(CASE WHEN (mask >> 0) & 1 = 1 AND (mask >> 2) & 1 = 1 THEN cnt ELSE 0 END) AS p0_2, sum(CASE WHEN (mask >> 0) & 1 = 1 AND (mask >> 3) & 1 = 1 THEN cnt ELSE 0 END) AS p0_3, sum(CASE WHEN (mask >> 0) & 1 = 1 AND (mask >> 4) & 1 = 1 THEN cnt ELSE 0 END) AS p0_4, sum(CASE WHEN (mask >> 1) & 1 = 1 AND (mask >> 2) & 1 = 1 THEN cnt ELSE 0 END) AS p1_2, sum(CASE WHEN (mask >> 1) & 1 = 1 AND (mask >> 3) & 1 = 1 THEN cnt ELSE 0 END) AS p1_3, sum(CASE WHEN (mask >> 1) & 1 = 1 AND (mask >> 4) & 1 = 1 THEN cnt ELSE 0 END) AS p1_4, sum(CASE WHEN (mask >> 2) & 1 = 1 AND (mask >> 3) & 1 = 1 THEN cnt ELSE 0 END) AS p2_3, sum(CASE WHEN (mask >> 2) & 1 = 1 AND (mask >> 4) & 1 = 1 THEN cnt ELSE 0 END) AS p2_4, sum(CASE WHEN (mask >> 3) & 1 = 1 AND (mask >> 4) & 1 = 1 THEN cnt ELSE 0 END) AS p3_4,
        |  sum(cnt) AS n_docs, sum(CASE WHEN mask <> 0 THEN cnt ELSE 0 END) AS killed FROM mk),
        |u AS (
        |  SELECT 'filter:len' AS name, CAST(k0 AS BIGINT) AS n, CAST(u0 AS BIGINT) AS n2, CAST(CASE WHEN n_docs = 0 THEN 0 ELSE (k0 * 1000000) // n_docs END AS BIGINT) AS ratio_ppm FROM agg
        |  UNION ALL SELECT 'filter:meanlen' AS name, CAST(k1 AS BIGINT) AS n, CAST(u1 AS BIGINT) AS n2, CAST(CASE WHEN n_docs = 0 THEN 0 ELSE (k1 * 1000000) // n_docs END AS BIGINT) AS ratio_ppm FROM agg
        |  UNION ALL SELECT 'filter:repeat' AS name, CAST(k2 AS BIGINT) AS n, CAST(u2 AS BIGINT) AS n2, CAST(CASE WHEN n_docs = 0 THEN 0 ELSE (k2 * 1000000) // n_docs END AS BIGINT) AS ratio_ppm FROM agg
        |  UNION ALL SELECT 'filter:diversity' AS name, CAST(k3 AS BIGINT) AS n, CAST(u3 AS BIGINT) AS n2, CAST(CASE WHEN n_docs = 0 THEN 0 ELSE (k3 * 1000000) // n_docs END AS BIGINT) AS ratio_ppm FROM agg
        |  UNION ALL SELECT 'filter:stopword' AS name, CAST(k4 AS BIGINT) AS n, CAST(u4 AS BIGINT) AS n2, CAST(CASE WHEN n_docs = 0 THEN 0 ELSE (k4 * 1000000) // n_docs END AS BIGINT) AS ratio_ppm FROM agg
        |  UNION ALL SELECT 'pair:len&meanlen', CAST(p0_1 AS BIGINT), CAST(k0 + k1 - p0_1 AS BIGINT), CAST(CASE WHEN k0 + k1 - p0_1 = 0 THEN 0 ELSE (p0_1 * 1000000) // (k0 + k1 - p0_1) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:len&repeat', CAST(p0_2 AS BIGINT), CAST(k0 + k2 - p0_2 AS BIGINT), CAST(CASE WHEN k0 + k2 - p0_2 = 0 THEN 0 ELSE (p0_2 * 1000000) // (k0 + k2 - p0_2) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:len&diversity', CAST(p0_3 AS BIGINT), CAST(k0 + k3 - p0_3 AS BIGINT), CAST(CASE WHEN k0 + k3 - p0_3 = 0 THEN 0 ELSE (p0_3 * 1000000) // (k0 + k3 - p0_3) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:len&stopword', CAST(p0_4 AS BIGINT), CAST(k0 + k4 - p0_4 AS BIGINT), CAST(CASE WHEN k0 + k4 - p0_4 = 0 THEN 0 ELSE (p0_4 * 1000000) // (k0 + k4 - p0_4) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:meanlen&repeat', CAST(p1_2 AS BIGINT), CAST(k1 + k2 - p1_2 AS BIGINT), CAST(CASE WHEN k1 + k2 - p1_2 = 0 THEN 0 ELSE (p1_2 * 1000000) // (k1 + k2 - p1_2) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:meanlen&diversity', CAST(p1_3 AS BIGINT), CAST(k1 + k3 - p1_3 AS BIGINT), CAST(CASE WHEN k1 + k3 - p1_3 = 0 THEN 0 ELSE (p1_3 * 1000000) // (k1 + k3 - p1_3) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:meanlen&stopword', CAST(p1_4 AS BIGINT), CAST(k1 + k4 - p1_4 AS BIGINT), CAST(CASE WHEN k1 + k4 - p1_4 = 0 THEN 0 ELSE (p1_4 * 1000000) // (k1 + k4 - p1_4) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:repeat&diversity', CAST(p2_3 AS BIGINT), CAST(k2 + k3 - p2_3 AS BIGINT), CAST(CASE WHEN k2 + k3 - p2_3 = 0 THEN 0 ELSE (p2_3 * 1000000) // (k2 + k3 - p2_3) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:repeat&stopword', CAST(p2_4 AS BIGINT), CAST(k2 + k4 - p2_4 AS BIGINT), CAST(CASE WHEN k2 + k4 - p2_4 = 0 THEN 0 ELSE (p2_4 * 1000000) // (k2 + k4 - p2_4) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'pair:diversity&stopword', CAST(p3_4 AS BIGINT), CAST(k3 + k4 - p3_4 AS BIGINT), CAST(CASE WHEN k3 + k4 - p3_4 = 0 THEN 0 ELSE (p3_4 * 1000000) // (k3 + k4 - p3_4) END AS BIGINT) FROM agg
        |  UNION ALL SELECT 'any', CAST(killed AS BIGINT), CAST(n_docs AS BIGINT),
        |    CAST(CASE WHEN n_docs = 0 THEN 0 ELSE (killed * 1000000) // n_docs END AS BIGINT) FROM agg)
        |SELECT name, n, n2, ratio_ppm FROM u ORDER BY name""".stripMargin,
    // x204: every field rebuilt from the plant formulas — the repaired
    // text must equal the pre-corruption clean text exactly (md5), and
    // the dirty char count equals the clean text's UTF-8 BYTE count on
    // the corrupted stripe (the misread identity).
    "x204_mojibake" ->
      """WITH b AS (
        |  SELECT doc_id, text || ' café ü straße' AS clean FROM documents)
        |SELECT doc_id,
        |  doc_id % 7 = 3 AS mojibake,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN octet_length(encode(clean))
        |       ELSE length(clean) END AS BIGINT) AS dirty_chars,
        |  CAST(length(clean) AS BIGINT) AS clean_chars,
        |  md5(clean) AS clean_md5
        |FROM b ORDER BY doc_id""".stripMargin,

    // x206: every unicode host rebuilt from the palette formula with
    // chr() — the decode is proven against an independent construction
    // of the plaintext, never the punycode bytes.
    "x206_idn_decode" ->
      """WITH zs AS (SELECT range AS z FROM range(300)),
        |u AS (
        |  SELECT z,
        |    CASE WHEN z % 5 = 0 THEN 'w' || z
        |    ELSE 'w' || z || (
        |      SELECT string_agg(chr(list_extract([233,252,241,945,1078,2309,12354,20013],
        |        CAST((z*7 + j*3) % 8 AS INT) + 1)), '' ORDER BY j)
        |      FROM unnest(generate_series(0, 2 + CAST(z % 4 AS INT))) t(j))
        |    END || '.example.com' AS host
        |  FROM zs)
        |SELECT z AS host_id, host AS unicode_host,
        |  CAST(CASE WHEN z % 5 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_ace
        |FROM u ORDER BY host_id""".stripMargin,

    // x209: identical plant + digit-for-digit Luhn replay; the invalid
    // twin must hash as UNREDACTED text.
    "x209_luhn_redact" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 11 = 5 THEN ' card 4539578763621486 on file'
        |                 WHEN doc_id % 11 = 7 THEN ' ref 4539578763621487 code'
        |                 ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, t, regexp_extract(t, '([0-9]{13,19})', 1) AS cand FROM b),
        |v AS (
        |  SELECT doc_id, t, cand, cand <> '' AS cc_found,
        |    cand <> '' AND coalesce(list_sum(list_transform(range(length(cand)), i ->
        |      CASE WHEN i % 2 = 1 THEN
        |        CASE WHEN 2 * CAST(substr(cand, length(cand) - CAST(i AS INT), 1) AS INT) > 9
        |             THEN 2 * CAST(substr(cand, length(cand) - CAST(i AS INT), 1) AS INT) - 9
        |             ELSE 2 * CAST(substr(cand, length(cand) - CAST(i AS INT), 1) AS INT) END
        |      ELSE CAST(substr(cand, length(cand) - CAST(i AS INT), 1) AS INT) END)), 1) % 10 = 0
        |      AS luhn_valid
        |  FROM c)
        |SELECT doc_id, cc_found, luhn_valid,
        |  md5(CASE WHEN luhn_valid THEN regexp_replace(t, '[0-9]{13,19}', '<CC>', 'g') ELSE t END)
        |    AS redacted_md5
        |FROM v ORDER BY doc_id""".stripMargin,

    // x184: DuckDB's own nfc_normalize is the INDEPENDENT second
    // implementation — chr() builds the same variants, so every row is a
    // cross-engine UAX #15 conformance check, not a formula echo.
    "x184_nfc_keys" ->
      """WITH v AS (
        |  SELECT doc_id, lower(trim(text)) AS base,
        |    lower(trim(text)) || ' caf' || chr(233) || ' A' || chr(776) || chr(817)
        |      || ' ' || chr(8491) AS va,
        |    lower(trim(text)) || ' cafe' || chr(769) || ' A' || chr(817) || chr(776)
        |      || ' ' || chr(197) AS vb
        |  FROM documents)
        |SELECT doc_id,
        |  nfc_normalize(base) = base AS ascii_stable,
        |  md5(nfc_normalize(va)) = md5(nfc_normalize(vb)) AS nfc_match,
        |  md5(nfc_normalize(va)) AS key
        |FROM v ORDER BY doc_id""".stripMargin,

    // x171: the same census + ≥k split; the suppressed pool row exists
    // even when empty (n = 0) so the release schema is stable.
    "x171_k_anonymity" ->
      """WITH census AS (
        |  SELECT lang, source, (n_chars // 100) * 100 AS len_bucket, count(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM census),
        |rel AS (
        |  SELECT lang, source, CAST(len_bucket AS VARCHAR) AS len_bucket,
        |    CAST(n AS BIGINT) AS n, CAST(1 AS BIGINT) AS n_cells
        |  FROM census WHERE n >= 5
        |  UNION ALL
        |  SELECT '*', '*', '*', CAST(coalesce(sum(n), 0) AS BIGINT),
        |    CAST(count(*) AS BIGINT)
        |  FROM census WHERE n < 5)
        |SELECT lang, source, len_bucket, n, n_cells, n_total,
        |  (lang = '*' OR n >= 5) AS k_ok
        |FROM rel, tot ORDER BY lang, source, len_bucket""".stripMargin,
    // x122: the corruption is a pure key formula, so the oracle replays
    // the entire quarantine census from the parquet original without
    // ever reading the CSV — parse, classification, and recovered keys
    // all have to agree with the formulas or a cell flips.
    "x122_corrupt_quarantine" ->
      """WITH cls AS (
        |  SELECT CASE WHEN o_orderkey % 13 = 3 THEN 'truncated'
        |              WHEN o_orderkey % 13 = 7 THEN 'bad_value'
        |              ELSE 'good' END AS class,
        |    o_orderkey AS k,
        |    CASE WHEN o_orderkey % 13 IN (3, 7) THEN NULL
        |         ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
        |  FROM orders)
        |SELECT class, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
    "x17_pii_redact" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
         |  len(regexp_extract_all(text, '$Ipv4Re')) AS n_ips,
         |  len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    // x137: gram slices + the identical md5-window hashes replayed with
    // DuckDB list algebra; the ppm is integer floor division.
    "x137_ngram_novelty" ->
      """WITH d AS (
        |  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(array_to_string(w[i + 1 : i + 5], ' ')), 1, 15))::BIGINT AS h
        |  FROM d, unnest(generate_series(0, len(w) - 5)) t(i)
        |  WHERE len(w) >= 5),
        |tr AS (SELECT DISTINCT h FROM g WHERE doc_id % 2 = 0),
        |held AS (
        |  SELECT lang, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN h IN (SELECT h FROM tr) THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        |  FROM g WHERE doc_id % 2 = 1 GROUP BY lang)
        |SELECT lang, n_grams, n_seen,
        |  ((n_grams - n_seen) * 1000000) // n_grams AS novelty_ppm
        |FROM held ORDER BY lang""".stripMargin,
    "x18_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
        |  FROM w, unnest(generate_series(1, len(w) - 3)) t(i) WHERE len(w) >= 4),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, count(*) AS n_shared
        |FROM g JOIN bench USING (gram) WHERE g.doc_id % 50 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "x19_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
        |  FROM w, unnest(generate_series(1, len(w) - 1)) t(i) WHERE len(w) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id, gram, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS tot,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rk
        |  FROM c)
        |SELECT doc_id, gram AS top_gram, cnt AS top_cnt, cast(tot AS BIGINT) AS n_grams,
        |  cast(cnt AS DOUBLE) / cast(tot AS DOUBLE) AS rep_ratio
        |FROM r WHERE rk = 1 AND cast(cnt AS DOUBLE) / cast(tot AS DOUBLE) >= 0.1
        |ORDER BY doc_id""".stripMargin,
    "x46_bloom_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
        |  FROM w, unnest(generate_series(1, len(w) - 3)) t(i) WHERE len(w) >= 4),
        |bpos AS (
        |  SELECT DISTINCT ('0x' || substr(md5(gram), s, 15))::BIGINT % 65536 AS pos
        |  FROM (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0), unnest([1, 9, 17]) t(s)),
        |bloom AS (
        |  SELECT pos // 63 AS blk, bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        |  FROM bpos GROUP BY 1),
        |probe AS (
        |  SELECT doc_id, gram, ('0x' || substr(md5(gram), s, 15))::BIGINT % 65536 AS pos
        |  FROM g, unnest([1, 9, 17]) t(s) WHERE doc_id % 50 <> 0),
        |chk AS (
        |  SELECT doc_id, gram,
        |    sum(CASE WHEN (bits >> CAST(pos % 63 AS INT)) & 1 = 1 THEN 1 ELSE 0 END) AS hits
        |  FROM probe LEFT JOIN bloom ON pos // 63 = blk
        |  GROUP BY doc_id, gram)
        |SELECT doc_id, count(*) AS n_bloom_hits FROM chk WHERE hits = 3
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x41_line_dedup" ->
      s"""WITH src AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS ls
         |  FROM '${LineFixture.docsPath}/*.parquet'),
         |l AS (
         |  SELECT doc_id, i AS pos, ls[i] AS line, lower(trim(ls[i])) AS lkey
         |  FROM src, unnest(generate_series(1, len(ls))) t(i)),
         |d AS (SELECT lkey, count(DISTINCT doc_id) AS line_df FROM l GROUP BY 1)
         |SELECT doc_id, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN line_df < ${LineFixture.dfThreshold} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN line_df < ${LineFixture.dfThreshold} THEN line END,
         |    chr(10) ORDER BY pos), '')) AS kept_md5
         |FROM l JOIN d USING (lkey)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // host/path/query extraction re-derived with RE2 — independent of
    // Spark's java.net.URI-based parse_url, so a hash match pins the
    // canonicalization SEMANTICS, not a shared parser
    "x58_url_canonicalize" ->
      s"""WITH u AS (SELECT url_id, url FROM '${UrlFixture.urlsPath}/*.parquet'),
         |p AS (
         |  SELECT url_id,
         |    regexp_replace(regexp_replace(
         |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
         |      ':[0-9]+$$', ''), '^www\\.', '') AS canon_host,
         |    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
         |      '/$$', '') AS path0,
         |    regexp_extract(url, '\\?([^#]*)', 1) AS q
         |  FROM u)
         |SELECT canon_host,
         |  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS canon_path,
         |  count(*) AS n_urls, min(url_id) AS keeper_id,
         |  CAST(sum(CASE WHEN q <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_query
         |FROM p GROUP BY 1, 2 ORDER BY canon_host, canon_path""".stripMargin,
    // line rules + page-rule precedence re-derived in RE2 over the same
    // planted corpus
    "x60_c4_filter" ->
      s"""WITH src AS (
         |  SELECT doc_id, text, str_split(text, chr(10)) AS ls
         |  FROM '${C4Fixture.docsPath}/*.parquet'),
         |l AS (
         |  SELECT doc_id, text, i AS pos, ls[i] AS line,
         |    (regexp_matches(ls[i], '[.!?"]$$')
         |     AND len(regexp_split_to_array(trim(ls[i]), '\\s+')) >= 5
         |     AND NOT contains(lower(ls[i]), 'javascript')) AS keep_line
         |  FROM src, unnest(generate_series(1, len(ls))) t(i)),
         |agg AS (
         |  SELECT doc_id, any_value(text) AS text, count(*) AS n_lines,
         |    CAST(sum(CASE WHEN keep_line THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |    md5(coalesce(string_agg(CASE WHEN keep_line THEN line END,
         |      chr(10) ORDER BY pos), '')) AS kept_md5
         |  FROM l GROUP BY doc_id)
         |SELECT doc_id, n_lines, n_kept,
         |  CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
         |       WHEN contains(text, '{') THEN 'curly_brace'
         |       WHEN regexp_matches(lower(text), '\\bbadword1\\b') THEN 'bad_word'
         |       WHEN n_kept < 3 THEN 'too_few_sentences'
         |       ELSE 'keep' END AS verdict,
         |  kept_md5
         |FROM agg ORDER BY doc_id""".stripMargin
  )
}

/** Planted multi-line corpus for x41: 400 documents whose lines mix a
  * 10-line boilerplate pool (each pool line lands in ~10% of documents →
  * line df ≈ 40, far above the threshold) with per-document unique content
  * lines (df = 1). Deterministic formulas only, so the expected survivor
  * set is computable in the spec without re-running the operator. */
/** Fixture for x60 C4-style filtering: 300 multi-line docs with planted
  * rule violations on deterministic id residues — line-level (no terminal
  * punctuation, under 5 words, the word "javascript") and page-level
  * ("lorem ipsum", curly braces, bad words, too few surviving sentences).
  * Residues overlap (e.g. i%35==0 hits two line rules) so the filter's
  * rule precedence is exercised, not just each rule in isolation. */
object C4Fixture {
  val dir = Fixture.dir("graft_c4")
  val docsPath = s"$dir/docs"

  def docText(i: Int): String = {
    val goodLines = if (i % 23 == 0) 2 else 3 + i % 3
    val b = Seq.newBuilder[String]
    (0 until goodLines).foreach(k => b += s"This is sentence $k of document $i with enough words here.")
    if (i % 7 == 0) b += "short line."
    if (i % 5 == 0) b += "no terminal punctuation here at all"
    if (i % 11 == 0) b += "Please enable javascript to view document features properly."
    if (i % 13 == 0) b += "Lorem ipsum dolor sit amet and so on."
    if (i % 17 == 0) b += "function f() { return 1; }"
    if (i % 19 == 0) b += "This document unfortunately contains badword1 in a sentence."
    b.result().mkString("\n")
  }

  def rows: Seq[(Long, String)] = (0 until 300).map(i => (i.toLong, docText(i)))

  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(docsPath)
  }
}

/** Fixture for x58 URL canonicalization: 50 canonical targets, each
  * published under 1–6 surface variants (scheme/host case, `www.` prefix,
  * explicit default and non-default ports, trailing slash + fragment,
  * query string). Target t carries variants 0..(t%6), so group sizes and
  * keeper ids follow a closed form the spec pins. */
object UrlFixture {
  val dir = Fixture.dir("graft_urls")
  val urlsPath = s"$dir/urls"

  /** variant v of target t; url_id = t*6 + v */
  def url(t: Int, v: Int): String = {
    val (h, p, g) = (t % 7, t % 11, t % 5)
    v match {
      case 0 => s"http://host$h.example.com/dir$p/page$g"
      case 1 => s"HTTP://WWW.Host$h.Example.COM/dir$p/page$g"
      case 2 => s"https://host$h.example.com:443/dir$p/page$g"
      case 3 => s"http://host$h.example.com:8080/dir$p/page$g"
      case 4 => s"http://host$h.example.com/dir$p/page$g/#frag"
      case _ => s"http://www.host$h.example.com/dir$p/page$g?b=2&a=1"
    }
  }

  def rows: Seq[(Long, String)] =
    for (t <- 0 until 50; v <- 0 to t % 6) yield ((t * 6 + v).toLong, url(t, v))

  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    rows.toDF("url_id", "url").coalesce(1).write.mode("overwrite").parquet(urlsPath)
  }
}

object LineFixture {
  val dir = Fixture.dir("graft_lines")
  val docsPath = s"$dir/docs"

  /** lines with df >= this are boilerplate (pool lines sit at df ≈ 40) */
  val dfThreshold = 20

  private val pool: IndexedSeq[String] = (0 until 10).map(k =>
    s"boilerplate $k: subscribe to our newsletter for updates and offers"
  )

  /** doc i = 4 + i%4 lines; every line with j % 3 == 1 is a pool line,
    * the rest carry doc-unique content. Mirrored in CurationSpec. */
  def docLines(i: Int): Seq[String] =
    (0 until (4 + i % 4)).map { j =>
      if (j % 3 == 1) pool((i + j) % 10)
      else s"doc $i line $j word${(i * 7 + j) % 13} word${(i * 11 + j) % 17} content"
    }

  def rows: Seq[(Long, String)] = (0 until 400).map(i => (i.toLong, docLines(i).mkString("\n")))

  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(docsPath)
  }
}
