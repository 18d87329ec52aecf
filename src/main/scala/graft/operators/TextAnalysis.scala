package graft.operators

import graft.Graft
import graft.Graft.table
import graft.functions.Hashing
import graft.sources.Fixture
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-analysis operators [EXT] (SURVEY.md §7.1 ext/TextStats): token
  * counting, quality scoring, n-gram-heuristic language ID, document
  * fingerprinting (normalization md5, token-set md5, polynomial rolling
  * hash). All per-row, all pure Catalyst expressions (higher-order array
  * functions, no UDFs) → whole-stage codegen over a single scan, which is
  * exactly the shape that streams through 100 TB without a shuffle.
  *
  * Every ratio/score is integer-derived double arithmetic written with the
  * identical operation order in the DuckDB oracle, so values are
  * bit-identical.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is")
  private def toks: Column = split(lower(trim(col("text"))), "\\s+")

  private def inSet(arr: Column, set: Seq[String]): Column =
    size(filter(arr, t => t.isInCollection(set))).cast("long")

  /** Per-doc 256-bucket hashed-feature counts (the hashing trick) — shared
    * by x65 (featurization) and x68 (classifier inference); the oracles
    * share [[hashedFeaturesSql]] the same way. */
  /** Build-once inverted index for x170: posting rows (term, doc_id, tf,
    * df) partitioned by the 64-way md5 term bucket + a 1-row totals
    * parquet, keyed per SOURCE DIR with a content fingerprint (the x74
    * gate-artifact convention — bench/probe runs on other SFs must never
    * clobber the artifact the sf0.01 oracle round reads). */
  private[graft] def invIdxEnsure(s: SparkSession, d: String): String =
    Fixture("graft_invidx_gate", Some(d), "invidx-v1-b64") { dir =>
      val docs = table(s, d, "documents")
      val tf = docs
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"))
      // df = rows per term in the (term, doc) table — countDistinct by construction
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(dfreq, "term")
        .withColumn("bucket", Hashing.md5Bucket(col("term"), 64L))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
      docs.agg(count(lit(1)).as("n")).coalesce(1).write.mode("overwrite").parquet(s"$dir/totals")
    }

  // ------------------------------------------------ incremental index (x266)
  // x170 rebuilds its whole artifact when the fingerprint drifts; this is
  // the x69 shard-vs-corpus discipline applied to the INDEX side (the r8
  // verdict's task 4): an index is a set of SEGMENTS (base + delta_N),
  // each a self-contained bucket-partitioned posting store + doc-count
  // totals. An ingest batch appends ONE new segment — zero existing files
  // move (IncIndexSpec pins base mtimes), lookups read base ∪ deltas with
  // df recomputed over the term-pruned union (df was the one frozen
  // statistic that goes stale under ingest — recomputing it over pruned
  // rows keeps lookups corpus-free AND exactly fresh), and a compaction
  // verb (the x78 machinery) folds segments back into one base. At 100 TB
  // this is the difference between re-tokenizing the corpus per ingest
  // batch and touching only the batch.

  private[graft] def incIdxSegments(dir: String): Seq[String] =
    "" +: Option(new java.io.File(dir).listFiles())
      .map(_.toSeq)
      .getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("delta_"))
      .map(_.getName)
      .sorted

  private def incIdxSegRoot(dir: String, seg: String): String =
    if (seg.isEmpty) dir else s"$dir/$seg"

  /** write one self-contained segment: bucket-partitioned (term, doc_id,
    * tf) postings + a 1-row doc-count totals */
  private[graft] def incIdxWriteSegmentForTest(s: SparkSession, segRoot: String, docs: DataFrame): Unit =
    incIdxWriteSegment(s, segRoot, docs)

  private def incIdxWriteSegment(s: SparkSession, segRoot: String, docs: DataFrame): Unit = {
    docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", Hashing.md5Bucket(col("term"), 64L))
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(s"$segRoot/postings")
    docs.agg(count(lit(1)).as("n")).coalesce(1).write.mode("overwrite").parquet(s"$segRoot/totals")
  }

  /** ingest a batch of NEW documents as an appended delta segment —
    * existing segments' files are never opened or rewritten */
  private[graft] def incIdxIngest(s: SparkSession, dir: String, batch: Int, docs: DataFrame): Unit =
    incIdxWriteSegment(s, s"$dir/delta_$batch", docs)

  /** postings schema, explicit — schema INFERENCE would read a footer per
    * planning pass (forbidden at 100 TB, and it would open pruned
    * buckets); bucket is the partition column */
  private val incIdxPostingSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tf", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.LongType)
    )
  )
  private val incIdxTotalsSchema = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType))
  )

  /** term lookup over base ∪ deltas: only the query terms' bucket dirs of
    * each segment open; df = rows per term over the pruned union (ingest
    * batches hold disjoint new docs, so the count IS distinct docs); N =
    * Σ segment totals. Scoring is x170's exact integer tf·(N/df)·1e6. */
  private[graft] def incIdxLookup(s: SparkSession, dir: String, qterms: Seq[String]): DataFrame = {
    val qbuckets = qterms.map(t => Hashing.md5BucketOf(t, 64L)).distinct
    val segs = incIdxSegments(dir)
    val posts = segs
      .map { seg =>
        s.read
          .schema(incIdxPostingSchema)
          .parquet(s"${incIdxSegRoot(dir, seg)}/postings")
          .where(col("bucket").isInCollection(qbuckets) && col("term").isInCollection(qterms))
          .select("term", "doc_id", "tf")
      }
      .reduce(_.unionByName(_))
      .localCheckpoint() // two refs: df census + scoring join
    val n = segs
      .map(seg => s.read.schema(incIdxTotalsSchema).parquet(s"${incIdxSegRoot(dir, seg)}/totals"))
      .reduce(_.unionByName(_))
      .agg(sum("n").as("n"))
    val dfq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    posts
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(n))
      .withColumn("tscore", expr("(cast(tf as decimal(38,0)) * n * 1000000) div df"))
      .groupBy("doc_id")
      .agg(sum("tscore").as("score"), count(lit(1)).as("n_terms_hit"))
  }

  /** fold every delta segment into a fresh base (the x78 OPTIMIZE verb):
    * read cost is the INDEX, never the corpus — no re-tokenization */
  private[graft] def incIdxCompact(s: SparkSession, dir: String): Unit = {
    val segs = incIdxSegments(dir)
    if (segs.size <= 1) return
    val posts = segs
      .map(seg => Graft.parquet(s, s"${incIdxSegRoot(dir, seg)}/postings").select("term", "doc_id", "tf", "bucket"))
      .reduce(_.unionByName(_))
      .localCheckpoint() // materialize before the dirs below are replaced
    val n = segs
      .map(seg => Graft.parquet(s, s"${incIdxSegRoot(dir, seg)}/totals"))
      .reduce(_.unionByName(_))
      .agg(sum("n").as("n"))
      .localCheckpoint()
    posts.write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/compact_postings")
    n.coalesce(1).write.mode("overwrite").parquet(s"$dir/compact_totals")
    def rm(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }
    rm(s"$dir/postings")
    rm(s"$dir/totals")
    segs.filter(_.nonEmpty).foreach(seg => rm(s"$dir/$seg"))
    java.nio.file.Files.move(
      new java.io.File(s"$dir/compact_postings").toPath,
      new java.io.File(s"$dir/postings").toPath
    )
    java.nio.file.Files.move(
      new java.io.File(s"$dir/compact_totals").toPath,
      new java.io.File(s"$dir/totals").toPath
    )
  }

  /** gate fixture: base = 80% of documents, two ingest batches of 10%
    * each (disjoint doc_id stripes), fingerprint-guarded */
  private[graft] def incIdxEnsure(s: SparkSession, d: String): String =
    Fixture("graft_incidx_gate", Some(d), "incidx-v1-b64") { dir =>
      val docs = table(s, d, "documents")
      incIdxWriteSegment(s, dir, docs.where(col("doc_id") % 10 < 8))
      incIdxIngest(s, dir, 1, docs.where(col("doc_id") % 10 === 8))
      incIdxIngest(s, dir, 2, docs.where(col("doc_id") % 10 === 9))
    }

  private def hashedFeatures(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(col("doc_id"), explode(toks).as("term"))
      .select(col("doc_id"), Hashing.md5Bucket(col("term"), 256).as("b"))
      .groupBy("doc_id", "b")
      .agg(count(lit(1)).as("cnt"))

  /** DuckDB CTEs producing f(doc_id, b, cnt) — the oracle twin of
    * [[hashedFeatures]]. */
  private val hashedFeaturesSql: String =
    """tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT % 256 AS b, count(*) AS cnt
      |  FROM tok GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of `LogisticGd.sigSql`: the e6 fast sigmoid. */
  private def sigDuck(z: String) = s"500000 + ${Prefix.floorDivDuck(s"($z) * 500000", s"1000000 + abs($z)")}"

  /** x262 oracle: the x228 5-round chain evaluated at the w1/w3/w5
    * prefixes — each snapshot gets the same odd-half midrank-AUC replay
    * plus its weight-mass fold. */
  private def x262OracleSql: String = {
    val iters = (1 to 5)
      .map { t =>
        val pw = if (t == 1) "w0" else s"w${t - 1}"
        s"""z$t AS (SELECT tr.doc_id, max(tr.y) AS y, CAST(sum($pw.w) AS BIGINT) AS z
           |  FROM tr JOIN $pw ON tr.b = $pw.b GROUP BY tr.doc_id),
           |e$t AS (SELECT doc_id, y * 1000000 - (${sigDuck("z")}) AS e FROM z$t),
           |g$t AS (SELECT tr.b, CAST(sum(e$t.e) AS BIGINT) AS g
           |  FROM tr JOIN e$t ON tr.doc_id = e$t.doc_id GROUP BY tr.b),
           |w$t AS (SELECT g$t.b, CAST($pw.w + ${Prefix.floorDivDuck("g", "ntr.n")} AS BIGINT) AS w
           |  FROM g$t JOIN $pw ON g$t.b = $pw.b, ntr)""".stripMargin
      }
      .mkString(",\n")
    val evals = Seq(1, 3, 5)
      .map { k =>
        s"""ev$k AS (SELECT o.doc_id, max(o.y) AS pos, CAST(sum(w$k.w) AS BIGINT) AS z
           |  FROM odd o JOIN w$k ON o.b = w$k.b GROUP BY o.doc_id),
           |grp$k AS (SELECT z, count(*) AS cnt, sum(pos) AS npos_g FROM ev$k GROUP BY z),
           |cw$k AS (SELECT z, cnt, npos_g,
           |  coalesce(sum(cnt) OVER (ORDER BY z ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           |  FROM grp$k),
           |st$k AS (SELECT CAST(sum(npos_g) AS BIGINT) AS npos, CAST(sum(cnt) - sum(npos_g) AS BIGINT) AS nneg,
           |  CAST(sum(npos_g * (2 * cum + cnt + 1)) AS BIGINT) AS r2 FROM cw$k),
           |auc$k AS (SELECT npos, nneg,
           |  CAST(CASE WHEN npos * nneg = 0 THEN 0
           |       ELSE ((r2::HUGEINT - npos::HUGEINT * (npos + 1)) * 500000) // (npos::HUGEINT * nneg) END AS BIGINT) AS auc_e6
           |  FROM st$k),
           |wl$k AS (SELECT CAST(sum(abs(w)) AS BIGINT) AS w_l1 FROM w$k)""".stripMargin
      }
      .mkString(",\n")
    val rows = Seq(1, 3, 5)
      .map(k => s"SELECT CAST($k AS BIGINT) AS iters, auc$k.auc_e6, wl$k.w_l1, auc$k.npos, auc$k.nneg FROM auc$k, wl$k")
      .mkString("\n        |  UNION ALL ")
    s"""WITH $hashedFeaturesSql,
       |lab AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y FROM documents),
       |pres AS (SELECT doc_id, b FROM f UNION ALL SELECT doc_id, 256 AS b FROM documents),
       |tr AS (SELECT p.doc_id, p.b, l.y FROM pres p JOIN lab l USING (doc_id) WHERE p.doc_id % 2 = 0),
       |ntr AS (SELECT count(DISTINCT doc_id) AS n FROM tr),
       |w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM tr),
       |$iters,
       |odd AS (SELECT p.doc_id, p.b, l.y FROM pres p JOIN lab l USING (doc_id) WHERE p.doc_id % 2 = 1),
       |$evals,
       |u AS (
       |  $rows)
       |SELECT iters, auc_e6, w_l1, npos, nneg FROM u ORDER BY iters""".stripMargin
  }

  /** x228 oracle: the full 5-round GD unrolled (z → fast-sigmoid error →
    * per-bucket gradient → posmod-floor update per iteration), then the
    * odd-half midrank-AUC replay over the final weights. */
  private def x228OracleSql: String = {
    val iters = (1 to 5)
      .map { t =>
        val pw = if (t == 1) "w0" else s"w${t - 1}"
        s"""z$t AS (SELECT tr.doc_id, max(tr.y) AS y, CAST(sum($pw.w) AS BIGINT) AS z
           |  FROM tr JOIN $pw ON tr.b = $pw.b GROUP BY tr.doc_id),
           |e$t AS (SELECT doc_id, y * 1000000 - (${sigDuck("z")}) AS e FROM z$t),
           |g$t AS (SELECT tr.b, CAST(sum(e$t.e) AS BIGINT) AS g
           |  FROM tr JOIN e$t ON tr.doc_id = e$t.doc_id GROUP BY tr.b),
           |w$t AS (SELECT g$t.b, CAST($pw.w + ${Prefix.floorDivDuck("g", "ntr.n")} AS BIGINT) AS w
           |  FROM g$t JOIN $pw ON g$t.b = $pw.b, ntr)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH $hashedFeaturesSql,
       |lab AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y FROM documents),
       |pres AS (SELECT doc_id, b FROM f UNION ALL SELECT doc_id, 256 AS b FROM documents),
       |tr AS (SELECT p.doc_id, p.b, l.y FROM pres p JOIN lab l USING (doc_id) WHERE p.doc_id % 2 = 0),
       |ntr AS (SELECT count(DISTINCT doc_id) AS n FROM tr),
       |w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM tr),
       |$iters,
       |odd AS (SELECT p.doc_id, p.b, l.y FROM pres p JOIN lab l USING (doc_id) WHERE p.doc_id % 2 = 1),
       |ev AS (SELECT o.doc_id, max(o.y) AS pos, CAST(sum(w5.w) AS BIGINT) AS z
       |  FROM odd o JOIN w5 ON o.b = w5.b GROUP BY o.doc_id),
       |grp AS (SELECT z, count(*) AS cnt, sum(pos) AS npos_g FROM ev GROUP BY z),
       |cw AS (SELECT z, cnt, npos_g,
       |  coalesce(sum(cnt) OVER (ORDER BY z ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM grp),
       |st AS (SELECT CAST(sum(npos_g) AS BIGINT) AS npos, CAST(sum(cnt) - sum(npos_g) AS BIGINT) AS nneg,
       |  CAST(sum(npos_g * (2 * cum + cnt + 1)) AS BIGINT) AS r2 FROM cw),
       |auc AS (SELECT npos, nneg,
       |  CAST(CASE WHEN npos * nneg = 0 THEN 0
       |       ELSE ((r2::HUGEINT - npos::HUGEINT * (npos + 1)) * 500000) // (npos::HUGEINT * nneg) END AS BIGINT) AS auc_e6
       |  FROM st)
       |SELECT r.range AS b, CAST(coalesce(w5.w, 0) AS BIGINT) AS w_e6, a.auc_e6, a.npos, a.nneg
       |FROM range(257) r LEFT JOIN w5 ON r.range = w5.b, auc a
       |ORDER BY b""".stripMargin
  }

  /** One left-to-right non-overlapping merge pass of (a, b) over a `syms`
    * symbol array, as a codegen'd `aggregate` fold — the rule enters as
    * string literals, so no per-row merge-table lookup ("aaaa" + (a,a) →
    * [aa, aa]). Shared by the x72 trainer rounds and the x75 encoder. */
  private def mergeFold(a: String, b: String): Column =
    aggregate(
      col("syms"),
      array().cast("array<string>"),
      (acc, x) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b)))
        ).otherwise(concat(acc, array(x)))
    )

  /** The Sennrich et al. 2016 §3.2 merge loop over a word stream: k rounds
    * of pair-count → (count desc, pair asc) argmax → re-segment. The word
    * stream is collapsed ONCE into a word-frequency vocabulary; every
    * round operates on that vocab-sized table (pairs weighted by word
    * count), never re-touching the corpus. The argmax is a 1-row bounded
    * control-flow pull (the q55/q62 iterative pattern); each round's
    * segmentation is localCheckpointed to cut lineage. Returns the learned
    * merge table (round, p1, p2, merged, cnt), deterministic cross-engine
    * via the (count desc, pair asc) tie-break. */
  private def bpeMerges(words: DataFrame, rounds: Int): Seq[(Long, String, String, String, Long)] = {
    val vocab = words.groupBy("w").agg(count(lit(1)).as("n"))
    val seg0 = vocab
      .select(
        col("n"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms")
      )
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    Iterate(seg0, 1 to rounds) { (seg, r) =>
      val best = seg
        // single-symbol words have no pairs; without the guard
        // sequence(0, size-2) DESCENDS and indexes out of bounds (the
        // x66 lesson)
        .where(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS p1, syms[i + 1] AS p2))"
        )).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .limit(1)
        .collect()(0) // 1-row argmax: bounded control flow, not a data pull
      val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r.toLong, a, b, a + b, c))
      seg.select(col("n"), mergeFold(a, b).as("syms"))
    }
    merges.result()
  }

  /** BERT's `max_input_chars_per_word` analog: words longer than this
    * route straight to [UNK] without matching, and longer words never
    * enter the vocabulary. An explicit GATE CONTRACT (review-found: the
    * oracle's generate_series bounds silently assumed it), not a fixture
    * assumption — it also bounds the candidate explode and the oracle's
    * recursive walk. */
  private[operators] val MaxWordChars = 8

  /** WordPiece vocabulary from a TRAIN word stream (Wu et al. 2016 §4.1's
    * piece classes, selection simplified to deterministic frequency ranks):
    * start pieces = top-8 whole words + top-12 prefixes (len 2–4,
    * occurrence-weighted) + every first char; continuation pieces = top-16
    * interior substrings (len 2–4) + every interior char. All ranks break
    * ties on the piece string, so the vocabulary — and every greedy
    * segmentation below — is deterministic cross-engine. Output:
    * (piece, cont), ≤ ~80 rows at any corpus size (the LIMITs bound it). */
  private[operators] def wordpieceVocab(train: DataFrame): DataFrame = {
    val tw = train
      .where(length(col("w")) <= MaxWordChars)
      .groupBy("w")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // 5 plan refs below
    val whole = tw
      .orderBy(col("n").desc, col("w"))
      .limit(8)
      .select(col("w").as("piece"), lit(0).as("cont"))
    val pref = tw
      .select(col("w"), col("n"), explode(sequence(lit(2), lit(4))).as("L"))
      .where(col("L") <= length(col("w")))
      .select(expr("substring(w, 1, L)").as("piece"), col("n"))
      .groupBy("piece")
      .agg(sum("n").as("pn"))
      .orderBy(col("pn").desc, col("piece"))
      .limit(12)
      .select(col("piece"), lit(0).as("cont"))
    val inner = tw
      .select(col("w"), col("n"), explode(sequence(lit(2), greatest(lit(2), length(col("w"))))).as("p"))
      .where(col("p") <= length(col("w")))
      .select(col("w"), col("n"), col("p"), explode(sequence(lit(2), lit(4))).as("L"))
      .where(col("p") + col("L") - 1 <= length(col("w")))
      .select(expr("substring(w, p, L)").as("piece"), col("n"))
      .groupBy("piece")
      .agg(sum("n").as("pn"))
      .orderBy(col("pn").desc, col("piece"))
      .limit(16)
      .select(col("piece"), lit(1).as("cont"))
    val startChars = tw.select(expr("substring(w, 1, 1)").as("piece")).distinct().select(col("piece"), lit(0).as("cont"))
    val innerChars = tw
      .where(length(col("w")) >= 2)
      .select(explode(expr("transform(sequence(2, length(w)), i -> substring(w, i, 1))")).as("piece"))
      .distinct()
      .select(col("piece"), lit(1).as("cont"))
    whole.unionByName(pref).unionByName(startChars).unionByName(inner).unionByName(innerChars).distinct()
  }

  /** Greedy longest-match-first WordPiece encoding of the DISTINCT words in
    * `docs` against [[wordpieceVocab]]'s pieces — the BERT tokenizer's
    * matching rule: at position 1 only start pieces match, past it only
    * continuation pieces; no match at any reached position — or a word
    * longer than [[MaxWordChars]] — routes the WHOLE word to [UNK]
    * (n_pieces 1, digest 0). Two vocab-bound stages, zero per-
    * row lookups outside codegen: (1) every (word, pos, len) candidate
    * substring semi-joins the broadcast vocabulary and collapses to a
    * per-position max-match-length ARRAY; (2) the greedy walk is a pure
    * `aggregate` fold over that array — position jumps by the matched
    * length, so the fold is O(|word|) with no data movement at all. Output:
    * (w, n_pieces, unk, wdigest) where wdigest is the order-pinning sum of
    * md5-bucketed (piece, index) pairs, the x75 digest convention. */
  private[operators] def wordpieceEncode(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val dwords = docs.select("w").distinct().localCheckpoint() // two plan refs: match, walk
    val matched = dwords
      // over-long words skip matching entirely: absent from wlens ⇒ the
      // walk's NULL-lens branch routes them to [UNK] structurally
      .where(length(col("w")) <= MaxWordChars)
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("p"))
      .select(col("w"), col("p"), explode(sequence(lit(1), lit(MaxWordChars))).as("L"))
      // whole-word pieces can span the word; interior pieces cap at 4
      .where(col("p") + col("L") - 1 <= length(col("w")) && (col("p") === 1 || col("L") <= 4))
      .select(col("w"), col("p"), col("L"), expr("substring(w, p, L)").as("sub"), when(col("p") === 1, 0).otherwise(1).as("cls"))
      .join(broadcast(vocab), col("sub") === vocab("piece") && col("cls") === vocab("cont"), "left_semi")
    val wlens = matched
      .groupBy(col("w"), col("p"))
      .agg(max("L").as("mlen"))
      .groupBy("w")
      .agg(map_from_entries(collect_list(struct(col("p"), col("mlen")))).as("m"))
      .select(col("w"), expr("transform(sequence(1, length(w)), i -> coalesce(element_at(m, i), 0))").as("lens"))
    dwords
      .join(wlens, Seq("w"), "left") // null lens = no match anywhere (pure-foreign word)
      .select(
        col("w"),
        expr(
          """aggregate(
            |  sequence(1, length(w)),
            |  named_struct('pos', CAST(1 AS INT), 'n', CAST(0 AS BIGINT), 'unk', CAST(0 AS INT), 'dig', CAST(0 AS BIGINT)),
            |  (acc, i) -> IF(i <> acc.pos OR acc.unk = 1, acc,
            |    IF(lens IS NULL OR element_at(lens, acc.pos) = 0,
            |       named_struct('pos', CAST(length(w) + 1 AS INT), 'n', CAST(1 AS BIGINT),
            |                    'unk', CAST(1 AS INT), 'dig', CAST(0 AS BIGINT)),
            |       named_struct('pos', CAST(acc.pos + element_at(lens, acc.pos) AS INT),
            |                    'n', acc.n + CAST(1 AS BIGINT),
            |                    'unk', CAST(0 AS INT),
            |                    'dig', acc.dig + pmod(CAST(conv(substring(md5(concat(
            |                        substring(w, acc.pos, element_at(lens, acc.pos)), '@', CAST(acc.n AS STRING)
            |                      )), 1, 15), 16, 10) AS BIGINT), CAST(1048576 AS BIGINT))))),
            |  acc -> acc)""".stripMargin
        ).as("st")
      )
      .select(
        col("w"),
        col("st.n").as("n_pieces"),
        col("st.unk").cast("long").as("unk"),
        col("st.dig").as("wdigest")
      )
  }

  /** Unigram-LM tokenizer vocabulary: candidate pieces are every substring
    * of length 1–4 of the (≤[[MaxWordChars]]) train words, weighted by
    * positional occurrences × word frequency; the vocabulary keeps the top
    * 24 multi-char pieces (pn desc, piece — total order) plus EVERY train
    * character. Scores are the additive integer surrogate of a log-prob:
    * s(piece) = 1000·len + floor(log2 pn) — longer and more frequent
    * pieces win, exactly the pressure the published EM-trained unigram LM
    * (Kudo 2018, SentencePiece) applies; the deterministic integer score
    * replaces EM floats to keep the cross-engine hash-exact contract (the
    * x66 KenLM-replacement pattern). Both stages are vocab-bound. */
  private[operators] def unigramVocab(train: DataFrame): DataFrame = {
    val tw = train
      .where(length(col("w")) <= MaxWordChars)
      .groupBy("w")
      .agg(count(lit(1)).as("n"))
    val subs = tw
      .select(col("w"), col("n"), explode(sequence(lit(1), length(col("w")))).as("p"))
      .select(col("w"), col("n"), col("p"), explode(sequence(lit(1), lit(4))).as("L"))
      .where(col("p") + col("L") - 1 <= length(col("w")))
      .select(expr("substring(w, p, L)").as("piece"), col("n"))
      .groupBy("piece")
      .agg(sum("n").as("pn"))
      .localCheckpoint() // two plan refs: multi-char top-24, char floor
    val multi = subs
      .where(length(col("piece")) >= 2)
      .orderBy(col("pn").desc, col("piece"))
      .limit(24)
    multi
      .unionByName(subs.where(length(col("piece")) === 1))
      .select(
        col("piece"),
        (length(col("piece")).cast("long") * 1000L + (length(bin(col("pn"))) - 1).cast("long")).as("s")
      )
  }

  /** Viterbi (max-score) segmentation of the DISTINCT words in `docs`
    * under [[unigramVocab]]'s additive scores — the optimal-path
    * counterpart of x127's greedy walk: best[i] over word positions, where
    * a position's candidates are every vocab piece ending there plus an
    * always-available single-char [UNK] at score −10000 (so every word
    * segments and unseen characters are load-bearing, never a crash). The
    * DP is one codegen'd `aggregate` fold per distinct word over a
    * pre-joined candidate array (vocab-bound, ≤ ~40 entries), with a total
    * argmax order — (score desc, pieces asc, last-len desc, digest desc,
    * then candidate (p, L) order) — replayed literally by the oracle's
    * unrolled row_number, so both engines pick the SAME optimum even under
    * score ties. Words over [[MaxWordChars]] route whole to [UNK] (the
    * x127 rule). */
  private[operators] def unigramEncode(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val dwords = docs.select("w").distinct().localCheckpoint() // two plan refs: candidates, walk
    val inWords = dwords.where(length(col("w")) <= MaxWordChars)
    val positions = inWords
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("p"))
      .localCheckpoint() // two plan refs: vocab candidates, UNK candidates
    val vcand = positions
      .select(col("w"), col("p"), explode(sequence(lit(1), lit(4))).as("L"))
      .where(col("p") + col("L") - 1 <= length(col("w")))
      .select(col("w"), col("p"), col("L"), expr("substring(w, p, L)").as("sub"))
      .join(broadcast(vocab), col("sub") === vocab("piece"))
      .select(col("w"), col("p"), col("L"), col("s"), lit(0L).as("u"))
    val ucand = positions
      .select(col("w"), col("p"), lit(1).as("L"), lit(-10000L).as("s"), lit(1L).as("u"))
    val cands = vcand
      .unionByName(ucand)
      .groupBy("w")
      .agg(sort_array(collect_list(struct(col("p"), col("L"), col("s"), col("u")))).as("cs"))
    dwords
      .join(cands, Seq("w"), "left") // null cs = over-long word → whole-word [UNK]
      .select(
        col("w"),
        expr(
          """IF(cs IS NULL,
            |  named_struct('sc', CAST(0 AS BIGINT), 'n', CAST(1 AS BIGINT), 'lst', CAST(0 AS INT),
            |               'dig', CAST(0 AS BIGINT), 'unk', CAST(1 AS BIGINT)),
            |  aggregate(
            |    sequence(1, length(w)),
            |    array(named_struct('sc', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT), 'lst', CAST(0 AS INT),
            |                       'dig', CAST(0 AS BIGINT), 'unk', CAST(0 AS BIGINT))),
            |    (acc, i) -> concat(acc, array(
            |      aggregate(
            |        transform(
            |          filter(cs, c -> c.p + c.L - 1 = i),
            |          c -> named_struct(
            |            'sc', element_at(acc, c.p).sc + c.s,
            |            'n', element_at(acc, c.p).n + CAST(1 AS BIGINT),
            |            'lst', c.L,
            |            'dig', element_at(acc, c.p).dig + pmod(CAST(conv(substring(md5(concat(
            |                     substring(w, c.p, c.L), '@', CAST(element_at(acc, c.p).n AS STRING)
            |                   )), 1, 15), 16, 10) AS BIGINT), CAST(1048576 AS BIGINT)),
            |            'unk', element_at(acc, c.p).unk + c.u)),
            |        CAST(NULL AS STRUCT<sc: BIGINT, n: BIGINT, lst: INT, dig: BIGINT, unk: BIGINT>),
            |        (b, c) -> IF(b IS NULL
            |                     OR c.sc > b.sc
            |                     OR (c.sc = b.sc AND c.n < b.n)
            |                     OR (c.sc = b.sc AND c.n = b.n AND c.lst > b.lst)
            |                     OR (c.sc = b.sc AND c.n = b.n AND c.lst = b.lst AND c.dig > b.dig),
            |                   c, b)))),
            |    acc -> element_at(acc, length(w) + 1)))""".stripMargin
        ).as("st")
      )
      .select(
        col("w"),
        col("st.n").as("n_pieces"),
        col("st.unk").as("unk"),
        col("st.dig").as("wdigest")
      )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Global dictionary encoding (x125): dense integer codes for every
    // distinct corpus token, assigned in LEXICOGRAPHIC order WITHOUT a
    // global sort — a `Prefix` count applied to vocabulary building (the
    // categorical-encoding step every feature pipeline and tokenizer-id
    // assignment needs at 100 TB): range-bucket by 2-char prefix (UTF-8
    // prefix order is consistent with full binary order in BOTH
    // engines), code = words before it. The encode join then maps the corpus
    // stream through the dictionary (AQE broadcasts a small dict;
    // co-partitioned shuffle join at scale). The gate pins the WHOLE
    // dictionary (order-free pair digest + size) and the encoded
    // corpus (per-(lang, source) code sums/extents — any off-by-one
    // anywhere shifts code_sum).
    "x125_global_dictionary" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("lang"), col("source"), explode(toks).as("word"))
        .where(col("word") =!= "")
        .localCheckpoint() // two plan refs: vocab build, encode join
      val words = docs.select("word").distinct().withColumn("bkt", substring(col("word"), 1, 2))
      val vocab = Prefix.exclusive(words, Nil, "bkt", Seq(col("word")))(lit(1L) -> "code").select("word", "code")
      val dictDigest = vocab.agg(
        count(lit(1)).as("vocab_size"),
        sum(
          Hashing.md5Bucket(concat(col("word"), lit("#"), col("code").cast("string")), 1L << 40)
        ).as("dict_digest")
      )
      docs
        .join(vocab, Seq("word"))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum("code").as("code_sum"),
          countDistinct(col("code")).as("n_distinct"),
          min("code").as("min_code"),
          max("code").as("max_code")
        )
        .crossJoin(broadcast(dictDigest))
        .orderBy("lang", "source")
    }),
    "x07_text_tokens" -> ((s, d) => {
      table(s, d, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          // BPE-ish subword count: letter runs / digit runs / single symbols
          regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast("long").as("n_subtokens"),
          length(col("text")).cast("long").as("text_chars")
        )
        .orderBy("doc_id")
    }),
    // Sliding-window document chunking (x115) — the retrieval/embedding
    // prep step every RAG pipeline runs: token-aligned windows of 24 with
    // stride 16 (8-token overlap), one row per chunk carrying its token
    // offset, length, and an md5-window content hash so the gate pins the
    // exact text of every chunk, not just the schedule. Chunk count is
    // 1 for short docs, else ceil((n−C)/S)+1 — the last window may be
    // short, never empty, and consecutive windows overlap by C−S tokens.
    // Scale shape: pure per-row codegen (split + bounded explode of n/S
    // chunks per doc) — no shuffle before the gate's final sort; at
    // 100 TB this is a map-only pass feeding the embedding stage.
    "x115_doc_chunking" -> ((s, d) => {
      val C = 24
      val S = 16
      table(s, d, "documents")
        .select(col("doc_id"), toks.as("tk"))
        .withColumn("n", size(col("tk")).cast("long"))
        .withColumn(
          "n_chunks",
          when(col("n") <= C, lit(1L))
            .otherwise(ceil((col("n") - C) / lit(S.toDouble)).cast("long") + 1L)
        )
        .withColumn("k", explode(expr("sequence(0L, n_chunks - 1)")))
        .withColumn("chunk", slice(col("tk"), (col("k") * S + 1).cast("int"), lit(C)))
        .select(
          col("doc_id"),
          col("k").as("chunk_idx"),
          (col("k") * S).as("start_tok"),
          size(col("chunk")).cast("long").as("n_toks"),
          graft.functions.Hashing.md5Window15(concat_ws(" ", col("chunk"))).as("chunk_hash")
        )
        .orderBy("doc_id", "chunk_idx")
    }),
    "x08_text_quality" -> ((s, d) => {
      // explode + codegen'd conditional aggregation (interpreted array
      // lambdas cost ~10× at sf0.1; the shuffle on doc_id is cheaper)
      table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("tok").isInCollection(stopwords), 1L).otherwise(0L)).as("stop_cnt"),
          sum(length(col("tok")).cast("long")).as("char_sum")
        )
        .withColumn("stop_ratio", col("stop_cnt").cast("double") / col("n_tokens").cast("double"))
        .withColumn("avg_word_len", col("char_sum").cast("double") / col("n_tokens").cast("double"))
        .withColumn("score", col("stop_ratio") * 0.5 + col("avg_word_len") * 0.1)
        .select("doc_id", "n_tokens", "stop_ratio", "avg_word_len", "score")
        .orderBy("doc_id")
    }),
    // Gopher-style document-quality rule filter (Rae et al. 2021,
    // arXiv:2112.11446 §A1.1, thresholds adapted to the fixture's 10-99-word
    // documents): word-count bounds, mean-word-length bounds, symbol
    // density, and minimum stopword evidence — the standard pre-training
    // heuristic gate that runs BEFORE any expensive dedup/scoring stage.
    // All metrics are integer-derived (char counts, permille, fixed-point
    // mean), so the verdict is bit-reproducible cross-engine; per-rule fail
    // counts are reported so a corpus owner can see which rule bites.
    // Scale shape: one codegen'd scan + a tiny per-lang hash agg.
    "x51_gopher_filter" -> ((s, d) => {
      val nWords = size(toks).cast("long")
      // sum of token lengths == non-whitespace chars of the trimmed text
      // (stays in codegen; an aggregate() lambda would run interpreted)
      val wordChars = length(regexp_replace(trim(col("text")), "\\s", "")).cast("long")
      val symCnt = regexp_count(col("text"), lit("[^a-zA-Z0-9\\s]")).cast("long")
      val stopCnt = inSet(toks, stopwords)
      val base = table(s, d, "documents")
        .select(
          col("lang"),
          nWords.as("n_words"),
          wordChars.as("word_chars"),
          symCnt.as("sym_cnt"),
          length(col("text")).cast("long").as("n_chars"),
          stopCnt.as("stop_cnt")
        )
        .withColumn("mean_len_e3", expr("(word_chars * 1000) div n_words"))
        .withColumn("sym_permille", expr("(sym_cnt * 1000) div greatest(n_chars, 1)"))
        .select(
          col("lang"),
          (col("n_words") >= 15L && col("n_words") <= 80L).as("r_words"),
          (col("mean_len_e3") >= 2000L && col("mean_len_e3") <= 10000L).as("r_wordlen"),
          (col("sym_permille") <= 100L).as("r_sym"),
          (col("stop_cnt") >= 2L).as("r_stop")
        )
      def fails(c: String) = sum(when(!col(c), 1L).otherwise(0L))
      base
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(
            when(col("r_words") && col("r_wordlen") && col("r_sym") && col("r_stop"), 1L)
              .otherwise(0L)
          ).as("pass_all"),
          fails("r_words").as("fail_words"),
          fails("r_wordlen").as("fail_wordlen"),
          fails("r_sym").as("fail_sym"),
          fails("r_stop").as("fail_stop")
        )
        .orderBy("lang")
    }),
    // Vocabulary coverage / OOV rate — the tokenizer-fit metric: what
    // fraction of each document's tokens fall inside the corpus' top-10
    // vocabulary (x28 builds the full ranked vocabulary; this measures the
    // documents against it). Rank order is total (tf desc, term asc), so
    // the vocab set — and therefore every coverage number — is
    // deterministic. Scale shape: the vocab is a LIMIT-10 aggregate →
    // broadcast to the token stream (the dim side of the join is bounded
    // by construction), one per-doc hash agg after.
    "x56_vocab_coverage" -> ((s, d) => {
      val tokens = table(s, d, "documents").select(col("doc_id"), explode(toks).as("term"))
      val vocab = tokens
        .groupBy("term")
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term").asc)
        .limit(10)
        .select(col("term"), lit(1L).as("in_v"))
      tokens
        .join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(coalesce(col("in_v"), lit(0L))).as("in_vocab")
        )
        .withColumn("coverage_ppm", expr("(in_vocab * 1000000) div n_tokens"))
        .orderBy("doc_id")
    }),

    // unigram surprisal scoring — the integer-exact perplexity-filter
    // stand-in (x42's bigram coherence measures transition plausibility;
    // this measures token rarity against the corpus LM). Per-token
    // surprisal ≈ floor(log2(N/tf)) computed WITHOUT libm: N div tf is an
    // integer, and floor-log2 of a positive integer is just the length of
    // its binary string minus 1 (`bin()` exists in both engines, leading-
    // zero-free) — invariant #7 (no cross-engine libm ulp bets) holds.
    // Scale shape: the term-frequency table is vocab-sized (broadcasts at
    // 100 TB), the corpus total is 1-row metadata, everything else is one
    // hash agg per doc.
    "x61_surprisal" -> ((s, d) => {
      val tokens = table(s, d, "documents").select(col("doc_id"), explode(toks).as("term"))
      val tf = tokens.groupBy("term").agg(count(lit(1)).as("tf"))
      // corpus total derived from the (vocab-sized) tf table — NOT a third
      // scan+explode of the corpus
      val n = tf.agg(sum("tf").as("n_total"))
      tokens
        .join(tf, "term")
        .crossJoin(broadcast(n))
        .withColumn("bits", (length(bin(expr("n_total div tf"))) - 1).cast("long"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          expr("(sum(bits) * 1000) div count(1)").as("mean_bits_e3"),
          max("bits").as("max_bits")
        )
        .orderBy("doc_id")
    }),

    // BPE pair statistics — ONE training step of byte-pair encoding (the
    // inner loop of tokenizer training, Sennrich et al. 2016): count every
    // adjacent character pair inside corpus words, rank by frequency. A
    // full trainer iterates merge→recount; each iteration is exactly this
    // distributed shape (explode pairs → two-phase count → ordered limit,
    // which plans as TakeOrderedAndProject — no global sort). Ties break
    // on the pair string so the merge choice is deterministic.
    "x63_bpe_pairs" -> ((s, d) => {
      val words = table(s, d, "documents")
        .select(explode(toks).as("w"))
        .where(length(col("w")) >= 2)
      words
        .select(explode(expr("transform(sequence(0, length(w) - 2), i -> substring(w, i + 1, 2))")).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // full BPE tokenizer TRAINING — the iterative merge loop x63 is one
    // step of (Sennrich et al. 2016, arXiv:1508.07909 §3.2): k rounds of
    // pair-count → argmax merge → re-segment. The scale design is the one
    // real trainers use: the corpus is scanned ONCE into a word-frequency
    // vocabulary, and every round operates on that vocab-sized table
    // (pairs weighted by word count), never re-touching the corpus. The
    // argmax is a 1-row bounded control-flow pull (the q55/q62 iterative
    // pattern), the merge rule enters the next round as string literals
    // in a codegen'd aggregate() fold (left-to-right non-overlapping —
    // "aaaa" + (a,a) → [aa, aa]), and each round's segmentation is
    // localCheckpointed to cut lineage. Ties break (count desc, pair asc)
    // so the learned merge table is deterministic cross-engine; the
    // DuckDB oracle replays the identical 8 rounds as an unrolled CTE
    // over a sentinel-wrapped string representation.
    "x72_bpe_train" -> ((s, d) => {
      import s.implicits._
      val words = table(s, d, "documents")
        .select(explode(toks).as("w"))
        // a whitespace-only doc tokenizes to one empty word, whose
        // sequence(1, 0) symbol split DESCENDS into ["", ""] and emits a
        // ("", "") pair the oracle cannot reproduce (the x66 bug class,
        // at the word level); oracle twin filters w <> ''
        .where(length(col("w")) >= 1)
      bpeMerges(words, rounds = 8).toDF("round", "p1", "p2", "merged", "cnt").orderBy("round")
    }),

    // BPE tokenizer APPLICATION — the other half of x72 (a trained
    // tokenizer is useless until the corpus is encoded with it). The
    // merge table is learned on the even-doc_id HALF of the corpus and
    // applied to ALL of it, so heldout words (odd-doc OOV) flow through
    // the same literal merge folds a production encoder applies — encode
    // is merge REPLAY in learned order (Sennrich et al. 2016 §3.2), not a
    // vocab lookup. Scale shape: the k fold rounds run over the
    // DISTINCT-word vocabulary only — the corpus stream never carries
    // symbol arrays — the vocab collapses to two longs per word (token
    // count + an md5-bucket digest of the final segmentation), and the
    // exploded corpus crosses ONE shuffle: the per-doc aggregation
    // (map-side-combined), with the vocab side broadcast while dim-sized
    // (the x66 thresholded pattern — word vocab grows with the corpus,
    // an unconditional hint would OOM at 100 TB; past the cap it falls
    // back to the one unavoidable SMJ on the word key). Output pins the
    // full encoding, frequency-weighted.
    "x75_bpe_encode" -> ((s, d) => {
      val trainWords = table(s, d, "documents")
        .where(col("doc_id") % 2 === 0)
        .select(explode(toks).as("w"))
        .where(length(col("w")) >= 1)
      val merges = bpeMerges(trainWords, rounds = 8)
      val vseg0 = table(s, d, "documents")
        .select(explode(toks).as("w"))
        .where(length(col("w")) >= 1)
        .distinct()
        .select(
          col("w"),
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms")
        )
        .localCheckpoint()
      val vseg = Iterate(vseg0, merges) { case (vs, (_, a, b, _, _)) =>
        vs.select(col("w"), mergeFold(a, b).as("syms"))
      }
      val enc = vseg
        .select(
          col("w"),
          size(col("syms")).cast("long").as("ntoks"),
          Hashing.md5Bucket(concat_ws(" ", col("syms")), 1048576L).as("wdigest")
        )
        .localCheckpoint()
      val encSide = if (enc.count() <= 4000000L) broadcast(enc) else enc
      table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("w"))
        .where(length(col("w")) >= 1)
        .join(encSide, "w")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_words"),
          sum("ntoks").as("n_bpe_tokens"),
          sum("wdigest").as("seg_digest")
        )
        .orderBy("doc_id")
    }),

    // WordPiece tokenizer ENCODING — the greedy longest-match-first
    // counterpart of x75's merge-replay BPE (the BERT-family tokenizer,
    // Wu et al. 2016): the vocabulary is trained on the even-doc half
    // (whole words / prefixes / interior pieces / chars, all frequency-
    // ranked with total-order ties) and applied to the WHOLE corpus plus
    // three inline adversarial words (doc_id −1) carrying characters the
    // train half never saw — so the [UNK] routing rule is load-bearing in
    // the gate, not just spec-tested (the x94/x101 discipline). Scale
    // shape: vocabulary ≤ ~80 rows by construction (broadcast always),
    // matching + the greedy walk run per DISTINCT word, and the corpus
    // stream crosses exactly one shuffle (the per-doc agg) — the x75
    // thresholded-broadcast pattern on the encode join. The per-word
    // digest pins the exact piece sequence, so a wrong longest-match or a
    // mis-classed continuation piece flips the hash.
    "x127_wordpiece_encode" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("w"))
        .where(length(col("w")) >= 1)
        .unionByName(
          s.range(1)
            .select(lit(-1L).as("doc_id"), explode(array(lit("zq9!x"), lit("join"), lit("mergez"))).as("w"))
        )
        .localCheckpoint() // three plan refs: train stream, encode input, doc agg
      val train = docs.where(col("doc_id") >= 0 && col("doc_id") % 2 === 0)
      val enc = wordpieceEncode(docs, wordpieceVocab(train).localCheckpoint())
      val encSide = if (enc.count() <= 4000000L) broadcast(enc) else enc
      docs
        .join(encSide, "w")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_words"),
          sum("n_pieces").as("n_wp_tokens"),
          sum("unk").as("n_unk_words"),
          sum("wdigest").as("seg_digest")
        )
        .orderBy("doc_id")
    }),

    // Unigram-LM tokenizer ENCODING via Viterbi — the third face of the
    // tokenizer family (x75 BPE merge-replay, x127 WordPiece greedy,
    // x148 unigram OPTIMAL-path): instead of a greedy walk, each word
    // takes the segmentation maximizing the additive piece score
    // (Kudo 2018's unigram LM decoding rule, with the deterministic
    // integer score surrogate documented at [[unigramVocab]]). The same
    // train-on-even-docs / encode-everything split and the same three
    // inline adversarial words as x127, so greedy-vs-optimal divergence,
    // [UNK] routing, and unseen characters are all load-bearing in the
    // gate. Scale shape: identical to x127 — the vocabulary is 24+chars
    // rows (broadcast always), candidate generation and the DP fold run
    // per DISTINCT word, and the corpus stream crosses exactly one
    // shuffle (the per-doc agg) behind the thresholded-broadcast encode
    // join. The oracle replays the DP as an 8-step unrolled CTE chain
    // (the x72 generated-oracle pattern) with the identical total argmax
    // order, so a single wrong Viterbi choice anywhere flips seg_digest.
    "x148_unigram_viterbi" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("w"))
        .where(length(col("w")) >= 1)
        .unionByName(
          s.range(1)
            .select(lit(-1L).as("doc_id"), explode(array(lit("zq9!x"), lit("join"), lit("mergez"))).as("w"))
        )
        .localCheckpoint() // three plan refs: train stream, encode input, doc agg
      val train = docs.where(col("doc_id") >= 0 && col("doc_id") % 2 === 0)
      val enc = unigramEncode(docs, unigramVocab(train).localCheckpoint())
      val encSide = if (enc.count() <= 4000000L) broadcast(enc) else enc
      docs
        .join(encSide, "w")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_words"),
          sum("n_pieces").as("n_uni_tokens"),
          sum("unk").as("n_unk_pieces"),
          sum("wdigest").as("seg_digest")
        )
        .orderBy("doc_id")
    }),

    // feature hashing (the hashing trick) — fixed-width featurization for
    // quality classifiers without a vocabulary pass: every token maps to
    // one of 256 buckets via the module-wide md5 window hash, per-doc
    // bucket counts are the feature vector. Emitted as integer summaries
    // (nnz / L1 / position-weighted digest) so the gate pins the exact
    // bucket assignment, not just the shape. Single scan → one (doc,
    // bucket) agg → one per-doc agg; no vocabulary state at any scale.
    // CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3: docs are
    // split into head/middle/tail by per-language perplexity TERCILES under
    // a language model; the released pipeline trains KenLM — here the LM is
    // the corpus's own bigram model, which keeps the whole gate
    // self-contained). Score = mean conditional bigram surprisal in integer
    // fixed point: bits(w1,w2) = floor_log2(c(w1)/c(w1,w2)) via the
    // bin()-length trick (x61), mean scaled e3 by floor division. Buckets =
    // ntile(3) per lang ordered by (score, doc_id) — deterministic total
    // order, so the cutoffs are data-derived like CCNet's yet hash-exact.
    // Scale shape: one exchange on doc_id for the lag window; c1/c12 are
    // vocab-sized aggregations; the joins back are equi-key (SMJ/broadcast
    // at cluster scale). bg feeds 3 plan references → localCheckpoint.
    "x66_perplexity_bucket" -> ((s, d) => {
      // bigrams come straight off the token ARRAY (zero-shuffle map work —
      // an earlier lag-window draft shuffled 4M string rows just to pair
      // neighbors). The corpus-sized bigram stream is NEVER shuffled:
      // c12/c1 aggregate with map-side partials (the shuffle carries the
      // distinct-bigram table, zipf-bounded ≪ corpus), the vocab-level
      // surprisal table broadcasts back onto a second scan-side explode,
      // and the per-doc mean combines map-side (one row per doc on the
      // wire). Two scans of documents instead of one materialized bigram
      // frame — scans are cheap, corpus shuffles are not.
      def bg = table(s, d, "documents")
        .select(col("doc_id"), col("lang"), toks.as("ws"))
        // sub-2-token docs have no bigrams; without this guard
        // sequence(0, size-2) descends and emits NULL-keyed junk bigrams
        // (oracle twin filters len(ws) >= 2)
        .where(size(col("ws")) >= 2)
        .select(
          col("doc_id"),
          col("lang"),
          explode(expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"))
            .as("b")
        )
        .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")).localCheckpoint() // feeds c1 + bits
      val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
      // conditional surprisal per DISTINCT bigram — vocab-sized, not corpus-sized
      val bits = c12
        .join(c1, Seq("w1"))
        .select(col("w1"), col("w2"), expr("CAST(length(bin(c1 div c12)) - 1 AS BIGINT)").as("bits"))
      // The distinct-bigram table is zipf-bounded but still GROWS with the
      // corpus (billions of rows at 100 TB) — an unconditional broadcast
      // hint would OOM the driver there. Thresholded instead: broadcast
      // while the surprisal table is dim-sized (the gate/probe regime,
      // where it keeps the corpus bigram stream unshuffled), else fall
      // back to the plain equi-key join (SMJ — one unavoidable corpus
      // shuffle once the vocab side outgrows executor memory; same
      // regime-note pattern as x67's Bloom alternative). The count is a
      // metadata-cheap job on the already-checkpointed c12.
      val bitsJoined = if (c12.count() <= 4000000L) broadcast(bits) else bits
      val perDoc = bg
        .join(bitsJoined, Seq("w1", "w2"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"), expr("(sum(bits) * 1000) div count(1)").as("mean_bits_e3"))
      val wt = Window.partitionBy("lang").orderBy("mean_bits_e3", "doc_id")
      perDoc
        .withColumn("t3", ntile(3).over(wt))
        .select(
          col("doc_id"),
          col("lang"),
          col("n_bigrams"),
          col("mean_bits_e3"),
          when(col("t3") === 1, "head").when(col("t3") === 2, "middle").otherwise("tail").as("bucket")
        )
        .orderBy("doc_id")
    }),

    "x65_feature_hash" -> ((s, d) => {
      hashedFeatures(s, d)
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("nnz"),
          sum("cnt").as("l1"),
          sum(expr("b * cnt")).as("digest"),
          max("cnt").as("max_cnt")
        )
        .orderBy("doc_id")
    }),

    // classifier-based quality filtering — the GPT-3/LLaMA-style stage: a
    // linear model over hashed features (x65's 256-bucket hashing trick)
    // scores every document and gates keep/drop. The WEIGHTS here are a
    // deterministic md5-derived fixture standing in for a trained table
    // (training is offline; what the engine owes the pipeline is the
    // inference shape) — per-doc sparse features ⋈ broadcast weight vector,
    // one agg, integer arithmetic end to end (posmod floor division for
    // the negative-capable per-token score, the x57 convention). Scale
    // shape: scan → (doc, bucket) agg → broadcast join → per-doc agg;
    // the weight table is 256 rows at any corpus size.
    "x68_quality_classifier" -> ((s, d) => {
      val feats = hashedFeatures(s, d)
      val weights = s
        .range(256)
        .select(
          col("id").as("b"),
          (pmod(Hashing.md5Window15(col("id").cast("string")), lit(2001L)) - 1000L).as("w")
        )
      feats
        .join(broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_tokens"), sum(expr("cnt * w")).as("score"))
        .withColumn("score_pt", expr("(score - ((score % n_tokens + n_tokens) % n_tokens)) div n_tokens"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          col("score"),
          col("score_pt"),
          (col("score_pt") >= lit(-50L)).as("keep")
        )
        .orderBy("doc_id")
    }),

    // OOV-rate audit (x249) — the tokenizer-ops metric: how much of a
    // NEW corpus slice falls outside a reference vocabulary (rising OOV
    // = domain drift = retrain the tokenizer). Reference vocab = top-1k
    // tokens of the even-doc half (TakeOrderedAndProject over the token
    // census, freq-desc/token-asc total order); the odd half then
    // reports per-lang token mass, OOV mass and OOV ppm via one
    // broadcast vocab join. Scale shape: census + bounded top-k + one
    // broadcast semi-style join over the stream — the vocab is
    // constant-sized by construction.
    "x249_oov_rate" -> ((s, d) => {
      val tok = table(s, d, "documents")
        .select(col("doc_id"), col("lang"), explode(toks).as("t"))
        .localCheckpoint() // vocab leg + eval leg
      val vocab = tok
        .where(col("doc_id") % 2 === 0)
        .groupBy("t")
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t"))
        .limit(1000)
        .select("t")
      tok
        .where(col("doc_id") % 2 === 1)
        .join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("t"), "left")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(expr("IF(in_vocab IS NULL, 1L, 0L)")).as("n_oov")
        )
        .withColumn("oov_ppm", expr("(n_oov * 1000000) div n_tokens"))
        .orderBy("lang")
    }),

    // Learning-curve sweep (x262) — the tuning instrument for x228: the
    // SAME trainer at 1 / 3 / 5 GD rounds, each snapshot evaluated by
    // the odd-half midrank AUC plus the weight-mass trajectory (‖w‖₁
    // grows as the model commits; AUC shows when more rounds stop
    // paying). The oracle evaluates at w1/w3/w5 of the ONE unrolled
    // 5-round CTE chain — and since r11 s3 the engine does exactly the
    // same: LogisticGd.trainSnapshots runs ONE 5-round chain and hands
    // back the w1/w3/w5 prefixes (round k's weights never depend on the
    // rounds after it), so the sweep pays 5 training rounds, not 9.
    // Eval mirrors the trainer's doc-array shape: the odd half collapses
    // to per-doc bucket arrays once, and each snapshot's z is a
    // row-local map lookup — integer adds are order-free, so z is
    // bit-identical to the old join + sum(w) per bucket row.
    "x262_learning_curve" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val pres = hashedFeatures(s, d)
        .select(col("doc_id"), col("b"))
        .unionByName(docs.select(col("doc_id"), lit(256L).as("b")))
        .localCheckpoint() // train chain + eval leg
      val lab = docs
        .select(col("doc_id"), (col("lang") === "en").cast("long").as("y"))
        .localCheckpoint()
      val snaps = LogisticGd
        .trainSnapshots(pres.where(col("doc_id") % 2 === 0), lab.where(col("doc_id") % 2 === 0), Seq(1, 3, 5))
        .toMap
      val evalDoc = pres
        .where(col("doc_id") % 2 === 1)
        .groupBy("doc_id")
        .agg(collect_list(col("b")).as("bs"))
        .join(lab.where(col("doc_id") % 2 === 1), "doc_id")
        .localCheckpoint() // shared by all three snapshot evals
      def point(iters: Int): DataFrame = {
        val w = snaps(iters)
        val wm = w.agg(map_from_entries(collect_list(struct(col("b"), col("w")))).as("wm"))
        val scored = evalDoc
          .crossJoin(broadcast(wm))
          .select(
            expr("aggregate(bs, 0L, (acc, x) -> acc + coalesce(element_at(wm, x), 0L))").as("z"),
            col("y").as("pos")
          )
        LogisticGd
          .auc(scored)
          .crossJoin(broadcast(w.agg(sum(expr("abs(w)")).as("w_l1"))))
          .select(lit(iters.toLong).as("iters"), col("auc_e6"), col("w_l1"), col("npos"), col("nneg"))
      }
      point(1).unionByName(point(3)).unionByName(point(5)).orderBy("iters")
    }),

    // Logistic-regression trainer (x228, operators/LogisticGd) — the
    // gradient-based trainer completing the learn→calibrate→evaluate
    // loop (x164 counts, x179 solves, x68 infers; this one DESCENDS):
    // 5 full-batch GD rounds over x65's 256 hashed presence features +
    // bias, rational fast-sigmoid activation, posmod-floor fixed-point
    // updates — bit-replayable in DuckDB as unrolled per-iteration CTEs
    // (the x72 pattern). Trains on the even-doc half against the x159
    // target (lang='en'), evaluates odd-half midrank AUC with the final
    // weights; output = the full 257-bucket weight vector × the eval
    // verdict, so a divergence in ANY round's arithmetic breaks the
    // hash. LogisticGdSpec proves the trainer recovers a planted
    // separable concept.
    "x228_logistic_gd" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val pres = hashedFeatures(s, d)
        .select(col("doc_id"), col("b"))
        .unionByName(docs.select(col("doc_id"), lit(256L).as("b")))
        .localCheckpoint() // train + eval legs
      val lab = docs.select(col("doc_id"), (col("lang") === "en").cast("long").as("y"))
      // train's returned weights are already localCheckpointed per round
      val w = LogisticGd
        .train(pres.where(col("doc_id") % 2 === 0), lab.where(col("doc_id") % 2 === 0), iters = 5)
      val scored = pres
        .where(col("doc_id") % 2 === 1)
        .join(broadcast(w), "b") // ≤257-row weight table: broadcast, never shuffle the stream by b
        .groupBy("doc_id")
        .agg(sum("w").as("z"))
        .join(lab.where(col("doc_id") % 2 === 1), "doc_id")
        .select(col("z"), col("y").as("pos"))
      s.range(257)
        .select(col("id").as("b"))
        .join(w, Seq("b"), "left")
        .select(col("b"), coalesce(col("w"), lit(0L)).as("w_e6"))
        .crossJoin(broadcast(LogisticGd.auc(scored)))
        .orderBy("b")
    }),

    // Naive Bayes classifier TRAINING + held-out evaluation (x164) — the
    // learn-the-filter face the classifier family was missing: x68 runs
    // inference over FIXTURE weights and x09 ranks trigram profiles; this
    // trains a multinomial NB (the fastText/CCNet-style cheap document
    // classifier) from the labeled corpus itself and evaluates it on the
    // untouched half. Train split = even doc_id (the x72/x127 convention);
    // features are x65's 256-bucket hashed unigrams; likelihoods are
    // add-1-smoothed floor-log2 weights w(l,b) = ⌊log2(c_lb+1)⌋ −
    // ⌊log2(T_l+256)⌋ and priors ⌊log2(d_l+1)⌋ − ⌊log2(N+L)⌋ — the x149
    // bin()-length log quantization, integer end to end (invariant #7).
    // Prediction argmaxes a (score desc, lang asc) total order; output is
    // the (actual, predicted, split) confusion census with a score digest
    // and the held-out accuracy ppm riding as a broadcast column — the
    // eval loop in the same query (the x159 discipline). Scale shape: the
    // corpus feature stream collapses to ≤256 rows per doc in ONE shuffle
    // (shared with training via a doc-keyed co-join), the dense L×256
    // weight grid and L-row priors broadcast back (bounded at any corpus
    // size), and the ×L scoring expansion happens AFTER the per-doc
    // collapse, never on the raw token stream.
    "x164_nb_classifier" -> ((s, d) => {
      val labeled = hashedFeatures(s, d)
        .join(table(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .localCheckpoint() // two plan refs: train counts, full-corpus scoring
      val train = labeled.where(col("doc_id") % 2 === 0)
      val cnts = train.groupBy(col("lang").as("clang"), col("b")).agg(sum("cnt").as("c"))
      val ltot = train.groupBy(col("lang").as("clang")).agg(sum("cnt").as("tl"))
      val tdocs = table(s, d, "documents")
        .where(col("doc_id") % 2 === 0)
        .groupBy(col("lang").as("clang"))
        .agg(count(lit(1)).as("dl"))
      val ntr = tdocs.agg(sum("dl").as("nd"), count(lit(1)).as("nl"))
      // dense grid: a bucket unseen for a language still carries its
      // smoothing mass −⌊log2(T_l+256)⌋ — a sparse join would drop it
      val grid = ltot
        .select(col("clang"), col("tl"), explode(expr("sequence(0, 255)")).as("bi"))
        .select(col("clang"), col("tl"), col("bi").cast("long").as("b"))
        .join(cnts, Seq("clang", "b"), "left")
        .select(
          col("clang"),
          col("b"),
          ((length(bin(coalesce(col("c"), lit(0L)) + 1L)) - 1).cast("long") -
            (length(bin(col("tl") + 256L)) - 1).cast("long")).as("w")
        )
      val priors = tdocs
        .crossJoin(broadcast(ntr))
        .select(
          col("clang"),
          ((length(bin(col("dl") + 1L)) - 1).cast("long") -
            (length(bin(col("nd") + col("nl"))) - 1).cast("long")).as("prior_bits")
        )
      // argmax by (score desc, clang asc) as a struct-min aggregate
      // (r11: min(struct(-score, clang)) picks the same row as the old
      // row_number window without the per-doc exchange + sort — the x109
      // one-agg-instead-of-a-window pattern, string tie-break included)
      val pred = labeled
        .join(broadcast(grid), Seq("b"))
        .groupBy("doc_id", "clang")
        .agg(sum(expr("cnt * w")).as("like_bits"))
        .join(broadcast(priors), "clang")
        .withColumn("score", col("like_bits") + col("prior_bits"))
        .groupBy("doc_id")
        .agg(min(struct((-col("score")).as("ns"), col("clang"))).as("m"))
        .select(col("doc_id"), col("m.clang").as("pred_lang"), (-col("m.ns")).as("score"))
      val conf = table(s, d, "documents")
        .select(col("doc_id"), col("lang"), (col("doc_id") % 2 === 0).as("is_train"))
        .join(pred, Seq("doc_id"), "left")
        .groupBy(col("lang"), coalesce(col("pred_lang"), lit("und")).as("pred_lang"), col("is_train"))
        .agg(count(lit(1)).as("n_docs"), sum(coalesce(col("score"), lit(0L))).as("score_digest"))
        .localCheckpoint() // two plan refs: output rows, accuracy fold
      val acc = conf.agg(
        expr(
          "(sum(IF(lang = pred_lang AND NOT is_train, n_docs, 0)) * 1000000) div " +
            "sum(IF(NOT is_train, n_docs, 0))"
        ).as("heldout_acc_ppm")
      )
      conf.crossJoin(broadcast(acc)).orderBy("lang", "pred_lang", "is_train")
    }),

    // char-trigram rank-profile language ID (Cavnar & Trenkle 1994,
    // "N-Gram-Based Text Categorization" — the fastText-predecessor method
    // real pipelines run; the r5 marker-word argmax was the one toy-grade
    // member of this family). Profiles are self-trained from the labeled
    // corpus: per-language trigram counts → top-64 by (count desc, trigram
    // asc) → rank weight 65-rank; classification scores every document's
    // trigram stream against the broadcast profile and argmaxes with a
    // (score desc, lang asc) total order; no-hit docs → 'und'. Integer
    // end to end, so the confusion matrix is hash-exact cross-engine.
    // Scale shape (the x66 discipline): the corpus trigram stream is
    // NEVER shuffled — trigrams come off the native single-pass
    // char_gram_all_hashes expression as int64 hashes (the first
    // explode(transform(sequence…, substring)) draft re-walked the UTF-8
    // string per gram inside an interpreted lambda: 77 s at the 16×
    // probe; this shape runs 6 s), profile build aggregates (lang, hash)
    // with map-side partials (alphabet³-bounded keys), the profile
    // broadcasts back (≤ 64·|langs| rows at ANY corpus size) onto a
    // second scan-side explode, and per-doc scores combine map-side. The
    // DuckDB oracle extracts the same positional trigram STRINGS and
    // applies the module-wide md5-window hash, so ranks and ties agree.
    "x09_text_langid" -> ((s, d) => {
      val topK = 64
      val docs = table(s, d, "documents")
      // the md5-per-gram pass is the dominant cost and BOTH the profile
      // build and the scoring join consume it — checkpoint it ONCE, but at
      // per-doc granularity (doc_id, hash ARRAY): 80k compact rows instead
      // of the 40M-row exploded stream (16× probe: exploded-frame
      // checkpoint 126 s, plain double re-scan 18.4 s, this shape 15.4 s)
      val docHashes = docs
        .select(
          col("doc_id"),
          col("lang"),
          regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm")
        )
        .where(length(col("norm")) >= 3) // sub-trigram docs classify 'und'
        .select(
          col("doc_id"),
          col("lang"),
          graft.functions.CharGramAllHashes(col("norm"), 3).as("ths")
        )
        .localCheckpoint()
      def docTri = docHashes.select(col("doc_id"), col("lang"), explode(col("ths")).as("th"))
      val wRank = Window.partitionBy("plang").orderBy(col("cnt").desc, col("th"))
      val profile = docTri
        .groupBy(col("lang").as("plang"), col("th"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(wRank))
        .where(col("rk") <= topK)
        .select(col("plang"), col("th"), (lit(topK + 1) - col("rk")).cast("long").as("w"))
      // argmax by (score desc, plang asc) as a struct-min aggregate (r11:
      // same pick as the old row_number window, no per-doc exchange + sort)
      val pred = docTri
        .join(broadcast(profile), Seq("th"))
        .groupBy("doc_id", "plang")
        .agg(sum("w").as("score"))
        .groupBy("doc_id")
        .agg(min(struct((-col("score")).as("ns"), col("plang"))).as("m"))
        .select(col("doc_id"), col("m.plang").as("pred_lang"))
      docs
        .select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"), "left")
        .groupBy(coalesce(col("pred_lang"), lit("und")).as("pred_lang"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("pred_lang", "lang")
    }),
    // TF-IDF keyword extraction: top-3 terms per query document, scored by
    // the integer-exact variant score = tf · (N/df) in fixed-point ppm
    // (one BIGINT multiply + floor divide, identical in both engines —
    // log-based idf would hinge on libm ulp agreement, which invariant #7
    // forbids across a hashed gate). Document frequencies are a full-corpus
    // term aggregation (map-side combine, shuffle on term — the inverted-
    // index shape); term frequencies are computed for the query docs only,
    // so the per-doc side never scans the whole corpus.
    "x25_tfidf_keywords" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val tf = docs
        .where(col("doc_id") < 20)
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val dfreq = docs
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy("term")
        .agg(countDistinct("doc_id").as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        // DECIMAL(38,0) intermediate: tf·n·1e6 wraps int64 already at
        // n≈1e9 docs with tf≈1e4; 128-bit decimal gives exact headroom to
        // ~1e38 and `div` floors back to BIGINT (the score itself must fit
        // int64 — that bound is the output schema's, not the formula's).
        .withColumn("score", expr("(cast(tf as decimal(38,0)) * n * 1000000) div df"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select("doc_id", "rk", "term", "score")
        .orderBy("doc_id", "rk")
    }),
    // corpus vocabulary head: global term/document frequencies, top-20 by
    // total term frequency. The canonical distributed word count — partial
    // aggregation collapses per-task term counts before the shuffle, and
    // the ordered limit plans as TakeOrderedAndProject (per-partition top-k,
    // never a global sort materialization).
    "x28_vocab_top_terms" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
        .orderBy(col("tf").desc, col("term"))
        .limit(20)
    }),
    // keyword document retrieval: rank the corpus against a term query by
    // summed integer tf·idf. The query-term filter is applied at the explode
    // (a pushed-down scan predicate at 100 TB — only matching tokens ever
    // reach a shuffle), term stats aggregate over query terms only, and the
    // final ordered limit plans as TakeOrderedAndProject.
    // BM25 ranking (x156) — the saturating upgrade of x32's tf·idf:
    // score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    // the standard k1 = 1.2, b = 0.75 (Robertson & Walker 1994). Exact
    // integer form: the rationals clear to satf_e6 = (44·tf·T·10⁶) div
    // (20·T·tf + 6·T + 18·dl·D) with T = total tokens, D = docs (avgdl
    // never materializes as a float), and idf is the x61 floor-log2
    // surrogate ⌊log2(D/df)⌋ — every operation identical in the oracle.
    // Long docs now saturate (tf → k1+1 asymptote) and are length-
    // penalized, the two behaviors tf·idf lacks. Scale shape = x32's:
    // term-filtered scan, vocab-sized df/1-row totals broadcast back,
    // one per-doc agg, TakeOrderedAndProject.
    "x156_bm25_rank" -> ((s, d) => {
      val qterms = Seq("table", "spark", "window")
      val docs = table(s, d, "documents")
      val dl = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
      val totals = dl.agg(sum("dl").as("tt"), count(lit(1)).as("nd"))
      val hits = docs
        .select(col("doc_id"), explode(toks).as("term"))
        .where(col("term").isInCollection(qterms))
      val dfreq = hits.groupBy("term").agg(countDistinct("doc_id").as("df"))
      hits
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
        .join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(totals))
        .withColumn("idf_bits", (length(bin(expr("nd div df"))) - 1).cast("long"))
        // DECIMAL(38,0) headroom like x32 (tf·T·1e6 wraps int64 at corpus scale)
        .withColumn(
          "satf_e6",
          expr(
            "CAST((CAST(44 AS DECIMAL(38,0)) * tf * tt * 1000000) div " +
              "(CAST(20 AS DECIMAL(38,0)) * tt * tf + 6 * tt + 18 * dl * nd) AS BIGINT)"
          )
        )
        .groupBy("doc_id")
        .agg(sum(col("idf_bits") * col("satf_e6")).as("score"), count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    // Persisted inverted text index + bucket-pruned point lookup (x170)
    // — the keyword-retrieval analog of x74's persisted ANN index: x32
    // rescans the corpus per query; this builds posting lists ONCE
    // (fingerprint-guarded, per source dir — the x74 artifact-drift
    // convention) partitioned by a 64-way term-hash bucket, and a query
    // reads ONLY its terms' bucket directories (partition pruning,
    // plan-asserted in InvertedIndexSpec: ≤3 of 64 dirs opened). Scoring
    // is x32's exact integer tf·(N/df) formula, so the indexed path must
    // reproduce the scan path's ranking bit-for-bit; df and N are frozen
    // INTO the artifact at build (denormalized posting rows + a 1-row
    // totals parquet), which is what makes the lookup corpus-free. The
    // oracle re-derives everything from documents — a stale or mis-built
    // artifact flips the hash. buckets_read pins the driver-side bucket
    // math against an in-SQL md5 replay.
    "x170_inverted_index" -> ((s, d) => {
      val dir = invIdxEnsure(s, d)
      val qterms = Seq("table", "spark", "window")
      val qbuckets = qterms.map(t => Hashing.md5BucketOf(t, 64L)).distinct
      val postings = Graft.parquet(s, s"$dir/postings")
        .where(col("bucket").isInCollection(qbuckets) && col("term").isInCollection(qterms))
      val n = Graft.parquet(s, s"$dir/totals")
      postings
        .crossJoin(broadcast(n))
        .withColumn("tscore", expr("(cast(tf as decimal(38,0)) * n * 1000000) div df"))
        .groupBy("doc_id")
        .agg(sum("tscore").as("score"), count(lit(1)).as("n_terms_hit"))
        .withColumn("buckets_read", lit(qbuckets.length.toLong))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    // Incremental index maintenance (x266) — the r8 verdict's task 4:
    // x170's artifact rebuilds whole when sources drift; this one INGESTS.
    // The fixture splits documents into a base segment (80%) plus two
    // appended delta segments (10% each — the x69 shard discipline on the
    // index side); the gate's lookup reads base ∪ deltas with df
    // recomputed over the term-pruned union and N summed from segment
    // totals, and must HASH-MATCH a from-scratch computation over the
    // WHOLE corpus (the oracle) — the proof that appended segments
    // compose to exactly the full-rebuild ranking. Base-files-never-move
    // and compaction equivalence are IncIndexSpec territory.
    "x266_incremental_index" -> ((s, d) => {
      val dir = incIdxEnsure(s, d)
      incIdxLookup(s, dir, Seq("table", "spark", "window"))
        .withColumn("n_segments", lit(incIdxSegments(dir).size.toLong))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),
    "x32_keyword_search" -> ((s, d) => {
      val qterms = Seq("table", "spark", "window")
      val docs = table(s, d, "documents")
      val hits = docs
        .select(col("doc_id"), explode(toks).as("term"))
        .where(col("term").isInCollection(qterms))
      val dfreq = hits.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      hits
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
        .join(dfreq, "term")
        .crossJoin(broadcast(n))
        // Same DECIMAL(38,0) headroom as x25 (tf·n·1e6 wraps int64 at corpus scale)
        .withColumn("tscore", expr("(cast(tf as decimal(38,0)) * n * 1000000) div df"))
        .groupBy("doc_id")
        .agg(sum("tscore").as("score"), count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),
    // bigram-coherence scoring: the n-gram-LM stand-in for model-based
    // quality filtering (a perplexity filter without a model). Corpus-wide
    // bigram and bigram-prefix counts give each transition an integer
    // probability cnt(w1 w2)·1e6 div cnt(w1 ·); a document's score is the
    // floor-mean of its transitions. Natural text scores high (its
    // transitions recur corpus-wide); shuffled/garbage text scores near the
    // uniform floor. Pure BIGINT throughout — a log-prob mean would gamble
    // on libm ulp agreement across engines (invariant #7).
    //
    // Scale shape: both count tables are corpus aggregations with map-side
    // combine (the word-count shape); the scored side joins per-doc bigrams
    // to those stats on the gram key — an inverted-index join, never a
    // corpus self-join. The prefix table is NOT a second scan: it
    // re-aggregates the bigram counts by w1 (tiny input).

    // Heaps'-law vocabulary-growth fit (x203) — x186's companion
    // diagnostic on the OTHER axis (Heaps 1978: V(n) ∝ n^β, natural
    // corpora β ≈ 0.4–0.6; a saturating curve flags a closed/synthetic
    // vocabulary, runaway growth flags mojibake/noise): V is measured at
    // 16 PREFIX checkpoints of the md5-hash order — hash-RANGE prefixes,
    // never a global rank (the x87 lesson: "first n docs" as h < k·2⁵⁶
    // is order-free and needs no window over the corpus). Per-term
    // first-checkpoint = min cell over its docs (one explode + min-agg,
    // vocab-bound result); cumulative census + vocab ride ≤16-row theta
    // joins; the fit is the x186 integer OLS on (⌊log2 n_tok⌋,
    // ⌊log2 V⌋). TWO faces (x186 twin shape): the real corpus — which
    // SATURATES at 31 types, slope ≈ 0, the honest negative finding —
    // and a PLANTED β = ½ stream (token at position p draws type
    // md5(p) mod (⌊√p⌋+1): value v first becomes reachable near p ≈ v²,
    // so V(n) ≈ √n by construction, pure integer + exact IEEE sqrt in
    // both engines); its fit must recover slope ≈ 5e5 (spec-asserted).
    "x203_heaps_fit" -> ((s, d) => {
      val cell = 72057594037927936L // 2^56: the 2^60 md5 window into 16 prefix cells
      def face(census0: DataFrame, termB0: DataFrame, id: Long): DataFrame = {
        val census = census0.localCheckpoint() // two refs: cum join both sides
        val c2 = census.select(col("ck").as("ck2"), col("n_docs").as("nd2"), col("n_tok").as("nt2"))
        val cum = census
          .join(broadcast(c2), col("ck2") <= col("ck"))
          .groupBy("ck")
          .agg(sum("nd2").as("n_docs"), sum("nt2").as("n_tokens"))
        val withV = cum
          .join(broadcast(termB0), col("tb") <= col("ck"))
          .groupBy("ck", "n_docs", "n_tokens")
          .agg(sum("n_new").as("vocab"))
          .localCheckpoint() // two refs: fit + output
        val fit = withV
          .select(
            expr("CAST(length(bin(n_tokens)) - 1 AS BIGINT)").as("x"),
            expr("CAST(length(bin(vocab)) - 1 AS BIGINT)").as("y")
          )
          .agg(
            count(lit(1)).as("n_fit"),
            sum("x").as("sx"),
            sum("y").as("sy"),
            sum(expr("x * x")).as("sxx"),
            sum(expr("x * y")).as("sxy")
          )
          .select(
            expr(
              "CAST(IF(n_fit * sxx - sx * sx = 0, 0, " +
                "((n_fit * sxy - sx * sy) * 1000000 - pmod((n_fit * sxy - sx * sy) * 1000000, " +
                "n_fit * sxx - sx * sx)) div (n_fit * sxx - sx * sx)) AS BIGINT)"
            ).as("slope_e6")
          )
        withV
          .crossJoin(broadcast(fit))
          .select(lit(id).as("test_id"), col("ck"), col("n_docs"), col("n_tokens"), col("vocab"), col("slope_e6"))
      }
      // corpus face
      val base = table(s, d, "documents")
        .select(col("doc_id"), toks.as("w"))
        .withColumn("ck", expr(s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) div $cell"))
        .withColumn("n_tok", size(col("w")).cast("long"))
        .localCheckpoint() // two refs: census + term explode
      val census = base.groupBy("ck").agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
      val termB = base
        .select(col("ck"), explode(col("w")).as("term"))
        .groupBy("term")
        .agg(min("ck").as("tb"))
        .groupBy("tb")
        .agg(count(lit(1)).as("n_new"))
      // planted β=1/2 face: 65536 positions, 4096 per checkpoint cell
      val pos = s
        .range(1L, 65537L)
        .toDF("p")
        .withColumn("ck", expr("(p - 1) * 16 div 65536"))
        .withColumn(
          "t",
          expr(
            "CAST(conv(substring(md5(concat(CAST(p AS STRING), '#hp')), 1, 15), 16, 10) AS BIGINT) " +
              "% (CAST(floor(sqrt(CAST(p AS DOUBLE))) AS BIGINT) + 1)"
          )
        )
        .localCheckpoint() // two refs: census + type min-agg
      val pCensus = pos.groupBy("ck").agg(count(lit(1)).as("n_docs"), count(lit(1)).as("n_tok"))
      val pTermB = pos.groupBy("t").agg(min("ck").as("tb")).groupBy("tb").agg(count(lit(1)).as("n_new"))
      face(census, termB, 0L).unionByName(face(pCensus, pTermB, 1L)).orderBy("test_id", "ck")
    }),

    // Zipf-exponent fit (x186) — the data-card diagnostic of the token
    // frequency distribution (Zipf 1949: tf ∝ rank^−s; natural corpora
    // sit near s ≈ 1, and a far-off exponent flags synthetic/boilerplate
    // text): OLS slope on the (⌊log2 rank⌋, ⌊log2 tf⌋) plane — both logs
    // the x61 bin()-length floor, the slope q46's integer moment sums
    // with a posmod-floor e6 division; fit over the top-64 ranks where
    // the power-law regime lives. TWO fits (x181 twin shape): the corpus
    // vocabulary (small and near-uniform — slope near 0, the negative
    // control) and a PLANTED power law — per-token word_id = 2²⁶ div
    // (md5 % 2²⁶ + 1), the inverse-uniform construction whose pmf is
    // ∝ 1/v(v+1) ≈ v⁻², pure integer in both engines — whose fit must
    // recover slope ≈ −2e6 (spec-asserted). Scale shape: each census is
    // one corpus-pass agg with map-side combine; the top-64 comes out as
    // a TakeOrderedAndProject (per-partition heaps, no global sort — the
    // r7-flagged census-wide row_number is gone) and the re-rank runs
    // over exactly those 64 rows in one bounded task; the fit is a
    // 64-row aggregate.
    "x186_zipf_fit" -> ((s, d) => {
      val tokens = table(s, d, "documents")
        .select(col("doc_id"), posexplode(toks).as(Seq("p", "w")))
        .localCheckpoint() // both censuses
      val c0 = tokens.groupBy(col("w").as("k")).agg(count(lit(1)).as("tf"))
      val c1 = tokens
        .select(
          graft.functions.Hashing
            .md5Bucket(concat(col("doc_id").cast("string"), lit("#"), col("p").cast("string"), lit("#z")), 1L << 26)
            .as("h")
        )
        .select(expr(s"CAST(${1L << 26} div (h + 1) AS STRING)").as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("tf"))
      def fit(census0: DataFrame, id: Long): DataFrame = {
        val census = census0.localCheckpoint() // two plan refs: rank, totals
        // top-64 as TakeOrderedAndProject (per-partition heaps, no global
        // sort), then a window-free re-rank: rank = 1 + |rows ahead in
        // (tf desc, k) order|, a 64×64 broadcast self-join
        val top = census
          .orderBy(col("tf").desc, col("k"))
          .limit(64)
          .localCheckpoint() // both sides of the re-rank self-join
        val ranked = top
          .join(
            broadcast(top.select(col("tf").as("tb"), col("k").as("kb"))),
            col("tb") > col("tf") || (col("tb") === col("tf") && col("kb") < col("k")),
            "left"
          )
          .groupBy("tf", "k")
          .agg((count(col("kb")) + 1L).as("r"))
          .select(
            expr("CAST(length(bin(r)) - 1 AS BIGINT)").as("x"),
            expr("CAST(length(bin(tf)) - 1 AS BIGINT)").as("y")
          )
        val tot = census.agg(sum("tf").as("n_tokens"), count(lit(1)).as("n_types"))
        ranked
          .agg(
            count(lit(1)).as("n_fit"),
            sum("x").as("sx"),
            sum("y").as("sy"),
            sum(expr("x * x")).as("sxx"),
            sum(expr("x * y")).as("sxy")
          )
          .crossJoin(broadcast(tot))
          .select(
            lit(id).as("test_id"),
            col("n_tokens"),
            col("n_types"),
            col("n_fit"),
            col("sx"),
            col("sy"),
            col("sxx"),
            col("sxy"),
            expr(
              "CAST(IF(n_fit * sxx - sx * sx = 0, 0, " +
                "((n_fit * sxy - sx * sy) * 1000000 - pmod((n_fit * sxy - sx * sy) * 1000000, " +
                "n_fit * sxx - sx * sx)) div (n_fit * sxx - sx * sx)) AS BIGINT)"
            ).as("slope_e6")
          )
      }
      fit(c0, 0L).unionByName(fit(c1, 1L)).orderBy("test_id")
    }),

    // Held-out KN perplexity (x196) — the EVAL half x175's LM exists for
    // (x159 evaluates a classifier; this evaluates the language model):
    // the KN bigram model TRAINS on the even-doc half and scores the
    // odd-doc half's bigram stream — quantized surprisal bits per bigram
    // via the x61 bin() floor of 1e6/p_e6, aggregated per language. The
    // off-train paths are first-class (the reason eval exists): an
    // unseen PAIR under a seen context takes the continuation mass
    // (c12 = 0 in the x175 formula), an unseen CONTEXT backs off to the
    // w2 continuation probability Ncw2·1e6/B, and a fully-unseen token
    // floors at p_e6 = 1 (~20 bits). The tiny shared vocab makes those
    // paths naturally dead, so every odd doc gets NOVEL tokens appended
    // in-query (" qq7 qq8 qq7 the" — the x101 plant): per-path bigram
    // counts ride the output and all four are visibly load-bearing. Scale shape: train
    // stats are vocab-sized (broadcast/AQE); the eval stream crosses one
    // shuffle into the per-lang agg; nothing rescans the train corpus.
    "x196_kn_perplexity" -> ((s, d) => {
      val bigramsOf = (filter: Column, textCol: Column) =>
        table(s, d, "documents")
          .where(filter)
          .select(col("doc_id"), col("lang"), split(lower(trim(textCol)), "\\s+").as("w"))
          .where(size(col("w")) >= 2)
          .select(
            col("doc_id"),
            col("lang"),
            explode(
              transform(sequence(lit(0), size(col("w")) - 2), i =>
                struct(element_at(col("w"), i + 1).as("w1"), element_at(col("w"), i + 2).as("w2")))
            ).as("g")
          )
          .select(col("doc_id"), col("lang"), col("g.w1"), col("g.w2"))
      val cnt2 = bigramsOf(col("doc_id") % 2 === 0, col("text"))
        .groupBy("w1", "w2")
        .agg(count(lit(1)).as("cnt2"))
        .localCheckpoint()
      val lft = cnt2.groupBy("w1").agg(sum("cnt2").as("c1"), count(lit(1)).as("n1w1"))
      val rgt = cnt2.groupBy("w2").agg(count(lit(1)).as("ncw2"))
      val b = cnt2.agg(count(lit(1)).as("b"))
      // the eval half gets NOVEL tokens appended (x101 plant): " qq7 qq8
      // qq7 the" exercises backoff (last→qq7), unseen (qq7→qq8, qq8→qq7)
      // and continuation-only (qq7→the) on every odd doc
      bigramsOf(col("doc_id") % 2 === 1, concat(col("text"), lit(" qq7 qq8 qq7 the")))
        .join(cnt2, Seq("w1", "w2"), "left")
        .join(lft, Seq("w1"), "left")
        .join(rgt, Seq("w2"), "left")
        .crossJoin(broadcast(b))
        .withColumn(
          "p_e6",
          expr(
            "CASE WHEN c1 IS NOT NULL THEN greatest(1, " +
              "CAST(((CAST(greatest(4*coalesce(cnt2, 0) - 3, 0) AS DECIMAL(38,0)) * b " +
              "+ 3 * n1w1 * coalesce(ncw2, 0)) * 1000000) div (4 * c1 * b) AS BIGINT)) " +
              "WHEN ncw2 IS NOT NULL THEN greatest(1, (ncw2 * 1000000) div b) " +
              "ELSE 1 END"
          )
        )
        .withColumn("bits", expr("length(bin(1000000 div p_e6)) - 1"))
        .withColumn(
          "path",
          expr(
            "CASE WHEN c1 IS NOT NULL AND cnt2 IS NOT NULL THEN 'seen' " +
              "WHEN c1 IS NOT NULL THEN 'backoff' " +
              "WHEN ncw2 IS NOT NULL THEN 'continuation_only' ELSE 'unseen' END"
          )
        )
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum("bits").as("total_bits"),
          expr("CAST((sum(bits) * 1000) div count(1) AS BIGINT)").as("mean_bits_e3"),
          sum(expr("IF(path = 'seen', 1, 0)")).as("n_seen"),
          sum(expr("IF(path = 'backoff', 1, 0)")).as("n_backoff"),
          sum(expr("IF(path = 'continuation_only', 1, 0)")).as("n_cont_only"),
          sum(expr("IF(path = 'unseen', 1, 0)")).as("n_unseen")
        )
        .orderBy("lang")
    }),

    // Positional phrase search (x185) — the PHRASE face of the retrieval
    // family (x32 ranks by summed term tf·idf, x170 serves it from a
    // persisted index; neither can answer "these words ADJACENT, in
    // order"): postings carry word POSITIONS, and a k-word phrase match
    // is a (k−1)-fold equi-join of the phrase terms' postings on
    // (doc_id, start) — each term's positions shifted by its offset, the
    // standard positional-index intersection. The cross-pin makes the
    // join provably complete: the per-phrase doc count rides every row,
    // and the ORACLE derives it from an INDEPENDENT whole-text
    // containment scan (' '-bounded substring over the joined words) —
    // phrase words are distinct, so positional-match-exists ⇔ substring-
    // contains, and a dropped or phantom match flips the hash.
    // Scale shape: the postings explode is one corpus pass
    // (localCheckpointed once, shared by all phrases); each phrase join
    // is equi-keyed on (doc_id, pos) — co-partitioned, term-selective
    // (only the phrase words' postings survive the scan filter).
    "x185_phrase_search" -> ((s, d) => {
      val phrases = Seq(
        (0L, Seq("hash", "agg")),
        (1L, Seq("table", "value", "part")),
        (2L, Seq("sort", "key"))
      )
      val posts = table(s, d, "documents")
        .select(col("doc_id"), posexplode(toks).as(Seq("p", "w")))
        .select(col("doc_id"), col("p").cast("long").as("p"), col("w"))
        .localCheckpoint() // one explode shared by every phrase probe
      val perPhrase = phrases.map { case (_, words) =>
        var m = posts.where(col("w") === words.head).select(col("doc_id"), col("p"))
        words.zipWithIndex.tail.foreach { case (wd, i) =>
          m = m.join(
            posts.where(col("w") === wd).select(col("doc_id"), (col("p") - i).as("p")),
            Seq("doc_id", "p")
          )
        }
        val phrase = words.mkString(" ")
        val perDoc = m
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_matches"), min("p").as("first_pos"))
          .localCheckpoint() // two plan refs: n_docs count, output
        val nd = perDoc.agg(count(lit(1)).as("n_docs"))
        perDoc
          .crossJoin(broadcast(nd))
          .select(lit(phrase).as("phrase"), col("doc_id"), col("n_matches"), col("first_pos"), col("n_docs"))
      }
      perPhrase.reduce(_ unionByName _).orderBy("phrase", "doc_id")
    }),

    // Interpolated Kneser–Ney bigram LM (x175, Kneser & Ney 1995 in Chen
    // & Goodman 1999's interpolated form) — the SMOOTHED upgrade of the
    // raw-count LM family (x42 MLE transitions, x61 unigram surprisal,
    // x66 corpus bigram surprisal): P(w2|w1) = max(c12−d, 0)/c1 +
    // d·N1+(w1·)/c1 · N1+(·w2)/B with d = 3/4, where the continuation
    // probability counts DISTINCT LEFT CONTEXTS, not raw frequency — the
    // insight that makes "francisco" unlikely after anything but "san".
    // Exactness: d = 3/4 clears — p·e6 = ⌊(max(4·c12−3,0)·B +
    // 3·N1w1·Ncw2)·10⁶ / (4·c1·B)⌋, every term a nonneg integer
    // (DECIMAL(38,0)/HUGEINT headroom for the ·B·10⁶ products — the x42
    // class). Output is bounded: the top-40 bigrams by count plus a 3×3
    // probe grid (top w1 by c1 × the RAREST w2 by continuation count) whose
    // UNSEEN cells exercise the back-off path (c12 = 0 ⇒ pure
    // continuation mass — the reason KN exists); the MLE twin rides
    // along so the discount is visible in the gate output.
    // Scale shape: ONE corpus pass into the (w1,w2) count table (map-side
    // combine), localCheckpointed for its five bounded consumers; every
    // downstream agg/join is vocab-sized, the probe grid is 9 rows, and
    // the top-k is TakeOrderedAndProject. The corpus bigram stream is
    // never shuffled raw (the x66 discipline).
    "x175_kneser_ney" -> ((s, d) => {
      val bigrams = table(s, d, "documents")
        .select(toks.as("w"))
        .where(size(col("w")) >= 2)
        .select(
          explode(
            transform(sequence(lit(0), size(col("w")) - 2), i =>
              struct(element_at(col("w"), i + 1).as("w1"), element_at(col("w"), i + 2).as("w2")))
          ).as("g")
        )
        .select(col("g.w1"), col("g.w2"))
      val cnt2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cnt2")).localCheckpoint()
      val lft = cnt2.groupBy("w1").agg(sum("cnt2").as("c1"), count(lit(1)).as("n1w1")).localCheckpoint()
      val rgt = cnt2.groupBy("w2").agg(count(lit(1)).as("ncw2")).localCheckpoint()
      val b = cnt2.agg(count(lit(1)).as("b"))
      val top = cnt2
        .orderBy(col("cnt2").desc, col("w1"), col("w2"))
        .limit(40)
        .withColumn("probe", lit(0L))
      val pw1 = lft.orderBy(col("c1").desc, col("w1")).limit(3).select("w1")
      val pw2 = rgt.orderBy(col("ncw2"), col("w2")).limit(3).select("w2")
      val probes = pw1
        .crossJoin(broadcast(pw2))
        .join(cnt2, Seq("w1", "w2"), "left")
        .withColumn("cnt2", coalesce(col("cnt2"), lit(0L)))
        .withColumn("probe", lit(1L))
      top
        .unionByName(probes)
        .join(lft, Seq("w1"))
        .join(rgt, Seq("w2"))
        .crossJoin(broadcast(b))
        .select(
          col("probe"),
          col("w1"),
          col("w2"),
          col("cnt2"),
          col("c1"),
          col("n1w1"),
          col("ncw2"),
          expr(
            "CAST(((CAST(greatest(4*cnt2 - 3, 0) AS DECIMAL(38,0)) * b + 3 * n1w1 * ncw2) * 1000000)" +
              " div (4 * c1 * b) AS BIGINT)"
          ).as("pkn_e6"),
          expr("CAST((CAST(cnt2 AS DECIMAL(38,0)) * 1000000) div c1 AS BIGINT)").as("pmle_e6")
        )
        .orderBy(col("probe"), col("cnt2").desc, col("w1"), col("w2"))
    }),

    "x42_bigram_coherence" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val bigrams = docs
        .select(col("doc_id"), toks.as("w"))
        .where(size(col("w")) >= 2)
        .select(
          col("doc_id"),
          explode(
            transform(sequence(lit(0), size(col("w")) - 2), i =>
              struct(element_at(col("w"), i + 1).as("w1"), element_at(col("w"), i + 2).as("w2")))
          ).as("g")
        )
        .select(col("doc_id"), col("g.w1"), col("g.w2"))
      val cnt2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
      val cnt1 = cnt2.groupBy("w1").agg(sum("cnt2").as("cnt1"))
      bigrams
        .where(col("doc_id") < 30)
        .join(cnt2, Seq("w1", "w2"))
        .join(cnt1, Seq("w1"))
        // DECIMAL(38,0) headroom: a stop-phrase bigram's corpus count ×1e6
        // brushes int64 at web scale (same class as the x25 fix)
        .withColumn("p_ppm", expr("(cast(cnt2 as decimal(38,0)) * 1000000) div cnt1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("p_ppm").as("sum_ppm"))
        .withColumn("coherence_ppm", expr("sum_ppm div n_bigrams"))
        .select("doc_id", "n_bigrams", "coherence_ppm")
        .orderBy("doc_id")
    }),
    // winnowing document sketches (Schleimer et al.): window-min selection
    // over POSITIONAL char-4-gram hashes, w=5 — any shared substring of
    // ≥ w+n−1 = 8 chars contributes a shared fingerprint, which is the
    // local-overlap guarantee x10's global fingerprints can't give. Native
    // single-pass monotonic-deque expression (7th native expression);
    // the oracle re-derives the same selection from substr+md5 in SQL.
    "x36_winnow_fingerprint" -> ((s, d) => {
      val t = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      table(s, d, "documents")
        .select(col("doc_id"), graft.functions.WinnowFingerprints(t, 4, 5).as("fps"))
        .where(size(col("fps")) > 0)
        .select(
          col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          element_at(col("fps"), 1).as("fp_min"), // array is sorted
          element_at(col("fps"), -1).as("fp_max")
        )
        .orderBy("doc_id")
    }),
    // document chunking into fixed 64-token windows — the context-window
    // preparation step (training sequence packing / RAG indexing) that
    // turns variable-length documents into bounded units. Real text
    // slicing: each chunk's actual token span is reassembled and
    // fingerprinted, so the gate verifies the slice arithmetic and the
    // chunk CONTENT, not just counts. Pure per-row generators (sequence →
    // explode), single scan, no shuffle before the output sort.
    "x38_doc_chunks" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"), col("w"), explode(expr("sequence(0, CAST((size(w) - 1) div 64 AS BIGINT))")).as("chunk_idx"))
        .select(
          col("doc_id"),
          col("chunk_idx"),
          size(expr("slice(w, CAST(chunk_idx * 64 + 1 AS INT), 64)")).cast("long").as("chunk_tokens"),
          md5(expr("array_join(slice(w, CAST(chunk_idx * 64 + 1 AS INT), 64), ' ')")).as("chunk_md5")
        )
        .orderBy("doc_id", "chunk_idx")
    }),
    "x10_text_fingerprint" -> ((s, d) => {
      table(s, d, "documents")
        .select(
          col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp_norm"),
          md5(concat_ws(" ", array_sort(array_distinct(toks)))).as("fp_sorted"),
          graft.functions.RollingHash(col("text")).as("rolling_hash")
        )
        .orderBy("doc_id")
    }),

    // per-domain quality-threshold CALIBRATION — the selection policy on
    // top of x08's scoring: a single global quality cutoff systematically
    // biases against whole domains whose score distribution sits lower
    // (a zh corpus scored by en-centric stopword/word-length features
    // would be gutted), so production filters calibrate the fence
    // per-domain: keep each domain's top 70% (p30 fence) rather than
    // everything above one global p30. Both fences are computed here and
    // both keep-counts reported, so the domain-bias delta
    // (n_kept_global vs n_kept_domain) is measurable in the gate output.
    // Integer discipline: the x08 score integerized to e6 fixed-point
    // (two integer divisions), fences via the spillable two-phase
    // ExactPercentile (q27 machinery) ×1000-rounded like x62 — all
    // comparisons integer.
    //
    // Scale shape: one exploded scan → per-doc hash agg (map-side
    // combined); fence tables are |langs|-row / 1-row broadcasts; the
    // scored frame feeds three plan positions → localCheckpoint.
    "x79_quality_calibrate" -> ((s, d) => {
      val scored = table(s, d, "documents")
        .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
        .groupBy("doc_id", "lang")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("tok").isInCollection(stopwords), 1L).otherwise(0L)).as("stop_cnt"),
          sum(length(col("tok")).cast("long")).as("char_sum")
        )
        .withColumn("score_e6", expr("(stop_cnt * 500000L) div n_tokens + (char_sum * 100000L) div n_tokens"))
        .localCheckpoint()
      val perLang = ExactPercentile(scored, "lang", col("score_e6"), Seq("p30" -> 0.30))
        .select(col("lang"), expr("CAST(round(p30 * 1000) AS BIGINT)").as("fence_e3"))
      val globalFence = ExactPercentile(scored.withColumn("g", lit(1)), "g", col("score_e6"), Seq("p30" -> 0.30))
        .select(expr("CAST(round(p30 * 1000) AS BIGINT)").as("gfence_e3"))
      scored
        .join(broadcast(perLang), "lang")
        .crossJoin(broadcast(globalFence))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          max("fence_e3").as("fence_e3"),
          sum(when(col("score_e6") * 1000 >= col("fence_e3"), 1L).otherwise(0L)).as("n_kept_domain"),
          sum(when(col("score_e6") * 1000 >= col("gfence_e3"), 1L).otherwise(0L)).as("n_kept_global"),
          sum(when(col("score_e6") * 1000 >= col("fence_e3"), col("doc_id")).otherwise(0L)).as("kept_digest")
        )
        .orderBy("lang")
    })
  )

  /** Unrolled 8-round replay of the BPE merge loop, generated round by
    * round (the x66 full-CTE-twin pattern at loop scale). Segmentations
    * live as sentinel-wrapped strings — every symbol is chr(1)‖sym‖chr(2)
    * — because SQL `replace` is left-to-right non-overlapping, which with
    * per-symbol sentinels reproduces BPE merge semantics exactly (shared-
    * boundary overlaps like "a a a" can't double-merge: the first match
    * consumes its full wrapped span). */
  /** The training-chain CTEs (vocab → seg0 → per-round sy/c/b/seg) for
    * [[bpeMerges]]'s k rounds, with `docFilter` restricting the TRAINING
    * corpus (x72 trains on everything; x75 on the even-doc half). Yields
    * CTEs `b1..bk` (the learned merges) and `seg0..segk`. */
  private def bpeChainSql(rounds: Int, docFilter: String): String = {
    val init =
      s"""vocab AS (
         |  SELECT w, count(*) AS n FROM (
         |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |    FROM documents $docFilter)
         |  WHERE w <> '' GROUP BY w),
         |seg0 AS (
         |  SELECT n, regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') AS s FROM vocab)""".stripMargin
    val perRound = (1 to rounds).map { r =>
      s"""sy$r AS (
         |  SELECT n, string_split(substr(s, 2, length(s) - 2), chr(2) || chr(1)) AS syms
         |  FROM seg${r - 1}),
         |c$r AS (
         |  SELECT p[1] AS p1, p[2] AS p2, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, unnest(list_transform(generate_series(1, len(syms) - 1),
         |      i -> [syms[i], syms[i + 1]])) AS p
         |    FROM sy$r WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT p1, p2, cnt FROM c$r ORDER BY cnt DESC, p1, p2 LIMIT 1),
         |seg$r AS (
         |  SELECT n, replace(s, chr(1) || b.p1 || chr(2) || chr(1) || b.p2 || chr(2),
         |                       chr(1) || b.p1 || b.p2 || chr(2)) AS s
         |  FROM seg${r - 1}, b$r b)""".stripMargin
    }
    (init +: perRound).mkString(",\n")
  }

  private val bpeTrainOracle: String = {
    val rounds = 8
    val branches = (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, p1, p2, p1 || p2 AS merged, cnt FROM b$r")
      .mkString("\nUNION ALL\n")
    "WITH " + bpeChainSql(rounds, "") + s"\n$branches\nORDER BY round"
  }

  /** x75 twin: train chain on the even-doc half, then replay the learned
    * replaces over the FULL corpus vocabulary and aggregate per doc. */
  private val bpeEncodeOracle: String = {
    val rounds = 8
    val applyRounds = (1 to rounds).map { r =>
      s"""aseg$r AS (
         |  SELECT w, replace(s, chr(1) || b.p1 || chr(2) || chr(1) || b.p2 || chr(2),
         |                       chr(1) || b.p1 || b.p2 || chr(2)) AS s
         |  FROM aseg${r - 1}, b$r b)""".stripMargin
    }
    val tail =
      s"""wcd AS (
         |  SELECT doc_id, w, count(*) AS k FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE w <> '' GROUP BY doc_id, w),
         |aseg0 AS (
         |  SELECT w, regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') AS s
         |  FROM (SELECT DISTINCT w FROM wcd)),
         |${applyRounds.mkString(",\n")},
         |enc AS (
         |  SELECT w, length(s) - length(replace(s, chr(1), '')) AS ntoks,
         |    array_to_string(string_split(substr(s, 2, length(s) - 2), chr(2) || chr(1)), ' ') AS segstr
         |  FROM aseg$rounds)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
         |  CAST(sum(k * ntoks) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(k * (('0x' || substr(md5(segstr), 1, 15))::BIGINT % 1048576)) AS BIGINT) AS seg_digest
         |FROM wcd JOIN enc USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
    "WITH " + bpeChainSql(rounds, "WHERE doc_id % 2 = 0") + ",\n" + tail
  }

  def oracles: Map[String, String] = {
    def inSetSql(set: Seq[String]) = set.map(w => s"'$w'").mkString("(", ", ", ")")
    Map(
      // x125: codes replayed as row_number over the sorted distinct vocab
      // (binary collation in both engines); the dictionary digest pins
      // every (word, code) pair order-free, the encode side every join.
      "x125_global_dictionary" ->
        """WITH tok AS (
          |  SELECT lang, source,
          |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
          |  FROM documents),
          |tok2 AS (SELECT * FROM tok WHERE word <> ''),
          |v AS (
          |  SELECT word, row_number() OVER (ORDER BY word) - 1 AS code
          |  FROM (SELECT DISTINCT word FROM tok2)),
          |dg AS (
          |  SELECT count(*)::BIGINT AS vocab_size,
          |    CAST(sum(('0x' || substr(md5(word || '#' || code), 1, 15))::BIGINT
          |             % 1099511627776) AS BIGINT) AS dict_digest
          |  FROM v)
          |SELECT t.lang, t.source, count(*)::BIGINT AS n_tokens,
          |  CAST(sum(v.code) AS BIGINT) AS code_sum,
          |  count(DISTINCT v.code)::BIGINT AS n_distinct,
          |  CAST(min(v.code) AS BIGINT) AS min_code,
          |  CAST(max(v.code) AS BIGINT) AS max_code,
          |  dg.vocab_size, dg.dict_digest
          |FROM tok2 t JOIN v USING (word), dg
          |GROUP BY t.lang, t.source, dg.vocab_size, dg.dict_digest
          |ORDER BY lang, source""".stripMargin,
      "x72_bpe_train" -> bpeTrainOracle,
      "x75_bpe_encode" -> bpeEncodeOracle,
      // x127: vocabulary ranks + the greedy walk replayed literally — the
      // walk is a RECURSIVE CTE stepping by the per-position max match
      // (the x37 transitive-closure precedent); piece-index-salted digests
      // pin the exact segmentation.
      "x127_wordpiece_encode" ->
        """WITH RECURSIVE allw AS (
          |  SELECT doc_id, w FROM (
          |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          |    FROM documents) WHERE len(w) >= 1
          |  UNION ALL
          |  SELECT * FROM (VALUES (-1, 'zq9!x'), (-1, 'join'), (-1, 'mergez')) t(doc_id, w)),
          |tw AS (
          |  SELECT w, count(*) AS n FROM allw
          |  WHERE doc_id >= 0 AND doc_id % 2 = 0 AND len(w) <= 8 GROUP BY 1),
          |whole AS (SELECT w AS piece, 0 AS cont FROM tw ORDER BY n DESC, w LIMIT 8),
          |pref AS (
          |  SELECT piece, 0 AS cont FROM (
          |    SELECT substr(w, 1, L) AS piece, sum(n) AS pn
          |    FROM tw, unnest(generate_series(2, 4)) t(L) WHERE L <= len(w)
          |    GROUP BY 1 ORDER BY pn DESC, piece LIMIT 12)),
          |inr AS (
          |  SELECT piece, 1 AS cont FROM (
          |    SELECT substr(w, p, L) AS piece, sum(n) AS pn
          |    FROM tw, unnest(generate_series(2, 8)) t(p), unnest(generate_series(2, 4)) u(L)
          |    WHERE p <= len(w) AND p + L - 1 <= len(w)
          |    GROUP BY 1 ORDER BY pn DESC, piece LIMIT 16)),
          |sc AS (SELECT DISTINCT substr(w, 1, 1) AS piece, 0 AS cont FROM tw),
          |ic AS (
          |  SELECT DISTINCT substr(w, i, 1) AS piece, 1 AS cont
          |  FROM tw, unnest(generate_series(2, 8)) t(i) WHERE i <= len(w)),
          |vocab AS (
          |  SELECT DISTINCT piece, cont FROM (
          |    SELECT * FROM whole UNION ALL SELECT * FROM pref UNION ALL SELECT * FROM sc
          |    UNION ALL SELECT * FROM inr UNION ALL SELECT * FROM ic)),
          |dw AS (SELECT DISTINCT w FROM allw WHERE len(w) <= 8),
          |ml AS (
          |  SELECT w, p, max(L) AS mlen FROM (
          |    SELECT dw.w, t.p, u.L
          |    FROM dw, unnest(generate_series(1, 8)) t(p), unnest(generate_series(1, 8)) u(L)
          |    WHERE p <= len(w) AND p + L - 1 <= len(w) AND (p = 1 OR L <= 4)
          |      AND EXISTS (SELECT 1 FROM vocab v
          |                  WHERE v.piece = substr(dw.w, t.p, u.L)
          |                    AND v.cont = CASE WHEN t.p = 1 THEN 0 ELSE 1 END))
          |  GROUP BY 1, 2),
          |walk(w, pos, n, unk, dig) AS (
          |  SELECT w, 1, CAST(0 AS BIGINT), 0, CAST(0 AS BIGINT) FROM dw
          |  UNION ALL
          |  SELECT wk.w,
          |    CASE WHEN m.mlen IS NULL THEN len(wk.w) + 1 ELSE wk.pos + m.mlen END,
          |    CASE WHEN m.mlen IS NULL THEN CAST(1 AS BIGINT) ELSE wk.n + 1 END,
          |    CASE WHEN m.mlen IS NULL THEN 1 ELSE 0 END,
          |    CASE WHEN m.mlen IS NULL THEN CAST(0 AS BIGINT)
          |         ELSE wk.dig + ('0x' || substr(md5(
          |                substr(wk.w, wk.pos, m.mlen) || '@' || wk.n), 1, 15))::BIGINT % 1048576
          |    END
          |  FROM walk wk LEFT JOIN ml m ON m.w = wk.w AND m.p = wk.pos
          |  WHERE wk.pos <= len(wk.w) AND wk.unk = 0),
          |fin AS (
          |  SELECT w, n, unk, dig FROM walk WHERE pos > len(w)
          |  UNION ALL
          |  SELECT w, CAST(1 AS BIGINT), 1, CAST(0 AS BIGINT)
          |  FROM (SELECT DISTINCT w FROM allw WHERE len(w) > 8))
          |SELECT a.doc_id, count(*) AS n_words,
          |  CAST(sum(f.n) AS BIGINT) AS n_wp_tokens,
          |  CAST(sum(f.unk) AS BIGINT) AS n_unk_words,
          |  CAST(sum(f.dig) AS BIGINT) AS seg_digest
          |FROM allw a JOIN fin f USING (w)
          |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
      // x148: the Viterbi DP replayed as an unrolled CTE chain (the x72
      // generated-oracle pattern) — a{i} accumulates best[0..i] per word;
      // each step's row_number uses the SAME total argmax order as the
      // Spark fold (score desc, pieces asc, last-len desc, digest desc,
      // then candidate (p, L)), so both engines pick identical optima.
      "x148_unigram_viterbi" -> {
        val dig =
          "('0x' || substr(md5(substr(cd.w, cd.p, cd.L) || '@' || CAST(pb.n AS VARCHAR)), 1, 15))::BIGINT % 1048576"
        val steps = (1 to 8)
          .map { i =>
            s"""a$i AS (
               |  SELECT * FROM a${i - 1}
               |  UNION ALL
               |  SELECT w, $i AS idx, sc, n, lst, dig, unk FROM (
               |    SELECT cd.w AS w, pb.sc + cd.s AS sc, pb.n + 1 AS n, cd.L AS lst,
               |      pb.dig + $dig AS dig, pb.unk + cd.u AS unk,
               |      row_number() OVER (PARTITION BY cd.w ORDER BY pb.sc + cd.s DESC, pb.n ASC,
               |        cd.L DESC, pb.dig + $dig DESC, cd.p ASC, cd.L ASC) AS rn
               |    FROM cand cd JOIN a${i - 1} pb ON pb.w = cd.w AND pb.idx = cd.p - 1
               |    WHERE cd.p + cd.L - 1 = $i) WHERE rn = 1)""".stripMargin
          }
          .mkString(",\n")
        s"""WITH allw AS (
           |  SELECT doc_id, w FROM (
           |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
           |    FROM documents) WHERE len(w) >= 1
           |  UNION ALL
           |  SELECT * FROM (VALUES (-1, 'zq9!x'), (-1, 'join'), (-1, 'mergez')) t(doc_id, w)),
           |tw AS (
           |  SELECT w, count(*) AS n FROM allw
           |  WHERE doc_id >= 0 AND doc_id % 2 = 0 AND len(w) <= 8 GROUP BY 1),
           |subs AS (
           |  SELECT substr(w, CAST(p AS INT), CAST(L AS INT)) AS piece, sum(n) AS pn
           |  FROM tw, unnest(generate_series(1, 8)) t(p), unnest(generate_series(1, 4)) u(L)
           |  WHERE p + L - 1 <= len(w)
           |  GROUP BY 1),
           |multi AS (SELECT piece, pn FROM subs WHERE len(piece) >= 2 ORDER BY pn DESC, piece LIMIT 24),
           |vocab AS (
           |  SELECT piece, 1000 * len(piece) + (length(bin(pn)) - 1) AS s FROM multi
           |  UNION ALL
           |  SELECT piece, 1000 + (length(bin(pn)) - 1) AS s FROM subs WHERE len(piece) = 1),
           |dw AS (SELECT DISTINCT w FROM allw WHERE len(w) <= 8),
           |cand AS (
           |  SELECT c.w, c.p, c.L, v.s, CAST(0 AS BIGINT) AS u
           |  FROM (SELECT dw.w, t.p, u.L, substr(dw.w, CAST(t.p AS INT), CAST(u.L AS INT)) AS sub
           |        FROM dw, unnest(generate_series(1, 8)) t(p), unnest(generate_series(1, 4)) u(L)
           |        WHERE t.p + u.L - 1 <= len(dw.w)) c
           |  JOIN vocab v ON v.piece = c.sub
           |  UNION ALL
           |  SELECT dw.w, t.p, 1 AS L, CAST(-10000 AS BIGINT) AS s, CAST(1 AS BIGINT) AS u
           |  FROM dw, unnest(generate_series(1, 8)) t(p) WHERE t.p <= len(dw.w)),
           |a0 AS (
           |  SELECT w, 0 AS idx, CAST(0 AS BIGINT) AS sc, CAST(0 AS BIGINT) AS n, 0 AS lst,
           |         CAST(0 AS BIGINT) AS dig, CAST(0 AS BIGINT) AS unk FROM dw),
           |$steps,
           |fin AS (
           |  SELECT w, n, dig, unk FROM a8 WHERE idx = len(w)
           |  UNION ALL
           |  SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)
           |  FROM (SELECT DISTINCT w FROM allw WHERE len(w) > 8))
           |SELECT a.doc_id, count(*) AS n_words,
           |  CAST(sum(f.n) AS BIGINT) AS n_uni_tokens,
           |  CAST(sum(f.unk) AS BIGINT) AS n_unk_pieces,
           |  CAST(sum(f.dig) AS BIGINT) AS seg_digest
           |FROM allw a JOIN fin f USING (w)
           |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin
      },
      // x115: the same schedule + slices replayed with list algebra; the
      // per-chunk md5-window hash pins exact chunk content.
      "x115_doc_chunking" ->
        """WITH d AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
          |c AS (
          |  SELECT doc_id, tk, len(tk) AS n,
          |    CASE WHEN len(tk) <= 24 THEN 1
          |         ELSE CAST(ceil((len(tk) - 24) / 16.0) AS BIGINT) + 1 END AS n_chunks
          |  FROM d),
          |x AS (
          |  SELECT doc_id, kk.k AS chunk_idx, kk.k * 16 AS start_tok,
          |    tk[kk.k * 16 + 1 : kk.k * 16 + 24] AS chunk
          |  FROM c, LATERAL (SELECT unnest(range(n_chunks)) AS k) kk)
          |SELECT doc_id, chunk_idx, CAST(start_tok AS BIGINT) AS start_tok,
          |  CAST(len(chunk) AS BIGINT) AS n_toks,
          |  ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 15))::BIGINT AS chunk_hash
          |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
      "x07_text_tokens" ->
        """SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
          |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_subtokens,
          |  length(text) AS text_chars
          |FROM documents ORDER BY doc_id""".stripMargin,
      "x65_feature_hash" ->
        s"""WITH $hashedFeaturesSql
          |SELECT doc_id, count(*) AS nnz, CAST(sum(cnt) AS BIGINT) AS l1,
          |  CAST(sum(b * cnt) AS BIGINT) AS digest, CAST(max(cnt) AS BIGINT) AS max_cnt
          |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "x68_quality_classifier" ->
        s"""WITH $hashedFeaturesSql,
          |w AS (
          |  SELECT b, ('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS w
          |  FROM (SELECT DISTINCT b FROM f)),
          |s AS (
          |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
          |    CAST(sum(cnt * w.w) AS BIGINT) AS score
          |  FROM f JOIN w USING (b) GROUP BY doc_id),
          |p AS (
          |  SELECT doc_id, n_tokens, score,
          |    CAST((score - ((score % n_tokens + n_tokens) % n_tokens)) // n_tokens AS BIGINT) AS score_pt
          |  FROM s)
          |SELECT doc_id, n_tokens, score, score_pt, score_pt >= -50 AS keep
          |FROM p ORDER BY doc_id""".stripMargin,
      // x249: same census, top-1k cut and join.
      "x249_oov_rate" ->
        """WITH tok AS (SELECT doc_id, lang,
          |  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t FROM documents),
          |vocab AS (SELECT t FROM (
          |  SELECT t, count(*) AS c FROM tok WHERE doc_id % 2 = 0 GROUP BY 1)
          |  ORDER BY c DESC, t LIMIT 1000),
          |ev AS (SELECT lang, t FROM tok WHERE doc_id % 2 = 1)
          |SELECT lang, count(*) AS n_tokens,
          |  CAST(sum(CASE WHEN t NOT IN (SELECT t FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          |  CAST((sum(CASE WHEN t NOT IN (SELECT t FROM vocab) THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS oov_ppm
          |FROM ev GROUP BY lang ORDER BY lang""".stripMargin,
      // x228: all 5 GD rounds unrolled as CTEs (the x72 discipline) —
      // fast-sigmoid errors, per-bucket gradients, posmod-floor updates,
      // then the odd-half midrank-AUC replay on the final weights.
      "x228_logistic_gd" -> x228OracleSql,
      // x262: the same chain evaluated at its iteration prefixes.
      "x262_learning_curve" -> x262OracleSql,
      // x164: the identical smoothed floor-log2 NB train + argmax replay.
      "x164_nb_classifier" ->
        s"""WITH $hashedFeaturesSql,
          |lab AS (SELECT f.doc_id, f.b, f.cnt, d.lang FROM f JOIN documents d USING (doc_id)),
          |tr AS (SELECT * FROM lab WHERE doc_id % 2 = 0),
          |cnts AS (SELECT lang AS clang, b, CAST(sum(cnt) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
          |ltot AS (SELECT lang AS clang, CAST(sum(cnt) AS BIGINT) AS tl FROM tr GROUP BY 1),
          |tdocs AS (SELECT lang AS clang, count(*) AS dl FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
          |ntr AS (SELECT CAST(sum(dl) AS BIGINT) AS nd, count(*) AS nl FROM tdocs),
          |grid AS (
          |  SELECT l.clang, g.b,
          |    (length(bin(coalesce(c.c, 0) + 1)) - 1) - (length(bin(l.tl + 256)) - 1) AS w
          |  FROM ltot l CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS b) g
          |  LEFT JOIN cnts c ON c.clang = l.clang AND c.b = g.b),
          |pri AS (
          |  SELECT clang, (length(bin(dl + 1)) - 1) - (length(bin(nd + nl)) - 1) AS prior_bits
          |  FROM tdocs CROSS JOIN ntr),
          |sc AS (
          |  SELECT doc_id, clang, CAST(sum(cnt * w) AS BIGINT) AS like_bits
          |  FROM lab JOIN grid USING (b) GROUP BY 1, 2),
          |pk AS (
          |  SELECT doc_id, clang AS pred_lang, like_bits + prior_bits AS score,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY like_bits + prior_bits DESC, clang) AS rn
          |  FROM sc JOIN pri USING (clang)),
          |prd AS (SELECT doc_id, pred_lang, score FROM pk WHERE rn = 1),
          |conf AS (
          |  SELECT d.lang, coalesce(p.pred_lang, 'und') AS pred_lang, d.doc_id % 2 = 0 AS is_train,
          |    count(*) AS n_docs, CAST(sum(coalesce(p.score, 0)) AS BIGINT) AS score_digest
          |  FROM documents d LEFT JOIN prd p USING (doc_id) GROUP BY 1, 2, 3),
          |acc AS (
          |  SELECT CAST((sum(CASE WHEN lang = pred_lang AND NOT is_train THEN n_docs ELSE 0 END) * 1000000)
          |    // sum(CASE WHEN NOT is_train THEN n_docs ELSE 0 END) AS BIGINT) AS heldout_acc_ppm
          |  FROM conf)
          |SELECT lang, pred_lang, is_train, n_docs, score_digest, heldout_acc_ppm
          |FROM conf CROSS JOIN acc ORDER BY lang, pred_lang, is_train""".stripMargin,
      "x79_quality_calibrate" ->
        s"""WITH t AS (
          |  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents),
          |c AS (
          |  SELECT doc_id, lang, len(w) AS n_tokens,
          |    len(list_filter(w, t -> t IN ${inSetSql(stopwords)})) AS stop_cnt,
          |    cast(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS char_sum
          |  FROM t),
          |sc AS (
          |  SELECT doc_id, lang,
          |    CAST((stop_cnt * 500000) // n_tokens + (char_sum * 100000) // n_tokens AS BIGINT) AS score_e6
          |  FROM c),
          |p AS (SELECT lang, CAST(round(quantile_cont(score_e6, 0.30) * 1000) AS BIGINT) AS fence_e3
          |      FROM sc GROUP BY lang),
          |g AS (SELECT CAST(round(quantile_cont(score_e6, 0.30) * 1000) AS BIGINT) AS gfence_e3 FROM sc)
          |SELECT sc.lang, count(*) AS n_docs, max(fence_e3) AS fence_e3,
          |  CAST(sum(CASE WHEN score_e6 * 1000 >= fence_e3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_domain,
          |  CAST(sum(CASE WHEN score_e6 * 1000 >= gfence_e3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_global,
          |  CAST(sum(CASE WHEN score_e6 * 1000 >= fence_e3 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_digest
          |FROM sc JOIN p USING (lang), g GROUP BY sc.lang ORDER BY sc.lang""".stripMargin,
      "x66_perplexity_bucket" ->
        """WITH t AS (
          |  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, lang, b['w1'] AS w1, b['w2'] AS w2 FROM (
          |    SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(ws) - 1),
          |      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
          |    FROM t WHERE len(ws) >= 2)),
          |c12 AS (SELECT w1, w2, count(*) AS c12 FROM f GROUP BY w1, w2),
          |c1 AS (SELECT w1, count(*) AS c1 FROM f GROUP BY w1),
          |bits AS (
          |  SELECT doc_id, lang, CAST(length(bin(c1 // c12)) - 1 AS BIGINT) AS bits
          |  FROM f JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
          |d AS (
          |  SELECT doc_id, lang, count(*) AS n_bigrams,
          |    CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_bits_e3
          |  FROM bits GROUP BY doc_id, lang),
          |r AS (
          |  SELECT doc_id, lang, n_bigrams, mean_bits_e3,
          |    ntile(3) OVER (PARTITION BY lang ORDER BY mean_bits_e3, doc_id) AS t3
          |  FROM d)
          |SELECT doc_id, lang, n_bigrams, mean_bits_e3,
          |  CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
          |FROM r ORDER BY doc_id""".stripMargin,
      "x63_bpe_pairs" ->
        """WITH w AS (
          |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          |  FROM documents),
          |p AS (
          |  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
          |    i -> substr(w, i, 2))) AS pair
          |  FROM w WHERE length(w) >= 2)
          |SELECT pair, count(*) AS n FROM p
          |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
      "x61_surprisal" ->
        """WITH tok AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          |  FROM documents),
          |tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
          |n AS (SELECT count(*) AS n_total FROM tok),
          |b AS (
          |  SELECT doc_id, CAST(length(bin(n_total // tf)) - 1 AS BIGINT) AS bits
          |  FROM tok JOIN tf USING (term) CROSS JOIN n)
          |SELECT doc_id, count(*) AS n_tokens,
          |  CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_bits_e3,
          |  max(bits) AS max_bits
          |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "x08_text_quality" ->
        s"""WITH t AS (
           |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents),
           |c AS (
           |  SELECT doc_id, len(w) AS n_tokens,
           |    len(list_filter(w, t -> t IN ${inSetSql(stopwords)})) AS stop_cnt,
           |    cast(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS char_sum
           |  FROM t)
           |SELECT doc_id, n_tokens,
           |  cast(stop_cnt AS DOUBLE) / cast(n_tokens AS DOUBLE) AS stop_ratio,
           |  cast(char_sum AS DOUBLE) / cast(n_tokens AS DOUBLE) AS avg_word_len,
           |  (cast(stop_cnt AS DOUBLE) / cast(n_tokens AS DOUBLE)) * 0.5
           |    + (cast(char_sum AS DOUBLE) / cast(n_tokens AS DOUBLE)) * 0.1 AS score
           |FROM c ORDER BY doc_id""".stripMargin,
      "x51_gopher_filter" ->
        s"""WITH m AS (
           |  SELECT lang,
           |    len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_words,
           |    length(regexp_replace(trim(text), '\\s', '', 'g')) AS word_chars,
           |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS sym_cnt,
           |    length(text) AS n_chars,
           |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
           |                    t -> t IN ${inSetSql(stopwords)})) AS stop_cnt
           |  FROM documents),
           |r AS (
           |  SELECT lang,
           |    (n_words >= 15 AND n_words <= 80) AS r_words,
           |    ((word_chars * 1000) // n_words BETWEEN 2000 AND 10000) AS r_wordlen,
           |    ((sym_cnt * 1000) // greatest(n_chars, 1) <= 100) AS r_sym,
           |    (stop_cnt >= 2) AS r_stop
           |  FROM m)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(count(*) FILTER (WHERE r_words AND r_wordlen AND r_sym AND r_stop) AS BIGINT) AS pass_all,
           |  CAST(count(*) FILTER (WHERE NOT r_words) AS BIGINT) AS fail_words,
           |  CAST(count(*) FILTER (WHERE NOT r_wordlen) AS BIGINT) AS fail_wordlen,
           |  CAST(count(*) FILTER (WHERE NOT r_sym) AS BIGINT) AS fail_sym,
           |  CAST(count(*) FILTER (WHERE NOT r_stop) AS BIGINT) AS fail_stop
           |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
      "x56_vocab_coverage" ->
        """WITH tok AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          |  FROM documents),
          |vocab AS (
          |  SELECT term FROM (
          |    SELECT term, count(*) AS tf FROM tok GROUP BY term
          |    ORDER BY tf DESC, term ASC LIMIT 10)),
          |j AS (
          |  SELECT t.doc_id, CASE WHEN v.term IS NULL THEN 0 ELSE 1 END AS in_v
          |  FROM tok t LEFT JOIN vocab v ON t.term = v.term)
          |SELECT doc_id, count(*) AS n_tokens,
          |  CAST(sum(in_v) AS BIGINT) AS in_vocab,
          |  CAST((sum(in_v) * 1000000) // count(*) AS BIGINT) AS coverage_ppm
          |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "x09_text_langid" ->
        """WITH nrm AS (
          |  SELECT doc_id, lang, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          |  FROM documents),
          |tri AS (
          |  SELECT doc_id, lang,
          |    ('0x' || substr(md5(unnest(list_transform(generate_series(1, length(norm) - 2),
          |      i -> substr(norm, i, 3)))), 1, 15))::BIGINT AS th
          |  FROM nrm WHERE length(norm) >= 3),
          |prof AS (
          |  SELECT plang, th, CAST(65 - rk AS BIGINT) AS w FROM (
          |    SELECT lang AS plang, th,
          |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, th) AS rk
          |    FROM tri GROUP BY lang, th)
          |  WHERE rk <= 64),
          |sc AS (
          |  SELECT t.doc_id, p.plang, CAST(sum(p.w) AS BIGINT) AS score
          |  FROM tri t JOIN prof p USING (th) GROUP BY 1, 2),
          |pick AS (
          |  SELECT doc_id, plang AS pred_lang FROM (
          |    SELECT doc_id, plang,
          |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
          |    FROM sc)
          |  WHERE rn = 1)
          |SELECT coalesce(p.pred_lang, 'und') AS pred_lang, d.lang, count(*) AS n
          |FROM documents d LEFT JOIN pick p USING (doc_id)
          |GROUP BY 1, 2 ORDER BY pred_lang, lang""".stripMargin,
      "x25_tfidf_keywords" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM t WHERE doc_id < 20 GROUP BY 1, 2),
          |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |ranked AS (
          |  SELECT doc_id, tf.term, (tf * n * 1000000) // df AS score,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY (tf * n * 1000000) // df DESC, tf.term) AS rk
          |  FROM tf JOIN df USING (term), n)
          |SELECT doc_id, rk, term, score FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
      "x28_vocab_top_terms" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents)
          |SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM t
          |GROUP BY term ORDER BY tf DESC, term LIMIT 20""".stripMargin,
      // x156: the cleared-rational BM25 arithmetic replayed term by term.
      "x156_bm25_rank" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
          |dl AS (
          |  SELECT doc_id, CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS dl
          |  FROM documents),
          |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tt, count(*) AS nd FROM dl),
          |q AS (SELECT doc_id, term FROM t WHERE term IN ('table', 'spark', 'window')),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2),
          |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
          |sc AS (
          |  SELECT tf.doc_id,
          |    (length(bin(nd // df)) - 1) *
          |    ((44 * tf * tt * 1000000) // (20 * tt * tf + 6 * tt + 18 * dl.dl * nd)) AS tscore
          |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, tot)
          |SELECT doc_id, CAST(sum(tscore) AS BIGINT) AS score, count(*) AS n_terms_hit
          |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      // x170: everything re-derived from documents (never the artifact) —
      // a stale/mis-built index flips the hash; buckets_read replays the
      // driver-side md5 bucket math in SQL.
      "x170_inverted_index" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
          |q AS (SELECT doc_id, term FROM t WHERE term IN ('table', 'spark', 'window')),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2),
          |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |qb AS (
          |  SELECT count(DISTINCT ('0x' || substr(md5(qt), 1, 15))::BIGINT % 64) AS buckets_read
          |  FROM (SELECT unnest(['table', 'spark', 'window']) AS qt)),
          |sc AS (SELECT doc_id, (tf * n * 1000000) // df AS tscore FROM tf JOIN df USING (term), n)
          |SELECT doc_id, CAST(sum(tscore) AS BIGINT) AS score, count(*) AS n_terms_hit,
          |  CAST(buckets_read AS BIGINT) AS buckets_read
          |FROM sc, qb GROUP BY doc_id, buckets_read ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      // x266: the FULL-corpus recompute — segment composition must land on
      // it exactly; n_segments pinned (base + two ingest batches).
      "x266_incremental_index" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
          |q AS (SELECT doc_id, term FROM t WHERE term IN ('table', 'spark', 'window')),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2),
          |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |sc AS (SELECT doc_id, (tf * n * 1000000) // df AS tscore FROM tf JOIN df USING (term), n)
          |SELECT doc_id, CAST(sum(tscore) AS BIGINT) AS score, count(*) AS n_terms_hit,
          |  CAST(3 AS BIGINT) AS n_segments
          |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      "x32_keyword_search" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
          |q AS (SELECT doc_id, term FROM t WHERE term IN ('table', 'spark', 'window')),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2),
          |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |sc AS (SELECT doc_id, (tf * n * 1000000) // df AS tscore FROM tf JOIN df USING (term), n)
          |SELECT doc_id, CAST(sum(tscore) AS BIGINT) AS score, count(*) AS n_terms_hit
          |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      // x196: train-half stats + the same three-path scoring CASE + the
      // same bin() surprisal, aggregated per language.
      "x196_kn_perplexity" ->
        """WITH w AS (
          |  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
          |g AS (
          |  SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
          |  FROM w, unnest(generate_series(1, len(w) - 1)) t(i) WHERE len(w) >= 2),
          |c2 AS (
          |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt2
          |  FROM g WHERE doc_id % 2 = 0 GROUP BY 1, 2),
          |lft AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1w1 FROM c2 GROUP BY 1),
          |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncw2 FROM c2 GROUP BY 1),
          |bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c2),
          |gev AS (
          |  SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
          |  FROM (SELECT doc_id, lang,
          |          regexp_split_to_array(lower(trim(text || ' qq7 qq8 qq7 the')), '\s+') AS w
          |        FROM documents WHERE doc_id % 2 = 1) te,
          |    unnest(generate_series(1, len(w) - 1)) t(i) WHERE len(w) >= 2),
          |ev AS (
          |  SELECT g.lang,
          |    CASE WHEN l.c1 IS NOT NULL THEN greatest(1,
          |        CAST(((greatest(4*coalesce(c2.cnt2, 0) - 3, 0)::HUGEINT * bb.b
          |          + 3 * l.n1w1 * coalesce(r.ncw2, 0)) * 1000000) // (4 * l.c1 * bb.b) AS BIGINT))
          |      WHEN r.ncw2 IS NOT NULL THEN greatest(1, (r.ncw2 * 1000000) // bb.b)
          |      ELSE 1 END AS p_e6,
          |    CASE WHEN l.c1 IS NOT NULL AND c2.cnt2 IS NOT NULL THEN 'seen'
          |      WHEN l.c1 IS NOT NULL THEN 'backoff'
          |      WHEN r.ncw2 IS NOT NULL THEN 'continuation_only' ELSE 'unseen' END AS path
          |  FROM gev g
          |  LEFT JOIN c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
          |  LEFT JOIN lft l ON g.w1 = l.w1
          |  LEFT JOIN rgt r ON g.w2 = r.w2
          |  CROSS JOIN bb)
          |SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
          |  CAST(sum(length(bin(1000000 // p_e6)) - 1) AS BIGINT) AS total_bits,
          |  CAST((sum(length(bin(1000000 // p_e6)) - 1) * 1000) // count(*) AS BIGINT) AS mean_bits_e3,
          |  CAST(sum(CASE WHEN path = 'seen' THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
          |  CAST(sum(CASE WHEN path = 'backoff' THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
          |  CAST(sum(CASE WHEN path = 'continuation_only' THEN 1 ELSE 0 END) AS BIGINT) AS n_cont_only,
          |  CAST(sum(CASE WHEN path = 'unseen' THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen
          |FROM ev GROUP BY lang ORDER BY lang""".stripMargin,

      // x186: both censuses + rank + bin()-log OLS replayed; the planted
      // stream's inverse-uniform division is pure integer in both engines.
      // x203: both faces replayed — same hash-prefix cells, same min-cell
      // first occurrences, same ≤16-row cumulative joins, same quantized
      // OLS (the planted face's 428571 is the floor-log2 granularity of a
      // 16-point fit around the true β = ½, deterministic in both engines).
      "x203_heaps_fit" ->
        """WITH base AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w,
          |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT // 72057594037927936 AS ck
          |  FROM documents),
          |census AS (SELECT 0 AS test_id, ck, count(*) AS n_docs, sum(len(w)) AS n_tok FROM base GROUP BY 2),
          |termb AS (
          |  SELECT 0 AS test_id, tb, count(*) AS n_new FROM (
          |    SELECT term, min(ck) AS tb FROM (SELECT ck, unnest(w) AS term FROM base) GROUP BY term) GROUP BY 2),
          |pos AS (
          |  SELECT p, (p - 1) * 16 // 65536 AS ck,
          |    ('0x' || substr(md5(p::VARCHAR || '#hp'), 1, 15))::BIGINT
          |      % (CAST(floor(sqrt(p)) AS BIGINT) + 1) AS t
          |  FROM (SELECT range + 1 AS p FROM range(65536))),
          |pcensus AS (SELECT 1 AS test_id, ck, count(*) AS n_docs, count(*) AS n_tok FROM pos GROUP BY 2),
          |ptermb AS (SELECT 1 AS test_id, tb, count(*) AS n_new FROM (SELECT t, min(ck) AS tb FROM pos GROUP BY t) GROUP BY 2),
          |cen AS (SELECT * FROM census UNION ALL SELECT * FROM pcensus),
          |tbl AS (SELECT * FROM termb UNION ALL SELECT * FROM ptermb),
          |cum AS (
          |  SELECT a.test_id, a.ck, CAST(sum(b.n_docs) AS BIGINT) AS n_docs, CAST(sum(b.n_tok) AS BIGINT) AS n_tokens
          |  FROM cen a JOIN cen b ON b.test_id = a.test_id AND b.ck <= a.ck GROUP BY 1, 2),
          |withv AS (
          |  SELECT cum.test_id, cum.ck, n_docs, n_tokens, CAST(sum(tbl.n_new) AS BIGINT) AS vocab
          |  FROM cum JOIN tbl ON tbl.test_id = cum.test_id AND tbl.tb <= cum.ck GROUP BY 1, 2, 3, 4),
          |fr AS (SELECT test_id, CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS x,
          |  CAST(length(bin(vocab)) - 1 AS BIGINT) AS y FROM withv),
          |st AS (
          |  SELECT test_id, CAST(count(*) AS BIGINT) AS n_fit, CAST(sum(x) AS BIGINT) AS sx,
          |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
          |    CAST(sum(x*y) AS BIGINT) AS sxy FROM fr GROUP BY 1),
          |sl AS (
          |  SELECT test_id, CASE WHEN n_fit * sxx - sx * sx = 0 THEN 0
          |    ELSE ((n_fit * sxy - sx * sy) * 1000000
          |      - (((n_fit * sxy - sx * sy) * 1000000 % (n_fit * sxx - sx * sx)
          |          + (n_fit * sxx - sx * sx)) % (n_fit * sxx - sx * sx)))
          |      // (n_fit * sxx - sx * sx) END AS slope_e6
          |  FROM st)
          |SELECT withv.test_id, ck, n_docs, n_tokens, vocab, CAST(slope_e6 AS BIGINT) AS slope_e6
          |FROM withv JOIN sl ON sl.test_id = withv.test_id
          |ORDER BY withv.test_id, ck""".stripMargin,

      "x186_zipf_fit" ->
        """WITH w AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
          |tok AS (
          |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w[i] AS word
          |  FROM w, unnest(generate_series(1, len(w))) t(i)),
          |c0 AS (SELECT word AS k, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1),
          |c1 AS (
          |  SELECT CAST(67108864 // (('0x' || substr(md5(doc_id::VARCHAR || '#' || p || '#z'), 1, 15))::BIGINT
          |    % 67108864 + 1) AS VARCHAR) AS k,
          |    CAST(count(*) AS BIGINT) AS tf
          |  FROM tok GROUP BY 1),
          |f0 AS (
          |  SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS x, CAST(length(bin(tf)) - 1 AS BIGINT) AS y
          |  FROM (SELECT tf, row_number() OVER (ORDER BY tf DESC, k) AS r FROM c0) WHERE r <= 64),
          |f1 AS (
          |  SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS x, CAST(length(bin(tf)) - 1 AS BIGINT) AS y
          |  FROM (SELECT tf, row_number() OVER (ORDER BY tf DESC, k) AS r FROM c1) WHERE r <= 64),
          |s0 AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_fit, CAST(sum(x) AS BIGINT) AS sx,
          |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
          |    CAST(sum(x*y) AS BIGINT) AS sxy FROM f0),
          |s1 AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_fit, CAST(sum(x) AS BIGINT) AS sx,
          |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
          |    CAST(sum(x*y) AS BIGINT) AS sxy FROM f1),
          |t0 AS (SELECT CAST(sum(tf) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types FROM c0),
          |t1 AS (SELECT CAST(sum(tf) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types FROM c1)
          |SELECT * FROM (
          |  SELECT 0 AS test_id, t0.n_tokens, t0.n_types, s0.n_fit, s0.sx, s0.sy, s0.sxx, s0.sxy,
          |    CASE WHEN s0.n_fit * s0.sxx - s0.sx * s0.sx = 0 THEN 0
          |      ELSE ((s0.n_fit * s0.sxy - s0.sx * s0.sy) * 1000000
          |        - (((s0.n_fit * s0.sxy - s0.sx * s0.sy) * 1000000 % (s0.n_fit * s0.sxx - s0.sx * s0.sx)
          |            + (s0.n_fit * s0.sxx - s0.sx * s0.sx)) % (s0.n_fit * s0.sxx - s0.sx * s0.sx)))
          |        // (s0.n_fit * s0.sxx - s0.sx * s0.sx) END AS slope_e6
          |  FROM s0 CROSS JOIN t0
          |  UNION ALL
          |  SELECT 1, t1.n_tokens, t1.n_types, s1.n_fit, s1.sx, s1.sy, s1.sxx, s1.sxy,
          |    CASE WHEN s1.n_fit * s1.sxx - s1.sx * s1.sx = 0 THEN 0
          |      ELSE ((s1.n_fit * s1.sxy - s1.sx * s1.sy) * 1000000
          |        - (((s1.n_fit * s1.sxy - s1.sx * s1.sy) * 1000000 % (s1.n_fit * s1.sxx - s1.sx * s1.sx)
          |            + (s1.n_fit * s1.sxx - s1.sx * s1.sx)) % (s1.n_fit * s1.sxx - s1.sx * s1.sx)))
          |        // (s1.n_fit * s1.sxx - s1.sx * s1.sx) END AS slope_e6
          |  FROM s1 CROSS JOIN t1)
          |ORDER BY test_id""".stripMargin,

      // x185: positional replay per phrase, but n_docs comes from the
      // INDEPENDENT whole-text containment scan — the completeness pin.
      "x185_phrase_search" ->
        """WITH w AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
          |pos AS (
          |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w[i] AS word
          |  FROM w, unnest(generate_series(1, len(w))) t(i)),
          |joined AS (SELECT doc_id, ' ' || array_to_string(w, ' ') || ' ' AS t FROM w),
          |m0 AS (
          |  SELECT a.doc_id, a.p FROM pos a
          |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
          |  WHERE a.word = 'hash' AND b.word = 'agg'),
          |m1 AS (
          |  SELECT a.doc_id, a.p FROM pos a
          |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
          |  JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
          |  WHERE a.word = 'table' AND b.word = 'value' AND c.word = 'part'),
          |m2 AS (
          |  SELECT a.doc_id, a.p FROM pos a
          |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
          |  WHERE a.word = 'sort' AND b.word = 'key'),
          |l0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM joined WHERE contains(t, ' hash agg ')),
          |l1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM joined WHERE contains(t, ' table value part ')),
          |l2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM joined WHERE contains(t, ' sort key '))
          |SELECT * FROM (
          |  SELECT 'hash agg' AS phrase, doc_id, CAST(count(*) AS BIGINT) AS n_matches,
          |    CAST(min(p) AS BIGINT) AS first_pos, (SELECT n FROM l0) AS n_docs
          |  FROM m0 GROUP BY doc_id
          |  UNION ALL
          |  SELECT 'table value part', doc_id, CAST(count(*) AS BIGINT),
          |    CAST(min(p) AS BIGINT), (SELECT n FROM l1)
          |  FROM m1 GROUP BY doc_id
          |  UNION ALL
          |  SELECT 'sort key', doc_id, CAST(count(*) AS BIGINT),
          |    CAST(min(p) AS BIGINT), (SELECT n FROM l2)
          |  FROM m2 GROUP BY doc_id)
          |ORDER BY phrase, doc_id""".stripMargin,

      "x175_kneser_ney" ->
        """WITH w AS (
          |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
          |g AS (
          |  SELECT w[i] AS w1, w[i+1] AS w2
          |  FROM w, unnest(generate_series(1, len(w) - 1)) t(i) WHERE len(w) >= 2),
          |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt2 FROM g GROUP BY 1, 2),
          |lft AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1w1 FROM c2 GROUP BY 1),
          |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncw2 FROM c2 GROUP BY 1),
          |bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c2),
          |top AS (SELECT w1, w2, cnt2, 0 AS probe FROM c2 ORDER BY cnt2 DESC, w1, w2 LIMIT 40),
          |pw1 AS (SELECT w1 FROM lft ORDER BY c1 DESC, w1 LIMIT 3),
          |pw2 AS (SELECT w2 FROM rgt ORDER BY ncw2, w2 LIMIT 3),
          |pr AS (
          |  SELECT p1.w1, p2.w2, coalesce(c2.cnt2, 0) AS cnt2, 1 AS probe
          |  FROM pw1 p1 CROSS JOIN pw2 p2
          |  LEFT JOIN c2 ON c2.w1 = p1.w1 AND c2.w2 = p2.w2),
          |u AS (SELECT * FROM top UNION ALL SELECT * FROM pr)
          |SELECT CAST(u.probe AS BIGINT) AS probe, u.w1, u.w2, u.cnt2,
          |  l.c1, l.n1w1, r.ncw2,
          |  CAST(((greatest(4*u.cnt2 - 3, 0)::HUGEINT * b.b + 3 * l.n1w1 * r.ncw2) * 1000000)
          |    // (4 * l.c1 * b.b) AS BIGINT) AS pkn_e6,
          |  CAST((u.cnt2::HUGEINT * 1000000) // l.c1 AS BIGINT) AS pmle_e6
          |FROM u JOIN lft l USING (w1) JOIN rgt r USING (w2) CROSS JOIN bb b
          |ORDER BY probe, cnt2 DESC, w1, w2""".stripMargin,

      "x42_bigram_coherence" ->
        """WITH w AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
          |g AS (
          |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
          |  FROM w, unnest(generate_series(1, len(w) - 1)) t(i) WHERE len(w) >= 2),
          |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM g GROUP BY 1, 2),
          |c1 AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM c2 GROUP BY 1),
          |p AS (
          |  SELECT g.doc_id, (cnt2 * 1000000) // cnt1 AS p_ppm
          |  FROM g JOIN c2 USING (w1, w2) JOIN c1 USING (w1) WHERE g.doc_id < 30)
          |SELECT doc_id, count(*) AS n_bigrams,
          |  (CAST(sum(p_ppm) AS BIGINT)) // count(*) AS coherence_ppm
          |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "x36_winnow_fingerprint" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
          |g AS (
          |  SELECT doc_id, list_transform(range(1, length(t) - 2),
          |    i -> ('0x' || substr(md5(substr(t, i::INT, 4)), 1, 15))::BIGINT) AS grams
          |  FROM t WHERE length(t) >= 8),
          |f AS (
          |  SELECT doc_id, list_distinct(list_transform(range(1, len(grams) - 3),
          |    j -> list_min(grams[j:j+4]))) AS fps
          |  FROM g)
          |SELECT doc_id, len(fps) AS n_fp, list_min(fps) AS fp_min, list_max(fps) AS fp_max
          |FROM f ORDER BY doc_id""".stripMargin,
      "x38_doc_chunks" ->
        """WITH w AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
          |c AS (SELECT doc_id, w, unnest(range((len(w) - 1) // 64 + 1)) AS ci FROM w)
          |SELECT doc_id, ci AS chunk_idx,
          |  len(w[(ci*64+1):(ci*64+64)]) AS chunk_tokens,
          |  md5(array_to_string(w[(ci*64+1):(ci*64+64)], ' ')) AS chunk_md5
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
      "x10_text_fingerprint" ->
        """SELECT doc_id,
          |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_norm,
          |  md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))), ' ')) AS fp_sorted,
          |  list_reduce(
          |    list_prepend(0::BIGINT, list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
          |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
          |FROM documents ORDER BY doc_id""".stripMargin
    )
  }
}
