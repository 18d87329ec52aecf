package graft.operators

import graft.Graft.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Document deduplication operators [EXT] (SURVEY.md §7.1 ext/Dedup):
  * exact, word-3-gram Jaccard, MinHash-LSH, SimHash — all over the
  * `documents` fixture table and all with full DuckDB oracles.
  *
  * Shared hashing convention (chosen to be expressible identically in both
  * engines so results hash-match bit-for-bit): the base hash of a token or
  * shingle is the first 15 hex digits of its md5, read as a base-16 integer
  * (fits a signed 64-bit value), reduced mod a prime. All downstream
  * arithmetic is integer → exact in both engines.
  *
  * Scale design (100 TB): everything is expressed as explode → shuffle on
  * the shingle/band key → aggregate. Nothing is ever collected; candidate
  * generation is LSH-banded (MinHash) or lossless-banded (SimHash, 4 bands
  * catch every pair with hamming ≤ 3 by pigeonhole), so the quadratic
  * all-pairs step only runs inside tiny candidate buckets. The brute-force
  * variants exist only inside the DuckDB oracles.
  */
object Dedup {

  private val M = 1000000007L // modulus for affine re-hash

  /** x02's document-frequency cap: shingles in more than this many docs are
    * dropped before the inverted-index self-join (hot-key skew bound). */
  private[graft] val DfCap = 50L
  /** x69's hot-band cap: simhash band buckets shared by more than this
    * many docs are mass-similarity clusters — quadratic to join, and their
    * true clones are already caught by the exact content-hash pass. */
  private[graft] val BandCap = 200L
  /** 16 affine hash functions (a_i·h + b_i mod M) for the MinHash signature. */
  private val As = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L, 47L, 53L, 59L)
  private val Bs = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L, 8192L, 16384L, 32768L)
  private val K = As.size

  /** distinct word-3-gram shingle HASHES per doc, via the native
    * single-pass TokenGramHashes expression (per-row dedup; docs with
    * <3 tokens yield empty arrays and drop out of the explode). Working in
    * int64 hash space means the inverted-index joins and df-cap shuffles
    * move 8-byte keys, never shingle strings — and no (doc, shingle)
    * distinct shuffle exists at all. The oracles recompute the same
    * `('0x' || substr(md5(gram),1,15))::BIGINT` from string grams. */
  private def wordShingleHashes(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(col("doc_id"), explode(graft.functions.TokenGramHashes(col("text"), 3)).as("sh"))

  /** df-capped inverted-index shared-shingle counts per pair, with both
    * docs' (capped-space) shingle counts attached — the common substrate of
    * x02's Jaccard and x54's containment. */
  private[graft] def commonCounts(s: SparkSession, d: String): DataFrame = {
    val all = wordShingleHashes(s, d)
    val hot = all.groupBy("sh").agg(count(lit(1)).as("df")).where(col("df") > DfCap).select("sh")
    val sh = all.join(hot, Seq("sh"), "left_anti")
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = sh
      .as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
  }

  /** x02's df-capped inverted-index Jaccard pairs (threshold 0.2) — also
    * the edge set for [[connectedComponents]] / x37. */
  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame =
    commonCounts(s, d)
      .withColumn("jaccard", col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= 0.2)

  /** Distributed connected components by iterative min-label propagation —
    * the union-find step that turns near-dup PAIRS into dedup GROUPS
    * (production dedup keeps one survivor per component, not per pair).
    *
    * Each iteration is one equi-join + aggregation: every vertex adopts the
    * minimum label among itself and its neighbors; convergence needs at
    * most `diameter` iterations (dup clusters are shallow — stop as soon as
    * no label changes). This is exactly GraphX's Pregel CC shape expressed
    * on DataFrames: all-distributed, no driver-side graph. `localCheckpoint`
    * truncates the growing lineage each round so iteration N's plan does
    * not replay iterations 1..N−1 (the standard iterative-DataFrame
    * discipline; same effect as Pregel's materialize-per-superstep).
    * Returns (doc_id, cluster_id = component-min doc_id) for every vertex
    * that appears in a pair. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val init = edges.select(col("src").as("v")).distinct().withColumn("lbl", col("v"))
    val cc = Iterate.untilStable(init) { prev =>
      val labels = prev.select("v", "lbl")
      val nbrMin = edges
        .join(labels.select(col("v").as("dst"), col("lbl").as("dlbl")), "dst")
        .groupBy(col("src").as("v"))
        .agg(min("dlbl").as("nl"))
      // Carry the previous label in the checkpointed frame: the convergence
      // check is then a scan of the just-materialized blocks instead of a
      // third join+shuffle per round (measured as the per-round floor cost
      // on the sf fixtures, where the label data is tiny).
      labels
        .join(nbrMin, Seq("v"), "left")
        .select(
          col("v"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"),
          col("lbl").as("old")
        )
    }(next => next.where(col("lbl") =!= col("old")).limit(1).count() > 0)
    // The returned labels are self-contained checkpoint blocks; the edge
    // blocks have no further readers.
    Iterate.release(edges)
    cc.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** distinct char-4-gram hashes of whitespace-normalized text, via the
    * native single-pass CharGramHashes expression: per-row dedup happens
    * inside the expression, and the explode feeds the per-doc min-aggs
    * directly — the old explode(substr…)→distinct path shuffled every
    * (doc, gram) STRING once before aggregating (2 shuffles, heavy string
    * churn; this is 1 shuffle of 16 partial mins per doc). */
  private def charShingleHashes(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(col("doc_id"), regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
      .where(length(col("t")) >= 4)
      .select(col("doc_id"), explode(graft.functions.CharGramHashes(col("t"), 4)).as("hraw"))

  /** 16-component MinHash signature per doc over (doc_id, hraw) raw
    * md5-window hashes */
  private def minhashSigsFromRaw(hashes: DataFrame): DataFrame = {
    val h = hashes.withColumn("h", pmod(col("hraw"), lit(2147483647L)))
    val sigCols = As.zip(Bs).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(M))).as(s"m$i")
    }
    h.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }


  /** candidate pairs = docs agreeing on at least one band of `rows`
    * consecutive signature components (default 8 bands × 2 rows).
    *
    * Band sizing is the precision/recall dial: 2-row bands catch low
    * thresholds but admit ~all pairs when the corpus' baseline similarity
    * is high (char-grams); 8-row bands keep candidates ~j_base^8 AND are
    * pigeonhole-exact for agreement ≥ 15/16 (one mismatching component can
    * break only one of the two bands). */
  private def bandCandidates(sig: DataFrame, rows: Int = 2): DataFrame = {
    val nBands = K / rows
    val bandStruct = (0 until nBands).map { j =>
      struct(
        lit(j).as("band") +:
          (0 until rows).map(r => col(s"m${j * rows + r}").as(s"k$r")): _*
      )
    }
    val keyCols = (0 until rows).map(r => s"k$r")
    val bands = sig
      .select(col("doc_id"), explode(array(bandStruct: _*)).as("bk"))
      .select(col("doc_id") +: ("band" +: keyCols).map(c => col(s"bk.$c").as(c)): _*)
    val joinCond = (("band" +: keyCols).map(c => col(s"a.$c") === col(s"b.$c")) :+
      (col("a.doc_id") < col("b.doc_id"))).reduce(_ && _)
    bands.as("a").join(bands.as("b"), joinCond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Positional 5-gram pass shared by x52 (span dedup) and x67 (span
    * decontamination): one doc_id-partitioned window builds, per token
    * position, the hash of the 5-gram STARTING there (null when no full
    * gram fits). Checkpointed — every caller feeds it to ≥2 plan
    * references (a gram-set aggregation + the flag join). */
  private def positionalGrams(s: SparkSession, d: String): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val gramStr = concat_ws(
      " ",
      col("word"),
      lead("word", 1).over(wDoc),
      lead("word", 2).over(wDoc),
      lead("word", 3).over(wDoc),
      lead("word", 4).over(wDoc)
    )
    table(s, d, "documents")
      .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "word")))
      .withColumn("w4", lead("word", 4).over(wDoc)) // null ⇒ pos > n-5: no full gram starts here
      .withColumn("gh", when(col("w4").isNotNull, graft.functions.Hashing.md5Window15(gramStr)))
      .drop("w4")
      .localCheckpoint()
  }

  /** Coverage + survivor digest shared by x52/x67: flag positions where a
    * flagged gram starts, mark the 5-wide union of intervals covered, and
    * emit per-doc word/removed counts plus the md5 of the surviving
    * normalized token stream (sorted collect_list — order is a contract). */
  private def coverageDigest(
      withGram: DataFrame,
      flagged: DataFrame,
      removedCol: String,
      digestCol: String
  ): DataFrame = {
    val wCov = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-4, 0)
    withGram
      .join(flagged, Seq("gh"), "left")
      .withColumn("flag_start", coalesce(col("flag"), lit(0L)))
      .withColumn("covered", max(col("flag_start")).over(wCov))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("covered")).as(removedCol),
        md5(
          array_join(
            transform(
              array_sort(collect_list(when(col("covered") === 0L, struct(col("pos"), col("word"))))),
              x => x.getField("word")
            ),
            " "
          )
        ).as(digestCol)
      )
      .orderBy("doc_id")
  }

  /** x271's span scan over (doc_id, t): boundary wherever the md5-window
    * hash of the trailing 8 chars ≡ 0 (mod 32), plus the forced end-of-doc
    * cut; a doc-partitioned lag window turns cuts into (prev, i] spans.
    * Returns (doc_id, prev, i, chunk) — order-reconstructible. */
  private[graft] def cdcSpans(docs: DataFrame): DataFrame = {
    val W = 8
    val B = 32L
    val withN = docs.withColumn("n", length(col("t")).cast("long"))
    // cost note (16× probe): the md5-per-position window hash IS the
    // dominant term (~450M hashes at 16×, ~45 s) — the price of a
    // boundary rule both engines replay bit-exactly. A production CDC
    // pass swaps in an O(1)/byte gear rolling hash behind the same span
    // machinery; row-width games (pre-materializing (i, window) structs)
    // measured SLOWER than letting codegen inline substring+md5 here.
    val bounds = withN
      .where(col("n") >= W + 1) // i ranges [W, n-1]; Spark sequence() would DESCEND on an empty range
      .withColumn("i", explode(expr(s"sequence(CAST($W AS BIGINT), n - 1)")))
      .where(graft.functions.Hashing.md5Bucket(expr(s"substring(t, CAST(i - ${W - 1} AS INT), $W)"), B) === 0)
      .select(col("doc_id"), col("i"))
    val cuts = bounds.unionByName(withN.select(col("doc_id"), col("n").as("i")))
    val wd = Window.partitionBy("doc_id").orderBy("i")
    cuts
      .withColumn("prev", coalesce(lag("i", 1).over(wd), lit(0L)))
      .join(docs.select("doc_id", "t"), "doc_id")
      .select(
        col("doc_id"),
        col("prev"),
        col("i"),
        expr("substring(t, CAST(prev + 1 AS INT), CAST(i - prev AS INT))").as("chunk")
      )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Content-defined chunking (x271) — the STORAGE-dedup face of the
    // family (Muthitacharoen et al. LBFS SOSP'01 / rsync's rolling
    // window): chunk boundaries are declared wherever the hash of the
    // trailing 8-char window hits 0 mod 32, so boundaries move WITH the
    // content — an insertion near a doc's head shifts every x115
    // fixed-window chunk but leaves all CDC chunks after the next
    // boundary intact (CdcChunkSpec proves the shift-robustness law).
    // Pipeline: per-doc boundary scan (explode over char positions —
    // corpus-linear, ~1 row/char like x07's token explode), a
    // doc-partitioned lag window turns cuts into spans (bounded by doc
    // length), then a corpus-wide chunk-hash census: total vs distinct
    // chunks (the storage dedup ratio) + the 10 most-shared chunks.
    // Everything is the md5-window integer convention → both engines
    // replay bit-exactly.
    "x271_cdc_chunks" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"), lower(trim(col("text"))).as("t"))
      val h = cdcSpans(docs)
        .select(md5(col("chunk")).as("chh"), length(col("chunk")).cast("long").as("clen"))
        .localCheckpoint() // two refs: census + top-10
      val census = h
        .agg(count(lit(1)).as("total_chunks"), countDistinct(col("chh")).as("distinct_chunks"))
        .withColumn("dedup_ratio_e6", expr("(distinct_chunks * 1000000) div total_chunks"))
      h.groupBy("chh")
        .agg(count(lit(1)).as("cnt"), max("clen").as("chunk_len"))
        .orderBy(col("cnt").desc, col("chh"))
        .limit(10)
        .crossJoin(broadcast(census))
        .select("chh", "cnt", "chunk_len", "total_chunks", "distinct_chunks", "dedup_ratio_e6")
        .orderBy(col("cnt").desc, col("chh"))
    }),
    // Prefix-filtering set-similarity join (x207) — the PROVABLY COMPLETE
    // scale algorithm for threshold Jaccard joins (Chaudhuri et al. ICDE
    // 2006 / AllPairs; x02's inverted index caps hot shingles at df≤50,
    // a lossy heuristic — this one indexes only each doc's
    // s − ⌈τs⌉ + 1 globally-RAREST shingles and misses nothing):
    // J(A,B) ≥ τ ⇒ |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, and two sets with
    // intersection ≥ α must collide inside their (size − α + 1)-prefixes
    // under any shared total order; per-set α = ⌈τ·s⌉ only lengthens the
    // smaller set's prefix, so prefix×prefix candidates are complete.
    // Rarest-first ordering makes prefixes hot-token-free BY CONSTRUCTION
    // (the df cap x02 needs becomes a theorem). Candidates then verify
    // with one exact intersection count. Scale shape, in order of what
    // actually matters on a clone-heavy corpus (the 16× probe's
    // deliberate worst case, where the first draft went quadratic):
    //   1. EXACT-SET COLLAPSE first — identical shingle sets (exact and
    //      boilerplate dups, the dominant mass after web crawling) fold
    //      to one representative before any join, and their pairs come
    //      back at J=1 by expansion afterward. Clone groups therefore
    //      cost O(group) in the join and O(output) in the expansion —
    //      the output-bound optimum, since a pair-listing join can never
    //      beat its own output size.
    //   2. The LENGTH filter (J ≥ τ ⇒ min·1e6 ≥ τ·max) prunes candidates
    //      before the intersection join.
    //   3. The global shingle order needs NO global rank materialized:
    //      df is a function of tok, so (df, tok) is itself a shared
    //      total order, and the per-doc prefix window orders by it
    //      directly. The r7-flagged single-partition census window
    //      (rank over the full shingle-df census — under Heaps' law
    //      that census grows near-linearly with the corpus) is gone,
    //      not bucketed away: every window is doc-partitioned, every
    //      join an equi-join on shingle/doc keys.
    "x207_prefix_join" -> ((s, d) => {
      val tau = 600000L // τ = 0.6 in e6
      // r11: the per-doc DISTINCT shingle SET is built ROW-LOCALLY, and
      // since s3 it lives in INT64 HASH SPACE (the x02 md5-window-15
      // convention via the native TokenGramHashes expression — sorted
      // distinct word-3-gram hashes per row): every downstream stage
      // (df census, prefix window, candidate join, array_intersect
      // verification) moves and compares 8-byte longs instead of ~25-byte
      // shingle strings. The RESULT is unchanged: any shared total order
      // keeps prefix×prefix candidates complete, and |A∩B| over the hash
      // sets equals |A∩B| over the string sets under the same 60-bit md5
      // convention every hash-space dedup operator already relies on.
      // A doc has ≥3 tokens ⇔ its gram array is non-empty, so the
      // size(ts) > 0 guard reproduces the old size(w) >= 3 exclusion;
      // the set signature is the md5 of the (already-sorted) hash array.
      val docSets = table(s, d, "documents")
        .select(col("doc_id"), graft.functions.TokenGramHashes(col("text"), 3).as("ts"))
        .where(size(col("ts")) > 0)
        .select(
          col("doc_id"),
          col("ts"),
          md5(concat_ws("\n", expr("transform(ts, x -> CAST(x AS STRING))"))).as("sig")
        )
        .localCheckpoint() // refs: rep census + member map
      // identical sets → one representative (min doc id per signature)
      val members = docSets
        .join(docSets.groupBy("sig").agg(min("doc_id").as("rep")), "sig")
        .select("doc_id", "rep")
        .localCheckpoint() // refs: rep filter + two expansion legs
      val repSets = docSets
        .join(members.where(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
        .select(col("doc_id"), col("ts"), size(col("ts")).cast("long").as("sz"))
        .localCheckpoint() // refs: sizes, the exploded stream, verify arrays ×2
      val sh = repSets
        .select(col("doc_id"), explode(col("ts")).as("tok"))
        .localCheckpoint() // refs: df census, prefix
      val sz = repSets.select("doc_id", "sz")
      // df census only — the rarest-first order is (df, tok) directly
      // (rank values were never load-bearing, only the order was)
      val dfc = sh
        .groupBy("tok")
        .agg(count(lit(1)).as("df"))
      val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
      val prefix = sh
        .join(dfc, "tok")
        .join(sz, "doc_id")
        .withColumn("pos", row_number().over(wDoc).cast("long"))
        .where(col("pos") <= expr(s"sz - (sz * $tau + 999999) div 1000000 + 1"))
        .select(col("doc_id"), col("tok"))
        .localCheckpoint() // self-joined
      val cand = prefix
        .select(col("doc_id").as("a"), col("tok"))
        .join(prefix.select(col("doc_id").as("b"), col("tok")), "tok")
        .where(col("a") < col("b"))
        .select("a", "b")
        .distinct()
        // r11 s3: verification is ROW-LOCAL — each side's already-distinct
        // shingle array rides the candidate row and |A∩B| is one codegen'd
        // array_intersect, replacing the old explode → two shuffle joins
        // against the (doc, tok) stream → corpus-sized count aggregation.
        // Shuffle bytes per pair are the same order (the old shape shipped
        // doc A's full token stream per pair too); the two join stages and
        // the grouped count disappear outright.
        .join(repSets.select(col("doc_id").as("a"), col("sz").as("sa"), col("ts").as("ta")), "a")
        .join(repSets.select(col("doc_id").as("b"), col("sz").as("sb"), col("ts").as("tb")), "b")
        .where(expr(s"least(sa, sb) * 1000000 >= $tau * greatest(sa, sb)")) // length filter
      val repPairs = cand
        .withColumn("inter", size(expr("array_intersect(ta, tb)")).cast("long"))
        .withColumn("jac_e6", expr("inter * 1000000 div (sa + sb - inter)"))
        .where(col("jac_e6") >= tau)
        .select("a", "b", "jac_e6")
      // expansion: cross-group pairs inherit the rep pair's J; same-group
      // pairs are exact duplicates (J = 1) by definition
      val cross = repPairs
        .join(members.select(col("rep").as("a"), col("doc_id").as("da")), "a")
        .join(members.select(col("rep").as("b"), col("doc_id").as("db")), "b")
        .select(least(col("da"), col("db")).as("a"), greatest(col("da"), col("db")).as("b"), col("jac_e6"))
      val within = members
        .select(col("rep"), col("doc_id").as("da"))
        .join(members.select(col("rep"), col("doc_id").as("db")), "rep")
        .where(col("da") < col("db"))
        .select(col("da").as("a"), col("db").as("b"), lit(1000000L).as("jac_e6"))
      cross.unionByName(within).orderBy("a", "b")
    }),

    // ---- exact dedup: one hash-aggregate pass ------------------------------
    "x01_dedup_exact" -> ((s, d) => {
      table(s, d, "documents")
        .agg(
          count(lit(1)).as("total_docs"),
          count_distinct(md5(col("text"))).as("distinct_texts")
        )
        .select(
          col("total_docs"),
          col("distinct_texts"),
          (col("total_docs") - col("distinct_texts")).as("dup_docs")
        )
    }),

    // ---- dedup resolution: the surviving document set ----------------------
    // detection (x01-x14) finds duplicates; resolution keeps one canonical
    // row per group — min doc_id per exact-text hash, one shuffle
    "x15_dedup_keep_first" -> ((s, d) => {
      table(s, d, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
        .select("doc_id", "group_size")
        .orderBy("doc_id")
    }),

    // ---- n-gram Jaccard near-dup pairs ------------------------------------
    // inverted-index self-join on the shingle key; |A∩B| by count, Jaccard by
    // inclusion–exclusion. Integer counts → the double division is identical
    // in both engines.
    //
    // Hot-shingle cap: a shingle shared by k docs contributes k² join rows,
    // so one stop-phrase 3-gram ("one of the") makes the self-join quadratic
    // on a single skewed key at corpus scale. Standard MinHash-family
    // preprocessing applies: shingles with document frequency > DfCap are
    // dropped BEFORE the join (they carry ~no similarity signal anyway —
    // Jaccard here is over the informative shingle set, and the oracle
    // mirrors the cap). Per-key join work is then bounded by DfCap².
    "x02_dedup_ngram_jaccard" -> ((s, d) =>
      jaccardPairs(s, d)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
        .orderBy("doc_a", "doc_b")),

    // ---- asymmetric containment (subset / quote detection) -----------------
    // Jaccard is blind to asymmetry: a short document fully quoted inside a
    // long one scores |A|/|B| ≈ 0 even though containment(A) = 1. x54
    // reports both directed containments cont_x = |grams(A)∩grams(B)| /
    // |grams(x)| over the same df-capped shingle space as x02, keeping
    // pairs where either direction ≥ 0.8 — the measure behind "drop the
    // quoted subset, keep the superset" curation policy. Integer ppm per
    // invariant #7; the pair join is the x02 inverted index (df cap bounds
    // per-key fanout), NOT a fresh candidate scheme — containment recall
    // only needs ONE shared uncapped gram to surface the pair.
    "x54_containment" -> ((s, d) =>
      commonCounts(s, d)
        .withColumn("cont_a_ppm", expr("(n_common * 1000000L) div n_a"))
        .withColumn("cont_b_ppm", expr("(n_common * 1000000L) div n_b"))
        .where(col("cont_a_ppm") >= 800000L || col("cont_b_ppm") >= 800000L)
        .select("doc_a", "doc_b", "n_a", "n_b", "n_common", "cont_a_ppm", "cont_b_ppm")
        .orderBy("doc_a", "doc_b")),

    // ---- near-dup clusters: pairs → connected components -------------------
    // Pair detection (x02/x03/x04/x14) emits edges; RESOLUTION needs groups:
    // "keep one survivor per component", not per pair — a transitively
    // linked chain a~b~c is ONE duplicate family even if (a,c) never scored.
    // x37 runs distributed min-label propagation over the x02 edge set and
    // emits (doc_id, cluster_id, cluster size). The DuckDB oracle computes
    // the same components with a recursive transitive-closure CTE.
    "x37_dedup_clusters" -> ((s, d) => {
      val cc = connectedComponents(jaccardPairs(s, d))
      val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    }),

    // ---- near-dup RESOLUTION: clusters → surviving document set ------------
    // The final stage of the dedup arc (detect x02 → cluster x37 → resolve):
    // keep the minimum doc_id of every near-dup component, plus every
    // document that never entered a pair. The survivor list is what the
    // downstream pipeline actually trains on. Anti-join of the corpus
    // against (clustered − survivors) — one shuffle on doc_id.
    "x40_dedup_resolve" -> ((s, d) => {
      val cc = connectedComponents(jaccardPairs(s, d))
      val drop = cc.where(col("doc_id") =!= col("cluster_id")).select("doc_id")
      table(s, d, "documents")
        .join(drop, Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_survivors"))
        .orderBy("lang")
    }),

    // ---- near-dup resolution, KEEP-BEST variant -----------------------------
    // x40 keeps each component's min doc_id — the arbitrary-but-cheap
    // default. Production curation keeps the BEST copy (the cleanest of a
    // boilerplate family often isn't the first-crawled): x242 picks the
    // per-cluster argmax of an integer quality key (n_types·1e6 +
    // n_tokens — diversity then length; one token-census pass) with a
    // min-id tiebreak, as one max(struct(q, −doc_id)) agg per cluster —
    // no window. The first_doc / differs columns quantify how often
    // keep-first and keep-best actually disagree — the number that
    // justifies (or kills) the extra quality pass.
    "x242_keep_best" -> ((s, d) => {
      val cc = connectedComponents(jaccardPairs(s, d))
      // r11 s3: both quality terms are ROW-LOCAL — distinct tokens via the
      // native unigram-hash set (the md5-window-15 convention; equal to
      // the string-distinct count), total tokens via size(split) — so the
      // old explode + two corpus-sized groupBys are gone
      val quality = table(s, d, "documents")
        .select(
          col("doc_id"),
          (size(graft.functions.TokenGramHashes(col("text"), 1)).cast("long") * 1000000L +
            size(split(lower(trim(col("text"))), "\\s+")).cast("long")).as("q")
        )
      cc.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(
          count(lit(1)).as("cluster_size"),
          min("doc_id").as("first_doc"),
          max(struct(col("q"), (-col("doc_id")).as("nid"))).as("m")
        )
        .select(
          col("cluster_id"),
          col("cluster_size"),
          (-col("m.nid")).as("kept_doc"),
          col("m.q").as("kept_quality"),
          col("first_doc"),
          ((-col("m.nid")) =!= col("first_doc")).as("differs")
        )
        .orderBy("cluster_id")
    }),

    // ---- entity resolution / record linkage --------------------------------
    // The identity face of dedup: records are NOISY VARIANTS of entities
    // (name/address linkage), so equality dedup (x01) can't see them and
    // token-overlap similarity (x02) is the wrong metric — the edit noise
    // model needs exact Levenshtein. Pipeline = multi-pass blocking
    // (prefix-4 + suffix-4 equi-joins: a single-character deletion always
    // preserves at least one of the two block keys, so recall is
    // STRUCTURAL, not probabilistic — deletion at position p>4 keeps the
    // prefix, p<len−4 keeps the suffix, and the ranges overlap) → distinct
    // candidate pairs → codegen'd builtin levenshtein ≤ 2 → connected
    // components → clusters + singletons. Record strings derive from the
    // fixture via the md5 convention (the x93 lesson: hashed content is
    // uniform and cross-engine exact); ~2/3 of entities get a one-deletion
    // dirty twin, the rest stay singletons. The oracle replays blocking +
    // Levenshtein and emits pairs-as-clusters, so a cross-entity merge, a
    // chained component, or a missed match all flip the row set; entity_ok
    // pins that every cluster stays within one source key. At 100 TB
    // blocking is a pair of equi-joins on md5-uniform 4-hex keys (65536
    // buckets, no hot key; real-name corpora would add the x02-style cap
    // on block population).
    "x108_entity_resolution" -> ((s, d) => {
      val base = table(s, d, "customer")
        .select(col("c_custkey").as("k"), md5(col("c_custkey").cast("string")).as("nm"))
      val canon = base.select((col("k") * 2).as("rec_id"), col("k"), col("nm").as("name"))
      val dirty = base
        .where(col("k") % 3 =!= 0)
        .select(
          (col("k") * 2 + 1).as("rec_id"),
          col("k"),
          expr("concat(substring(nm, 1, CAST(k % 32 AS INT)), substring(nm, CAST(k % 32 AS INT) + 2))")
            .as("name")
        )
      // six plan refs below (two block passes × both sides, entity join,
      // singleton anti-join) — materialize once
      val recs = canon.unionByName(dirty).localCheckpoint()
      def pass(bk: Column => Column): DataFrame = {
        val a = recs.select(col("rec_id").as("ra"), col("name").as("na")).withColumn("bk", bk(col("na")))
        val b = recs.select(col("rec_id").as("rb"), col("name").as("nb")).withColumn("bk", bk(col("nb")))
        a.join(b, "bk").where(col("ra") < col("rb")).select("ra", "rb", "na", "nb")
      }
      val cand = pass(_.substr(lit(1), lit(4)))
        .unionByName(pass(n => n.substr(length(n) - 3, lit(4))))
        .distinct()
      val matches = cand
        .where(levenshtein(col("na"), col("nb")) <= 2)
        .select(col("ra").as("doc_a"), col("rb").as("doc_b"))
        .localCheckpoint() // CC iterates over the pair set
      val cc = connectedComponents(matches)
      val clusters = cc
        .join(recs.select(col("rec_id").as("doc_id"), col("k")), "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("size"), (min("k") === max("k")).as("entity_ok"))
      val singles = recs
        .join(cc.select(col("doc_id").as("rec_id")), Seq("rec_id"), "left_anti")
        .select(col("rec_id").as("cluster_id"), lit(1L).as("size"), lit(true).as("entity_ok"))
      clusters.unionByName(singles).orderBy("cluster_id")
    }),

    // ---- native Jaro–Winkler scalar -----------------------------------------
    // The similarity scorer the ER family pairs with candidate generation
    // (x108 blocking / x147 deletion neighborhoods): a native codegen'd
    // Catalyst expression whose double arithmetic replicates DuckDB's
    // jaro_winkler_similarity BIT-FOR-BIT (match window, transposition
    // halving, 0.7-threshold prefix boost, and the any-empty→0.0
    // degenerate convention — JaroWinklerExpr scaladoc). The gate scores
    // the x108 canonical/dirty md5-name corpus against the oracle's
    // NATIVE function — an independent implementation, not a replayed
    // formula — on both a high-similarity pair (char-deletion variant,
    // exercising the boost branch) and a low-similarity pair (reversed
    // name, exercising the no-boost/transposition-heavy branch). Raw
    // doubles cross the gate, so a single ULP of arithmetic divergence
    // anywhere fails the hash. Scale: per-row scalar in whole-stage
    // codegen — no shuffle at all beyond the final sort.
    "x154_jaro_winkler" -> ((s, d) => {
      table(s, d, "customer")
        .select(col("c_custkey").as("k"), md5(col("c_custkey").cast("string")).as("nm"))
        .where(col("k") % 3 =!= 0)
        .select(
          col("k"),
          col("nm"),
          expr("concat(substring(nm, 1, CAST(k % 32 AS INT)), substring(nm, CAST(k % 32 AS INT) + 2))")
            .as("dirty")
        )
        .select(
          col("k"),
          graft.functions.JaroWinkler(col("nm"), col("dirty")).as("jw_dirty"),
          graft.functions.JaroWinkler(col("nm"), reverse(col("nm"))).as("jw_reverse")
        )
        .orderBy("k")
    }),

    // ---- lossless ed≤1 fuzzy resolution (deletion neighborhoods) -----------
    // x108's blocking (4-char prefix/suffix keys) is a HEURISTIC — an edit
    // inside both windows loses the pair. This is the lossless counterpart
    // for edit distance ≤ 1: two strings are within one edit iff their
    // deletion neighborhoods N(s) = {s} ∪ {s minus char i} intersect
    // (FastSS, Bocek et al. 2007 — substitution ⇒ same-position deletions
    // collide; insert/delete ⇒ one side's variant IS the other string), so
    // an equi-join on the variant key finds EVERY candidate and a
    // levenshtein verify removes neighborhood collisions (e.g. "ab"/"ba"
    // share {a,b} at distance 2). The workload is dictionary resolution of
    // a dirty mention stream: 30% of corpus token occurrences get a
    // deterministic md5-driven one-char substitution, plus three inline
    // adversarial mentions (doc −1) covering pure-deletion ("tble"),
    // pure-insertion ("scann") and unmatchable ("zzzzz") shapes so every
    // edit type and the unmatched path are load-bearing in the gate.
    // Resolution is best-match per distinct mention string: min distance,
    // then max dictionary df, then lexicographic — a deterministic total
    // order, so the per-doc resolved-token digest pins exact assignments.
    // Scale shape: the corpus stream is touched by map-side work only
    // (posexplode + typo expression + final per-doc agg); neighborhood
    // explode (×len+1) runs on the DISTINCT mention strings and the
    // dictionary — both vocab-sized, never the corpus — and the resolved
    // lookup table joins back under the x75 broadcast threshold. The
    // oracle is the quadratic mention×dictionary twin, which also PROVES
    // the neighborhood join lossless: a missed candidate flips the hash.
    "x147_fuzzy_resolve" -> ((s, d) => {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val base = table(s, d, "documents")
        .select(col("doc_id"), posexplode(toks).as(Seq("pos", "w")))
        .where(length(col("w")) >= 1)
        .localCheckpoint() // feeds dictionary + mention stream
      val voc = base.groupBy("w").agg(count(lit(1)).as("df"))
      val keyed = base.withColumn("key", concat_ws(":", col("doc_id"), col("pos"), col("w")))
      val perturbed = keyed
        .withColumn("typo", (graft.functions.Hashing.md5Bucket(col("key"), 10L) < 3).cast("long"))
        .withColumn("h2", graft.functions.Hashing.md5Window15(col("key"), 17))
        .withColumn("p", (pmod(col("h2"), length(col("w")).cast("long")) + 1).cast("int"))
        .withColumn("ch", expr("chr(97 + CAST((h2 div 1000000) % 26 AS INT))"))
        .select(
          col("doc_id"),
          col("typo"),
          when(col("typo") === 1, expr("concat(substring(w, 1, p - 1), ch, substring(w, p + 1))"))
            .otherwise(col("w"))
            .as("m")
        )
      val mentions = perturbed
        .unionByName(
          s.range(1).select(
            lit(-1L).as("doc_id"),
            lit(0L).as("typo"),
            explode(array(lit("zzzzz"), lit("tble"), lit("scann"))).as("m")
          )
        )
        .localCheckpoint() // feeds distinct-mention resolution + per-doc agg
      def delNbhd(c: String): Column = expr(
        s"transform(sequence(0, length($c)), i -> CASE WHEN i = 0 THEN $c " +
          s"ELSE concat(substring($c, 1, i - 1), substring($c, i + 1)) END)"
      )
      val dmVar = mentions.select(col("m")).distinct().select(col("m"), explode(delNbhd("m")).as("v"))
      val vocVar = voc.select(col("w"), col("df"), explode(delNbhd("w")).as("v"))
      val verified = dmVar
        .join(vocVar, "v")
        .select("m", "w", "df")
        .distinct()
        .withColumn("lev", levenshtein(col("m"), col("w")))
        .where(col("lev") <= 1)
      val best = verified
        .withColumn(
          "rn",
          row_number().over(Window.partitionBy("m").orderBy(col("lev"), col("df").desc, col("w")))
        )
        .where(col("rn") === 1)
        .select(col("m"), col("w").as("resolved"))
        .localCheckpoint() // count gates the broadcast decision
      val bestSide = if (best.count() <= 4000000L) broadcast(best) else best
      mentions
        .join(bestSide, Seq("m"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_mentions"),
          sum("typo").as("n_perturbed"),
          sum(when(col("resolved").isNotNull, 1L).otherwise(0L)).as("n_resolved"),
          sum(when(col("resolved").isNull, 1L).otherwise(0L)).as("n_unmatched"),
          sum(
            when(col("resolved").isNotNull, graft.functions.Hashing.md5Bucket(col("resolved"), 1048576L))
              .otherwise(0L)
          ).as("resolved_digest")
        )
        .orderBy("doc_id")
    }),

    // ---- leakage-safe train/heldout split ----------------------------------
    // The contamination-control completion of the dedup arc (detect x02 →
    // cluster x37 → resolve x40 → SPLIT): a split drawn per-document leaks
    // whenever two near-duplicates land on opposite sides — the heldout
    // copy is then memorized via its train-side twin (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better", measure
    // exactly this train/eval overlap). The fix: split by CLUSTER — every
    // near-dup component rides the md5 bucket of its cluster_id to ONE
    // side; singleton docs (never in a pair) bucket by their own id, which
    // is the same rule because each is its own cluster representative, so
    // the split stays ~90/10 overall. Cost over the naive x24 split is
    // exactly the x37 component pass plus one left join on doc_id; by
    // construction zero x02 pairs cross the boundary (the spec asserts
    // both this and that the naive split DOES leak on a planted cluster).
    "x76_leakage_safe_split" -> ((s, d) => {
      val cc = connectedComponents(jaccardPairs(s, d))
      table(s, d, "documents")
        .select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn(
          "split",
          when(graft.functions.Hashing.md5Bucket(col("cluster_id").cast("string"), 100L) < 90, "train")
            .otherwise("heldout")
        )
        .orderBy("doc_id")
    }),

    // ---- cross-document repeated-span profile ------------------------------
    // The exact-substring-dedup diagnostic: for every document, what share
    // of its word-5-gram spans also occurs in some OTHER document? (Within-
    // doc repetition is x19; pairwise similarity is x02 — this is the
    // per-document "how much of me is boilerplate" measure that drives span
    // removal decisions.) One explode + one gram-key aggregation + one
    // equi-join back; gram keys are 8-byte hashes (native TokenGramHashes),
    // never strings. df is capped by nothing here because the aggregation
    // output is one row per gram — the quadratic pair blowup of an
    // inverted-index SELF-join cannot occur in this shape.
    "x31_span_stats" -> ((s, d) => {
      val grams = table(s, d, "documents")
        .select(col("doc_id"), explode(graft.functions.TokenGramHashes(col("text"), 5)).as("g"))
      // TokenGramHashes dedups within the row, so count(*) = document freq
      val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
      grams
        .join(df, "g")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared_grams")
        )
        .withColumn("shared_ppm", expr("(n_shared_grams * 1000000L) div n_grams"))
        .orderBy("doc_id")
    }),

    // ---- cross-document duplicated-span REMOVAL ----------------------------
    // The action x31 diagnoses: rewrite each document dropping every word
    // covered by a word-5-gram that also occurs in ANOTHER document — the
    // distributed rendering of exact-substring dedup (Lee et al. 2022,
    // arXiv:2107.06499, who use suffix arrays at 50-token spans; the
    // positional-gram + window formulation below needs no global suffix
    // structure and every stage is key-bounded). Pipeline: positional
    // grams via lead() (one doc_id shuffle) → gram df over DISTINCT docs
    // (gram-key agg, one row per gram — no pair join can blow up) → flag
    // join back → coverage = max(dup_start) over ROWS [-4, 0] (the window
    // union of 5-wide intervals) → survivors reassembled in order.
    // Output text is the normalized (lowercased, space-joined) token
    // stream; survivors_md5 digests it for the gate.
    "x52_span_dedup" -> ((s, d) => {
      val withGram = positionalGrams(s, d)
      val dupGrams = withGram
        .where(col("gh").isNotNull)
        .select("doc_id", "gh")
        .distinct() // df counts DOCUMENTS, not occurrences
        .groupBy("gh")
        .agg(count(lit(1)).as("df"))
        .where(col("df") >= 2)
        .select(col("gh"), lit(1L).as("flag"))
      coverageDigest(withGram, dupGrams, "n_dropped", "survivors_md5")
    }),

    // ---- span-level benchmark decontamination -------------------------------
    // x18/x46 give the doc-level verdict (how MUCH benchmark overlap); this
    // is the surgical variant real pre-training pipelines run before
    // dropping data on the floor: remove only the 5-gram SPANS that overlap
    // the benchmark set and keep the rest of the document (x52's positional
    // coverage machinery pointed at an external contamination set instead
    // of corpus-internal duplication). Scale shape: one doc_id-partitioned
    // window pass (checkpointed, 2 refs), the benchmark gram set is a
    // distinct-gram aggregation (broadcastable dim; x46's Bloom bitset is
    // the compact-filter alternative when even that is too big), coverage
    // is a 5-wide running max per doc.
    "x67_span_decontaminate" -> ((s, d) => {
      val withGram = positionalGrams(s, d)
      val bench = withGram
        .where(col("doc_id") % 50 === 0 && col("gh").isNotNull)
        .select("gh")
        .distinct()
        .select(col("gh"), lit(1L).as("flag"))
      coverageDigest(withGram.where(col("doc_id") % 50 =!= 0), bench, "n_removed", "clean_md5")
    }),

    // ---- char-4-gram near-dup via MinHash signatures -----------------------
    // Character shingles come from a tiny alphabet, so common 4-grams occur
    // in nearly every document: a raw inverted-index self-join is quadratic
    // in |docs| per hot shingle (measured: minutes at 5000 docs), and even
    // an exact-verify pass over LSH candidates pays |cand|·|shingles| when
    // the baseline similarity is high. The corpus-scale design: compare
    // SIGNATURES only — near-dup ⇔ ≥15/16 minhash components agree
    // (est. jaccard ≥ 0.9375 ≥ threshold). Integer-deterministic, same
    // pipeline in the DuckDB oracle.
    "x14_dedup_chargram" -> ((s, d) => {
      val sig = minhashSigsFromRaw(charShingleHashes(s, d))
      val cand = bandCandidates(sig, rows = 8)
      val agree = (0 until K)
        .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      cand
        .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
        .withColumn("est_jaccard", agree / lit(K.toDouble))
        .where(col("est_jaccard") >= 0.9)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    }),

    // LSH-vs-exact evaluation harness (x224) — the TUNING instrument the
    // dedup family lacked: x03's banded MinHash pipeline (8×2 bands,
    // signature-agreement ≥ ⌈0.6·16⌉ = 10) scored against x207's EXACT
    // τ=0.6 ground truth (complete by the prefix theorem) as
    // TP/FP/FN + precision/recall/F1 — the numbers that decide band
    // geometry and K before anyone runs the pipeline at corpus scale.
    // Both legs are existing audited pipelines; the harness adds one
    // full-outer pair join and a 1-row fold. All metric arithmetic is
    // integer e6 with zero-denominator guards (the x218 lesson).
    "x224_lsh_eval" -> ((s, d) => {
      val thr = 10L // ceil(τ·K): agreement count form of est_jaccard ≥ 0.6
      val truth = Dedup
        .queries("x207_prefix_join")(s, d)
        .select(col("a"), col("b"))
      val sig = minhashSigsFromRaw(wordShingleHashes(s, d).withColumnRenamed("sh", "hraw"))
        .localCheckpoint() // bands + two signature joins
      val agree = (0 until K)
        .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val pred = bandCandidates(sig)
        .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
        .where(agree >= thr)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      truth
        .withColumn("t", lit(1L))
        .join(pred.withColumn("p", lit(1L)), Seq("a", "b"), "full_outer")
        .agg(
          sum(when(col("t").isNotNull && col("p").isNotNull, 1L).otherwise(0L)).as("tp"),
          sum(when(col("t").isNull, 1L).otherwise(0L)).as("fp"),
          sum(when(col("p").isNull, 1L).otherwise(0L)).as("fn")
        )
        .select(
          (col("tp") + col("fn")).as("n_truth"),
          (col("tp") + col("fp")).as("n_pred"),
          col("tp"),
          col("fp"),
          col("fn"),
          expr("IF(tp + fp = 0, 0L, tp * 1000000 div (tp + fp))").as("precision_e6"),
          expr("IF(tp + fn = 0, 0L, tp * 1000000 div (tp + fn))").as("recall_e6")
        )
        .withColumn(
          "f1_e6",
          expr("IF(precision_e6 + recall_e6 = 0, 0L, 2 * precision_e6 * recall_e6 div (precision_e6 + recall_e6))")
        )
    }),

    // Band-geometry tuning sweep (x253) — x224 measured ONE operating
    // point; this is the CURVE the band dial actually exposes: the same
    // 16-component signatures cut as 16×1 / 8×2 / 4×4 bands, each
    // config's candidates verified at the same agreement threshold and
    // scored against x207's exact truth — three measured (P, R) points
    // instead of the banding folklore. Measured gate finding: all three
    // geometries saturate identically (P=0.96, R=1.0) because this
    // corpus' near-dups are clone-grade (full signature agreement
    // reaches candidates under ANY cut); the geometry dial only
    // separates on mid-similarity pairs — and the instrument reports
    // that flatness rather than assuming it. The truth leg and
    // signature table compute ONCE (localCheckpoint), all legs reuse.
    "x253_band_sweep" -> ((s, d) => {
      val thr = 10L
      val truth = Dedup
        .queries("x207_prefix_join")(s, d)
        .select(col("a"), col("b"))
        .localCheckpoint() // three legs
      val sig = minhashSigsFromRaw(wordShingleHashes(s, d).withColumnRenamed("sh", "hraw"))
        .localCheckpoint() // one band cut + two signature joins
      // r11 s3: the three geometries are NESTED — a pair matching any
      // r-row band matches each of that band's 1-row sub-bands, so the
      // 16×1 cut's candidates are a superset of all three legs and each
      // geometry's "shares ≥1 band" test is a row-local predicate over
      // the pair's per-component equality vector. One candidate
      // generation + one pair of signature joins (was three of each);
      // per-leg predicates and scoring unchanged.
      val eqPairs = bandCandidates(sig, 1)
        .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
        .select(
          col("doc_a") +: col("doc_b") +:
            (0 until K).map(i => (col(s"a.m$i") === col(s"b.m$i")).cast("long").as(s"eq$i")): _*
        )
        .localCheckpoint() // three geometry filters
      val agreeSum = (0 until K).map(i => col(s"eq$i")).reduce(_ + _)
      def leg(rows: Int): DataFrame = {
        val nBands = K / rows
        val bandHit = (0 until nBands)
          .map(j => (0 until rows).map(r => col(s"eq${j * rows + r}") === 1L).reduce(_ && _))
          .reduce(_ || _)
        val pred = eqPairs
          .where(bandHit && agreeSum >= thr)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        truth
          .withColumn("t", lit(1L))
          .join(pred.withColumn("p", lit(1L)), Seq("a", "b"), "full_outer")
          .agg(
            sum(when(col("t").isNotNull && col("p").isNotNull, 1L).otherwise(0L)).as("tp"),
            sum(when(col("t").isNull, 1L).otherwise(0L)).as("fp"),
            sum(when(col("p").isNull, 1L).otherwise(0L)).as("fn")
          )
          .select(
            lit((K / rows).toLong).as("bands"),
            lit(rows.toLong).as("rows_per_band"),
            (col("tp") + col("fn")).as("n_truth"),
            (col("tp") + col("fp")).as("n_pred"),
            col("tp"),
            col("fp"),
            col("fn"),
            expr("IF(tp + fp = 0, 0L, tp * 1000000 div (tp + fp))").as("precision_e6"),
            expr("IF(tp + fn = 0, 0L, tp * 1000000 div (tp + fn))").as("recall_e6")
          )
      }
      leg(1).unionByName(leg(2)).unionByName(leg(4)).orderBy("rows_per_band")
    }),

    // ---- MinHash + LSH banding --------------------------------------------
    // 16-component signature, 8 bands × 2 rows; candidate pairs = docs
    // sharing ≥1 band bucket; output the signature-agreement estimate.
    "x03_dedup_minhash" -> ((s, d) => {
      val sig = minhashSigsFromRaw(wordShingleHashes(s, d).withColumnRenamed("sh", "hraw"))
      val cand = bandCandidates(sig)
      val agree = (0 until K)
        .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      cand
        .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
        .select(col("doc_a"), col("doc_b"), (agree / lit(K.toDouble)).as("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // ---- SimHash ------------------------------------------------------------
    // 62-bit frequency-weighted signature in two 31-bit halves; LSH over 4
    // lossless bands (any pair with hamming ≤ 3 must agree on ≥1 band);
    // exact hamming via bit_count(xor).
    "x04_dedup_simhash" -> ((s, d) => simhashPairs(table(s, d, "documents")).orderBy("doc_a", "doc_b")),

    // ---- incremental shard-vs-corpus dedup ----------------------------------
    // The ingestion-time gate: a NEW shard arrives and must be deduped
    // against the EXISTING corpus without re-deduping the corpus against
    // itself (x01/x04 are the self-dedup batch forms). Verdict per shard
    // doc: exact_dup (content hash already in the corpus), near_dup
    // (simhash hamming ≤ 3 against ≥1 corpus doc via the lossless band
    // index), else unique. Scale shape: the corpus side is the INDEX
    // (content-hash set + 4-band signature table, both incrementally
    // maintainable); the shard only ever joins keys against it — no
    // shard×corpus pair step exists outside band buckets. Fixture split:
    // doc_id % 3 == 0 plays the corpus.
    "x69_incremental_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val corpus = docs.where(col("doc_id") % 3 === 0)
      val shard = docs.where(col("doc_id") % 3 =!= 0)
      val exact = shard
        .select(col("doc_id"), md5(col("text")).as("h"))
        .join(corpus.select(md5(col("text")).as("h")).distinct(), Seq("h"), "left_semi")
        .select(col("doc_id"), lit(1L).as("is_exact"))
      // ONE signature pass over the whole table (the corpus/shard split is
      // a filter on the checkpointed sigs, not a second scan+hash pass)
      val sig = simhashSigsOf(docs).localCheckpoint()
      val sigC = sig.where(col("doc_id") % 3 === 0)
      val sigS = sig.where(col("doc_id") % 3 =!= 0)
      // hot-bucket cap, the x02 DfCap discipline: a band bucket shared by
      // >200 docs is a mass-similarity cluster whose members the EXACT pass
      // already collapses when they're true clones; joining it would be
      // quadratic in bucket size (measured: the 16x clone corpus drives
      // single buckets past 3000 docs). Recall honesty: a near-dup pair is
      // missed only if ALL of its agreeing bands are hot. The oracle
      // replicates the cap, the spec pins the planted-pair semantics.
      val bands = simhashBands(sig).localCheckpoint() // feeds hot + both join sides
      val hot = bands.groupBy("band", "k").agg(count(lit(1)).as("df")).where(col("df") > BandCap).select("band", "k")
      // feeds both sides of the cand self-join (the %3 filters make the
      // subtrees non-identical, so exchange reuse cannot kick in)
      val cold = bands.join(hot, Seq("band", "k"), "left_anti").localCheckpoint()
      val cand = cold
        .where(col("doc_id") % 3 =!= 0)
        .as("a")
        .join(
          cold.where(col("doc_id") % 3 === 0).as("b"),
          col("a.band") === col("b.band") && col("a.k") === col("b.k")
        )
        .select(col("a.doc_id").as("sid"), col("b.doc_id").as("cid"))
        .distinct()
      val near = cand
        .join(sigS.select(col("doc_id").as("sid"), col("lo").as("lo_a"), col("hi").as("hi_a")), "sid")
        .join(sigC.select(col("doc_id").as("cid"), col("lo").as("lo_b"), col("hi").as("hi_b")), "cid")
        .withColumn(
          "hamming",
          (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) + bit_count(col("hi_a").bitwiseXOR(col("hi_b"))))
            .cast("long")
        )
        .where(col("hamming") <= 3)
        .groupBy("sid")
        .agg(count(lit(1)).as("n_near"), min("hamming").as("min_h"))
      shard
        .select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near.withColumnRenamed("sid", "doc_id"), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          when(col("is_exact").isNotNull, "exact_dup")
            .when(col("n_near").isNotNull, "near_dup")
            .otherwise("unique")
            .as("verdict"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          coalesce(col("min_h"), lit(-1L)).as("min_hamming")
        )
        .orderBy("doc_id")
    }),

    // ---- resolution-first dedup pipeline -----------------------------------
    // The 16x clone probe showed why stage ordering matters: near-dup PAIR
    // output is inherently quadratic in per-text clone count (every clone
    // pair is a true duplicate), so mass-duplicated corpora must collapse
    // exact clones first (x15 resolution) and only then run signature
    // near-dup on the survivors. doc_a/doc_b are survivor ids; group sizes
    // carry the collapsed multiplicity for weighting downstream.
    "x20_dedup_pipeline" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val groups = docs
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      val surv = docs.join(groups.select("doc_id"), "doc_id")
      simhashPairs(surv)
        .join(groups.select(col("doc_id").as("doc_a"), col("group_size").as("size_a")), "doc_a")
        .join(groups.select(col("doc_id").as("doc_b"), col("group_size").as("size_b")), "doc_b")
        .select("doc_a", "doc_b", "hamming", "size_a", "size_b")
        .orderBy("doc_a", "doc_b")
    })
  )

  /** 4 lossless 15/16-bit bands of the 62-bit signature: any pair with
    * hamming ≤ 3 must agree exactly on ≥ 1 band (pigeonhole). */
  private def simhashBands(sig: DataFrame): DataFrame = {
    val bandKeys = array(
      struct(lit(0).as("band"), col("lo").bitwiseAND(lit(32767L)).as("k")),
      struct(lit(1).as("band"), shiftright(col("lo"), 15).as("k")),
      struct(lit(2).as("band"), col("hi").bitwiseAND(lit(32767L)).as("k")),
      struct(lit(3).as("band"), shiftright(col("hi"), 15).as("k"))
    )
    sig
      .select(col("doc_id"), explode(bandKeys).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.k"))
  }

  /** SimHash near-dup pairs (hamming ≤ 3) over any (doc_id, text) set:
    * 4 lossless 15/16-bit bands → candidates → exact hamming verify. */
  private def simhashPairs(docs: DataFrame): DataFrame = {
    val sig = simhashSigsOf(docs)
    val bands = simhashBands(sig)
    val cand = bands
      .as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id")
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("lo").as("lo_a"), col("hi").as("hi_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("lo").as("lo_b"), col("hi").as("hi_b")), "doc_b")
      .withColumn(
        "hamming",
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) + bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("long")
      )
      .where(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
  }

  /** SimHash signatures: per-token 31-bit hashes from two md5 windows,
    * ±1 bit votes per token instance, sign → bit, packed into two longs —
    * all inside the native single-pass SimHashSig expression. The vote
    * tally is per-document state only, so no explode and NO SHUFFLE exists
    * in the signature stage at all (r01 shipped this as 62 conditional-sum
    * aggregates over exploded tokens — one full shuffle of every token).
    * Arithmetic is identical; the DuckDB oracle keeps recomputing
    * signatures from first principles in SQL. */
  private def simhashSigsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.SimHashSig(col("text")).as("sig"))
      .select(col("doc_id"), element_at(col("sig"), 1).as("lo"), element_at(col("sig"), 2).as("hi"))

  // ---- oracles -------------------------------------------------------------

  /** warr + g CTEs — the oracle twin of [[positionalGrams]]: token array
    * per doc and the 5-gram hash starting at each position. Shared by the
    * x52 and x67 oracles; the flag source and coverage tail differ. */
  private val positionalGramsSql =
    """warr AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT AS gh
      |  FROM warr, unnest(generate_series(1, len(w) - 4)) t(i) WHERE len(w) >= 5)""".stripMargin

  /** flagged → coverage → per-doc digest tail shared by x52/x67 oracles
    * (expects CTEs `words(doc_id,pos,word)` and `starts(doc_id,pos,flag)`). */
  private def coverageDigestSql(removedCol: String, digestCol: String): String =
    s"""flagged AS (
       |  SELECT wo.doc_id, wo.pos, wo.word, coalesce(st.flag, 0) AS flag
       |  FROM words wo LEFT JOIN starts st ON wo.doc_id = st.doc_id AND wo.pos = st.pos),
       |cov AS (
       |  SELECT *, max(flag) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS covered
       |  FROM flagged)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(covered) AS BIGINT) AS $removedCol,
       |  md5(coalesce(string_agg(word, ' ' ORDER BY pos) FILTER (WHERE covered = 0), '')) AS $digestCol
       |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val shinglesSql =
    """words AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |       FROM words, unnest(generate_series(1, len(w)-2)) t(i) WHERE len(w) >= 3)""".stripMargin

  /** CTEs hsh → kept → counts → pairs → p → e → reach → lab: the x02
    * df-capped Jaccard edge set resolved into connected components by a
    * recursive transitive-closure CTE — `lab(doc_id, cluster_id)` for
    * every doc that appears in a pair. The oracle twin of
    * [[connectedComponents]]∘[[jaccardPairs]]; shared by x37 (clusters),
    * x40 (resolve) and x76 (leakage-safe split). Callers prepend
    * `WITH RECURSIVE $shinglesSql`. */
  private val ccLabSql =
    s"""hsh AS (
       |  SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh),
       |kept AS (
       |  SELECT s.* FROM hsh s
       |  JOIN (SELECT h FROM hsh GROUP BY h HAVING count(*) <= $DfCap) k USING (h)),
       |counts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id
       |  WHERE n_common / (ca.n + cb.n - n_common) >= 0.2),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
       |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  private val minhashSigSql = {
    val mins = As.zip(Bs).zipWithIndex
      .map { case ((a, b), i) => s"min(($a*h + $b) % $M) AS m$i" }
      .mkString(", ")
    s"""hashes AS (SELECT doc_id, ('0x' || substr(md5(sh),1,15))::BIGINT % 2147483647 AS h FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hashes GROUP BY doc_id)""".stripMargin
  }

  private def bandUnionSql(rows: Int): String =
    (0 until K / rows).map { j =>
      val keys = (0 until rows).map(r => s"m${j * rows + r} AS k$r").mkString(", ")
      s"SELECT doc_id, $j AS band, $keys FROM sig"
    }.mkString(" UNION ALL ")

  private def candSql(rows: Int): String = {
    val conds = ("a.band = b.band" +: (0 until rows).map(r => s"a.k$r = b.k$r")).mkString(" AND ")
    s"SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b ON $conds AND a.doc_id < b.doc_id"
  }

  def oracles: Map[String, String] = Map(
    // x271: the identical boundary scan, span window, and census in SQL —
    // the md5-window arithmetic is the shared convention, so chunk hashes
    // agree byte-for-byte.
    "x271_cdc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, lower(trim(text)) AS t, length(lower(trim(text))) AS n FROM documents),
        |b AS (
        |  SELECT doc_id, i
        |  FROM d, unnest(generate_series(8, n - 1)) s(i)
        |  WHERE n >= 9
        |    AND ('0x' || substr(md5(substr(t, CAST(i - 7 AS INT), 8)), 1, 15))::BIGINT % 32 = 0),
        |cuts AS (SELECT doc_id, i FROM b UNION ALL SELECT doc_id, n AS i FROM d),
        |sp AS (
        |  SELECT doc_id, i, coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS prev
        |  FROM cuts),
        |ck AS (
        |  SELECT substr(d.t, CAST(sp.prev + 1 AS INT), CAST(sp.i - sp.prev AS INT)) AS chunk
        |  FROM sp JOIN d USING (doc_id)),
        |h AS (SELECT md5(chunk) AS chh, length(chunk) AS clen FROM ck),
        |census AS (
        |  SELECT count(*) AS total_chunks, count(DISTINCT chh) AS distinct_chunks FROM h),
        |top AS (
        |  SELECT chh, count(*) AS cnt, max(clen) AS chunk_len
        |  FROM h GROUP BY 1 ORDER BY cnt DESC, chh LIMIT 10)
        |SELECT chh, CAST(cnt AS BIGINT) AS cnt, CAST(chunk_len AS BIGINT) AS chunk_len,
        |  CAST(total_chunks AS BIGINT) AS total_chunks,
        |  CAST(distinct_chunks AS BIGINT) AS distinct_chunks,
        |  CAST((distinct_chunks * 1000000) // total_chunks AS BIGINT) AS dedup_ratio_e6
        |FROM top, census ORDER BY cnt DESC, chh""".stripMargin,
    // x253: three suffixed band/cand/pred/metric CTE chains over the
    // shared truth — the x224 replay generalized to the sweep.
    "x253_band_sweep" -> {
      val agree = (0 until K).map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
      def legSql(rows: Int): String = {
        val bands = (0 until K / rows)
          .map { j =>
            val keys = (0 until rows).map(r => s"m${j * rows + r} AS k$r").mkString(", ")
            s"SELECT doc_id, $j AS band, $keys FROM sig"
          }
          .mkString(" UNION ALL ")
        val conds = ("a.band = b.band" +: (0 until rows).map(r => s"a.k$r = b.k$r")).mkString(" AND ")
        s"""bands$rows AS ($bands),
           |cand$rows AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands$rows a JOIN bands$rows b ON $conds AND a.doc_id < b.doc_id),
           |pred$rows AS (
           |  SELECT doc_a AS a, doc_b AS b FROM cand$rows
           |  JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
           |  WHERE CAST($agree AS BIGINT) >= 10),
           |f$rows AS (
           |  SELECT truth.a IS NOT NULL AS t, pred$rows.a IS NOT NULL AS p
           |  FROM truth FULL JOIN pred$rows ON truth.a = pred$rows.a AND truth.b = pred$rows.b),
           |m$rows AS (
           |  SELECT CAST(${K / rows} AS BIGINT) AS bands, CAST($rows AS BIGINT) AS rows_per_band,
           |    CAST(count_if(t AND p) AS BIGINT) AS tp,
           |    CAST(count_if(NOT coalesce(t, false)) AS BIGINT) AS fp,
           |    CAST(count_if(NOT coalesce(p, false)) AS BIGINT) AS fn
           |  FROM f$rows)""".stripMargin
      }
      s"""WITH $shinglesSql,
         |$minhashSigSql,
         |ts AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |ti AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS (
         |  SELECT a, b FROM ti JOIN ts sa ON sa.doc_id = a JOIN ts sb ON sb.doc_id = b
         |  WHERE i * 1000000 // (sa.sz + sb.sz - i) >= 600000),
         |${legSql(1)},
         |${legSql(2)},
         |${legSql(4)},
         |u AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m4)
         |SELECT bands, rows_per_band, tp + fn AS n_truth, tp + fp AS n_pred, tp, fp, fn,
         |  CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS precision_e6,
         |  CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS recall_e6
         |FROM u ORDER BY rows_per_band""".stripMargin
    },
    // x224: truth from the shared sh CTE (x207's exact pairs), predicted
    // from x03's signature/band CTEs, same agreement threshold, same
    // guarded integer metrics.
    "x224_lsh_eval" -> {
      val agree = (0 until K).map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $shinglesSql,
         |$minhashSigSql,
         |bands AS (${bandUnionSql(2)}),
         |cand AS (${candSql(2)}),
         |pred AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |  WHERE CAST($agree AS BIGINT) >= 10),
         |ts AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |ti AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS (
         |  SELECT a, b FROM ti JOIN ts sa ON sa.doc_id = a JOIN ts sb ON sb.doc_id = b
         |  WHERE i * 1000000 // (sa.sz + sb.sz - i) >= 600000),
         |f AS (
         |  SELECT truth.a IS NOT NULL AS t, pred.a IS NOT NULL AS p
         |  FROM truth FULL JOIN pred ON truth.a = pred.a AND truth.b = pred.b),
         |m AS (
         |  SELECT CAST(count_if(t AND p) AS BIGINT) AS tp,
         |    CAST(count_if(NOT coalesce(t, false)) AS BIGINT) AS fp,
         |    CAST(count_if(NOT coalesce(p, false)) AS BIGINT) AS fn
         |  FROM f)
         |SELECT tp + fn AS n_truth, tp + fp AS n_pred, tp, fp, fn,
         |  CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS precision_e6,
         |  CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS recall_e6,
         |  CASE WHEN (CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END)
         |          + (CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END) = 0 THEN 0
         |    ELSE 2 * (CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END)
         |           * (CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END)
         |        // ((CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END)
         |          + (CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END)) END AS f1_e6
         |FROM m""".stripMargin
    },

    // x207: the definitional quadratic ground truth — every pair, exact
    // Jaccard, no filter. The engine's prefix filter must find EXACTLY
    // this set (completeness is the theorem under test).
    "x207_prefix_join" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
        |t AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
        |      FROM w, unnest(generate_series(1, len(w) - 2)) u(i)
        |      WHERE len(w) >= 3),
        |s AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
        |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a, b, CAST(i * 1000000 // (sa.sz + sb.sz - i) AS BIGINT) AS jac_e6
        |FROM inter JOIN s sa ON sa.doc_id = a JOIN s sb ON sb.doc_id = b
        |WHERE i * 1000000 // (sa.sz + sb.sz - i) >= 600000
        |ORDER BY a, b""".stripMargin,

    "x01_dedup_exact" ->
      """SELECT count(*) AS total_docs, count(DISTINCT md5(text)) AS distinct_texts,
        |  count(*) - count(DISTINCT md5(text)) AS dup_docs FROM documents""".stripMargin,
    "x15_dedup_keep_first" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS group_size
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "x54_containment" ->
      s"""WITH $shinglesSql,
         |hsh AS (
         |  SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh),
         |kept AS (
         |  SELECT s.* FROM hsh s
         |  JOIN (SELECT h FROM hsh GROUP BY h HAVING count(*) <= $DfCap) k USING (h)),
         |counts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT doc_a, doc_b, ca.n AS n_a, cb.n AS n_b, n_common,
         |    (n_common * 1000000) // ca.n AS cont_a_ppm,
         |    (n_common * 1000000) // cb.n AS cont_b_ppm
         |  FROM pairs JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id)
         |SELECT doc_a, doc_b, n_a, n_b, n_common, cont_a_ppm, cont_b_ppm
         |FROM j WHERE cont_a_ppm >= 800000 OR cont_b_ppm >= 800000
         |ORDER BY doc_a, doc_b""".stripMargin,
    "x02_dedup_ngram_jaccard" ->
      s"""WITH $shinglesSql,
         |hsh AS (
         |  SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh),
         |kept AS (
         |  SELECT s.* FROM hsh s
         |  JOIN (SELECT h FROM hsh GROUP BY h HAVING count(*) <= $DfCap) k USING (h)),
         |counts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common, ca.n AS n_a, cb.n AS n_b,
         |  n_common / (ca.n + cb.n - n_common) AS jaccard
         |FROM pairs JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id
         |WHERE n_common / (ca.n + cb.n - n_common) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // x108: blocking + Levenshtein replayed exactly; clusters are emitted
    // as matched PAIRS + singletons — equal to the connected-component
    // output iff the match graph is a perfect matching, so any chained
    // component or cross-entity merge turns the gate red rather than
    // being silently absorbed.
    "x108_entity_resolution" ->
      """WITH base AS (SELECT c_custkey AS k, md5(c_custkey::VARCHAR) AS nm FROM customer),
        |recs AS (
        |  SELECT 2*k AS rec_id, k, nm AS name FROM base
        |  UNION ALL
        |  SELECT 2*k+1 AS rec_id, k,
        |         substr(nm, 1, CAST(k % 32 AS INT)) || substr(nm, CAST(k % 32 AS INT) + 2) AS name
        |  FROM base WHERE k % 3 <> 0),
        |cand AS (
        |  SELECT a.rec_id AS ra, b.rec_id AS rb, a.name AS na, b.name AS nb, a.k AS ka, b.k AS kb
        |  FROM recs a JOIN recs b
        |    ON substr(a.name, 1, 4) = substr(b.name, 1, 4) AND a.rec_id < b.rec_id
        |  UNION
        |  SELECT a.rec_id, b.rec_id, a.name, b.name, a.k, b.k
        |  FROM recs a JOIN recs b
        |    ON substr(a.name, length(a.name) - 3, 4) = substr(b.name, length(b.name) - 3, 4)
        |   AND a.rec_id < b.rec_id),
        |m AS (SELECT ra, rb, ka, kb FROM cand WHERE levenshtein(na, nb) <= 2)
        |SELECT CAST(ra AS BIGINT) AS cluster_id, CAST(2 AS BIGINT) AS size, ka = kb AS entity_ok
        |FROM m
        |UNION ALL
        |SELECT CAST(rec_id AS BIGINT), CAST(1 AS BIGINT), TRUE
        |FROM recs WHERE rec_id NOT IN (SELECT ra FROM m UNION ALL SELECT rb FROM m)
        |ORDER BY cluster_id""".stripMargin,
    // x154: scored by DuckDB's NATIVE jaro_winkler_similarity — an
    // independent implementation the Spark expression must match in raw
    // doubles.
    "x154_jaro_winkler" ->
      """SELECT k, jaro_winkler_similarity(nm, dirty) AS jw_dirty,
        |  jaro_winkler_similarity(nm, reverse(nm)) AS jw_reverse
        |FROM (
        |  SELECT k, nm,
        |    substr(nm, 1, CAST(k % 32 AS INT)) || substr(nm, CAST(k % 32 AS INT) + 2) AS dirty
        |  FROM (SELECT c_custkey AS k, md5(c_custkey::VARCHAR) AS nm FROM customer)
        |  WHERE k % 3 <> 0)
        |ORDER BY k""".stripMargin,
    // x147: the quadratic mention×dictionary twin — every pair within one
    // edit by brute force, which proves the Spark side's deletion-
    // neighborhood candidate join lossless (a missed pair flips the hash).
    "x147_fuzzy_resolve" ->
      """WITH warr AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
        |tok AS (
        |  SELECT doc_id, i - 1 AS pos, w[i] AS w
        |  FROM warr, unnest(generate_series(1, len(w))) t(i) WHERE length(w[i]) >= 1),
        |voc AS (SELECT w, count(*) AS df FROM tok GROUP BY 1),
        |keyed AS (
        |  SELECT doc_id, w,
        |         CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) || ':' || w AS key
        |  FROM tok),
        |men0 AS (
        |  SELECT doc_id, w,
        |    CASE WHEN ('0x' || substr(md5(key), 1, 15))::BIGINT % 10 < 3 THEN 1 ELSE 0 END AS typo,
        |    CAST(1 + (('0x' || substr(md5(key), 17, 15))::BIGINT % length(w)) AS INT) AS p,
        |    chr(97 + CAST((('0x' || substr(md5(key), 17, 15))::BIGINT // 1000000) % 26 AS INT)) AS ch
        |  FROM keyed),
        |mentions AS (
        |  SELECT doc_id, CAST(typo AS BIGINT) AS typo,
        |         CASE WHEN typo = 1 THEN substr(w, 1, p - 1) || ch || substr(w, p + 1) ELSE w END AS m
        |  FROM men0
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'zzzzz'),
        |                        (CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'tble'),
        |                        (CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'scann')) v(doc_id, typo, m)),
        |cand AS (
        |  SELECT dm.m, voc.w, levenshtein(dm.m, voc.w) AS lev, voc.df
        |  FROM (SELECT DISTINCT m FROM mentions) dm, voc
        |  WHERE abs(length(dm.m) - length(voc.w)) <= 1 AND levenshtein(dm.m, voc.w) <= 1),
        |best AS (
        |  SELECT m, w AS resolved
        |  FROM (SELECT m, w, row_number() OVER (PARTITION BY m ORDER BY lev, df DESC, w) AS rn
        |        FROM cand)
        |  WHERE rn = 1)
        |SELECT doc_id,
        |  count(*) AS n_mentions,
        |  CAST(sum(typo) AS BIGINT) AS n_perturbed,
        |  CAST(sum(CASE WHEN resolved IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved,
        |  CAST(sum(CASE WHEN resolved IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
        |  CAST(sum(CASE WHEN resolved IS NOT NULL
        |       THEN ('0x' || substr(md5(resolved), 1, 15))::BIGINT % 1048576 ELSE 0 END) AS BIGINT)
        |    AS resolved_digest
        |FROM mentions LEFT JOIN best USING (m)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x40_dedup_resolve" ->
      s"""WITH RECURSIVE $shinglesSql,
         |$ccLabSql,
         |drop AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
         |SELECT lang, count(*) AS n_survivors FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM drop)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "x37_dedup_clusters" ->
      s"""WITH RECURSIVE $shinglesSql,
         |$ccLabSql,
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
         |SELECT doc_id, cluster_id, cluster_size
         |FROM lab JOIN sizes USING (cluster_id) ORDER BY doc_id""".stripMargin,
    // x242: same components, same quality key, argmax as row_number 1.
    "x242_keep_best" ->
      s"""WITH RECURSIVE $shinglesSql,
         |$ccLabSql,
         |tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
         |  FROM documents),
         |tc AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |qual AS (SELECT doc_id,
         |  CAST(count(*) * 1000000 + sum(cnt) AS BIGINT) AS q FROM tc GROUP BY 1),
         |j AS (SELECT lab.cluster_id, lab.doc_id, qual.q FROM lab JOIN qual USING (doc_id)),
         |sel AS (SELECT cluster_id, doc_id, q,
         |  row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rk FROM j),
         |agg AS (SELECT cluster_id, count(*) AS cluster_size, min(doc_id) AS first_doc
         |  FROM j GROUP BY 1)
         |SELECT a.cluster_id, a.cluster_size, s.doc_id AS kept_doc, s.q AS kept_quality,
         |  a.first_doc, s.doc_id <> a.first_doc AS differs
         |FROM agg a JOIN sel s ON a.cluster_id = s.cluster_id AND s.rk = 1
         |ORDER BY a.cluster_id""".stripMargin,
    "x76_leakage_safe_split" ->
      s"""WITH RECURSIVE $shinglesSql,
         |$ccLabSql,
         |asg AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab l USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
         |       THEN 'train' ELSE 'heldout' END AS split
         |FROM asg ORDER BY doc_id""".stripMargin,
    "x67_span_decontaminate" ->
      s"""WITH $positionalGramsSql,
        |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 50 = 0),
        |words AS (
        |  SELECT doc_id, i - 1 AS pos, w[i] AS word
        |  FROM warr, unnest(generate_series(1, len(w))) t(i) WHERE doc_id % 50 <> 0),
        |starts AS (
        |  SELECT g.doc_id, g.pos, 1 AS flag
        |  FROM g JOIN bench USING (gh) WHERE g.doc_id % 50 <> 0),
        |${coverageDigestSql("n_removed", "clean_md5")}""".stripMargin,
    "x52_span_dedup" ->
      s"""WITH $positionalGramsSql,
        |words AS (
        |  SELECT doc_id, i - 1 AS pos, w[i] AS word
        |  FROM warr, unnest(generate_series(1, len(w))) t(i)),
        |df AS (
        |  SELECT gh, count(*) AS df FROM (SELECT DISTINCT doc_id, gh FROM g) GROUP BY gh),
        |starts AS (
        |  SELECT g.doc_id, g.pos, CASE WHEN df.df >= 2 THEN 1 ELSE 0 END AS flag
        |  FROM g JOIN df USING (gh)),
        |${coverageDigestSql("n_dropped", "survivors_md5")}""".stripMargin,
    "x31_span_stats" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
        |  FROM words, unnest(generate_series(1, len(w)-4)) t(i) WHERE len(w) >= 5),
        |df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
        |p AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams
        |  FROM g JOIN df USING (gram) GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_shared_grams,
        |  (n_shared_grams * 1000000) // n_grams AS shared_ppm
        |FROM p ORDER BY doc_id""".stripMargin,
    "x14_dedup_chargram" -> {
      val agree = (0 until K).map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, substr(t, i, 4) AS sh
         |  FROM t, unnest(generate_series(1, length(t) - 3)) u(i) WHERE length(t) >= 4),
         |$minhashSigSql,
         |bands AS (${bandUnionSql(8)}),
         |cand AS (${candSql(8)})
         |SELECT doc_a, doc_b, cast($agree AS BIGINT) / ${K}.0 AS est_jaccard
         |FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |WHERE cast($agree AS BIGINT) / ${K}.0 >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "x03_dedup_minhash" -> {
      val bandSelect = (0 until K / 2)
        .map(j => s"SELECT doc_id, $j AS band, m${2 * j} AS k1, m${2 * j + 1} AS k2 FROM sig")
        .mkString(" UNION ALL ")
      val agree = (0 until K).map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $shinglesSql,
         |$minhashSigSql,
         |bands AS ($bandSelect),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, cast($agree AS BIGINT) / ${K}.0 AS est_jaccard
         |FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // oracle replicates the banded+capped pipeline (x02/x12 precedent: the
    // gate checks implementation correctness end-to-end; the planted spec
    // pins semantics, and below the cap the banding is lossless at
    // hamming ≤ 3)
    "x69_incremental_dedup" ->
      s"""WITH ${simhashSigCtes("documents")},
        |bands AS (
        |  SELECT doc_id, 0 AS band, lo & 32767 AS k FROM sig
        |  UNION ALL SELECT doc_id, 1, lo >> 15 FROM sig
        |  UNION ALL SELECT doc_id, 2, hi & 32767 FROM sig
        |  UNION ALL SELECT doc_id, 3, hi >> 15 FROM sig),
        |hot AS (SELECT band, k FROM bands GROUP BY band, k HAVING count(*) > $BandCap),
        |cold AS (
        |  SELECT b.* FROM bands b LEFT JOIN hot h ON b.band = h.band AND b.k = h.k
        |  WHERE h.band IS NULL),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS sid, b.doc_id AS cid
        |  FROM cold a JOIN cold b ON a.band = b.band AND a.k = b.k
        |  WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0),
        |ss AS (SELECT * FROM sig WHERE doc_id % 3 <> 0),
        |cs AS (SELECT * FROM sig WHERE doc_id % 3 = 0),
        |near AS (
        |  SELECT cand.sid, count(*) AS n_near,
        |    min(bit_count(xor(s.lo, c.lo)) + bit_count(xor(s.hi, c.hi))) AS min_h
        |  FROM cand JOIN ss s ON cand.sid = s.doc_id JOIN cs c ON cand.cid = c.doc_id
        |  WHERE bit_count(xor(s.lo, c.lo)) + bit_count(xor(s.hi, c.hi)) <= 3
        |  GROUP BY cand.sid),
        |ex AS (
        |  SELECT DISTINCT d.doc_id FROM documents d
        |  JOIN documents c ON md5(d.text) = md5(c.text) AND c.doc_id % 3 = 0
        |  WHERE d.doc_id % 3 <> 0)
        |SELECT d.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN near.sid IS NOT NULL THEN 'near_dup' ELSE 'unique' END AS verdict,
        |  CAST(coalesce(near.n_near, 0) AS BIGINT) AS n_near,
        |  CAST(coalesce(near.min_h, -1) AS BIGINT) AS min_hamming
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) d
        |LEFT JOIN ex ON d.doc_id = ex.doc_id
        |LEFT JOIN near ON d.doc_id = near.sid
        |ORDER BY d.doc_id""".stripMargin,
    "x04_dedup_simhash" ->
      s"""WITH ${simhashSigCtes("documents")}
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  cast(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "x20_dedup_pipeline" ->
      s"""WITH groups AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS group_size
        |  FROM documents GROUP BY md5(text)),
        |surv AS (SELECT d.doc_id, d.text FROM documents d JOIN groups USING (doc_id)),
        |${simhashSigCtes("surv")},
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    cast(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3)
        |SELECT p.doc_a, p.doc_b, p.hamming, ga.group_size AS size_a, gb.group_size AS size_b
        |FROM p JOIN groups ga ON p.doc_a = ga.doc_id JOIN groups gb ON p.doc_b = gb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin
  )

  /** SimHash signature CTE chain (words → freq → hashed → votes → sig)
    * over any (doc_id, text) relation — shared by the x04 and x20 oracles. */
  private def simhashSigCtes(rel: String): String =
    s"""words AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM $rel),
       |freq AS (
       |  SELECT doc_id, tok, count(*) AS f FROM (SELECT doc_id, unnest(w) AS tok FROM words)
       |  GROUP BY doc_id, tok),
       |hashed AS (
       |  SELECT doc_id, f,
       |    ('0x' || substr(md5(tok),1,15))::BIGINT % 2147483648 AS h1,
       |    ('0x' || substr(md5(tok),17,15))::BIGINT % 2147483648 AS h2
       |  FROM freq),
       |votes AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h1 >> b) & 1 = 1 THEN f ELSE -f END) AS v1,
       |    sum(CASE WHEN (h2 >> b) & 1 = 1 THEN f ELSE -f END) AS v2
       |  FROM hashed, unnest(generate_series(0, 30)) t(b) GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id,
       |    cast(sum(CASE WHEN v1 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS lo,
       |    cast(sum(CASE WHEN v2 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS hi
       |  FROM votes GROUP BY doc_id)""".stripMargin
}
