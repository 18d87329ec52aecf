package graft.operators

import graft.Graft
import graft.Graft.table
import graft.sources.Fixture
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Embedding similarity search [EXT] (SURVEY.md §7.1 ext/Similarity) over
  * `embeddings.embedding: array<float>`.
  *
  * x05 is the exact brute-force cosine top-k baseline (broadcast the tiny
  * query side, scan the corpus once). x06 is approximate top-k via
  * random-hyperplane LSH; x13 is IVF-style list probing. x12 is the
  * embedding near-dup operator: LSH-banded candidate generation + exact
  * in-bucket verification. x16 is the exact all-pairs twin of x12,
  * restructured as a block-distributed triangle join so even the exact
  * baseline never degenerates into a driver-melting nested-loop broadcast.
  *
  * Cross-engine float discipline: similarity scores cross the oracle gate as
  * `cos_e6 = round(cos * 1e6)::bigint`. The raw float32 cosine (native
  * codegen'd CosineSimF32, bit-equal to DuckDB's `list_cosine_similarity`)
  * still drives ordering and thresholds; only the *emitted* column is
  * integer, so the driver's hash compare never depends on float64 bit
  * representation surviving two engines and a parquet round-trip.
  *
  * LSH determinism: hyperplane weights are ±1 seeded from md5, and
  * projections quantize components to a 2^20 integer grid first — signature
  * arithmetic is pure int64, so band buckets are bit-reproducible in any
  * engine regardless of float summation order. The x12 oracle recomputes
  * the identical pipeline in DuckDB SQL.
  *
  * Recall honesty: at x12's τ=0.4 (θ≈66°, per-plane agreement p≈0.63) NO
  * sub-quadratic method can guarantee recall 1 — banding trades recall for
  * pruning (measured in SimilarityTextSpec; production near-dup thresholds
  * τ≥0.9 put banding in its effective regime). The gate therefore checks
  * x12 against the same candidate generation (implementation correctness),
  * while x16 pins the exact all-pairs ground truth.
  */
object Similarity {

  /** float32 sequential dot product of two float arrays. */
  private def dotF(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0f), (acc, x) => acc + x)

  /** float32 sqrt via double sqrt + downcast (exactly rounded). */
  private def sqrtF(x: Column): Column = sqrt(x.cast("double")).cast("float")

  /** float32 cosine from built-in higher-order functions — semantically
    * identical to the native expression; kept as the reference formulation
    * (the equivalence is asserted in SimilarityTextSpec). */
  private[graft] def cosineDeclarative(a: Column, b: Column): Column = {
    val denom = sqrtF(dotF(a, a)) * sqrtF(dotF(b, b)) // float32 multiply
    (dotF(a, b).cast("double") / denom.cast("double")).cast("float").cast("double")
  }

  /** hot path: the codegen'd native Catalyst expression */
  private def cosineF(a: Column, b: Column): Column = graft.functions.CosineSimF32(a, b)

  /** double-precision cosine for array<double> (centroid math, no oracle) */
  private def cosineD(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** gate-safe integer similarity: micro-units, round-half-away in both
    * engines (DuckDB: `CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT)`). */
  private def cosE6(c: Column): Column = round(c * lit(1000000)).cast("long")

  /** The k LOWEST distinct vec_ids — query/seed selection that cannot
    * silently shrink on sparse or non-zero-based id spaces, unlike a
    * `vec_id < k` predicate (ADVICE r4; same degeneracy class as the x57
    * seed fix). Oracles mirror it as `IN (SELECT DISTINCT vec_id ...
    * ORDER BY vec_id LIMIT k)`. */
  private def lowestIds(emb: DataFrame, k: Int): DataFrame =
    emb.select("vec_id").distinct().orderBy("vec_id").limit(k)

  /** Brute-force exact top-k cosine neighbors for the nq lowest query ids —
    * the oracle-reproducible exact baseline shared by x05 and x13's
    * exact-twin columns (one definition, one tie-break contract). */
  private def bruteTopK(emb: DataFrame, nq: Int, k: Int): DataFrame = {
    val q = emb
      .join(broadcast(lowestIds(emb, nq)), "vec_id")
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    c.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("cos", cosineF(col("qe"), col("ne")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  // ---- deterministic hyperplane LSH machinery ------------------------------

  /** component quantization grid: v → round(v * 2^20) as int64 */
  // Quant feeds the oracle SQL and MUST match BandSigsExpr's hardcoded
  // 2^20 grid (the expression computes what the SQL mirrors). Plane
  // weights are per-(plane, index) deterministic, so both engines derive
  // the weight table from the observed embedding dimensionality — no
  // silent component cap on either side (ADVICE r02).
  private val Quant = 1L << 20
  private val NPlanes = 32
  private val BandRows = 4 // 8 OR-ed hash tables of 4 planes each

  /** (vec_id, band, bucket) signature rows via the native single-pass
    * BandSigs expression: quantized components × md5-seeded ±1 weights,
    * integer projections — order-free, hence bit-reproducible in the
    * DuckDB oracles, which recompute the identical pipeline from first
    * principles in SQL. Zero shuffles: each row emits its 8 band buckets
    * inside whole-stage codegen (the previous formulation was a
    * posexplode → broadcast weight join → two shuffled aggregations). */
  private[graft] def bandSigs(s: SparkSession, emb: DataFrame): DataFrame =
    emb.select(
      col("vec_id"),
      posexplode(graft.functions.BandSigs(col("embedding"), NPlanes, BandRows)).as(Seq("band", "bucket"))
    )

  /** ±1 sign for projection plane j, component i — parity of the standard
    * md5-window hash of "j_i". Row-independent, so the 8×64 matrix is built
    * once driver-side; the DuckDB oracle re-derives every sign from the same
    * md5 formula in SQL (nothing is smuggled as a literal). */
  private[graft] def projSign(j: Int, i: Int): Long = {
    val hex = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"${j}_$i".getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
      .take(15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
  }

  /** x140's quantized Gram/covariance cell table — shared with x165's
    * power iteration so the matrix definition cannot drift between the
    * two. Emits (i, j, n, gram, si, sj, cov_num) with cov_num =
    * N·G[i][j] − s_i·s_j, every cell an exact int64 (1e3-quantized
    * components, no division). One corpus scan; the d×d outer-product
    * stencil is bounded per row (the x93 discipline). */
  private def covCells(s: SparkSession, d: String): DataFrame = {
    // r11: ONE corpus pass through the native GramAgg accumulator (upper
    // triangle + per-cell counts + component sums in a single flat long
    // buffer, map-side partials, pointwise-sum merge) replaces the d² per-
    // row struct explode → groupBy — at d=64 that was 4096 allocated
    // structs per row shuffled into a hash aggregate. The cell table is
    // rebuilt declaratively from the 1-row buffer (triangle unfolded by
    // position, mirrored across the diagonal — gram/n are symmetric), so
    // the emitted (i, j, n, gram, si, sj, cov_num) rows are bit-identical
    // to the exploded formulation's.
    val buf = quantized(s, d)
      .agg(graft.functions.GramSums(col("q")).as("buf"))
      .select(col("buf"), expr("CAST(element_at(buf, 1) AS INT)").as("dd"))
      .where(col("dd") > 0) // empty corpus → empty cell table, as before
      .localCheckpoint() // 1 row: triangle cells + component sums below
    val upper = buf
      .select(
        col("buf"),
        expr("CAST((dd * (dd + 1)) / 2 AS INT)").as("tri"),
        posexplode(
          expr("flatten(transform(sequence(0, dd - 1), i -> transform(sequence(i, dd - 1), j -> struct(i, j))))")
        ).as(Seq("pos", "ij"))
      )
      .select(
        col("ij.i").cast("long").as("i"),
        col("ij.j").cast("long").as("j"),
        expr("element_at(buf, 2 + tri + pos)").as("n"),
        expr("element_at(buf, 2 + pos)").as("gram")
      )
    val cells = upper.unionByName(
      upper.where(col("i") =!= col("j")).select(col("j").as("i"), col("i").as("j"), col("n"), col("gram"))
    )
    val sums = buf
      .select(posexplode(expr("slice(buf, 2 + dd * (dd + 1), dd)")).as(Seq("p", "si")))
      .select(col("p").cast("long").as("i"), col("si"))
    cells
      .join(broadcast(sums), Seq("i"))
      .join(broadcast(sums.select(col("i").as("j"), col("si").as("sj"))), Seq("j"))
      .select(
        col("i"),
        col("j"),
        col("n"),
        col("gram"),
        col("si"),
        col("sj"),
        (col("n") * col("gram") - col("si") * col("sj")).as("cov_num")
      )
  }

  /** (vec_id, label, q: array<bigint>) — embeddings on the 1e3 fixed-point
    * grid (the k-means/x140 quantization, one widen+multiply+round). */
  private def quantized(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
      .select(
        col("vec_id"),
        col("label"),
        expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))").as("q")
      )

  /** SQL determinant expansions over named cell columns — shared verbatim
    * by the x179 Spark expression and its DuckDB oracle, so the Cramer
    * arithmetic cannot drift between engines. */
  private def det3(m: Seq[Seq[String]]): String =
    s"(${m(0)(0)}*(${m(1)(1)}*${m(2)(2)} - ${m(1)(2)}*${m(2)(1)})" +
      s" - ${m(0)(1)}*(${m(1)(0)}*${m(2)(2)} - ${m(1)(2)}*${m(2)(0)})" +
      s" + ${m(0)(2)}*(${m(1)(0)}*${m(2)(1)} - ${m(1)(1)}*${m(2)(0)}))"

  private def det4(m: Seq[Seq[String]]): String = {
    val terms = (0 until 4).map { c =>
      val minor = (1 until 4).map(r => (0 until 4).filter(_ != c).map(cc => m(r)(cc)))
      val sign = if (c % 2 == 0) "+" else "-"
      s"$sign ${m(0)(c)} * ${det3(minor)}"
    }
    s"(${terms.mkString(" ")})"
  }

  /** Cell matrix names for the normal equations: a_jk over x=(1,f1,f2,f3);
    * column `c` replaced by the right-hand side b_j gives Cramer's A_i. */
  private def cramerCells(replaced: Int): Seq[Seq[String]] =
    (0 until 4).map(j => (0 until 4).map(k => if (k == replaced) s"b$j" else s"a$j$k"))

  /** x179 beta_i as posmod-floored e6 ppm of det(A_i)/det(A); det(A) > 0
    * for a PD Gram matrix, the det=0 degenerate corpus guards to 0 (the
    * x162 discipline). `divOp` is `div` on Spark, `//` on DuckDB — the
    * numerator is exactly divisible after the posmod subtraction, so
    * both are the same floor. */
  private[operators] def cramerBetaSql(i: Int, divOp: String): String = {
    val num = s"(${det4(cramerCells(i))} * 1000000)"
    val den = det4(cramerCells(-1))
    s"CAST(IF($den = 0, 0, ($num - ((($num % $den) + $den) % $den)) $divOp $den) AS BIGINT)"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Reciprocal-rank fusion (x201) — the standard hybrid-retrieval
    // combiner (Cormack et al., SIGIR 2009): a LEXICAL shortlist (x32's
    // exact integer tf·idf over the shared 3-term query) and a SEMANTIC
    // shortlist (float32 cosine against a probe embedding, e6-rounded —
    // the x05 cross-engine pin) are fused by rrf = Σ 1e6 div (60 + rank)
    // — rank-space fusion needs NO score normalization across the two
    // incomparable scorers, which is exactly why production RAG stacks
    // use it over score interpolation. Ranks are assigned on the rounded
    // e6 values with id tiebreaks (total order both engines). Scale
    // shape: each leg is term-filtered-scan / broadcast-probe +
    // TakeOrderedAndProject; the global row_number windows run over the
    // already-limited 20-row shortlists (constant-size single partition,
    // not data-sized), and the fusion join is 20×20.
    "x201_rrf_fusion" -> ((s, d) => {
      val shortlist = 20
      // lexical leg — x32's integer scorer verbatim
      val qterms = Seq("table", "spark", "window")
      val docs = table(s, d, "documents")
      val hits = docs
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .where(col("term").isInCollection(qterms))
      val dfreq = hits.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val nd = docs.agg(count(lit(1)).as("n"))
      val lexTop = hits
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(nd))
        .withColumn("tscore", expr("tf * n * 1000000 div df"))
        .groupBy("doc_id")
        .agg(sum("tscore").as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(shortlist)
      val lex = lexTop
        .withColumn("lrank", row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "lrank")
      // semantic leg — probe = vec 0's embedding, brute e6 cosine
      val emb = table(s, d, "embeddings")
      val probe = emb.where(col("vec_id") === 0L).select(col("embedding").as("qe"))
      val semTop = emb
        .where(col("vec_id") =!= 0L)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), cosE6(cosineF(col("embedding"), col("qe"))).as("cos_e6"))
        .orderBy(col("cos_e6").desc, col("vec_id"))
        .limit(shortlist)
      val sem = semTop
        .withColumn("srank", row_number().over(Window.orderBy(col("cos_e6").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id").as("doc_id"), col("srank"))
      lex
        .join(sem, Seq("doc_id"), "full_outer")
        .select(
          col("doc_id"),
          col("lrank"),
          col("srank"),
          (coalesce(expr("1000000 div (60 + lrank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + srank)"), lit(0L))).as("rrf_e6")
        )
        .orderBy(col("rrf_e6").desc, col("doc_id"))
    }),

    // Average precision of embedding retrieval (x218) — the RANKING
    // metric the eval family lacks (x159 scores a classifier's AUC;
    // retrieval quality is order-sensitive: AP = mean of P@k at each
    // relevant hit, the metric behind MRR/MAP leaderboards): for the 5
    // lowest-id query vectors, every other vector is ranked by exact
    // float32 cosine (e6-rounded, the x05 pin) and a hit is a
    // same-label neighbor. All integer past the rounding: P@k =
    // hits·1e6 div k, AP = ΣP@hit div R. Full ranking is inherent to
    // the metric — eval sets are bounded by construction (this is the
    // x05 brute shape, not a corpus operator); per-query windows
    // partition the work.
    "x218_avg_precision" -> ((s, d) => {
      val emb = table(s, d, "embeddings").localCheckpoint() // three refs
      val q = emb
        .orderBy("vec_id")
        .limit(5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label").as("qlab"))
      val cand = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("label").as("nlab"))
      val w = Window.partitionBy("qid").orderBy(col("cos_e6").desc, col("nid"))
      val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cand
        .join(broadcast(q), col("nid") =!= col("qid"))
        .withColumn("cos_e6", cosE6(cosineF(col("ne"), col("qe"))))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("hit", (col("nlab") === col("qlab")).cast("long"))
        .withColumn("hits_at_k", sum("hit").over(wCum))
        .groupBy("qid", "qlab")
        .agg(
          sum("hit").as("n_rel"),
          sum(when(col("hit") === 1L, expr("hits_at_k * 1000000 div rk")).otherwise(0L)).as("sum_p"),
          sum(when(col("rk") <= 10L, col("hit")).otherwise(0L)).as("rel_at_10")
        )
        .select(
          col("qid"),
          col("qlab").cast("long").as("qlab"),
          col("n_rel"),
          // AP is undefined with zero relevant items — report 0 rather
          // than ANSI-throwing (spec-found edge)
          expr("IF(n_rel = 0, 0L, sum_p div n_rel)").as("ap_e6"),
          expr("rel_at_10 * 100000").as("p10_e6")
        )
        .orderBy("qid")
    }),

    // Linear-probe training (x179) — the LEARN face of the embedding
    // classifier family (x68 is inference over fixture weights, x164 is
    // a count model; the linear probe on frozen embeddings is THE
    // standard representation-quality diagnostic): ridgeless least
    // squares over x = (1, f1, f2, f3) (the first three 1e3-quantized
    // embedding dims) solved EXACTLY by Cramer's rule on the integer
    // normal equations. The target PLANTS the truth (x128 discipline):
    // y = 3f1 − 2f2 + f3 + ε with md5-derived zero-mean noise, so the
    // fitted betas must recover (3,−2,1)·10⁶ within sampling error
    // (spec-asserted). Exactness: cells are per-n floored moment sums
    // (the x165 /n rescale — cell magnitude corpus-size-INVARIANT, so
    // the 4×4 determinant's 24 four-cell products stay ~1e21 inside
    // DECIMAL(38,0)/HUGEINT at ANY n); the det expansion strings are
    // generated ONCE and shared verbatim with the oracle. Scale shape:
    // ONE map-side aggregate collapses the corpus to a single 15-column
    // moment row; everything after is a 1-row projection — the normal-
    // equation path beats gradient descent at 100 TB because the data
    // crosses the cluster exactly once.
    "x179_linear_probe" -> ((s, d) => {
      val el = table(s, d, "embeddings").select(
        col("vec_id"),
        expr("CAST(round(CAST(element_at(embedding, 1) AS DOUBLE) * 1000) AS BIGINT)").as("f1"),
        expr("CAST(round(CAST(element_at(embedding, 2) AS DOUBLE) * 1000) AS BIGINT)").as("f2"),
        expr("CAST(round(CAST(element_at(embedding, 3) AS DOUBLE) * 1000) AS BIGINT)").as("f3")
      )
      val withY = el.withColumn(
        "y",
        expr("3 * f1 - 2 * f2 + f3") +
          graft.functions.Hashing.md5Bucket(concat(col("vec_id").cast("string"), lit("#n")), 2001L) - 1000L
      )
      val feats = Seq("1L", "f1", "f2", "f3")
      val aggCols = (count(lit(1)).as("n") +:
        (for { j <- 0 until 4; k <- j until 4 }
          yield sum(expr(s"${feats(j)} * ${feats(k)}")).as(s"s$j$k"))) ++
        (0 until 4).map(j => sum(expr(s"${feats(j)} * y")).as(s"t$j"))
      val sums = withY.agg(aggCols.head, aggCols.tail: _*)
      // per-n floored cells (posmod: moment sums can be negative), cast
      // to DECIMAL(38,0) so the det products never touch int64 overflow
      val cellCols = (col("n") +:
        (for { j <- 0 until 4; k <- 0 until 4 } yield {
          val src = if (j <= k) s"s$j$k" else s"s$k$j"
          expr(s"CAST((($src - ((($src % n) + n) % n)) div n) AS DECIMAL(38,0))").as(s"a$j$k")
        })) ++
        (0 until 4).map(j =>
          expr(s"CAST(((t$j - (((t$j % n) + n) % n)) div n) AS DECIMAL(38,0))").as(s"b$j"))
      val cells = sums.select(cellCols: _*)
      cells.select(
        col("n"),
        expr(cramerBetaSql(0, "div")).as("b_intercept_e6"),
        expr(cramerBetaSql(1, "div")).as("b1_e6"),
        expr(cramerBetaSql(2, "div")).as("b2_e6"),
        expr(cramerBetaSql(3, "div")).as("b3_e6")
      )
    }),

    // Johnson-Lindenstrauss dimensionality reduction, quantized for exact
    // cross-engine arithmetic: 64-dim float embeddings → micro-unit integers
    // → 8 projected components y_j = Σ_i sign(j,i)·q_i with md5-derived ±1
    // planes (the Achlioptas sparse-sign construction). Pure integer sums
    // are order-free, so the projection is bit-exact in any engine — a
    // float dot product would depend on accumulation order (invariant #7).
    // Per-row, zero shuffles: the 100 TB shape for embedding preprocessing
    // (shrink 64→8 dims BEFORE any shuffle-heavy ANN/dedup stage).
    "x44_random_projection" -> ((s, d) => {
      val signs: Seq[Seq[Long]] = (0 until 8).map(j => (0 until 64).map(i => projSign(j, i)))
      // flat unrolled sums, not aggregate(zip_with(...)): higher-order
      // lambdas evaluate interpreted per row, while the unrolled ±q_i tree
      // stays inside whole-stage codegen (same x47 lesson). Integer
      // addition is associative, so the unrolled order is value-identical
      // to the fold.
      val q = (0 until 64).map(i =>
        round(element_at(col("embedding"), i + 1).cast("double") * 1e6).cast("long")
      )
      table(s, d, "embeddings")
        .where(size(col("embedding")) === 64)
        .select(
          col("vec_id") +: signs.zipWithIndex.map { case (row, j) =>
            row.zip(q).map { case (sg, qi) => if (sg > 0) qi else -qi }.reduce(_ + _).as(s"y${j}_e6")
          }: _*
        )
        .orderBy("vec_id")
    }),

    // SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    // cluster the corpus cheaply, then run exact near-dup ONLY within
    // clusters — the cluster equi-join bounds the quadratic. Here the
    // cluster id is the 8-bit sign code of the x44 quantized JL projection
    // (deterministic, integer-exact, derivable in SQL — a k-means
    // assignment would not be oracle-checkable bit-for-bit); within a code
    // bucket, pairs at float32 cosine ≥ 0.4 mark the higher vec_id as a
    // semantic duplicate, keep-lowest-id survivors. Scale shape: one
    // per-row projection scan (no shuffle), one shuffle on code, candidate
    // pairs bounded per bucket — at 100 TB you widen the code (more
    // planes ⇒ smaller buckets) instead of changing the plan. The paper's
    // k-means clusters trade recall differently; the within-cluster
    // dedup-and-keep-one contract is identical.
    "x50_semdedup" -> ((s, d) => {
      val q = (0 until 64).map(i =>
        round(element_at(col("embedding"), i + 1).cast("double") * 1e6).cast("long")
      )
      val ys = (0 until 8).map { j =>
        (0 until 64).map(i => if (projSign(j, i) > 0) q(i) else -q(i)).reduce(_ + _)
      }
      val code = ys.zipWithIndex
        .map { case (y, j) => when(y >= 0, lit(1L << j)).otherwise(lit(0L)) }
        .reduce(_ + _)
      // the sig subplan feeds BOTH self-join sides and the final survivor
      // join — materialize the projection once (localCheckpoint) instead of
      // re-running the 512-term scan three times; at corpus scale the
      // projection pass dominates, the join probes blocks.
      val sig = table(s, d, "embeddings")
        .where(size(col("embedding")) === 64)
        .select(col("vec_id"), col("embedding"), code.as("code"))
        .localCheckpoint()
      val dups = sig
        .as("a")
        .join(sig.as("b"), col("a.code") === col("b.code") && col("a.vec_id") < col("b.vec_id"))
        .where(cosineF(col("a.embedding"), col("b.embedding")) >= 0.4)
        .select(col("b.vec_id").as("vec_id"))
        .distinct()
      sig
        .select("vec_id", "code")
        .join(dups.withColumn("dup", lit(1L)), Seq("vec_id"), "left")
        .select(
          col("vec_id"),
          col("code"),
          when(col("dup").isNotNull, 0L).otherwise(1L).as("kept")
        )
        .orderBy("vec_id")
    }),

    // Per-label embedding centroids in exact integer arithmetic: each
    // component quantized to micro-units, then (label, dim) sums — the
    // mean-pooling step of cluster analysis / prototype classification,
    // made accumulation-order-free (a float mean would be shuffle-order
    // dependent; integer sums hash-match in any engine). Shuffle shape:
    // explode to (label, dim) keys with map-side partial aggregation —
    // the shuffle carries nLabels×nDims partial sums, not vectors.
    // (DuckDB's // and Spark's div both truncate toward zero, so the
    // signed mean division is cross-engine exact.)
    "x48_label_centroids" -> ((s, d) => {
      table(s, d, "embeddings")
        .select(col("label").cast("long").as("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("v").cast("double") * 1e6).cast("long")).as("sum_e6")
        )
        .select(
          col("label"),
          col("dim").cast("long").as("dim"),
          col("n"),
          expr("sum_e6 div n").as("c_e6")
        )
        .orderBy("label", "dim")
    }),

    // exact top-5 neighbors for the first 10 vectors (brute force baseline)
    "x05_sim_cosine_topk" -> ((s, d) =>
      bruteTopK(table(s, d, "embeddings"), nq = 10, k = 5)
        .select(col("qid"), col("rk"), col("nid"), cosE6(col("cos")).as("cos_e6"))
        .orderBy("qid", "rk")),

    // Mutual-nearest-neighbor alignment (x241) — the reciprocal-best-
    // match criterion behind cross-lingual lexicon induction and
    // embedding-space alignment (MUSE/Procrustes pipelines): a ↔ b align
    // iff b is a's top-1 AND a is b's top-1 — one-directional argmax
    // produces many-to-one collisions, mutuality is the standard fix.
    // Sides = even/odd vec_ids; bit-exact float32 cosine (the x05
    // convention, so the full pair list hash-checks); both argmaxes are
    // qid-partitioned windows over ONE checkpointed cross frame. Scale
    // shape: the cross is gate-affordable and the honest baseline — at
    // corpus scale both argmax legs ride the x13 IVF lists or x06
    // bucketed candidates; mutuality itself stays one equi-join.
    "x241_mutual_nn" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val a = emb.where(expr("vec_id % 2 = 0")).select(col("vec_id").as("aid"), col("embedding").as("ae"))
      val b = emb.where(expr("vec_id % 2 = 1")).select(col("vec_id").as("bid"), col("embedding").as("be"))
      val cross = b
        .join(broadcast(a))
        .withColumn("cos", cosineF(col("ae"), col("be")))
        .select("aid", "bid", "cos")
        .localCheckpoint() // two argmax legs
      val wa = Window.partitionBy("aid").orderBy(col("cos").desc, col("bid"))
      val wb = Window.partitionBy("bid").orderBy(col("cos").desc, col("aid"))
      val bestA = cross.withColumn("rk", row_number().over(wa)).where(col("rk") === 1).select("aid", "bid", "cos")
      val bestB = cross.withColumn("rk", row_number().over(wb)).where(col("rk") === 1).select("aid", "bid")
      val mutual = bestA.join(bestB, Seq("aid", "bid")).localCheckpoint() // rows + count
      mutual
        .select(col("aid"), col("bid"), cosE6(col("cos")).as("cos_e6"))
        .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
        .crossJoin(broadcast(a.agg(count(lit(1)).as("n_a"))))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("n_b"))))
        .orderBy("aid")
    }),

    // LSH-bucketed approximate top-k (scale path; rows-only check)
    "x06_sim_ann_lsh" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val sig = bandSigs(s, emb)
      val withSig = emb.join(sig, "vec_id")
      val q = withSig
        .join(broadcast(lowestIds(emb, 10)), "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("band"), col("bucket"))
      val cand = withSig.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("band"), col("bucket"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      cand
        .join(broadcast(q), Seq("band", "bucket"))
        .where(col("nid") =!= col("qid"))
        .select("qid", "qe", "nid", "ne").distinct()
        .withColumn("cos", cosineF(col("qe"), col("ne")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("nid"), cosE6(col("cos")).as("cos_e6"))
        .orderBy("qid", "rk")
    }),

    // IVF ANN with the production build/search split: a real k-means
    // coarse quantizer (distributed Lloyd iterations, deterministic seeds)
    // is built ONCE per corpus and persisted (centroids + inverted lists as
    // parquet, keyed by the corpus path); queries then probe their nprobe
    // nearest centroids and search only those lists — the amortized search
    // is what an IVF index exists to make cheap, and what the steady-state
    // bench pass measures. nlist=8/nprobe=4 because the fixture embeddings
    // are isotropic (worst case for IVF — no cluster structure); clustered
    // corpora support much sharper nlist≫nprobe settings.
    // IVF ANN search, gate-pinned (q34's exact-twin pattern, VERDICT r4
    // #8): the IVF neighbor lists are index-dependent, so the emitted
    // columns are (a) the brute-force exact top-1 per query — bit-exact
    // float32 cosine, DuckDB-reproducible like x05 — and (b) the ANN
    // accuracy contracts as booleans computed in-query against the exact
    // top-5: per-query recall@5 ≥ 0.4 (nprobe=4 of nlist=8 probes half the
    // space; measured per-query min is 2/5 at sf0.1) and corpus recall@5
    // ≥ 0.8 (the spec floor) as the INTEGER inequality sum(hits) ≥
    // 4·n_queries. The IVF build + search still run in the hot path; a
    // recall regression flips the gate red.
    "x13_sim_ivf" -> ((s, d) => {
      val idx = ivfEnsureIndex(s, d, nlist = 8, iters = 3)
      val ivf = ivfSearchIndex(s, table(s, d, "embeddings"), idx, k = 5, nQueries = 10, nprobe = 4)
      val exact = bruteTopK(table(s, d, "embeddings"), nq = 10, k = 5)
        .localCheckpoint() // feeds hits + the per-query twins (2 plan refs)
      val hits = ivf
        .select("qid", "nid")
        .join(exact.select("qid", "nid"), Seq("qid", "nid"))
        .groupBy("qid")
        .agg(count(lit(1)).as("h"))
      val per = exact
        .groupBy("qid")
        .agg(
          max(when(col("rk") === 1, col("nid"))).as("exact_top1"),
          max(when(col("rk") === 1, cosE6(col("cos")))).as("exact_top1_cos_e6")
        )
        .join(hits, Seq("qid"), "left")
        .withColumn("h", coalesce(col("h"), lit(0L)))
        .localCheckpoint() // feeds the corpus-recall 1-row agg + final select
      val corpus = per.agg((sum("h") >= count(lit(1)) * lit(4L)).as("corpus_recall_ok"))
      per
        .crossJoin(broadcast(corpus))
        .select(
          col("qid"),
          col("exact_top1"),
          col("exact_top1_cos_e6"),
          (col("h") >= 2L).as("recall5_floor_ok"),
          col("corpus_recall_ok")
        )
        .orderBy("qid")
    }),

    // search-only ANN against the PERSISTED index — the production
    // vector-search shape where the index outlives the query (x13 pins
    // build+search quality via exact twins; this is the steady-state read
    // path a serving pipeline runs). The artifact lives at a fixed
    // warehouse path with float32 centroids, which makes every float op
    // in the search — probe ranking AND in-list ranking — bit-replicable
    // DuckDB `list_cosine_similarity`, so the oracle reads the SAME index
    // parquet as ground truth and replays the full search: the gate
    // hash-checks the actual neighbor lists, not summary contracts.
    // Scale shape: centroids broadcast (nlist rows), the probed lists are
    // an equi-key join, the corpus is never shuffled; steady-state index
    // ensure is a marker-file read.
    "x74_ivf_search" -> ((s, d) => {
      val dir = ivfEnsureGateIndex(s, d)
      val emb = table(s, d, "embeddings")
      val centroids = Graft.parquet(s, s"$dir/centroids")
      val lists = Graft.parquet(s, s"$dir/lists")
      val q = emb
        .join(broadcast(lowestIds(emb, 10)), "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
      val probes = q
        .crossJoin(broadcast(centroids))
        .withColumn("ccos", cosineF(col("qe"), col("cvec")))
        .withColumn("crk", row_number().over(wc))
        .where(col("crk") <= 4)
        .select("qid", "qe", "cid")
      val corpus = lists
        .join(emb.select(col("vec_id"), col("embedding").as("ne")), "vec_id")
        .select(col("vec_id").as("nid"), col("ne"), col("cid"))
      val wn = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      probes
        .join(corpus, Seq("cid"))
        .where(col("nid") =!= col("qid"))
        .withColumn("cos", cosineF(col("qe"), col("ne")))
        .withColumn("rk", row_number().over(wn).cast("long"))
        .where(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("nid"), cosE6(col("cos")).as("cos_e6"))
        .orderBy("qid", "rk")
    }),

    // Incremental IVF maintenance (x269) — x266's segment discipline on
    // the VECTOR index: base (80% stripe) + two ingest deltas (10% each)
    // assigned against FROZEN float32 centroids trained on the base alone;
    // search probes 4 of 8 centroids, prunes every segment to the probed
    // cid DIRECTORIES before reading, exact-ranks the union. `seg` pins
    // segment composition in the output (delta vectors must surface in
    // the top-5 lists); the oracle replays the full search from the
    // persisted artifact (the x74 pattern) with seg recomputed from the
    // stripe arithmetic. IncIvfSpec proves ingest is append-only (base
    // mtimes), base∪deltas ≡ one-segment full assign, compaction folds
    // reading only the index, and cid pruning survives segmentation.
    "x269_incremental_ivf" -> ((s, d) => {
      val dir = incIvfEnsure(s, d)
      incIvfSearch(s, dir, table(s, d, "embeddings"), k = 5, nQueries = 10, nprobe = 4)
    }),

    // Incremental IVF+PQ (x274) — x269's segments carrying x102's 8-byte
    // ADC codes: the full FAISS "add with frozen coarse quantizer AND
    // frozen codebooks" path. Codebooks train once on the BASE stripe's
    // residuals; each ingest batch encodes only its own vectors against
    // them; search tables the query residuals once per probed list,
    // scores base ∪ delta codes (cid-directory-pruned) by M int64 nibble
    // lookups, and touches corpus floats only to re-rank the 40-deep
    // shortlist. `seg` pins delta codes surfacing in the final top-5.
    "x274_incremental_ivfpq" -> ((s, d) => {
      val dir = incIvfEnsure(s, d)
      incPqSearch(s, dir, table(s, d, "embeddings"), k = 5, nQueries = 10, nprobe = 4, shortlist = 40)
    }),

    // Index-staleness instrument (x275, the x224 discipline on the vector
    // index): x269's FROZEN-quantizer segmented search measured against
    // the fully RETRAINED x74 index over the same corpus — the number
    // that tells an operator when the add-path's centroid staleness has
    // drifted enough to justify a rebuild. Per-query top-5 overlap + the
    // corpus mean (ppm); both component searches are the already-audited
    // gate pipelines (the x253 composition class), so this instrument's
    // cost is the sum of audited parts.
    "x275_ivf_staleness" -> ((s, d) => {
      val frozen = queries("x269_incremental_ivf")(s, d).select(col("qid"), col("nid"))
      val retrained = queries("x74_ivf_search")(s, d).select(col("qid"), col("nid"))
      val f = frozen.localCheckpoint() // qid universe + the overlap join
      val hits = f
        .join(retrained, Seq("qid", "nid"))
        .groupBy("qid")
        .agg(count(lit(1)).as("h"))
      val per = f
        .select("qid")
        .distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("h"), lit(0L)).as("overlap5"))
        .localCheckpoint() // corpus mean + final projection
      val corpus = per.agg(expr("(sum(overlap5) * 1000000) div (count(1) * 5)").as("mean_overlap_e6"))
      per.crossJoin(broadcast(corpus)).orderBy("qid")
    }),

    // IVF+PQ (IVFADC, Jégou et al. 2011): the 100 TB memory story for the
    // x74 index — posting-list entries carry an 8-nibble product-quantized
    // RESIDUAL code (one packed int64) instead of the float32 vector, so
    // the searched index shrinks ~32× (256 B/vec → 8 B/vec; ratio asserted
    // in IvfPqSpec). Search is asymmetric-distance (ADC): per (query,
    // probed list) the query residual is tabled against the shared
    // codebooks once (nq·nprobe·M·K tiny rows, broadcast), candidate
    // distance = M nibble lookups summed — the corpus float vectors are
    // touched ONLY to re-rank the 40-deep ADC shortlist exactly.
    // Determinism: residuals live on x57's 1e3 integer grid, codebooks are
    // integer Lloyd (floor-div via posmod), ADC is pure int64, and the
    // re-rank is bit-exact float32 cosine — so the oracle replays the FULL
    // search from the persisted artifact and the neighbor lists hash-check
    // (the x74 pattern). Quality rides in-query: per-query and corpus
    // recall@5 floors vs the exact x05 twin (Spark computes them, the
    // oracle expects TRUE — a recall regression flips the gate red, the
    // x13 contract pattern).
    "x102_ivf_pq" -> ((s, d) => {
      val dir = ivfEnsureGateIndex(s, d)
      val emb = table(s, d, "embeddings")
      val cent = Graft.parquet(s, s"$dir/centroids")
      val cb = Graft.parquet(s, s"$dir/pq_codebooks")
      val codes = Graft.parquet(s, s"$dir/pq_codes")
      val q = emb
        .join(broadcast(lowestIds(emb, 10)), "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
      val probes = q
        .crossJoin(broadcast(cent))
        .withColumn("ccos", cosineF(col("qe"), col("cvec")))
        .withColumn("crk", row_number().over(wc))
        .where(col("crk") <= 4)
        .select("qid", "cid", "cvec")
        .localCheckpoint() // feeds the distance table AND the list filter
      // query residuals vs each probed list's centroid, on the build grid
      val qres = probes
        .join(broadcast(q), "qid")
        .select(col("qid"), col("cid"), col("cvec"), posexplode(col("qe")).as(Seq("p", "v")))
        .select(
          col("qid"),
          col("cid"),
          expr(s"CAST(p div $PqDsub AS INT)").as("m"),
          expr(s"CAST(p % $PqDsub AS INT)").as("j"),
          expr(s"CAST(round((CAST(v AS DOUBLE) - CAST(element_at(cvec, p + 1) AS DOUBLE)) * $PqGrid) AS BIGINT)")
            .as("qrq")
        )
      // ADC distance table: one int64 per (query, probed list, subspace, code)
      val dtab = qres
        .join(broadcast(cb), Seq("m", "j"))
        .groupBy("qid", "cid", "m", "code")
        .agg(sum(expr("(qrq - cq) * (qrq - cq)")).as("dsub"))
      // candidate scoring: unpack the probed lists' nibble codes, sum M
      // table lookups — no float math, no contact with the corpus vectors
      val adc = codes
        .join(broadcast(probes.select("qid", "cid")), Seq("cid"))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("cid"), col("vec_id").as("nid"), col("pcodes"),
          explode(sequence(lit(0), lit(PqM - 1))).as("m"))
        .select(col("qid"), col("cid"), col("nid"), col("m"),
          expr("CAST(shiftright(pcodes, 4 * m) & 15 AS INT)").as("code"))
        .join(broadcast(dtab), Seq("qid", "cid", "m", "code"))
        .groupBy("qid", "nid")
        .agg(sum("dsub").as("adc"))
      val ws = Window.partitionBy("qid").orderBy(col("adc").asc, col("nid"))
      val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val top = adc
        .withColumn("srk", row_number().over(ws))
        .where(col("srk") <= 40) // ADC shortlist; only these touch floats
        .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
        .join(broadcast(q), "qid")
        .withColumn("cos", cosineF(col("qe"), col("ne")))
        .withColumn("rk", row_number().over(wr).cast("long"))
        .where(col("rk") <= 5)
        .localCheckpoint() // feeds per-query hits + the final projection
      val exact = bruteTopK(emb, nq = 10, k = 5)
      val hits = top
        .select("qid", "nid")
        .join(exact.select("qid", "nid"), Seq("qid", "nid"))
        .groupBy("qid")
        .agg(count(lit(1)).as("h"))
      val per = top
        .join(hits, Seq("qid"), "left")
        .withColumn("h", coalesce(col("h"), lit(0L)))
        .localCheckpoint() // feeds the corpus-recall 1-row agg + final select
      // corpus recall@5 ≥ 0.7 (sum(h) ≥ 3.5·nq as an integer inequality);
      // per-query floor 2/5 — both measured with margin at sf0.01/sf0.1
      val corpus = per
        .where(col("rk") === 1)
        .agg((sum("h") * lit(10L) >= count(lit(1)) * lit(35L)).as("corpus_recall_ok"))
      per
        .crossJoin(broadcast(corpus))
        .select(
          col("qid"),
          col("rk"),
          col("nid"),
          col("adc"),
          cosE6(col("cos")).as("cos_e6"),
          col("h").as("q_hits"),
          (col("h") >= 2L).as("recall5_floor_ok"),
          col("corpus_recall_ok")
        )
        .orderBy("qid", "rk")
    }),

    // embedding-cosine near-dup pairs, scale path: LSH-banded candidate
    // generation (shuffle on the band bucket, never all-pairs), exact
    // float32 cosine verification inside buckets only. The oracle recomputes
    // the identical deterministic pipeline in DuckDB, so the gate checks
    // implementation correctness end-to-end; recall vs. the exact ground
    // truth (x16) is measured and asserted in SimilarityTextSpec.
    "x12_dedup_embedding" -> ((s, d) => nearDupLsh(s, table(s, d, "embeddings"), tau = 0.4)),

    // exact all-pairs near-dup twin of x12 (ground truth / calibration).
    "x16_dedup_embedding_exact" -> ((s, d) => nearDupExact(s, table(s, d, "embeddings"), tau = 0.4)),

    // kNN label classification — the canonical similarity-search
    // application (label propagation / weak supervision over a labeled
    // seed set): majority label among the 5 nearest cosine neighbors.
    // Same broadcast-query scan shape as x05 (at scale the neighbor stage
    // swaps to the x06/x13 ANN path unchanged — the voting layer only sees
    // (qid, label) pairs); votes are integers and neighbor order is the
    // bit-exact float32 cosine, so the whole pipeline hash-matches DuckDB.
    // Maximal Marginal Relevance selection (x158) — diversified top-k
    // (Carbonell & Goldstein 1998), the context-selection step a RAG /
    // training-mixture pipeline runs AFTER similarity search: greedily
    // pick argmax of λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) with λ = 2/3,
    // cleared to the integer score 2·rel − maxsim (ties → smaller id).
    // All arithmetic on the x57 1e3 fixed-point grid (int64 dots), so
    // both engines agree exactly. Scale shape: relevance scan + top-24
    // candidate cut (TakeOrderedAndProject) and the 24×24 candidate pair
    // dots are DISTRIBUTED; the greedy itself is inherently sequential
    // in k and runs on the collected candidate matrix — ≤24+552 rows,
    // driver-sized by design (the x73 manifest-prune class), after which
    // the result is re-parallelized. The oracle replays the greedy as an
    // 8-step unrolled CTE chain (the x148 pattern) with identical
    // tie-breaks.
    "x158_mmr_select" -> ((s, d) => {
      import s.implicits._
      val qv = table(s, d, "embeddings")
        .select(
          col("vec_id"),
          expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))").as("q")
        )
        .localCheckpoint() // three plan refs: query row, relevance scan, pair dots
      val q0 = qv.where(col("vec_id") === 0L).select(col("q").as("qq"))
      val rel = qv
        .where(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q0))
        .select(
          col("vec_id"),
          expr("aggregate(zip_with(q, qq, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("rel")
        )
      val cand = rel.orderBy(col("rel").desc, col("vec_id")).limit(24).localCheckpoint()
      val cv = qv.join(cand, "vec_id").select(col("vec_id"), col("q"), col("rel"))
      val pairs = cv
        .select(col("vec_id").as("a"), col("q").as("qa"))
        .crossJoin(broadcast(cv.select(col("vec_id").as("b"), col("q").as("qb"))))
        .where(col("a") =!= col("b"))
        .select(col("a"), col("b"), expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("dot"))
      // bounded driver pull: ≤ 24 candidates + 552 pair dots (metadata-sized)
      val rels = cand.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dots = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
      val remaining = scala.collection.mutable.SortedSet.empty[Long] ++ rels.keys
      for (k <- 1 to 8) {
        val best = remaining.toSeq
          .map { c =>
            val pen = if (sel.isEmpty) 0L else sel.map(s => dots((c, s._2))).max
            (c, rels(c), pen, 2 * rels(c) - pen)
          }
          .maxBy { case (c, _, _, s2) => (s2, -c) } // score desc, then SMALLER id
        sel += ((k.toLong, best._1, best._2, best._3, best._4))
        remaining -= best._1
      }
      sel.toSeq
        .toDF("sel_rank", "vec_id", "rel", "penalty", "score2")
        .orderBy("sel_rank")
    }),

    "x29_knn_classify" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb
        .join(broadcast(lowestIds(emb, 20)), "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label").as("tl"))
      val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("label").as("nl"))
      val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val wv = Window.partitionBy("qid").orderBy(col("votes").desc, col("nl"))
      c.join(broadcast(q), col("nid") =!= col("qid"))
        .withColumn("cos", cosineF(col("qe"), col("ne")))
        .withColumn("rk", row_number().over(wr))
        .where(col("rk") <= 5)
        .groupBy("qid", "tl", "nl")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vrk", row_number().over(wv))
        .where(col("vrk") === 1)
        .select(
          col("qid"),
          col("tl").cast("long").as("true_label"),
          col("nl").cast("long").as("pred_label"),
          col("votes")
        )
        .orderBy("qid")
    }),

    // int8 symmetric quantization of the embedding column (the vector-store
    // compression step: 4× smaller than float32, codes ∈ [−127, 127] with a
    // per-vector scale). Pure per-row higher-order expressions — single
    // scan, zero shuffles, embarrassingly parallel at any corpus size.
    // Emitted metrics (scale, code checksum, max reconstruction error) are
    // fixed-point integers; every float op involved (widen, multiply,
    // divide, abs, round-half-away) is IEEE-correctly-rounded and ordered
    // identically in the DuckDB oracle, so the gate hash-checks the full
    // quantization arithmetic, not a summary.
    // Distributed Gram / covariance matrix (x140) — the linear-algebra
    // primitive under PCA, whitening and linear-probe fitting: X'X over
    // the embedding corpus plus per-dimension sums, from which the exact
    // covariance numerator is one integer formula (N·G[i][j] − s_i·s_j —
    // no division crosses the gate, so no floor-semantics bets either).
    // Components quantize to the k-means 1e3 fixed-point grid (one
    // widen+multiply+round, deterministic IEEE), so every cell is an
    // exact int64. Shape: each row emits its d² outer-product cells via
    // nested index transforms — a BOUNDED 64×64 stencil, explode factor
    // independent of corpus size (the x93 discipline) — into ONE (i, j)
    // hash agg with map-side partial sums; dimension sums ride a 64-row
    // broadcast. The corpus is scanned once; no d×d state on the driver.
    "x140_int_covariance" -> ((s, d) => covCells(s, d).orderBy("i", "j")),

    // PCA top principal component (x165) — the step x140 exists for:
    // power iteration over the shared covariance cell table, then the
    // corpus projected onto PC1 (the whitening/feature-extraction verb
    // of a training pipeline; Jolliffe 2002 §3). Integer end to end:
    // cells pre-scale by floor(cov_num / N²) (posmod-cleared floor
    // division — eigenvectors are scale-invariant, and /N² makes the
    // cell magnitude CORPUS-SIZE-INVARIANT ≈ 1e6·Cov[i,j], so matvec
    // partials ≲ d·1e6·1000 stay inside int64 at ANY corpus size),
    // v₀ = all-1000s, and each of 6 rounds is matvec → max-|u|
    // renormalization back to the ±1000 grid (den = m div 1000 + 1,
    // posmod-cleared so Spark div and DuckDB // agree on negatives; the
    // sign is pinned by v₀, so no eigenvector sign indeterminacy). The
    // Rayleigh quotient λ̂ and a position-weighted eigenvector digest
    // ride as broadcast columns so the gate pins the full iteration
    // trajectory, not just the projections. Scale shape: the matrix
    // stays a DISTRIBUTED (i,j) cell table (at d=4096 it is 16M rows —
    // never driver-collected); each round is one d-row broadcast join +
    // one d-key agg (the q62 fixed-iteration shape, localCheckpoint per
    // round); the projection is a zero-shuffle per-row dot against the
    // broadcast eigenvector.
    "x165_pca_power" -> ((s, d) => {
      val cov = covCells(s, d)
      val nRow = table(s, d, "embeddings").agg(expr("count(1) * count(1)").as("n2"))
      val cells = cov
        .crossJoin(broadcast(nRow))
        .select(
          col("i"),
          col("j"),
          expr("(cov_num - ((cov_num % n2 + n2) % n2)) div n2").as("cs")
        )
        .localCheckpoint() // 6 matvec refs + the Rayleigh fold
      val v0 = cells
        .select(col("i").as("j"))
        .distinct()
        .select(col("j"), lit(1000L).as("vj"))
        .localCheckpoint()
      val v = Iterate(v0, 1 to 6) { (vk, _) =>
        val u = cells
          .join(broadcast(vk), Seq("j"))
          .groupBy("i")
          .agg(sum(expr("cs * vj")).as("ui"))
        val den = u.agg(expr("(max(abs(ui)) div 1000) + 1").as("den"))
        u.crossJoin(broadcast(den))
          .select(col("i").as("j"), expr("(ui - ((ui % den + den) % den)) div den").as("vj"))
      }
      val rayleigh = cells
        .join(broadcast(v), Seq("j"))
        .groupBy("i")
        .agg(sum(expr("cs * vj")).as("ui"))
        .join(broadcast(v.select(col("j").as("i"), col("vj").as("vi"))), Seq("i"))
        .agg(sum(expr("vi * ui")).as("lnum"), sum(expr("vi * vi")).as("lden"))
        // DECIMAL(38,0) headroom for lnum·1000 (the x162 discipline):
        // Σ vi·ui can reach ~4e15, ×1000 brushes int64. A zero matrix
        // (all embeddings identical) drives v — and so lden — to 0:
        // λ̂ := 0 by convention, guarded identically in the oracle.
        .select(
          expr(
            "CAST(IF(lden = 0, 0, ((CAST(lnum AS DECIMAL(38,0)) * 1000) - " +
              "(((CAST(lnum AS DECIMAL(38,0)) * 1000) % lden + lden) % lden)) div lden) AS BIGINT)"
          ).as("lambda_e3")
        )
      val stats = v
        .agg(sum(expr("(j + 1) * vj")).as("v_digest"), sum(abs(col("vj"))).as("v_norm1"))
        .crossJoin(broadcast(rayleigh))
      val varr = v.agg(sort_array(collect_list(struct(col("j"), col("vj")))).as("vv"))
      quantized(s, d)
        .crossJoin(broadcast(varr))
        .select(
          col("vec_id"),
          col("label").cast("long").as("label"),
          expr("aggregate(transform(q, (qi, i) -> qi * element_at(vv, i + 1).vj), CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("proj")
        )
        .crossJoin(broadcast(stats))
        .orderBy("vec_id")
    }),
    "x30_embedding_quantize" -> ((s, d) => {
      val code = (v: Column, scale: Column) =>
        when(scale === 0.0, lit(0.0)).otherwise(round(v / scale * 127))
      table(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("xd"))
        .withColumn("scale", array_max(transform(col("xd"), v => abs(v))))
        .select(
          col("vec_id"),
          size(col("xd")).cast("long").as("n_dims"),
          round(col("scale") * 1e9).cast("long").as("scale_e9"),
          aggregate(
            transform(col("xd"), v => code(v, col("scale")).cast("long")),
            lit(0L),
            (acc, c) => acc + c
          ).as("sum_code"),
          round(
            array_max(transform(col("xd"), v => abs(code(v, col("scale")) * col("scale") / 127 - v))) * 1e9
          ).cast("long").as("max_err_e9")
        )
        .orderBy("vec_id")
    }),

    // Lloyd k-means over the embedding corpus, integer-exact end to end:
    // components quantize to a 1e3 fixed-point grid (single widen+multiply+
    // round — deterministic IEEE), distances are int64 sums of squares, and
    // centroid updates use an explicit posmod floor division (Spark `div`
    // truncates; DuckDB `//` semantics vary by version — the formula
    // sidesteps both). k=4, init = the 4 lowest vec_ids, 2 fixed
    // iterations, argmin ties to the lowest centroid id via struct-min.
    // This replaces the label-column stand-in as a REAL coarse quantizer
    // (the round-1 verdict's x13 critique). Scale shape per iteration: the
    // corpus long-form joins a BROADCAST centroid table (k·dims rows) and
    // partially aggregates map-side — assignment never shuffles the corpus;
    // the centroid update shuffles k·dims group rows only. The long-form
    // explode is localCheckpointed ONCE and reused by all 4 plan references
    // (assign ×2, update ×2) — the shared-subplan lesson from NOTES.md.
    "x57_kmeans" -> ((s, d) => {
      val el = table(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "v")))
        .select(
          col("vec_id"),
          (col("p") + 1).cast("long").as("dim"),
          expr("CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("q")
        )
        .localCheckpoint()
      // seed from the k LOWEST distinct vec_ids (not `vec_id < 4`): on a
      // corpus whose ids are sparse or don't start at 0 the predicate form
      // would silently seed fewer than k centroids — degenerate clustering
      // that the (identically-written) oracle couldn't catch
      val seedIds = el.select("vec_id").distinct().orderBy("vec_id").limit(4)
      var cent = el
        .join(broadcast(seedIds), "vec_id")
        .select(col("vec_id").as("cid"), col("dim"), col("q").as("cq"))
      var assign: DataFrame = null
      for (_ <- 1 to 2) {
        assign = el
          .join(broadcast(cent), "dim")
          .groupBy("vec_id", "cid")
          .agg(sum(expr("(q - cq) * (q - cq)")).as("dist"))
          .groupBy("vec_id")
          .agg(min(struct(col("dist"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"))
          // shared-subplan rule: each assign feeds 2 plan references (the
          // centroid update + either next iteration or the final sizes agg);
          // it's k·n rows of (vec_id, cid) — cheap to pin, expensive to recompute
          .localCheckpoint()
        cent = el
          .join(assign, "vec_id")
          .groupBy("cid", "dim")
          .agg(sum("q").as("sq"), count(lit(1)).as("n"))
          .select(col("cid"), col("dim"), expr("(sq - pmod(sq, n)) div n").as("cq"))
          .localCheckpoint()
      }
      val sizes = assign.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      val cks = cent.groupBy("cid").agg(sum(expr("cq * dim")).as("centroid_ck"))
      sizes.join(cks, "cid").select("cid", "n_vecs", "centroid_ck").orderBy("cid")
    })
  )

  // ---- IVF machinery -------------------------------------------------------

  /** Nearest-centroid assignment: broadcast the tiny centroid table against
    * the corpus (the standard k-means map side — never a shuffle of the
    * corpus). Argmax via a struct-max aggregate instead of a ranking
    * window: partial aggregation collapses the nlist candidate rows
    * map-side, so no sort and (under AQE) no meaningful shuffle — the
    * window formulation was the slowest stage of the IVF build. Ties break
    * to the lowest cid deterministically (-cid in the struct order).
    * Returns (vec_id, cid). */
  private def assignLists(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("ed"))
      .crossJoin(broadcast(centroids))
      .groupBy("vec_id")
      .agg(max(struct(cosineD(col("ed"), col("cvec")).as("ccos"), (-col("cid")).as("ncid"))).as("best"))
      .select(col("vec_id"), (-col("best.ncid")).as("cid"))

  /** Distributed Lloyd k-means over cosine similarity: deterministic seeds
    * (the nlist lowest distinct vec_ids), each iteration = one broadcast
    * assignment pass + one shuffle to re-average components. Iteration count
    * is fixed (a build-time budget, the IVF-index norm) rather than
    * convergence-tested. */
  private[graft] def kmeansCentroids(s: SparkSession, emb: DataFrame, nlist: Int, iters: Int): DataFrame = {
    var centroids = emb
      .join(broadcast(lowestIds(emb, nlist)), "vec_id")
      .select(col("vec_id").as("cid"), transform(col("embedding"), x => x.cast("double")).as("cvec"))
    for (_ <- 1 to iters) {
      centroids = assignLists(emb, centroids)
        .join(emb, "vec_id")
        .select(col("cid"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy("cid", "i")
        .agg(avg(col("v").cast("double")).as("c"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))), x => x.getField("c")).as("cvec"))
    }
    centroids
  }

  /** Build the IVF index (k-means centroids + inverted-list assignments)
    * for the corpus at `d` and persist it under the warehouse, keyed by the
    * corpus path — the expensive half of IVF, run once per corpus. Returns
    * the index directory. */
  // ------------------------------------------------ incremental IVF (x269)
  // x266's segment discipline applied to the VECTOR index (the optional
  // half of the r8 verdict's task 4): the IVF index becomes base + delta_N
  // segments, each a self-contained cid-partitioned posting store. An
  // ingest batch assigns its NEW vectors against the FROZEN float32
  // centroids (one broadcast pass over the batch — the corpus and the
  // existing segments are never opened) and APPENDS one segment; search
  // probes nprobe centroids, prunes every segment to the probed cid
  // directories BEFORE reading, and exact-ranks the union; a compaction
  // verb folds segments reading only the index. Centroid retraining is a
  // REBUILD, not an ingest — the honest production split (FAISS's
  // add-with-frozen-coarse-quantizer arrangement).

  private val incIvfCentSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(
        "cvec",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)
      )
    )
  )
  private val incIvfListSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cid_p", org.apache.spark.sql.types.LongType)
    )
  )

  private[graft] def incIvfSegments(dir: String): Seq[String] =
    "" +: Option(new java.io.File(dir).listFiles())
      .map(_.toSeq)
      .getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("delta_"))
      .map(_.getName)
      .sorted

  private def incIvfSegRoot(dir: String, seg: String): String =
    if (seg.isEmpty) dir else s"$dir/$seg"

  /** Assignment against the frozen float32 centroids: bit-exact f32 cosine
    * (the gate arithmetic), ties to the lowest cid — so any segment split
    * of the same vectors assigns identically. */
  private def incIvfAssign(emb: DataFrame, centF: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centF))
      .groupBy("vec_id")
      .agg(max(struct(cosineF(col("embedding"), col("cvec")).as("ccos"), (-col("cid")).as("ncid"))).as("best"))
      .select(col("vec_id"), (-col("best.ncid")).cast("long").as("cid"))

  /** One self-contained segment: cid-partitioned (vec_id, cid) lists. The
    * cid rides both as a data column and as the partition key (`cid_p`) so
    * the oracle reads plain files while pruning stays directory-level. */
  private def incIvfWriteSegment(s: SparkSession, segRoot: String, emb: DataFrame, centF: DataFrame): Unit =
    incIvfAssign(emb, centF)
      .withColumn("cid_p", col("cid"))
      .write
      .mode("overwrite")
      .partitionBy("cid_p")
      .parquet(s"$segRoot/lists")

  private[graft] def incIvfWriteSegmentForTest(s: SparkSession, segRoot: String, emb: DataFrame, dir: String): Unit =
    incIvfWriteSegment(s, segRoot, emb, s.read.schema(incIvfCentSchema).parquet(s"$dir/centroids"))

  /** Ingest a batch of NEW vectors as an appended delta segment — existing
    * segments' files are never opened or rewritten; only the frozen
    * centroid table (nlist tiny rows) is read. */
  private[graft] def incIvfIngest(s: SparkSession, dir: String, batch: Int, emb: DataFrame): Unit =
    incIvfWriteSegment(
      s,
      s"$dir/delta_$batch",
      emb,
      s.read.schema(incIvfCentSchema).parquet(s"$dir/centroids")
    )

  /** Fold every delta segment into a fresh base — read cost is the INDEX
    * (vec_id/cid pairs, and the 8-byte code rows when the artifact carries
    * the x274 PQ face), never the embedding corpus. Codes fold by simple
    * union — they were all encoded against the SAME frozen codebooks, so
    * compaction is pure file plumbing, no re-encode. */
  private[graft] def incIvfCompact(s: SparkSession, dir: String): Unit = {
    val segs = incIvfSegments(dir)
    if (segs.size <= 1) return
    val lists = segs
      .map(seg =>
        s.read.schema(incIvfListSchema).parquet(s"${incIvfSegRoot(dir, seg)}/lists").select("vec_id", "cid", "cid_p")
      )
      .reduce(_.unionByName(_))
      .localCheckpoint() // materialize before the dirs below are replaced
    lists.write.mode("overwrite").partitionBy("cid_p").parquet(s"$dir/compact_lists")
    // the PQ face folds with the lists or not at all — deleting delta
    // segments while only moving lists would orphan their codes and leave
    // a base whose code store no longer covers its list store
    val hasPq = new java.io.File(s"$dir/pq_codes").exists()
    if (hasPq) {
      segs
        .map(seg => s.read.schema(incPqCodeSchema).parquet(s"${incIvfSegRoot(dir, seg)}/pq_codes"))
        .reduce(_.unionByName(_))
        .localCheckpoint()
        .write
        .mode("overwrite")
        .partitionBy("cid_p")
        .parquet(s"$dir/compact_pq_codes")
    }
    def rm(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }
    rm(s"$dir/lists")
    if (hasPq) rm(s"$dir/pq_codes")
    segs.filter(_.nonEmpty).foreach(seg => rm(s"$dir/$seg"))
    java.nio.file.Files.move(
      new java.io.File(s"$dir/compact_lists").toPath,
      new java.io.File(s"$dir/lists").toPath
    )
    if (hasPq)
      java.nio.file.Files.move(
        new java.io.File(s"$dir/compact_pq_codes").toPath,
        new java.io.File(s"$dir/pq_codes").toPath
      )
  }

  /** IVF top-k over base ∪ deltas: probe the nprobe nearest frozen
    * centroids per query, collect the probed cid set (≤ nlist values — a
    * planning unit, the x170/x266 bucket-list class), prune every
    * segment's lists to those DIRECTORIES, and exact-rank the union.
    * `seg` records which segment each neighbor came from, pinning segment
    * composition in the output itself. */
  private[graft] def incIvfSearch(
      s: SparkSession,
      dir: String,
      emb: DataFrame,
      k: Int,
      nQueries: Int,
      nprobe: Int
  ): DataFrame = {
    val centF = s.read.schema(incIvfCentSchema).parquet(s"$dir/centroids")
    val q = emb
      .join(broadcast(lowestIds(emb, nQueries)), "vec_id")
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
    val probes = q
      .crossJoin(broadcast(centF))
      .withColumn("ccos", cosineF(col("qe"), col("cvec")))
      .withColumn("crk", row_number().over(wc))
      .where(col("crk") <= nprobe)
      .select("qid", "qe", "cid")
      .localCheckpoint() // two refs: probed-cid planning pull + the join
    val probedCids = probes.select("cid").distinct().collect().map(_.getLong(0)).sorted.toSeq
    val lists = incIvfSegments(dir).zipWithIndex
      .map { case (seg, i) =>
        s.read
          .schema(incIvfListSchema)
          .parquet(s"${incIvfSegRoot(dir, seg)}/lists")
          .where(col("cid_p").isInCollection(probedCids))
          .select(col("vec_id"), col("cid"), lit(i.toLong).as("seg"))
      }
      .reduce(_.unionByName(_))
    val corpus = lists
      .join(emb.select(col("vec_id"), col("embedding").as("ne")), "vec_id")
      .select(col("vec_id").as("nid"), col("ne"), col("cid"), col("seg"))
    val wn = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    probes
      .join(corpus, Seq("cid"))
      .where(col("nid") =!= col("qid"))
      .withColumn("cos", cosineF(col("qe"), col("ne")))
      .withColumn("rk", row_number().over(wn).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), cosE6(col("cos")).as("cos_e6"), col("seg"))
      .orderBy("qid", "rk")
  }

  /** Gate fixture (x269 and x274): frozen centroids trained on the 80%
    * base stripe, base segment = that stripe, two ingest batches of 10%
    * each; then x274's PQ codebooks trained on the BASE residuals only and
    * every segment's codes encoded against them. A [[Fixture]] per source
    * dir. */
  private[graft] def incIvfEnsure(s: SparkSession, d: String): String =
    Fixture("graft_incivf_gate", Some(d), s"incivf-v1-nlist8-it3|pq$PqM/$PqK/$PqGrid") { dir =>
      val emb = table(s, d, "embeddings")
      val base = emb.where(col("vec_id") % 10 < 8)
      kmeansCentroids(s, base, nlist = 8, iters = 3)
        .select(col("cid").cast("long").as("cid"), transform(col("cvec"), x => x.cast("float")).as("cvec"))
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$dir/centroids")
      val centF = s.read.schema(incIvfCentSchema).parquet(s"$dir/centroids")
      incIvfWriteSegment(s, dir, base, centF)
      incIvfIngest(s, dir, 1, emb.where(col("vec_id") % 10 === 8))
      incIvfIngest(s, dir, 2, emb.where(col("vec_id") % 10 === 9))
      java.nio.file.Files.write(
        new java.io.File(s"$dir/emb_src").toPath,
        s"$d/embeddings.parquet".getBytes("UTF-8")
      )
      // codebooks: base residuals ONLY — frozen across every later ingest
      pqTrainBaseForTest(s, dir)
      incIvfSegments(dir).foreach(seg => incPqEncodeSegment(s, dir, seg))
    }

  // -------------------------------------------- incremental IVF+PQ (x274)
  // x269's segments carrying x102's 8-byte codes: the full FAISS
  // "add with a frozen coarse quantizer AND frozen codebooks" path. The
  // PQ codebooks train ONCE on the base stripe's residuals; an ingest
  // batch encodes only its own vectors against them (corpus and existing
  // code files never opened); ADC search reads base ∪ delta codes pruned
  // to the probed cid directories; codebook retrain = rebuild.

  private val incPqCodeSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pcodes", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cid_p", org.apache.spark.sql.types.LongType)
    )
  )
  private val incPqCbSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("m", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("code", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cq", org.apache.spark.sql.types.LongType)
    )
  )

  private def incIvfSegListsDf(s: SparkSession, dir: String, seg: String): DataFrame =
    s.read
      .schema(incIvfListSchema)
      .parquet(s"${incIvfSegRoot(dir, seg)}/lists")
      .select("vec_id", "cid")

  /** encode ONE segment's vectors against the frozen centroids+codebooks —
    * the ingest-side unit: reads the batch's lists + the tiny frozen
    * tables, writes one cid-partitioned code store, touches nothing else */
  private[graft] def incPqEncodeSegment(s: SparkSession, dir: String, seg: String): Unit = {
    val emb = Graft.parquet(s, s"${incPqEmbSource(dir)}")
    val centF = s.read.schema(incIvfCentSchema).parquet(s"$dir/centroids")
    val cb = s.read.schema(incPqCbSchema).parquet(s"$dir/pq_codebooks")
    pqEncode(pqResiduals(emb, centF, incIvfSegListsDf(s, dir, seg)), cb)
      .withColumn("cid_p", col("cid"))
      .write
      .mode("overwrite")
      .partitionBy("cid_p")
      .parquet(s"${incIvfSegRoot(dir, seg)}/pq_codes")
  }

  /** the embedding source the artifact was built from (recorded at build so
    * ingest encodes batches against the same corpus table) */
  private def incPqEmbSource(dir: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/emb_src")), "UTF-8")

  /** train the frozen codebooks on the BASE segment's residuals (build-time
    * unit; also the spec's hook for assembling artifacts by hand) */
  private[graft] def pqTrainBaseForTest(s: SparkSession, dir: String): Unit = {
    val emb = Graft.parquet(s, incPqEmbSource(dir))
    val centF = s.read.schema(incIvfCentSchema).parquet(s"$dir/centroids")
    pqTrain(pqResiduals(emb, centF, incIvfSegListsDf(s, dir, "")))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/pq_codebooks")
  }

  /** ADC top-k over base ∪ delta codes: probe, prune every segment's code
    * DIRECTORIES to the probed cids, score candidates by M nibble lookups
    * (pure int64 — corpus floats touched only to re-rank the shortlist). */
  private[graft] def incPqSearch(
      s: SparkSession,
      dir: String,
      emb: DataFrame,
      k: Int,
      nQueries: Int,
      nprobe: Int,
      shortlist: Int
  ): DataFrame = {
    val centF = s.read.schema(incIvfCentSchema).parquet(s"$dir/centroids")
    val cb = s.read.schema(incPqCbSchema).parquet(s"$dir/pq_codebooks")
    val q = emb
      .join(broadcast(lowestIds(emb, nQueries)), "vec_id")
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
    val probes = q
      .crossJoin(broadcast(centF))
      .withColumn("ccos", cosineF(col("qe"), col("cvec")))
      .withColumn("crk", row_number().over(wc))
      .where(col("crk") <= nprobe)
      .select("qid", "cid", "cvec")
      .localCheckpoint() // planning pull + distance table + list filter
    val probedCids = probes.select("cid").distinct().collect().map(_.getLong(0)).sorted.toSeq
    val qres = probes
      .join(broadcast(q), "qid")
      .select(col("qid"), col("cid"), col("cvec"), posexplode(col("qe")).as(Seq("p", "v")))
      .select(
        col("qid"),
        col("cid"),
        expr(s"CAST(p div $PqDsub AS INT)").as("m"),
        expr(s"CAST(p % $PqDsub AS INT)").as("j"),
        expr(s"CAST(round((CAST(v AS DOUBLE) - CAST(element_at(cvec, p + 1) AS DOUBLE)) * $PqGrid) AS BIGINT)")
          .as("qrq")
      )
    val dtab = qres
      .join(broadcast(cb), Seq("m", "j"))
      .groupBy("qid", "cid", "m", "code")
      .agg(sum(expr("(qrq - cq) * (qrq - cq)")).as("dsub"))
    val codes = incIvfSegments(dir).zipWithIndex
      .map { case (seg, i) =>
        s.read
          .schema(incPqCodeSchema)
          .parquet(s"${incIvfSegRoot(dir, seg)}/pq_codes")
          .where(col("cid_p").isInCollection(probedCids))
          .select(col("vec_id"), col("cid"), col("pcodes"), lit(i.toLong).as("seg"))
      }
      .reduce(_.unionByName(_))
    val adc = codes
      .join(broadcast(probes.select("qid", "cid")), Seq("cid"))
      .where(col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("cid"),
        col("vec_id").as("nid"),
        col("seg"),
        col("pcodes"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m")
      )
      .select(
        col("qid"),
        col("cid"),
        col("nid"),
        col("seg"),
        col("m"),
        expr("CAST(shiftright(pcodes, 4 * m) & 15 AS INT)").as("code")
      )
      .join(broadcast(dtab), Seq("qid", "cid", "m", "code"))
      .groupBy("qid", "nid", "seg")
      .agg(sum("dsub").as("adc"))
    val ws = Window.partitionBy("qid").orderBy(col("adc").asc, col("nid"))
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    adc
      .withColumn("srk", row_number().over(ws))
      .where(col("srk") <= shortlist)
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
      .join(broadcast(q), "qid")
      .withColumn("cos", cosineF(col("qe"), col("ne")))
      .withColumn("rk", row_number().over(wr).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("adc"), cosE6(col("cos")).as("cos_e6"), col("seg"))
      .orderBy("qid", "rk")
  }

  /** A [[Fixture]] per (nlist, iters) and source dir: its fingerprint of
    * the corpus files (name/size/mtime) means a corpus regenerated at the
    * same path rebuilds the index instead of reusing stale centroids/lists
    * (ADVICE r02). */
  private[graft] def ivfEnsureIndex(s: SparkSession, d: String, nlist: Int, iters: Int): String =
    Fixture(s"graft_ivf/n${nlist}_i$iters", Some(d), s"$nlist|$iters") { dir =>
      val emb = table(s, d, "embeddings")
      val centroids = kmeansCentroids(s, emb, nlist, iters)
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
      assignLists(emb, Graft.parquet(s, s"$dir/centroids")).write.mode("overwrite").parquet(s"$dir/lists")
    }

  /** IVF top-k search against a persisted index: probe the nprobe nearest
    * centroids per query, exact-rank inside those lists only — the
    * amortized cheap half. */
  private[graft] def ivfSearchIndex(
      s: SparkSession,
      emb: DataFrame,
      indexDir: String,
      k: Int,
      nQueries: Int,
      nprobe: Int
  ): DataFrame = {
    val centroids = Graft.parquet(s, s"$indexDir/centroids")
    val lists = Graft.parquet(s, s"$indexDir/lists")
    val q = emb
      .join(broadcast(lowestIds(emb, nQueries)), "vec_id")
      .select(
        col("vec_id").as("qid"),
        col("embedding").as("qe"),
        transform(col("embedding"), x => x.cast("double")).as("qd")
      )
    val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
    val probes = q
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", cosineD(col("qd"), col("cvec")))
      .withColumn("crk", row_number().over(wc))
      .where(col("crk") <= nprobe)
      .select("qid", "qe", "cid")
    val corpus = lists
      .join(emb.select(col("vec_id"), col("embedding").as("ne")), "vec_id")
      .select(col("vec_id").as("nid"), col("ne"), col("cid"))
    val wn = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    probes
      .join(corpus, Seq("cid"))
      .where(col("nid") =!= col("qid"))
      .withColumn("cos", cosineF(col("qe"), col("ne")))
      .withColumn("rk", row_number().over(wn).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), cosE6(col("cos")).as("cos_e6"))
      .orderBy("qid", "rk")
  }

  /** Materialize the gate-stable IVF artifact: the fingerprint-keyed build
    * from [[ivfEnsureIndex]], copied to a FIXED path with centroids
    * downcast to float32. The fixed path is what lets the DuckDB oracle
    * read the index as ground truth (the trained-model-fixture pattern,
    * x68), and float32 centroids make the probe ranking bit-replicable via
    * `list_cosine_similarity` — so the x74 search output hash-checks in
    * full, no contract columns needed. The same artifact carries x102's
    * PQ half: `pq_codebooks` (m, code, j, cq — M·K·Dsub tiny rows) and
    * `pq_codes` (vec_id, cid, pcodes). A [[Fixture]] per source dir — the
    * bench (sf0.1) and the scale probe never rebuild the sf0.01 artifact
    * the oracle reads; the source index is built inside this fixture's
    * lock. */
  private[graft] def ivfEnsureGateIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_gate", Some(d), s"gate-n8-i3|pq$PqM/$PqK/$PqGrid") { dir =>
      val src = ivfEnsureIndex(s, d, nlist = 8, iters = 3)
      Graft.parquet(s, s"$src/centroids")
        .select(col("cid"), transform(col("cvec"), x => x.cast("float")).as("cvec"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      Graft.parquet(s, s"$src/lists").coalesce(1).write.mode("overwrite").parquet(s"$dir/lists")
      val emb = table(s, d, "embeddings")
      val cent = Graft.parquet(s, s"$dir/centroids")
      val lists = Graft.parquet(s, s"$dir/lists")
      val rl = pqResiduals(emb, cent, lists).localCheckpoint() // feeds train + encode
      val cb = pqTrain(rl)
      cb.orderBy("m", "code", "j").coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_codebooks")
      pqEncode(rl, Graft.parquet(s, s"$dir/pq_codebooks"))
        .orderBy("vec_id")
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$dir/pq_codes")
    }

  // ---- product quantization (x102) ----------------------------------------

  /** PQ geometry, sized to the 64-dim corpus: 8 subspaces × 8 dims, 16
    * codes each → one 4-bit nibble per subspace, 8 nibbles packed into one
    * int64 per vector. A corpus with a different dimensionality still
    * builds (subspace count adapts as ⌈dim/8⌉ via the `p div 8` split);
    * the GATE artifact is always the 64-dim fixture. */
  private val PqM = 8
  private val PqK = 16
  private val PqDsub = 8
  private val PqGrid = 1000L // residual fixed-point grid (x57's discipline)

  /** Long-form integer residuals of every corpus vector w.r.t. its IVF
    * list centroid: (vec_id, cid, m, j, rq) on the 1e3 grid. float32→double
    * widening is exact and the subtract/multiply/round chain is
    * IEEE-correctly-rounded in identical order in DuckDB, so the grid is
    * engine-independent. */
  private def pqResiduals(emb: DataFrame, cent: DataFrame, lists: DataFrame): DataFrame =
    emb
      .join(lists, "vec_id")
      .join(broadcast(cent), "cid")
      .select(col("vec_id"), col("cid"), col("cvec"), posexplode(col("embedding")).as(Seq("p", "v")))
      .select(
        col("vec_id"),
        col("cid"),
        expr(s"CAST(p div $PqDsub AS INT)").as("m"),
        expr(s"CAST(p % $PqDsub AS INT)").as("j"),
        expr(s"CAST(round((CAST(v AS DOUBLE) - CAST(element_at(cvec, p + 1) AS DOUBLE)) * $PqGrid) AS BIGINT)")
          .as("rq")
      )

  /** Integer Lloyd over each subspace's pooled residuals (one shared
    * codebook per subspace, the standard IVFADC arrangement): seeds are the
    * PqK lowest vec_ids' residuals, 2 fixed iterations, argmin ties to the
    * lowest code, centroid update by posmod floor division — the x57
    * discipline, so a rebuild is bit-identical. Training touches the full
    * corpus at gate SF; at 100 TB the standard move is to train on a
    * deterministic hash-sample (x30's class) and only ENCODE the full
    * corpus — the encode pass below is the corpus-sized cost either way. */
  private def pqTrain(rl: DataFrame): DataFrame = {
    val seeds = rl
      .select("vec_id")
      .distinct()
      .orderBy("vec_id")
      .limit(PqK)
      .withColumn("code", (row_number().over(Window.orderBy("vec_id")) - 1).cast("int"))
    val cb0 = rl
      .join(broadcast(seeds), "vec_id")
      .select(col("m"), col("code"), col("j"), col("rq").as("cq"))
      .localCheckpoint()
    // each codebook feeds the next assign twice
    Iterate(cb0, 1 to 2) { (cb, _) =>
      val assign = rl
        .join(broadcast(cb), Seq("m", "j"))
        .groupBy("vec_id", "m", "code")
        .agg(sum(expr("(rq - cq) * (rq - cq)")).as("dist"))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("dist"), col("code"))).as("b"))
        .select(col("vec_id"), col("m"), col("b.code").as("code"))
      rl.join(assign, Seq("vec_id", "m"))
        .groupBy("m", "code", "j")
        .agg(sum("rq").as("sq"), count(lit(1)).as("n"))
        .select(col("m"), col("code"), col("j"), expr("(sq - pmod(sq, n)) div n").as("cq"))
    }
  }

  /** Encode every corpus vector against the trained codebooks: nearest code
    * per subspace, packed 4 bits per subspace into one int64. Returns
    * (vec_id, cid, pcodes) — the 8-byte posting-list payload that replaces
    * the 256-byte float32 vector. */
  private def pqEncode(rl: DataFrame, cb: DataFrame): DataFrame =
    rl
      .join(broadcast(cb), Seq("m", "j"))
      .groupBy("vec_id", "cid", "m", "code")
      .agg(sum(expr("(rq - cq) * (rq - cq)")).as("dist"))
      .groupBy("vec_id", "cid", "m")
      .agg(min(struct(col("dist"), col("code"))).as("b"))
      .groupBy("vec_id", "cid")
      .agg(sum(expr("shiftleft(CAST(b.code AS BIGINT), 4 * m)")).as("pcodes"))

  /** LSH-banded near-dup: band-collision candidates → exact cos ≥ tau.
    * Every join is equi-key (band bucket, then id); no all-pairs step. */
  private[graft] def nearDupLsh(s: SparkSession, emb: DataFrame, tau: Double): DataFrame = {
    val sig = bandSigs(s, emb)
    val cand = sig.as("a")
      .join(
        sig.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id")
      )
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
      .withColumn("cos", cosineF(col("ea"), col("eb")))
      .where(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), cosE6(col("cos")).as("cos_e6"))
      .orderBy("id_a", "id_b")
  }

  /** Exact all-pairs near-dup, distributed as a triangle block join: ids
    * hash into B blocks, the B(B+1)/2 block pairs are the shuffle keys, each
    * task compares one (n/B)² tile — O(n²) total work (inherent to
    * exactness) but spread evenly across the cluster with bounded per-task
    * memory, instead of a BroadcastNestedLoopJoin that ships one whole side
    * everywhere. The block-pair relation is driver-local metadata (B² tiny
    * rows), broadcast onto both sides; the tile join itself is equi-key on
    * (bi, bj). */
  private[graft] def nearDupExact(s: SparkSession, emb0: DataFrame, tau: Double, blocks: Int = 16): DataFrame = {
    import s.implicits._
    val emb = emb0.withColumn("blk", pmod(col("vec_id"), lit(blocks)))
    val bp = (for { i <- 0 until blocks; j <- i until blocks } yield (i.toLong, j.toLong)).toDF("bi", "bj")
    val l = emb
      .select(col("vec_id").as("id_l"), col("embedding").as("el"), col("blk").as("blk_l"))
      .join(broadcast(bp), col("blk_l") === col("bi"))
    val r = emb
      .select(col("vec_id").as("id_r"), col("embedding").as("er"), col("blk").as("blk_r"))
      .join(broadcast(bp), col("blk_r") === col("bj"))
    l.join(r, Seq("bi", "bj"))
      .where(col("blk_l") < col("blk_r") || (col("blk_l") === col("blk_r") && col("id_l") < col("id_r")))
      .withColumn("cos", cosineF(col("el"), col("er")))
      .where(col("cos") >= tau)
      .select(
        least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        cosE6(col("cos")).as("cos_e6")
      )
      .orderBy("id_a", "id_b")
  }

  // ---- oracles -------------------------------------------------------------

  /** DuckDB mirror of [[bandSigs]]: same md5-seeded ±1 planes, same 2^20
    * quantization, same int64 sums — bit-identical band buckets. */
  private val bandSigSql: String =
    s"""planes AS (
       |  SELECT p, i,
       |    (('0x' || substr(md5(p::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % 2) * 2 - 1 AS wgt
       |  FROM (SELECT unnest(range($NPlanes)) AS p),
       |       (SELECT unnest(range((SELECT max(len(embedding)) FROM embeddings))) AS i)),
       |comps AS (
       |  SELECT vec_id, p,
       |    sum(CAST(round(CAST(embedding[i + 1] AS DOUBLE) * $Quant) AS BIGINT) * wgt) AS proj
       |  FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS i FROM embeddings) e
       |  JOIN planes USING (i) GROUP BY vec_id, p),
       |sig AS (
       |  SELECT vec_id, CAST(p // $BandRows AS INT) AS band,
       |    sum(CASE WHEN proj > 0 THEN (1::BIGINT << CAST(p % $BandRows AS INT)) ELSE 0 END) AS bucket
       |  FROM comps GROUP BY vec_id, p // $BandRows)""".stripMargin

  /** DuckDB CTEs for the x140 quantized Gram/covariance cells — the
    * oracle twin of [[covCells]], shared by x140 and x165 so the matrix
    * definition cannot drift. Exposes q(vec_id, i, qv) and
    * cov(i, j, n, gram, si, sj, cov_num). */
  private val CovCellCtes: String =
    """q AS (
      |  SELECT vec_id, i - 1 AS i,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
      |cells AS (
      |  SELECT a.i AS i, b.i AS j, count(*) AS n,
      |    CAST(sum(a.qv * b.qv) AS BIGINT) AS gram
      |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
      |sums AS (SELECT i, CAST(sum(qv) AS BIGINT) AS si FROM q GROUP BY 1),
      |cov AS (
      |  SELECT c.i AS i, c.j AS j, c.n, c.gram, sa.si, sb.si AS sj,
      |    CAST(c.n * c.gram - sa.si * sb.si AS BIGINT) AS cov_num
      |  FROM cells c JOIN sums sa ON c.i = sa.i JOIN sums sb ON c.j = sb.i)""".stripMargin

  /** x179 oracle: the same moments → floored cells → Cramer chain, cells
    * as HUGEINT, det strings generated by the SAME helpers as the Spark
    * expression (one formula, two engines). */
  private def x179OracleSql: String = {
    val feats = Seq("1", "f1", "f2", "f3")
    val sums = (for { j <- 0 until 4; k <- j until 4 }
      yield s"sum(${feats(j)} * ${feats(k)}) AS s$j$k") ++
      (0 until 4).map(j => s"sum(${feats(j)} * y) AS t$j")
    val cells = (for { j <- 0 until 4; k <- 0 until 4 } yield {
      val src = if (j <= k) s"s$j$k" else s"s$k$j"
      s"CAST(($src - ((($src % n) + n) % n)) // n AS HUGEINT) AS a$j$k"
    }) ++ (0 until 4).map(j => s"CAST((t$j - (((t$j % n) + n) % n)) // n AS HUGEINT) AS b$j")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS f1,
       |    CAST(round(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS f2,
       |    CAST(round(CAST(embedding[3] AS DOUBLE) * 1000) AS BIGINT) AS f3
       |  FROM embeddings),
       |w AS (
       |  SELECT f1, f2, f3,
       |    3*f1 - 2*f2 + f3
       |      + (('0x' || substr(md5(vec_id::VARCHAR || '#n'), 1, 15))::BIGINT % 2001) - 1000 AS y
       |  FROM e),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n, ${sums.mkString(", ")} FROM w),
       |c AS (SELECT n, ${cells.mkString(", ")} FROM s)
       |SELECT n,
       |  ${cramerBetaSql(0, "//")} AS b_intercept_e6,
       |  ${cramerBetaSql(1, "//")} AS b1_e6,
       |  ${cramerBetaSql(2, "//")} AS b2_e6,
       |  ${cramerBetaSql(3, "//")} AS b3_e6
       |FROM c""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // x201: both legs replayed exactly — x32's integer tf·idf CTEs, the
    // x05 list_cosine_similarity e6 rounding, ranks on the rounded
    // values with id tiebreaks, then the same integer RRF fold.
    "x201_rrf_fusion" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |q AS (SELECT doc_id, term FROM t WHERE term IN ('table', 'spark', 'window')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |lt AS (
        |  SELECT doc_id, CAST(sum((tf * n * 1000000) // df) AS BIGINT) AS score
        |  FROM tf JOIN df USING (term), n
        |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
        |lex AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lrank FROM lt),
        |qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |st AS (
        |  SELECT vec_id,
        |    CAST(round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6
        |  FROM embeddings, qe WHERE vec_id <> 0
        |  ORDER BY cos_e6 DESC, vec_id LIMIT 20),
        |sem AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos_e6 DESC, vec_id) AS srank FROM st),
        |f AS (
        |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lrank, srank
        |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
        |SELECT doc_id, lrank, srank,
        |  coalesce(1000000 // (60 + lrank), 0) + coalesce(1000000 // (60 + srank), 0) AS rrf_e6
        |FROM f ORDER BY rrf_e6 DESC, doc_id""".stripMargin,

    "x179_linear_probe" -> x179OracleSql,

    // x218: same e6 cosine ranking, same cumulative-hit AP fold.
    "x218_avg_precision" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe, label AS qlab
        |  FROM embeddings ORDER BY vec_id LIMIT 5),
        |r AS (
        |  SELECT qid, qlab, e.vec_id AS nid, e.label AS nlab,
        |    CAST(round(CAST(list_cosine_similarity(e.embedding, qe) AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6
        |  FROM embeddings e, q WHERE e.vec_id <> qid),
        |k AS (
        |  SELECT qid, qlab, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rk,
        |    CASE WHEN nlab = qlab THEN 1 ELSE 0 END AS hit
        |  FROM r),
        |c AS (
        |  SELECT qid, qlab, rk, hit,
        |    sum(hit) OVER (PARTITION BY qid ORDER BY rk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits_at_k
        |  FROM k),
        |f AS (
        |  SELECT qid, qlab, CAST(sum(hit) AS BIGINT) AS n_rel,
        |    CAST(sum(CASE WHEN hit = 1 THEN hits_at_k * 1000000 // rk ELSE 0 END) AS BIGINT) AS sum_p,
        |    CAST(sum(CASE WHEN rk <= 10 THEN hit ELSE 0 END) AS BIGINT) AS rel_at_10
        |  FROM c GROUP BY 1, 2)
        |SELECT qid, CAST(qlab AS BIGINT) AS qlab, n_rel,
        |  CASE WHEN n_rel = 0 THEN 0 ELSE sum_p // n_rel END AS ap_e6,
        |  rel_at_10 * 100000 AS p10_e6
        |FROM f ORDER BY qid""".stripMargin,
    // x13: exact twins recomputed brute-force; the ANN accuracy booleans
    // are Spark-side assertions the oracle expects to HOLD
    "x13_sim_ivf" ->
      """WITH ex AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_cosine_similarity(a.embedding, b.embedding) AS cos,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rk
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10))
        |SELECT qid, CAST(max(CASE WHEN rk = 1 THEN nid END) AS BIGINT) AS exact_top1,
        |  CAST(max(CASE WHEN rk = 1 THEN round(CAST(cos AS DOUBLE) * 1000000) END) AS BIGINT)
        |    AS exact_top1_cos_e6,
        |  TRUE AS recall5_floor_ok, TRUE AS corpus_recall_ok
        |FROM ex WHERE rk <= 5 GROUP BY qid ORDER BY qid""".stripMargin,
    // x140: the quantized outer product replayed as a per-vector
    // self-join over unnested components; the covariance numerator is
    // the identical no-division integer formula.
    "x140_int_covariance" ->
      s"""WITH $CovCellCtes
        |SELECT i, j, n, gram, si, sj, cov_num FROM cov ORDER BY i, j""".stripMargin,
    // x165: the identical /N² rescale, 6 matvec+renormalize rounds as
    // unrolled MATERIALIZED CTEs (the x158 DuckDB lesson), Rayleigh
    // quotient in HUGEINT, and the same per-row projection dot.
    "x165_pca_power" -> {
      val steps = (1 to 6)
        .map { r =>
          s"""u$r AS MATERIALIZED (
             |  SELECT c.i AS i, CAST(sum(c.cs * v.vj) AS BIGINT) AS ui
             |  FROM csc c JOIN v${r - 1} v ON c.j = v.j GROUP BY 1),
             |d$r AS MATERIALIZED (SELECT (max(abs(ui)) // 1000) + 1 AS den FROM u$r),
             |v$r AS MATERIALIZED (
             |  SELECT i AS j, (ui - ((ui % den + den) % den)) // den AS vj FROM u$r, d$r)""".stripMargin
        }
        .mkString(",\n")
      s"""WITH $CovCellCtes,
         |n2 AS (SELECT count(*) * count(*) AS n2 FROM embeddings),
         |csc AS MATERIALIZED (
         |  SELECT i, j,
         |    CAST((cov_num - ((cov_num % n2.n2 + n2.n2) % n2.n2)) // n2.n2 AS BIGINT) AS cs
         |  FROM cov, n2),
         |v0 AS (SELECT DISTINCT i AS j, CAST(1000 AS BIGINT) AS vj FROM csc),
         |$steps,
         |u7 AS MATERIALIZED (
         |  SELECT c.i AS i, CAST(sum(c.cs * v.vj) AS BIGINT) AS ui
         |  FROM csc c JOIN v6 v ON c.j = v.j GROUP BY 1),
         |ray AS (
         |  SELECT CAST(CASE WHEN lden = 0 THEN 0 ELSE
         |      ((lnum * 1000) - (((lnum * 1000) % lden + lden) % lden)) // lden END AS BIGINT)
         |    AS lambda_e3
         |  FROM (SELECT sum(v.vj * u.ui) AS lnum, sum(v.vj * v.vj) AS lden
         |        FROM u7 u JOIN v6 v ON u.i = v.j)),
         |st AS (
         |  SELECT CAST(sum((j + 1) * vj) AS BIGINT) AS v_digest,
         |         CAST(sum(abs(vj)) AS BIGINT) AS v_norm1 FROM v6),
         |proj AS (
         |  SELECT q.vec_id, CAST(sum(q.qv * v.vj) AS BIGINT) AS proj
         |  FROM q JOIN v6 v ON q.i = v.j GROUP BY 1)
         |SELECT p.vec_id, CAST(e.label AS BIGINT) AS label, p.proj,
         |  st.v_digest, st.v_norm1, ray.lambda_e3
         |FROM proj p JOIN embeddings e USING (vec_id), st, ray
         |ORDER BY p.vec_id""".stripMargin
    },
    // x158: the greedy MMR replayed as an 8-step unrolled CTE chain with
    // the identical (score2 desc, vec_id asc) tie-break at every pick.
    "x158_mmr_select" -> {
      val steps = (1 to 8)
        .map { i =>
          s"""pick$i AS MATERIALIZED (
             |  SELECT vec_id, rel, pen, 2 * rel - pen AS score2 FROM (
             |    SELECT c.vec_id, c.rel,
             |      coalesce((SELECT max(p.dot) FROM pairs p JOIN sel${i - 1} s ON p.b = s.vec_id
             |                WHERE p.a = c.vec_id), 0) AS pen
             |    FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1}))
             |  ORDER BY 2 * rel - pen DESC, vec_id LIMIT 1),
             |sel$i AS MATERIALIZED (
             |  SELECT vec_id, rel, pen, score2, CAST($i AS BIGINT) AS sel_rank FROM pick$i
             |  UNION ALL SELECT * FROM sel${i - 1})""".stripMargin
        }
        .mkString(",\n")
      // AS MATERIALIZED: DuckDB re-evaluates plain CTEs per reference —
      // 8 pick steps × the qe→embeddings lineage exhausted the file-
      // descriptor budget before materialization was forced
      s"""WITH qe AS MATERIALIZED (
         |  SELECT vec_id, i, CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS qi
         |  FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS i FROM embeddings)),
         |q0 AS (SELECT i, qi AS qi0 FROM qe WHERE vec_id = 0),
         |rel AS (
         |  SELECT qe.vec_id, CAST(sum(qe.qi * q0.qi0) AS BIGINT) AS rel
         |  FROM qe JOIN q0 USING (i) WHERE qe.vec_id <> 0 GROUP BY 1),
         |cand AS MATERIALIZED (SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 24),
         |pairs AS MATERIALIZED (
         |  SELECT ea.vec_id AS a, eb.vec_id AS b, CAST(sum(ea.qi * eb.qi) AS BIGINT) AS dot
         |  FROM qe ea JOIN qe eb ON ea.i = eb.i AND ea.vec_id <> eb.vec_id
         |  WHERE ea.vec_id IN (SELECT vec_id FROM cand) AND eb.vec_id IN (SELECT vec_id FROM cand)
         |  GROUP BY 1, 2),
         |sel0 AS (
         |  SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS rel,
         |         CAST(NULL AS BIGINT) AS pen, CAST(NULL AS BIGINT) AS score2,
         |         CAST(NULL AS BIGINT) AS sel_rank WHERE 1 = 0),
         |$steps
         |SELECT sel_rank, vec_id, rel, pen AS penalty, score2
         |FROM sel8 ORDER BY sel_rank""".stripMargin
    },
    // x241: the same cross, argmaxes and mutuality in DuckDB's
    // list_cosine_similarity (bit-compatible with CosineSimF32 at e6
    // rounding — the x05 precedent).
    "x241_mutual_nn" ->
      """WITH a AS (SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id AS bid, embedding AS be FROM embeddings WHERE vec_id % 2 = 1),
        |cx AS (SELECT aid, bid, list_cosine_similarity(ae, be) AS cos FROM a, b),
        |ba AS (SELECT aid, bid, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid) AS rk FROM cx)
        |  WHERE rk = 1),
        |bb AS (SELECT aid, bid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY bid ORDER BY cos DESC, aid) AS rk FROM cx)
        |  WHERE rk = 1),
        |m AS (SELECT ba.aid, ba.bid, ba.cos FROM ba JOIN bb ON ba.aid = bb.aid AND ba.bid = bb.bid),
        |c AS (SELECT (SELECT count(*) FROM m) AS n_mutual,
        |  (SELECT count(*) FROM a) AS n_a, (SELECT count(*) FROM b) AS n_b)
        |SELECT aid, bid, CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6,
        |  c.n_mutual, c.n_a, c.n_b
        |FROM m, c ORDER BY aid""".stripMargin,
    "x05_sim_cosine_topk" ->
      """SELECT qid, rk, nid, CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6 FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_cosine_similarity(a.embedding, b.embedding) AS cos,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rk
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10))
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // x06's approximation is deterministic end-to-end (integer-exact band
    // signatures + bit-exact float32 cosine re-rank), so unlike most ANN
    // implementations it supports a full value oracle: DuckDB recomputes
    // the identical pipeline. x13's k-means centroids are float AVERAGES
    // whose low bits depend on summation order, so its gate rows are
    // exact-twin columns + recall contracts; x74 sidesteps the same
    // problem by reading the PERSISTED float32 index as ground truth.
    // the search replay over the persisted artifact: probe ranking and
    // in-list ranking are both bit-exact float32 cosine, the index parquet
    // is read directly — the full neighbor output hash-checks.
    // GATE-SF PIN: the artifact subdir is hardcoded sf0.01 because the
    // driver's verify gate always runs at sf0.01 (the same convention as
    // the twin-table oracles); the Spark side keys the artifact by the
    // source dir's basename, so running this oracle against any other SF
    // would read a different artifact — that's an oracle-convention limit,
    // not a regression.
    "x74_ivf_search" ->
      s"""WITH c AS (
        |  SELECT cid, cvec FROM '${Fixture.root}/graft_ivf_gate/sf0.01/centroids/*.parquet'),
        |l AS (
        |  SELECT vec_id, cid FROM '${Fixture.root}/graft_ivf_gate/sf0.01/lists/*.parquet'),
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10)),
        |pr AS (
        |  SELECT qid, qe, cid FROM (
        |    SELECT q.qid, q.qe, c.cid,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qe, c.cvec) DESC, c.cid) AS crk
        |    FROM q, c)
        |  WHERE crk <= 4),
        |cand AS (
        |  SELECT pr.qid, e.vec_id AS nid, list_cosine_similarity(pr.qe, e.embedding) AS cos
        |  FROM pr JOIN l USING (cid) JOIN embeddings e ON l.vec_id = e.vec_id
        |  WHERE e.vec_id <> pr.qid)
        |SELECT qid, rk, nid, CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6
        |FROM (
        |  SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |  FROM cand)
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // x269: full search replay over the UNION of the persisted segments
    // (base + both deltas, plain parquet globs under the cid_p dirs); the
    // probe prune is semantic (JOIN on cid), so an artifact where pruning
    // broke composition hash-diverges; seg is recomputed from the stripe
    // arithmetic the fixture ingests by.
    "x269_incremental_ivf" ->
      s"""WITH c AS (
        |  SELECT cid, cvec FROM '${Fixture.root}/graft_incivf_gate/sf0.01/centroids/*.parquet'),
        |l AS (
        |  SELECT vec_id, cid, 0 AS seg
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/lists/*/*.parquet'
        |  UNION ALL
        |  SELECT vec_id, cid, 1 AS seg
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/delta_1/lists/*/*.parquet'
        |  UNION ALL
        |  SELECT vec_id, cid, 2 AS seg
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/delta_2/lists/*/*.parquet'),
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10)),
        |pr AS (
        |  SELECT qid, qe, cid FROM (
        |    SELECT q.qid, q.qe, c.cid,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qe, c.cvec) DESC, c.cid) AS crk
        |    FROM q, c)
        |  WHERE crk <= 4),
        |cand AS (
        |  SELECT pr.qid, e.vec_id AS nid, l.seg,
        |    list_cosine_similarity(pr.qe, e.embedding) AS cos
        |  FROM pr JOIN l USING (cid) JOIN embeddings e ON l.vec_id = e.vec_id
        |  WHERE e.vec_id <> pr.qid)
        |SELECT qid, rk, nid, CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6,
        |  CAST(seg AS BIGINT) AS seg
        |FROM (
        |  SELECT qid, nid, cos, seg,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |  FROM cand)
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // x274: the x102 ADC replay over the UNION of the persisted segments'
    // code stores — residual grid, distance table, nibble unpack, and the
    // exact float32 re-rank all engine-independent; seg from the glob.
    "x274_incremental_ivfpq" ->
      s"""WITH c AS (
        |  SELECT cid, cvec FROM '${Fixture.root}/graft_incivf_gate/sf0.01/centroids/*.parquet'),
        |cb AS (
        |  SELECT m, code, j, cq FROM '${Fixture.root}/graft_incivf_gate/sf0.01/pq_codebooks/*.parquet'),
        |cd AS (
        |  SELECT vec_id, cid, pcodes, 0 AS seg
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/pq_codes/*/*.parquet'
        |  UNION ALL
        |  SELECT vec_id, cid, pcodes, 1 AS seg
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/delta_1/pq_codes/*/*.parquet'
        |  UNION ALL
        |  SELECT vec_id, cid, pcodes, 2 AS seg
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/delta_2/pq_codes/*/*.parquet'),
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10)),
        |pr AS (
        |  SELECT qid, qe, cid, cvec FROM (
        |    SELECT q.qid, q.qe, c.cid, c.cvec,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qe, c.cvec) DESC, c.cid) AS crk
        |    FROM q, c)
        |  WHERE crk <= 4),
        |qr AS (
        |  SELECT qid, cid, CAST((i - 1) // 8 AS INT) AS m, CAST((i - 1) % 8 AS INT) AS j,
        |    CAST(round((CAST(qe[i::INT] AS DOUBLE) - CAST(cvec[i::INT] AS DOUBLE)) * 1000) AS BIGINT) AS qrq
        |  FROM pr, unnest(generate_series(1, len(qe))) t(i)),
        |dt AS (
        |  SELECT qid, cid, m, code, CAST(sum((qrq - cq) * (qrq - cq)) AS BIGINT) AS dsub
        |  FROM qr JOIN cb USING (m, j) GROUP BY 1, 2, 3, 4),
        |un AS (
        |  SELECT vec_id, cid, seg, CAST(m AS INT) AS m,
        |    CAST((pcodes >> CAST(4 * m AS INT)) & 15 AS INT) AS code
        |  FROM cd, unnest(generate_series(0, 7)) t(m)),
        |adc AS (
        |  SELECT dt.qid, un.vec_id AS nid, un.seg, CAST(sum(dsub) AS BIGINT) AS adc
        |  FROM un JOIN dt ON un.cid = dt.cid AND un.m = dt.m AND un.code = dt.code
        |  WHERE un.vec_id <> dt.qid GROUP BY 1, 2, 3),
        |sh AS (
        |  SELECT qid, nid, seg, adc FROM (
        |    SELECT qid, nid, seg, adc, row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS srk
        |    FROM adc)
        |  WHERE srk <= 40)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, nid, adc,
        |  CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6,
        |  CAST(seg AS BIGINT) AS seg
        |FROM (
        |  SELECT sh.qid, sh.nid, sh.seg, sh.adc,
        |    list_cosine_similarity(q.qe, e.embedding) AS cos,
        |    row_number() OVER (PARTITION BY sh.qid
        |      ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC, sh.nid) AS rk
        |  FROM sh JOIN q USING (qid) JOIN embeddings e ON sh.nid = e.vec_id)
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // x275: both component replays inlined with prefixed CTEs (frozen =
    // x269's artifact, retrained = x74's), then the overlap census.
    "x275_ivf_staleness" ->
      s"""WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10)),
        |fc AS (
        |  SELECT cid, cvec FROM '${Fixture.root}/graft_incivf_gate/sf0.01/centroids/*.parquet'),
        |fl AS (
        |  SELECT vec_id, cid
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/lists/*/*.parquet'
        |  UNION ALL SELECT vec_id, cid
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/delta_1/lists/*/*.parquet'
        |  UNION ALL SELECT vec_id, cid
        |    FROM '${Fixture.root}/graft_incivf_gate/sf0.01/delta_2/lists/*/*.parquet'),
        |fpr AS (
        |  SELECT qid, qe, cid FROM (
        |    SELECT q.qid, q.qe, fc.cid,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qe, fc.cvec) DESC, fc.cid) AS crk
        |    FROM q, fc)
        |  WHERE crk <= 4),
        |ftop AS (
        |  SELECT qid, nid FROM (
        |    SELECT fpr.qid, e.vec_id AS nid,
        |      row_number() OVER (PARTITION BY fpr.qid
        |        ORDER BY list_cosine_similarity(fpr.qe, e.embedding) DESC, e.vec_id) AS rk
        |    FROM fpr JOIN fl USING (cid) JOIN embeddings e ON fl.vec_id = e.vec_id
        |    WHERE e.vec_id <> fpr.qid)
        |  WHERE rk <= 5),
        |rc AS (
        |  SELECT cid, cvec FROM '${Fixture.root}/graft_ivf_gate/sf0.01/centroids/*.parquet'),
        |rl AS (
        |  SELECT vec_id, cid FROM '${Fixture.root}/graft_ivf_gate/sf0.01/lists/*.parquet'),
        |rpr AS (
        |  SELECT qid, qe, cid FROM (
        |    SELECT q.qid, q.qe, rc.cid,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qe, rc.cvec) DESC, rc.cid) AS crk
        |    FROM q, rc)
        |  WHERE crk <= 4),
        |rtop AS (
        |  SELECT qid, nid FROM (
        |    SELECT rpr.qid, e.vec_id AS nid,
        |      row_number() OVER (PARTITION BY rpr.qid
        |        ORDER BY list_cosine_similarity(rpr.qe, e.embedding) DESC, e.vec_id) AS rk
        |    FROM rpr JOIN rl USING (cid) JOIN embeddings e ON rl.vec_id = e.vec_id
        |    WHERE e.vec_id <> rpr.qid)
        |  WHERE rk <= 5),
        |h AS (
        |  SELECT ftop.qid, count(*) AS h FROM ftop JOIN rtop USING (qid, nid) GROUP BY 1),
        |per AS (
        |  SELECT DISTINCT ftop.qid, coalesce(h.h, 0) AS overlap5
        |  FROM ftop LEFT JOIN h ON ftop.qid = h.qid),
        |corpus AS (
        |  SELECT (sum(overlap5) * 1000000) // (count(*) * 5) AS mean_overlap_e6 FROM per)
        |SELECT qid, CAST(overlap5 AS BIGINT) AS overlap5,
        |  CAST(mean_overlap_e6 AS BIGINT) AS mean_overlap_e6
        |FROM per, corpus ORDER BY qid""".stripMargin,
    // x102: full search replay from the persisted PQ artifact (same GATE-SF
    // PIN as x74 — the artifact subdir is hardcoded sf0.01 because the
    // verify gate always runs there). Probe ranking and the shortlist
    // re-rank are bit-exact float32 cosine; the query-residual grid, the
    // ADC distance table, and the nibble unpack are pure int64 — every
    // stage is engine-independent, so the neighbor lists hash-check. The
    // recall flags are hardcoded TRUE: Spark computes them against the
    // exact twin, so a quality regression flips the gate red (x13 pattern).
    "x102_ivf_pq" ->
      s"""WITH c AS (
        |  SELECT cid, cvec FROM '${Fixture.root}/graft_ivf_gate/sf0.01/centroids/*.parquet'),
        |cb AS (
        |  SELECT m, code, j, cq FROM '${Fixture.root}/graft_ivf_gate/sf0.01/pq_codebooks/*.parquet'),
        |cd AS (
        |  SELECT vec_id, cid, pcodes FROM '${Fixture.root}/graft_ivf_gate/sf0.01/pq_codes/*.parquet'),
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10)),
        |pr AS (
        |  SELECT qid, qe, cid, cvec FROM (
        |    SELECT q.qid, q.qe, c.cid, c.cvec,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qe, c.cvec) DESC, c.cid) AS crk
        |    FROM q, c)
        |  WHERE crk <= 4),
        |qr AS (
        |  SELECT qid, cid, CAST((i - 1) // 8 AS INT) AS m, CAST((i - 1) % 8 AS INT) AS j,
        |    CAST(round((CAST(qe[i::INT] AS DOUBLE) - CAST(cvec[i::INT] AS DOUBLE)) * 1000) AS BIGINT) AS qrq
        |  FROM pr, unnest(generate_series(1, len(qe))) t(i)),
        |dt AS (
        |  SELECT qid, cid, m, code, CAST(sum((qrq - cq) * (qrq - cq)) AS BIGINT) AS dsub
        |  FROM qr JOIN cb USING (m, j) GROUP BY 1, 2, 3, 4),
        |un AS (
        |  SELECT vec_id, cid, CAST(m AS INT) AS m,
        |    CAST((pcodes >> CAST(4 * m AS INT)) & 15 AS INT) AS code
        |  FROM cd, unnest(generate_series(0, 7)) t(m)),
        |adc AS (
        |  SELECT dt.qid, un.vec_id AS nid, CAST(sum(dsub) AS BIGINT) AS adc
        |  FROM un JOIN dt ON un.cid = dt.cid AND un.m = dt.m AND un.code = dt.code
        |  WHERE un.vec_id <> dt.qid GROUP BY 1, 2),
        |sh AS (
        |  SELECT qid, nid, adc FROM (
        |    SELECT qid, nid, adc, row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS srk
        |    FROM adc)
        |  WHERE srk <= 40),
        |t5 AS (
        |  SELECT qid, nid, adc, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |  FROM (
        |    SELECT sh.qid, sh.nid, sh.adc, list_cosine_similarity(q.qe, e.embedding) AS cos
        |    FROM sh JOIN q USING (qid) JOIN embeddings e ON sh.nid = e.vec_id)
        |  QUALIFY rk <= 5),
        |ex AS (
        |  SELECT qid, nid FROM (
        |    SELECT a.vec_id AS qid, b.vec_id AS nid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rk
        |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |    WHERE a.vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10))
        |  WHERE rk <= 5),
        |h AS (
        |  SELECT t5.qid, count(*) AS h FROM t5 JOIN ex ON t5.qid = ex.qid AND t5.nid = ex.nid
        |  GROUP BY 1)
        |SELECT t5.qid, CAST(t5.rk AS BIGINT) AS rk, t5.nid, t5.adc,
        |  CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6,
        |  CAST(coalesce(h.h, 0) AS BIGINT) AS q_hits,
        |  TRUE AS recall5_floor_ok, TRUE AS corpus_recall_ok
        |FROM t5 LEFT JOIN h ON t5.qid = h.qid ORDER BY t5.qid, rk""".stripMargin,
    "x06_sim_ann_lsh" ->
      s"""WITH $bandSigSql,
         |q AS (
         |  SELECT e.vec_id AS qid, e.embedding AS qe, s.band, s.bucket
         |  FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
         |  WHERE e.vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 10)),
         |cand AS (
         |  SELECT DISTINCT q.qid, q.qe, e.vec_id AS nid, e.embedding AS ne
         |  FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
         |  JOIN q ON s.band = q.band AND s.bucket = q.bucket AND e.vec_id <> q.qid),
         |ranked AS (
         |  SELECT qid, nid, list_cosine_similarity(qe, ne) AS cos,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY list_cosine_similarity(qe, ne) DESC, nid) AS rk
         |  FROM cand)
         |SELECT qid, rk, nid, CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6
         |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "x12_dedup_embedding" ->
      s"""WITH $bandSigSql,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sig a JOIN sig b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, CAST(round(CAST(cos AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6 FROM (
         |  SELECT id_a, id_b, list_cosine_similarity(ea.embedding, eb.embedding) AS cos
         |  FROM cand JOIN embeddings ea ON id_a = ea.vec_id
         |            JOIN embeddings eb ON id_b = eb.vec_id)
         |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    "x29_knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe, label AS tl FROM embeddings
        |  WHERE vec_id IN (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 20)),
        |nn AS (
        |  SELECT q.qid, q.tl, e.label AS nl,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC, e.vec_id) AS rk
        |  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
        |v AS (SELECT qid, tl, nl, count(*) AS votes FROM nn WHERE rk <= 5 GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT qid, tl, nl, votes,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS vrk FROM v)
        |SELECT qid, CAST(tl AS BIGINT) AS true_label, CAST(nl AS BIGINT) AS pred_label, votes
        |FROM best WHERE vrk = 1 ORDER BY qid""".stripMargin,
    "x48_label_centroids" ->
      """WITH e AS (
        |  SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
        |    CAST(round(CAST(embedding[i::INT] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i))
        |SELECT label, CAST(dim AS BIGINT) AS dim, count(*) AS n,
        |  CAST(sum(q) AS BIGINT) // count(*) AS c_e6
        |FROM e GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    "x44_random_projection" -> {
      val cols = (0 until 8)
        .map { j =>
          s"""  CAST(list_sum(list_transform(range(1, 65), i ->
             |    CAST(round(CAST(embedding[i::INT] AS DOUBLE) * 1000000) AS BIGINT) *
             |    (CASE WHEN ('0x' || substr(md5('${j}_' || (i-1)::VARCHAR), 1, 15))::BIGINT % 2 = 0
             |      THEN 1 ELSE -1 END))) AS BIGINT) AS y${j}_e6""".stripMargin
        }
        .mkString(",\n")
      s"""SELECT vec_id,
         |$cols
         |FROM embeddings WHERE len(embedding) = 64 ORDER BY vec_id""".stripMargin
    },
    "x50_semdedup" -> {
      val ySql = (0 until 8)
        .map { j =>
          s"""    CAST(list_sum(list_transform(range(1, 65), i ->
             |      CAST(round(CAST(embedding[i::INT] AS DOUBLE) * 1000000) AS BIGINT) *
             |      (CASE WHEN ('0x' || substr(md5('${j}_' || (i-1)::VARCHAR), 1, 15))::BIGINT % 2 = 0
             |        THEN 1 ELSE -1 END))) AS BIGINT) AS y$j""".stripMargin
        }
        .mkString(",\n")
      val codeSql = (0 until 8)
        .map(j => s"(CASE WHEN y$j >= 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH proj AS (
         |  SELECT vec_id, embedding,
         |$ySql
         |  FROM embeddings WHERE len(embedding) = 64),
         |sig AS (
         |  SELECT vec_id, embedding, CAST($codeSql AS BIGINT) AS code FROM proj),
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM sig a JOIN sig b ON a.code = b.code AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4)
         |SELECT s.vec_id, s.code,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM sig s LEFT JOIN dups d ON s.vec_id = d.vec_id
         |ORDER BY s.vec_id""".stripMargin
    },
    "x30_embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd FROM embeddings),
        |s AS (
        |  SELECT vec_id, xd, list_max(list_transform(xd, v -> abs(v))) AS scale FROM e)
        |SELECT vec_id, len(xd) AS n_dims,
        |  CAST(round(scale * 1000000000) AS BIGINT) AS scale_e9,
        |  CAST(list_sum(list_transform(xd, v ->
        |    CAST(CASE WHEN scale = 0 THEN 0 ELSE round(v / scale * 127) END AS BIGINT))) AS BIGINT) AS sum_code,
        |  CAST(round(list_max(list_transform(xd, v ->
        |    abs((CASE WHEN scale = 0 THEN 0 ELSE round(v / scale * 127) END) * scale / 127 - v)))
        |    * 1000000000) AS BIGINT) AS max_err_e9
        |FROM s ORDER BY vec_id""".stripMargin,
    "x16_dedup_embedding_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) * 1000000) AS BIGINT) AS cos_e6
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // the full 2-iteration Lloyd pipeline re-derived as unrolled CTEs; the
    // (x % n + n) % n posmod makes the centroid division an exact floor in
    // any engine's integer-division convention
    "x57_kmeans" ->
      """WITH el0 AS (
        |  SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS dim
        |  FROM embeddings),
        |el AS (
        |  SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM el0),
        |seeds AS (SELECT DISTINCT vec_id FROM el ORDER BY vec_id LIMIT 4),
        |c0 AS (SELECT vec_id AS cid, dim, q AS cq FROM el JOIN seeds USING (vec_id)),
        |d1 AS (
        |  SELECT e.vec_id, c.cid, sum((e.q - c.cq) * (e.q - c.cq)) AS dist
        |  FROM el e JOIN c0 c USING (dim) GROUP BY e.vec_id, c.cid),
        |a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        |    FROM d1) WHERE rk = 1),
        |c1 AS (
        |  SELECT a.cid, e.dim,
        |    (sum(e.q) - ((sum(e.q) % count(*) + count(*)) % count(*))) // count(*) AS cq
        |  FROM el e JOIN a1 a USING (vec_id) GROUP BY a.cid, e.dim),
        |d2 AS (
        |  SELECT e.vec_id, c.cid, sum((e.q - c.cq) * (e.q - c.cq)) AS dist
        |  FROM el e JOIN c1 c USING (dim) GROUP BY e.vec_id, c.cid),
        |a2 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        |    FROM d2) WHERE rk = 1),
        |c2 AS (
        |  SELECT a.cid, e.dim,
        |    (sum(e.q) - ((sum(e.q) % count(*) + count(*)) % count(*))) // count(*) AS cq
        |  FROM el e JOIN a2 a USING (vec_id) GROUP BY a.cid, e.dim)
        |SELECT s.cid, s.n_vecs, k.centroid_ck
        |FROM (SELECT cid, count(*) AS n_vecs FROM a2 GROUP BY cid) s
        |JOIN (SELECT cid, CAST(sum(cq * dim) AS BIGINT) AS centroid_ck FROM c2 GROUP BY cid) k
        |  USING (cid)
        |ORDER BY s.cid""".stripMargin
  )
}
