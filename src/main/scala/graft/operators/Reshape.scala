package graft.operators

import graft.Graft.table
import graft.functions.Hashing
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reshaping + recursive-query surface (SURVEY.md §2 widening, round 4).
  *
  * q52 unpivot (melt) — the inverse of q32's pivot, via `Dataset.unpivot`
  * (Spark's native UNPIVOT; reference notebooks reshape with pandas-style
  * melt, `Capstone Project Template.ipynb` cell 5's wide→long inspection).
  * q53 GROUPING SETS — the general form behind q17 ROLLUP / q21 CUBE:
  * explicitly enumerated grouping sets in one pass (Spark expands to a
  * single Expand + hash-agg, not one scan per set).
  * q54 map functions — `map_from_entries` / `map_keys` / `map_values` /
  * `element_at` / `aggregate` over a map column built from an aggregation.
  * q55 recursive reach — Spark has NO recursive CTE; the engine expresses
  * bounded-depth graph reachability (supplier → order → customer bipartite
  * hops) as driver-side iterative frontier joins, checked against DuckDB's
  * native `WITH RECURSIVE`. This is the missing-SQL-surface showcase: a
  * reference user's recursive query maps to this iteration shape.
  *
  * Scale notes:
  *   - q52/q53/q54 are single-shuffle hash aggregations on low-cardinality
  *     keys (map-side partial combine; the shuffle carries group rows, not
  *     input rows).
  *   - q55's frontier BFS is the standard Pregel-style iteration: each hop
  *     is one shuffle join of the (small) frontier against the edge table,
  *     plus a left-anti against visited. Edges are deduped once up front
  *     (duplicate lineitem (supp, order) pairs would multiply path counts
  *     without changing min-hop). At real diameter, lineage is cut per
  *     round with localCheckpoint + block release exactly as
  *     [[Dedup.connectedComponents]] does; at the fixed 3-hop depth here
  *     the lineage is shallow enough that checkpointing would cost more
  *     than it saves.
  */
object Reshape {

  /** The deterministic sparse md5 graph over the customer ids shared by
    * x95 (triangles) and x105 (k-core): 3 draws per vertex, self-loops
    * dropped, canonical undirected (min, max) pairs deduped. Returns the
    * localCheckpointed edge table and the vertex count (dim-sized control
    * scalar); the oracle replays the same formula. */
  private def md5Graph(s: SparkSession, d: String): (DataFrame, Long) = {
    import s.implicits._
    val verts = table(s, d, "customer").select(col("c_custkey").as("v"))
    val n = verts.count()
    val raw = verts
      .crossJoin(broadcast(Seq(0, 1, 2).toDF("i")))
      .select(
        col("v").as("u"),
        (Hashing.md5Bucket(concat(col("v").cast("string"), lit("#e"), col("i").cast("string")), n) + 1L)
          .as("w")
      )
      .where(col("u") =!= col("w"))
    val edges = raw
      .select(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b"))
      .distinct()
      .localCheckpoint() // feeds degree aggs + multiple join probes
    (edges, n)
  }

  /** One large-star / small-star step (Kiveris et al. 2014) over a
    * canonical (a < b) undirected edge table. Large-star connects every
    * strictly-larger neighbor of each center to the center's minimum;
    * small-star connects the smaller neighbors and the center itself.
    * Alternating the two converges to min-rooted stars in O(log²) rounds
    * (log in practice) — REGARDLESS of component diameter. */
  private[operators] def starStep(edges: DataFrame, large: Boolean): DataFrame = {
    val sym = edges
      .select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val mins = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
    if (large)
      sym
        .join(mins, "u")
        .where(col("v") > col("u")) // m ≤ u < v: canonical, no self loop
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
    else {
      val fromNbrs = sym
        .join(mins, "u")
        .where(col("v") < col("u") && col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
      val self = mins.where(col("u") =!= col("m")).select(col("m").as("a"), col("u").as("b"))
      fromNbrs.unionByName(self).distinct()
    }
  }


  /** x195's statistic over any canonical (a, b) edge table — split out so
    * the spec can drive closed-form graphs (path r = −½, clique pair
    * r = 1, star r = −1, regular graph → the zero-variance guard). */
  private[operators] def assortativity(edges: DataFrame): DataFrame = {
    val deg = edges
      .select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy("v")
      .agg(count(lit(1)).as("deg"))
    edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .agg(
        count(lit(1)).as("m"),
        sum(expr("da * db")).as("s1"),
        sum(expr("da + db")).as("s2"),
        sum(expr("da * da + db * db")).as("s3")
      )
      .select(
        col("m"),
        col("s1"),
        col("s2"),
        col("s3"),
        // m·s3·1e6 ~ 8e20 at 16× — DECIMAL(38,0) headroom (x179 class)
        expr(
          "CAST(IF(CAST(2 AS DECIMAL(38,0)) * m * s3 - CAST(s2 AS DECIMAL(38,0)) * s2 = 0, 0, " +
            "((CAST(4 AS DECIMAL(38,0)) * m * s1 - CAST(s2 AS DECIMAL(38,0)) * s2) * 1000000 - " +
            "pmod((CAST(4 AS DECIMAL(38,0)) * m * s1 - CAST(s2 AS DECIMAL(38,0)) * s2) * 1000000, " +
            "CAST(2 AS DECIMAL(38,0)) * m * s3 - CAST(s2 AS DECIMAL(38,0)) * s2)) div " +
            "(CAST(2 AS DECIMAL(38,0)) * m * s3 - CAST(s2 AS DECIMAL(38,0)) * s2)) AS BIGINT)"
        ).as("r_ppm")
      )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // pivot → unpivot round trip: wide per-priority status counts melted
    // back to long form. Absent (priority, status) combos surface as NULL
    // cells in the pivot; unpivot keeps them, so the melt filters them out
    // to restore the exact long-form aggregate.
    "q52_unpivot" -> ((s, d) => {
      val wide = table(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
      wide
        .unpivot(Array(col("o_orderpriority")), Array(col("F"), col("O"), col("P")), "status", "n_orders")
        .where(col("n_orders").isNotNull)
        .orderBy("o_orderpriority", "status")
    }),

    // explicit GROUPING SETS: per-status, per-priority, and per-pair
    // subtotals in ONE scan (Catalyst plans a single Expand ×3 + one
    // hash-agg — not three scans unioned). Money stays integer cents
    // (invariant: float sums are accumulation-order-dependent).
    "q53_grouping_sets" -> ((s, d) => {
      table(s, d, "orders").createOrReplaceTempView("v_orders")
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
              |  coalesce(o_orderpriority, 'ALL') AS priority,
              |  count(*) AS n_orders,
              |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
              |FROM v_orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
              |                        (o_orderstatus, o_orderpriority))
              |ORDER BY status, priority""".stripMargin)
    }),

    // map-typed column surface: build status→count maps per priority from
    // an aggregation, then read them back through map_keys / map_values /
    // element_at / aggregate. Entries are sorted before map construction so
    // key order (and thus the joined key string) is deterministic.
    "q54_map_funcs" -> ((s, d) => {
      table(s, d, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .groupBy("o_orderpriority")
        .agg(map_from_entries(array_sort(collect_list(struct(col("o_orderstatus"), col("n"))))).as("m"))
        .select(
          col("o_orderpriority"),
          size(col("m")).cast("long").as("n_statuses"),
          coalesce(element_at(col("m"), lit("F")), lit(0L)).as("f_n"),
          coalesce(element_at(col("m"), lit("O")), lit(0L)).as("o_n"),
          array_join(map_keys(col("m")), ",").as("statuses"),
          aggregate(map_values(col("m")), lit(0L), (acc, x) => acc + x).as("total")
        )
        .orderBy("o_orderpriority")
    }),

    // bounded-depth BFS over the supplier→order→customer bipartite graph
    // from supplier 1: min-hop per node, summarized as (node_type, hop)
    // counts. Spark-side: iterative frontier joins (no recursive CTE in
    // Spark SQL); oracle-side: DuckDB WITH RECURSIVE path enumeration +
    // min(hop) — same min-hop semantics, independently derived.
    "q55_recursive_reach" -> ((s, d) => {
      // nodes packed into one long — id·4 + type tag (1=S, 2=O, 3=C): the
      // frontier joins shuffle 8-byte keys, not strings (≈3× less shuffle
      // volume at the 16× probe scale, and cheaper hash/compare per row)
      val li = table(s, d, "lineitem")
        .select((col("l_suppkey") * 4 + 1).as("a"), (col("l_orderkey") * 4 + 2).as("b"))
      val oc = table(s, d, "orders")
        .select((col("o_orderkey") * 4 + 2).as("a"), (col("o_custkey") * 4 + 3).as("b"))
      // undirected: both directions, deduped once (one shuffle) so repeated
      // lineitem (supp, order) pairs don't re-expand the frontier; the
      // eager localCheckpoint materializes the deduped edge table ONCE so
      // the three BFS rounds probe blocks instead of re-running
      // scan→union→distinct per round (42.9 s → see NOTES; same lesson as
      // Dedup.connectedComponents).
      val edges = li
        .union(oc)
        .union(li.select(col("b").as("a"), col("a").as("b")))
        .union(oc.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .withColumnRenamed("a", "src")
        .withColumnRenamed("b", "dst")
        .localCheckpoint()
      import s.implicits._
      var visited = Seq((5L, 0L)).toDF("node", "hop") // supplier 1 = 1·4+1
      var frontier = visited
      for (h <- 1 to 3) {
        frontier = frontier
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node"), lit(h.toLong).as("hop"))
          .distinct()
          .join(visited, Seq("node"), "left_anti")
        visited = visited.union(frontier)
      }
      visited
        .groupBy(
          when(pmod(col("node"), lit(4L)) === 1L, "S")
            .when(pmod(col("node"), lit(4L)) === 2L, "O")
            .otherwise("C")
            .as("node_type"),
          col("hop")
        )
        .agg(count(lit(1)).as("n"))
        .orderBy("node_type", "hop")
    }),

    "q58_variant" -> variantQuery,

    // Triangle counting with DEGREE ORIENTATION — the fourth graph shape
    // (q55 BFS, x37 CC, q62 PageRank, now clique-finding) and the
    // canonical join-based graph algorithm at scale: orient every
    // undirected edge from its lower-(degree, id) endpoint to the higher
    // one, so each wedge a→b→c is enumerated exactly once from its
    // lowest-degree corner, and the join fan-out of a hub vertex is
    // bounded by its ORIENTED out-degree (≤ √(2m)), never its raw degree
    // — the trick that keeps hub vertices from exploding the wedge join
    // (Suri & Vassilvitskii 2011). Graph: a deterministic sparse md5
    // digraph over the customer ids (3 draws per vertex, self-loops and
    // duplicates removed), replayed formula-for-formula by the oracle.
    // Reciprocity + global transitivity (x259) — the two classic
    // structure coefficients closing the graph-statistics family (x195
    // assortativity is the third): reciprocity over the DIRECTED draw
    // graph (share of directed edges whose reverse exists — one
    // self-join on the reversed key), transitivity = 3·triangles /
    // Σd(d−1)/2 over the undirected projection (triangles via the x95
    // degree-oriented count, the wedge denominator a pure degree-census
    // fold — no wedge materialization for the denominator). One row,
    // everything census- or edge-linear.
    "x259_graph_coefficients" -> ((s, d) => {
      import s.implicits._
      val verts = table(s, d, "customer").select(col("c_custkey").as("v"))
      val n = verts.count()
      val dir = verts
        .crossJoin(broadcast(Seq(0, 1, 2).toDF("i")))
        .select(
          col("v").as("u"),
          (graft.functions.Hashing
            .md5Bucket(concat(col("v").cast("string"), lit("#e"), col("i").cast("string")), n) + 1L).as("w")
        )
        .where(col("u") =!= col("w"))
        .distinct()
        .localCheckpoint() // reciprocity self-join + undirected projection
      val nDir = dir.agg(count(lit(1)).as("n_dir"))
      val recip = dir
        .join(dir.select(col("w").as("u"), col("u").as("w")), Seq("u", "w"), "left_semi")
        .agg(count(lit(1)).as("n_recip"))
      val edges = dir
        .select(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b"))
        .distinct()
        .localCheckpoint() // degree census + oriented triangles
      val deg = edges
        .select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy("v")
        .agg(count(lit(1)).as("deg"))
        .localCheckpoint() // wedge fold + orientation joins
      val wedgeTot = deg.agg(sum(expr("deg * (deg - 1) div 2")).as("wedges"))
      val oriented = edges
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b"))
            .as("src"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")), col("b"))
            .otherwise(col("a"))
            .as("dst")
        )
        .localCheckpoint() // wedge join + closing probe
      val tri = oriented
        .select(col("src").as("x"), col("dst").as("y"))
        .join(oriented.select(col("src").as("y"), col("dst").as("z")), "y")
        .join(oriented.select(col("src").as("x"), col("dst").as("z")), Seq("x", "z"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      nDir
        .crossJoin(broadcast(recip))
        .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_und"))))
        .crossJoin(broadcast(wedgeTot))
        .crossJoin(broadcast(tri))
        .select(
          lit(n).as("n_vertices"),
          col("n_dir"),
          col("n_recip"),
          expr("(n_recip * 1000000) div n_dir").as("reciprocity_ppm"),
          col("n_und"),
          col("wedges"),
          col("n_triangles"),
          expr("IF(wedges = 0, 0L, (3 * n_triangles * 1000000) div wedges)").as("transitivity_ppm")
        )
    }),

    "x95_triangle_count" -> ((s, d) => {
      import s.implicits._
      val (edges, n) = md5Graph(s, d)
      val deg = edges
        .select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy("v")
        .agg(count(lit(1)).as("deg"))
      // orient by (degree, id): u→v iff (deg_u, u) < (deg_v, v)
      val oriented = edges
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b"))
            .as("src"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")), col("b"))
            .otherwise(col("a"))
            .as("dst")
        )
        .localCheckpoint() // three plan refs below
      val wedges = oriented
        .select(col("src").as("x"), col("dst").as("y"))
        .join(oriented.select(col("src").as("y"), col("dst").as("z")), "y")
      val triangles = wedges
        .join(oriented.select(col("src").as("x"), col("dst").as("z")), Seq("x", "z"), "left_semi")
      edges
        .agg(count(lit(1)).as("n_edges"))
        .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
        .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
        .select(lit(n).as("n_vertices"), col("n_edges"), col("n_wedges"), col("n_triangles"))
    }),

    // k-core decomposition (k=3) — the fifth graph shape (BFS, CC,
    // PageRank, triangles, now coreness): iteratively peel vertices whose
    // INDUCED degree drops below k until a fixed point — the standard
    // graph-sparsification / community-seed primitive. Each peel round is
    // two semi-joins of the (immutable, localCheckpointed) edge table
    // against the shrinking survivor set plus one degree aggregate — cost
    // tracks the shrinking frontier, never re-shuffles the full edge set.
    // The round budget is FIXED (12, the q62/x57 fixed-iteration
    // discipline); the emitted `converged` flag re-derives the fixed point
    // in-query (survivor count stable AND min induced degree ≥ k) while
    // the oracle replays the same 12 rounds and expects TRUE — if the
    // budget ever stops covering the gate corpus, the gate turns red
    // instead of silently under-peeling.
    // Degree assortativity (x195, Newman 2002) — the mixing COEFFICIENT
    // over the shared md5 graph, joining the seven structural shapes
    // (BFS/CC/PageRank/triangles/k-core/LPA/HITS) with the standard
    // summary statistic: do high-degree vertices attach to high-degree
    // vertices? r is the Pearson correlation of endpoint degrees over
    // edges; with S1 = Σ j·k, S2 = Σ (j+k), S3 = Σ (j²+k²) over the M
    // undirected edges it CLEARS to r = (4·M·S1 − S2²)/(2·M·S3 − S2²) —
    // every term an exact integer (the q46 moment discipline), emitted
    // as posmod-floored ppm with the x162 zero-variance guard (a regular
    // graph has denominator 0 ⇒ r := 0). One degree agg + two
    // dim-degree joins + one moment sum — all edge-table-sized.
    "x195_assortativity" -> ((s, d) => assortativity(md5Graph(s, d)._1)),

    // Log-rounds connected components (x180, Kiveris et al. 2014 large-
    // star/small-star) — the DIAMETER-ROBUST CC the x178 percolation
    // lesson asks for: x37's min-label propagation needs diameter-many
    // rounds (a 500-vertex path needs ~250), while alternating large/
    // small-star contracts in O(log) rounds regardless of shape (the
    // pointer-jumping idea as pure equi-join/agg rounds). The gate graph
    // FORCES the distinction: a 500-vertex PATH on the low key stripe
    // (diameter 499 — the md5 draws of the shared graph would shortcut
    // it, so the random stripe is keyed ≥ 500 and never touches the
    // path) plus the usual 3-draw md5 random graph on [500, n).
    // Convergence is budgeted (13 pairs — measured 10 at both SFs) with
    // the x105 discipline: one EXTRA pair runs and the in-query
    // `converged` boolean asserts it changed nothing; the oracle expects
    // TRUE, so an under-budgeted run turns the gate red instead of
    // silently mislabeling. Per round: two groupBy-min aggs + two
    // co-partitioned joins over the (shrinking) edge table; the oracle
    // replays all 28 star steps as generated MATERIALIZED CTEs (the
    // x72/x167 pattern).
    "x180_logstar_cc" -> ((s, d) => {
      import s.implicits._
      val R = 13
      val verts = table(s, d, "customer").select(col("c_custkey").as("v"))
      val n = verts.count()
      val stripe = verts
        .where(col("v") >= 500)
        .crossJoin(broadcast(Seq(0, 1, 2).toDF("i")))
        .select(
          col("v").as("u"),
          (Hashing.md5Bucket(
            concat(col("v").cast("string"), lit("#e"), col("i").cast("string")),
            math.max(1L, n - 500)) + 500L).as("w")
        )
        .where(col("u") =!= col("w"))
        .select(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b"))
      val path = verts
        .where(col("v") < 499 && col("v") + 1 < n)
        .select(col("v").as("a"), (col("v") + 1).as("b"))
      val e = Iterate(stripe.unionByName(path).distinct().localCheckpoint(), 1 to R)((g, _) =>
        starStep(starStep(g, large = true), large = false))
      val post = starStep(starStep(e, large = true), large = false).localCheckpoint()
      val converged =
        post.except(e).limit(1).count() == 0 && e.except(post).limit(1).count() == 0
      val sym = e
        .select(col("a").as("x"), col("b").as("y"))
        .unionByName(e.select(col("b").as("x"), col("a").as("y")))
      val labs = sym.groupBy("x").agg(least(col("x"), min(col("y"))).as("lbl"))
      val lab = verts
        .join(labs.select(col("x").as("v"), col("lbl")), Seq("v"), "left")
        .select(col("v").as("node"), coalesce(col("lbl"), col("v")).as("label"))
      val sizes = lab.groupBy("label").agg(count(lit(1)).as("comp_size"))
      lab
        .join(sizes, "label")
        .select(
          col("node"),
          col("label"),
          col("comp_size"),
          lit(converged).as("converged"),
          lit(R.toLong).as("rounds")
        )
        .orderBy("node")
    }),

    "x105_kcore" -> ((s, d) => {
      val K = 3
      val Rounds = 12
      val (edges, _) = md5Graph(s, d)
      def induced(nodes: DataFrame): DataFrame = edges
        .join(nodes.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(nodes.select(col("v").as("b")), Seq("b"), "left_semi")
      def degrees(alive: DataFrame): DataFrame = alive
        .select(col("a").as("v"))
        .union(alive.select(col("b").as("v")))
        .groupBy("v")
        .agg(count(lit(1)).as("dg"))
      val init = edges
        .select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .distinct()
        .localCheckpoint()
      val nodes = Iterate(init, 1 to Rounds)((nd, _) => degrees(induced(nd)).where(col("dg") >= K).select("v"))
      val aliveF = induced(nodes).localCheckpoint() // feeds edge count + final degrees
      val degF = degrees(aliveF).localCheckpoint() // feeds histogram + convergence agg
      val stats = degF
        .agg(count(lit(1)).as("nf"), min("dg").as("mindg"))
        .crossJoin(nodes.agg(count(lit(1)).as("nn")))
        .crossJoin(aliveF.agg(count(lit(1)).as("n_core_edges")))
        .select(
          (col("nf") === col("nn") && coalesce(col("mindg") >= K, lit(true))).as("converged"),
          col("nn").as("n_core_nodes"),
          col("n_core_edges")
        )
      degF
        .groupBy("dg")
        .agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(stats))
        .select(
          col("dg").as("core_degree"),
          col("n_nodes"),
          col("n_core_nodes"),
          col("n_core_edges"),
          col("converged")
        )
        .orderBy("core_degree")
    }),

    // Label-propagation communities (x109) — the sixth graph shape (q55
    // BFS, x37 CC, q62 PageRank, x95 triangles, x105 k-core, now
    // community detection): five SYNCHRONOUS rounds over the shared md5
    // graph; each vertex adopts the most frequent label among its
    // neighbors, ties broken by MIN label, so every round is a
    // deterministic pure function of the previous labeling (async /
    // randomized LPA variants are not oracle-checkable). Per-round cost =
    // one edges⋈labels hash join + one (v,lbl) count + one per-v argmax
    // (single max(struct(count, -lbl)) agg — no window); the label table
    // shuffles, the checkpointed edge blocks never re-shuffle from source
    // (the x105 discipline). The oracle replays all five rounds as
    // chained MATERIALIZED CTEs; the gate pins every (community, size)
    // row, i.e. the full final partition of the vertex set.
    // HITS hubs & authorities (x167, Kleinberg 1999) — the SEVENTH graph
    // shape (BFS q55, PageRank q62, CC x37, triangles x95, k-core x105,
    // LPA x109): unlike PageRank's single score, HITS alternates two
    // mutually-recursive ones over the DIRECTED md5 draw graph (u→w,
    // self-loops dropped, deduped — direction matters here, so the
    // canonical undirected table the other six share is deliberately not
    // reused). 4 rounds of a ← Σ_{u→v} h(u), h ← Σ_{v→w} a(w), each
    // half-step max-normalized back to the ≤1000 integer grid (den =
    // max div 1000 + 1; scores are non-negative, so plain floor div
    // agrees cross-engine without posmod clearing); isolated vertices
    // ride the census via left join + coalesce(0). Scale shape: per
    // half-step one co-partitioned edges⋈scores join + one vertex-key
    // agg, edge table localCheckpointed once, scores per round (the
    // q62/x165 fixed-iteration discipline); normalizers are broadcast
    // 1-row aggs.
    "x167_hits" -> ((s, d) => {
      import s.implicits._
      val verts = table(s, d, "customer").select(col("c_custkey").as("v")).localCheckpoint()
      val n = verts.count()
      val edges = verts
        .crossJoin(broadcast(Seq(0, 1, 2).toDF("i")))
        .select(
          col("v").as("u"),
          (Hashing.md5Bucket(concat(col("v").cast("string"), lit("#e"), col("i").cast("string")), n) + 1L)
            .as("w")
        )
        .where(col("u") =!= col("w"))
        .distinct()
        .localCheckpoint() // 8 join refs across the 4 rounds
      var hub = verts.select(col("v"), lit(1000L).as("h")).localCheckpoint()
      var auth: DataFrame = hub.select(col("v"), col("h").as("a"))
      for (_ <- 1 to 4) {
        val aFull = verts
          .join(
            edges.join(hub.select(col("v").as("u"), col("h")), "u").groupBy(col("w").as("v")).agg(sum("h").as("a0")),
            Seq("v"),
            "left"
          )
          .select(col("v"), coalesce(col("a0"), lit(0L)).as("a0"))
        val aden = aFull.agg(expr("(max(a0) div 1000) + 1").as("den"))
        auth = aFull
          .crossJoin(broadcast(aden))
          .select(col("v"), expr("a0 div den").as("a"))
          .localCheckpoint()
        val hFull = verts
          .join(
            edges.join(auth.select(col("v").as("w"), col("a")), "w").groupBy(col("u").as("v")).agg(sum("a").as("h0")),
            Seq("v"),
            "left"
          )
          .select(col("v"), coalesce(col("h0"), lit(0L)).as("h0"))
        val hden = hFull.agg(expr("(max(h0) div 1000) + 1").as("den"))
        hub = hFull
          .crossJoin(broadcast(hden))
          .select(col("v"), expr("h0 div den").as("h"))
          .localCheckpoint()
      }
      hub
        .join(auth, Seq("v"))
        .select(col("v"), col("h").as("hub_e3"), col("a").as("auth_e3"))
        .orderBy("v")
    }),

    "x109_label_propagation" -> ((s, d) => {
      val Rounds = 5
      val (edges, _) = md5Graph(s, d)
      val de = edges
        .select(col("a").as("u"), col("b").as("w"))
        .union(edges.select(col("b").as("u"), col("a").as("w")))
        .localCheckpoint()
      val init = de
        .select(col("u").as("v"))
        .distinct()
        .withColumn("lbl", col("v"))
        .localCheckpoint()
      // argmax by (count, -label): max count wins, then min label — one
      // agg instead of a max-count window + equality filter
      def lpaRound(lb: DataFrame): DataFrame = de
        .join(lb.select(col("v").as("w"), col("lbl")), "w")
        .groupBy(col("u").as("v"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("v")
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("v"), (-col("m.neg")).as("lbl"))
      val labels = Iterate(init, 1 to Rounds, every = 2)((lb, _) => lpaRound(lb))
      val comm = labels.groupBy("lbl").agg(count(lit(1)).as("size"))
      val stats = comm.agg(
        count(lit(1)).as("n_communities"),
        max("size").as("max_size"),
        sum("size").as("n_vertices")
      )
      comm
        .select(col("lbl").as("community"), col("size"))
        .crossJoin(broadcast(stats))
        .orderBy("community")
    }),

    // PageRank over the supplier↔order↔customer graph, 5 fixed iterations
    // in integer micro-units — the third graph-analytics shape (q55 BFS
    // reachability, x37 connected components, and now importance
    // propagation). All arithmetic is integer (r div deg contributions,
    // damping as ·850 div 1000), so the sum order cannot perturb a single
    // unit and the DuckDB oracle (5 unrolled CTE iterations of the same
    // formulas) matches bit-for-bit. Scale shape per iteration: ONE shuffle
    // join of ranks against the (localCheckpointed once) edge table + one
    // hash agg on dst — Pregel's superstep on DataFrames; lineage is cut
    // by [[Iterate]], like connectedComponents.
    "q62_pagerank" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .select((col("l_suppkey") * 4 + 1).as("a"), (col("l_orderkey") * 4 + 2).as("b"))
      val oc = table(s, d, "orders")
        .select((col("o_orderkey") * 4 + 2).as("a"), (col("o_custkey") * 4 + 3).as("b"))
      // r11: fold deg into the edge table ONCE (one extra materialization)
      // so each superstep joins ranks against a single table — the old
      // shape re-joined deg every iteration (2 joins/superstep → 1)
      val edges = li
        .union(oc)
        .union(li.select(col("b").as("a"), col("a").as("b")))
        .union(oc.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .withColumnRenamed("a", "src")
        .withColumnRenamed("b", "dst")
        .localCheckpoint()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val edgesDeg = edges.join(deg, "src").localCheckpoint()
      val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
      // r11 s3: the graph is symmetric by construction (both directions
      // unioned), so every node is the dst of ≥1 edge and the contribs
      // aggregation already yields one row per node — the old
      // nodes-left-join + coalesce(sc, 0) was inner-equivalent dead weight
      // (one shuffle join per superstep gone; same ranks table).
      def step(rk: DataFrame): DataFrame = edgesDeg
        .join(rk.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("sc"))
        .select(col("node"), expr("150000 + (850 * sc) div 1000").as("r"))
      Iterate(nodes.withColumn("r", lit(1000000L)), 1 to 5, every = 2)((rk, _) => step(rk))
        .select(
          when(pmod(col("node"), lit(4L)) === 1L, "S")
            .when(pmod(col("node"), lit(4L)) === 2L, "O")
            .otherwise("C")
            .as("node_type"),
          expr("node div 4").as("id"),
          col("r")
        )
        .orderBy(col("r").desc, col("node_type"), col("id"))
        .limit(20)
    }),

    // Weighted single-source shortest paths (x152) — bounded Bellman-Ford
    // over q55/q62's packed-node graph, now with EDGE WEIGHTS: the
    // min-plus semiring (relax dist' = min(dist, dist[src] + w)) where
    // q55's BFS is the boolean one and q62's PageRank the weighted-sum
    // one. Weights are closed-form integers (supp–order: 1 + ⌊quantity⌋
    // mod 7, min over parallel lineitem edges; order–cust: 1 + orderkey
    // mod 5), so the oracle can rebuild the weighted edge table and
    // enumerate all ≤4-edge paths in a recursive CTE (bounded fan-out
    // from one source — the quadratic twin lives oracle-side only).
    // Scale shape: the iterative q55/q62 discipline — edges deduped and
    // localCheckpointed ONCE (min-weight per pair folded into that same
    // shuffle), 4 rounds of equi-join + min-agg on 8-byte keys, dist
    // checkpointed by [[Iterate]]. Output is per-node-type
    // aggregates with a Σ node·dist digest, which pins EVERY node's
    // final distance, not just the extremes.
    "x152_weighted_sssp" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .select(
          (col("l_suppkey") * 4 + 1).as("a"),
          (col("l_orderkey") * 4 + 2).as("b"),
          (lit(1L) + pmod(col("l_quantity").cast("long"), lit(7L))).as("w")
        )
      val oc = table(s, d, "orders")
        .select(
          (col("o_orderkey") * 4 + 2).as("a"),
          (col("o_custkey") * 4 + 3).as("b"),
          (lit(1L) + pmod(col("o_orderkey"), lit(5L))).as("w")
        )
      val edges = li
        .unionByName(oc)
        .unionByName(li.select(col("b").as("a"), col("a").as("b"), col("w")))
        .unionByName(oc.select(col("b").as("a"), col("a").as("b"), col("w")))
        .groupBy(col("a").as("src"), col("b").as("dst"))
        .agg(min("w").as("w")) // parallel edges fold to min in the SAME dedup shuffle
        .localCheckpoint()
      import s.implicits._
      def relax(dd: DataFrame): DataFrame = {
        val relaxed = dd
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dd.unionByName(relaxed).groupBy("node").agg(min("dist").as("dist"))
      }
      val source = Seq((5L, 0L)).toDF("node", "dist") // supplier 1 = 1·4+1
      Iterate(source, 1 to 4, every = 2)((dd, _) => relax(dd))
        .groupBy(pmod(col("node"), lit(4L)).as("ntype"))
        .agg(
          count(lit(1)).as("n_reached"),
          sum("dist").as("dist_sum"),
          min("dist").as("dist_min"),
          max("dist").as("dist_max"),
          sum(col("node") * col("dist")).as("wdigest")
        )
        .orderBy("ntype")
    }),

    // Association-rule mining (x153) — the A-Priori 2-itemset core
    // (Agrawal & Srikant 1994) over order baskets: support = baskets
    // containing both parts, confidence and lift in ppm integer fixed
    // point (lift > 1e6 ⇔ positively associated). Scale shape: baskets
    // are BOUNDED (an order holds a handful of parts at any SF), so the
    // per-basket pair self-join is a bounded quadratic on the basket key
    // — one shuffle on orderkey, output ≈ baskets × (items choose 2) —
    // and the item-frequency joins are vocab-sized. The (order, part)
    // dedup is the one corpus-sized shuffle, reused by both sides.
    "x153_assoc_rules" -> ((s, d) => {
      val bi = table(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint() // three plan refs: basket count, item counts, pair join
      val nb = bi.agg(countDistinct("o").as("nb"))
      val cnt = bi.groupBy("p").agg(count(lit(1)).as("cnt"))
      val pairs = bi
        .as("x")
        .join(bi.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("pa"), col("y.p").as("pb"))
        .agg(count(lit(1)).as("support"))
      pairs
        .join(cnt.select(col("p").as("pa"), col("cnt").as("ca")), "pa")
        .join(cnt.select(col("p").as("pb"), col("cnt").as("cb")), "pb")
        .crossJoin(broadcast(nb))
        .select(
          col("pa"),
          col("pb"),
          col("support"),
          expr("(support * 1000000L) div ca").as("conf_ab_ppm"),
          expr("(support * 1000000L) div cb").as("conf_ba_ppm"),
          expr("(support * nb * 1000000L) div (ca * cb)").as("lift_ppm")
        )
        .orderBy(col("support").desc, col("pa"), col("pb"))
        .limit(40)
    }),

    // edit-distance fuzzy matching — the approximate-string-join primitive
    // (entity resolution, typo-tolerant dim lookups). The 25-name nation
    // side is driver-bounded, so the all-pairs comparison is a broadcast
    // nested loop over a tiny relation — the ONE shape where that plan is
    // correct; at scale one side is always reduced (q-gram prefix filter or
    // x03-style LSH candidates) before exact levenshtein verification.
    "q61_fuzzy_match" -> ((s, d) => {
      val n = table(s, d, "nation").select(col("n_name"))
      n.as("a")
        .join(n.as("b"), col("a.n_name") < col("b.n_name"))
        .select(
          col("a.n_name").as("name_a"),
          col("b.n_name").as("name_b"),
          levenshtein(col("a.n_name"), col("b.n_name")).cast("long").as("dist")
        )
        .where(col("dist") <= 1L)
        .orderBy("name_a", "name_b")
    }),

    // multiset (bag) semantics: INTERSECT ALL / EXCEPT ALL keep duplicate
    // multiplicity (min / difference of per-row counts) — the set-op family
    // q11's distinct variants can't express. Catalyst plans both as a
    // single count-aggregate + generate (no pairwise join).
    "q60_set_ops_all" -> ((s, d) => {
      val o = table(s, d, "orders")
      def statuses(yr: Int) =
        o.where(year(col("o_orderdate")) === yr).select("o_orderstatus")
      val a = statuses(1996)
      val b = statuses(1997)
      a.intersectAll(b)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("o_orderstatus"), col("n"))
        .unionAll(
          a.exceptAll(b)
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"))
            .select(lit("except_all").as("op"), col("o_orderstatus"), col("n"))
        )
        .orderBy("op", "o_orderstatus")
    })
  )

  /** q58 VARIANT: Spark 4's native semi-structured type — `parse_json` once
    * into a VARIANT column, then typed `variant_get` path extraction. The
    * modern engine path for schema-flexible columns (q16 covers the classic
    * string-JSON functions): VARIANT parses the document ONCE into a binary
    * encoding; repeated path reads skip re-parsing, which at 100 TB of
    * event props is the difference between one parse and one per extraction.
    * The aggregate below groups by a VARIANT-extracted bucket to prove the
    * extraction feeds relational ops like any typed column. */
  private val variantQuery: (SparkSession, String) => DataFrame = (s, d) => {
    // ONE parse per row is the whole point of VARIANT — and of this plan
    // shape. An earlier revision guarded bucketing with `.where(k >= 0)`;
    // Catalyst pushes that filter through the projection, re-substituting
    // `variant_get(parse_json(...))` into the filter condition, so every
    // row paid the (interpreted, allocation-heavy) parse twice. Bucketing
    // instead uses the posmod floor-division formula — total over negatives
    // and identical in Spark and DuckDB (the x57 convention; Spark `div`
    // truncates toward zero, DuckDB `//` varies by version) — so no filter
    // is needed and the plan is Scan → Project(parse once) → two-phase agg.
    graft.Graft
      .events(s, d)
      .select(
        col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k")
      )
      .groupBy(
        expr("(k - ((k % 10 + 10) % 10)) div 10").as("k_bucket"),
        col("event_type")
      )
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
      .orderBy("k_bucket", "event_type")
  }

  /** x180 oracle: the same 13 large/small pairs + the convergence pair,
    * every star step three generated MATERIALIZED CTEs (the x72/x167
    * generated-oracle pattern; plain CTEs re-expand per reference — the
    * x158 DuckDB lesson). */
  private def x180OracleSql: String = {
    val R = 13
    def step(k: Int, large: Boolean): String = {
      val (src, dst, sym, mn) = (s"e$k", s"e${k + 1}", s"sy$k", s"mn$k")
      val s1 = s"$sym AS MATERIALIZED (SELECT a AS u, b AS v FROM $src UNION ALL SELECT b, a FROM $src)"
      val s2 = s"$mn AS MATERIALIZED (SELECT u, least(u, min(v)) AS m FROM $sym GROUP BY u)"
      val s3 =
        if (large)
          s"$dst AS MATERIALIZED (SELECT DISTINCT mm.m AS a, s.v AS b" +
            s" FROM $sym s JOIN $mn mm USING (u) WHERE s.v > s.u)"
        else
          s"$dst AS MATERIALIZED (SELECT DISTINCT a, b FROM (" +
            s"SELECT mm.m AS a, s.v AS b FROM $sym s JOIN $mn mm USING (u) WHERE s.v < s.u AND s.v <> mm.m" +
            s" UNION ALL SELECT mm.m AS a, mm.u AS b FROM $mn mm WHERE mm.u <> mm.m))"
      s"$s1,\n$s2,\n$s3"
    }
    val steps = (0 until 2 * R + 2).map(k => step(k, large = k % 2 == 0)).mkString(",\n")
    val (fin, post) = (s"e${2 * R}", s"e${2 * R + 2}")
    s"""WITH nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(u, w) AS a, greatest(u, w) AS b FROM (
       |    SELECT c_custkey AS u,
       |      500 + ('0x' || substr(md5(c_custkey::VARCHAR || '#e' || i), 1, 15))::BIGINT
       |        % greatest(1, (SELECT n FROM nv) - 500) AS w
       |    FROM customer, (SELECT unnest(range(3)) AS i) WHERE c_custkey >= 500) t
       |  WHERE u <> w
       |  UNION
       |  SELECT c_custkey, c_custkey + 1 FROM customer
       |  WHERE c_custkey < 499 AND c_custkey + 1 < (SELECT n FROM nv)),
       |$steps,
       |dc AS (SELECT count(*) AS d FROM (
       |  (SELECT * FROM $fin EXCEPT SELECT * FROM $post)
       |  UNION ALL (SELECT * FROM $post EXCEPT SELECT * FROM $fin))),
       |syf AS (SELECT a AS x, b AS y FROM $fin UNION ALL SELECT b, a FROM $fin),
       |lb AS (SELECT x, least(x, min(y)) AS lbl FROM syf GROUP BY x),
       |lab AS (
       |  SELECT c_custkey AS node, coalesce(lb.lbl, c_custkey) AS label
       |  FROM customer LEFT JOIN lb ON c_custkey = lb.x),
       |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS comp_size FROM lab GROUP BY 1)
       |SELECT lab.node, lab.label, sz.comp_size,
       |  (SELECT d FROM dc) = 0 AS converged, CAST($R AS BIGINT) AS rounds
       |FROM lab JOIN sz USING (label) ORDER BY node""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // x195: the same graph formula → degrees → edge moments → cleared
    // assortativity, HUGEINT carrying the cross products.
    "x195_assortativity" ->
      """WITH nv AS (SELECT count(*) AS n FROM customer),
        |raw AS (
        |  SELECT c_custkey AS u,
        |    ('0x' || substr(md5(c_custkey::VARCHAR || '#e' || i), 1, 15))::BIGINT
        |      % (SELECT n FROM nv) + 1 AS w
        |  FROM customer, (SELECT unnest(range(3)) AS i)),
        |e AS (
        |  SELECT DISTINCT least(u, w) AS a, greatest(u, w) AS b
        |  FROM raw WHERE u <> w),
        |deg AS (
        |  SELECT v, count(*) AS dg
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(d1.dg * d2.dg) AS BIGINT) AS s1,
        |    CAST(sum(d1.dg + d2.dg) AS BIGINT) AS s2,
        |    CAST(sum(d1.dg * d1.dg + d2.dg * d2.dg) AS BIGINT) AS s3
        |  FROM e JOIN deg d1 ON e.a = d1.v JOIN deg d2 ON e.b = d2.v)
        |SELECT m, s1, s2, s3,
        |  CAST(CASE WHEN 2::HUGEINT * m * s3 - s2::HUGEINT * s2 = 0 THEN 0
        |    ELSE ((4::HUGEINT * m * s1 - s2::HUGEINT * s2) * 1000000
        |      - (((4::HUGEINT * m * s1 - s2::HUGEINT * s2) * 1000000
        |          % (2::HUGEINT * m * s3 - s2::HUGEINT * s2)
        |          + (2::HUGEINT * m * s3 - s2::HUGEINT * s2))
        |         % (2::HUGEINT * m * s3 - s2::HUGEINT * s2)))
        |      // (2::HUGEINT * m * s3 - s2::HUGEINT * s2) END AS BIGINT) AS r_ppm
        |FROM m""".stripMargin,

    "x180_logstar_cc" -> x180OracleSql,
    // the full orientation pipeline replayed in SQL: md5 edge formulas →
    // canonical dedup → degrees → (deg, id) orientation → wedge join →
    // triangle EXISTS — exact, because every step is integer/set algebra
    // x259: the same draw graph, reciprocity semi-join, degree-census
    // wedge fold, and x95 triangle machinery.
    "x259_graph_coefficients" ->
      """WITH nv AS (SELECT count(*) AS n FROM customer),
        |raw AS (
        |  SELECT c_custkey AS u,
        |    ('0x' || substr(md5(c_custkey::VARCHAR || '#e' || i), 1, 15))::BIGINT
        |      % (SELECT n FROM nv) + 1 AS w
        |  FROM customer, (SELECT unnest(range(3)) AS i)),
        |dir AS (SELECT DISTINCT u, w FROM raw WHERE u <> w),
        |nd AS (SELECT count(*) AS n_dir FROM dir),
        |rc AS (SELECT count(*) AS n_recip FROM dir
        |  WHERE EXISTS (SELECT 1 FROM dir d2 WHERE d2.u = dir.w AND d2.w = dir.u)),
        |e AS (SELECT DISTINCT least(u, w) AS a, greatest(u, w) AS b FROM dir),
        |deg AS (SELECT v, count(*) AS dg
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
        |wt AS (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS wedges FROM deg),
        |o AS (
        |  SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND e.a < e.b) THEN e.a ELSE e.b END AS src,
        |         CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND e.a < e.b) THEN e.b ELSE e.a END AS dst
        |  FROM e JOIN deg d1 ON e.a = d1.v JOIN deg d2 ON e.b = d2.v),
        |wg AS (SELECT o1.src AS x, o1.dst AS y, o2.dst AS z FROM o o1 JOIN o o2 ON o1.dst = o2.src),
        |tr AS (SELECT count(*) AS n_triangles FROM wg
        |  WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wg.x AND o.dst = wg.z))
        |SELECT CAST((SELECT n FROM nv) AS BIGINT) AS n_vertices,
        |  nd.n_dir, rc.n_recip,
        |  CAST((rc.n_recip * 1000000) // nd.n_dir AS BIGINT) AS reciprocity_ppm,
        |  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_und,
        |  wt.wedges, CAST(tr.n_triangles AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN wt.wedges = 0 THEN 0
        |       ELSE (3 * tr.n_triangles * 1000000) // wt.wedges END AS BIGINT) AS transitivity_ppm
        |FROM nd, rc, wt, tr""".stripMargin,
    "x95_triangle_count" ->
      """WITH nv AS (SELECT count(*) AS n FROM customer),
        |raw AS (
        |  SELECT c_custkey AS u,
        |    ('0x' || substr(md5(c_custkey::VARCHAR || '#e' || i), 1, 15))::BIGINT
        |      % (SELECT n FROM nv) + 1 AS w
        |  FROM customer, (SELECT unnest(range(3)) AS i)),
        |e AS (
        |  SELECT DISTINCT least(u, w) AS a, greatest(u, w) AS b
        |  FROM raw WHERE u <> w),
        |deg AS (
        |  SELECT v, count(*) AS dg
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
        |o AS (
        |  SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND e.a < e.b) THEN e.a ELSE e.b END AS src,
        |         CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND e.a < e.b) THEN e.b ELSE e.a END AS dst
        |  FROM e JOIN deg d1 ON e.a = d1.v JOIN deg d2 ON e.b = d2.v),
        |wg AS (
        |  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
        |  FROM o o1 JOIN o o2 ON o1.dst = o2.src),
        |tr AS (
        |  SELECT * FROM wg WHERE EXISTS (
        |    SELECT 1 FROM o WHERE o.src = wg.x AND o.dst = wg.z))
        |SELECT CAST((SELECT n FROM nv) AS BIGINT) AS n_vertices,
        |  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM wg) AS BIGINT) AS n_wedges,
        |  CAST((SELECT count(*) FROM tr) AS BIGINT) AS n_triangles""".stripMargin,
    // x167: the directed draw graph + 4 HITS rounds as unrolled
    // MATERIALIZED half-steps (auth ← hubs, renorm, hub ← auths, renorm).
    "x167_hits" -> {
      val rounds = (1 to 4)
        .map { i =>
          s"""ar$i AS MATERIALIZED (
             |  SELECT vt.v, coalesce(s.a0, 0) AS a0 FROM vt
             |  LEFT JOIN (SELECT e.w AS v, CAST(sum(h.h) AS BIGINT) AS a0
             |             FROM e JOIN h${i - 1} h ON e.u = h.v GROUP BY 1) s ON vt.v = s.v),
             |ad$i AS MATERIALIZED (SELECT (max(a0) // 1000) + 1 AS den FROM ar$i),
             |a$i AS MATERIALIZED (SELECT v, a0 // den AS a FROM ar$i, ad$i),
             |hr$i AS MATERIALIZED (
             |  SELECT vt.v, coalesce(s.h0, 0) AS h0 FROM vt
             |  LEFT JOIN (SELECT e.u AS v, CAST(sum(a.a) AS BIGINT) AS h0
             |             FROM e JOIN a$i a ON e.w = a.v GROUP BY 1) s ON vt.v = s.v),
             |hd$i AS MATERIALIZED (SELECT (max(h0) // 1000) + 1 AS den FROM hr$i),
             |h$i AS MATERIALIZED (SELECT v, h0 // den AS h FROM hr$i, hd$i)""".stripMargin
        }
        .mkString(",\n")
      s"""WITH nv AS (SELECT count(*) AS n FROM customer),
         |vt AS (SELECT c_custkey AS v FROM customer),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT u, w FROM (
         |    SELECT c_custkey AS u,
         |      ('0x' || substr(md5(c_custkey::VARCHAR || '#e' || i), 1, 15))::BIGINT
         |        % (SELECT n FROM nv) + 1 AS w
         |    FROM customer, (SELECT unnest(range(3)) AS i))
         |  WHERE u <> w),
         |h0 AS (SELECT v, CAST(1000 AS BIGINT) AS h FROM vt),
         |$rounds
         |SELECT h4.v, h4.h AS hub_e3, a4.a AS auth_e3
         |FROM h4 JOIN a4 ON h4.v = a4.v ORDER BY h4.v""".stripMargin
    },
    // x109: the same md5 graph, 5 synchronous label-propagation rounds
    // replayed as chained MATERIALIZED CTEs; the per-v argmax tie-break
    // (max count, then min label) is a max-count window + equality filter
    // + min agg — set algebra, hence exact.
    "x109_label_propagation" -> {
      val rounds = (1 to 5)
        .map { i =>
          s"""c$i AS MATERIALIZED (
             |  SELECT de.u AS v, l.lbl, count(*) AS c
             |  FROM de JOIN l${i - 1} l ON de.w = l.v GROUP BY 1, 2),
             |l$i AS MATERIALIZED (
             |  SELECT v, min(lbl) AS lbl FROM (
             |    SELECT v, lbl, c, max(c) OVER (PARTITION BY v) AS mx FROM c$i) t
             |  WHERE c = mx GROUP BY v)""".stripMargin
        }
        .mkString(",\n")
      s"""WITH nv AS (SELECT count(*) AS n FROM customer),
         |raw AS (
         |  SELECT c_custkey AS u,
         |    ('0x' || substr(md5(c_custkey::VARCHAR || '#e' || i), 1, 15))::BIGINT
         |      % (SELECT n FROM nv) + 1 AS w
         |  FROM customer, (SELECT unnest(range(3)) AS i)),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT least(u, w) AS a, greatest(u, w) AS b
         |  FROM raw WHERE u <> w),
         |de AS MATERIALIZED (SELECT a AS u, b AS w FROM e UNION ALL SELECT b AS u, a AS w FROM e),
         |l0 AS MATERIALIZED (
         |  SELECT v, v AS lbl FROM (SELECT DISTINCT u AS v FROM de) t),
         |$rounds,
         |comm AS (SELECT lbl, count(*) AS size FROM l5 GROUP BY lbl),
         |st AS (SELECT count(*) AS n_communities, max(size) AS max_size, sum(size) AS n_vertices FROM comm)
         |SELECT CAST(lbl AS BIGINT) AS community, CAST(size AS BIGINT) AS size,
         |  CAST(n_communities AS BIGINT) AS n_communities,
         |  CAST(max_size AS BIGINT) AS max_size,
         |  CAST(n_vertices AS BIGINT) AS n_vertices
         |FROM comm, st ORDER BY community""".stripMargin
    },
    // x105: the same md5 graph, 12 peel rounds replayed as chained CTEs
    // (the x57 fixed-iteration oracle discipline, generated
    // programmatically); `converged` is expected TRUE — an under-peeled
    // round budget turns the gate red rather than passing silently.
    "x105_kcore" -> {
      val rounds = (1 to 12)
        .map { i =>
          s"""a$i AS MATERIALIZED (
             |  SELECT e.a, e.b FROM e
             |  JOIN n${i - 1} x ON e.a = x.v JOIN n${i - 1} y ON e.b = y.v),
             |n$i AS MATERIALIZED (
             |  SELECT v FROM (
             |    SELECT v, count(*) AS dg
             |    FROM (SELECT a AS v FROM a$i UNION ALL SELECT b FROM a$i) GROUP BY v)
             |  WHERE dg >= 3)""".stripMargin
        }
        .mkString(",\n")
      s"""WITH nv AS (SELECT count(*) AS n FROM customer),
         |raw AS (
         |  SELECT c_custkey AS u,
         |    ('0x' || substr(md5(c_custkey::VARCHAR || '#e' || i), 1, 15))::BIGINT
         |      % (SELECT n FROM nv) + 1 AS w
         |  FROM customer, (SELECT unnest(range(3)) AS i)),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT least(u, w) AS a, greatest(u, w) AS b
         |  FROM raw WHERE u <> w),
         |n0 AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
         |$rounds,
         |af AS (
         |  SELECT e.a, e.b FROM e
         |  JOIN n12 x ON e.a = x.v JOIN n12 y ON e.b = y.v),
         |degf AS (
         |  SELECT v, count(*) AS dg
         |  FROM (SELECT a AS v FROM af UNION ALL SELECT b FROM af) GROUP BY v),
         |st AS (
         |  SELECT (SELECT count(*) FROM n12) AS n_core_nodes,
         |    (SELECT count(*) FROM af) AS n_core_edges)
         |SELECT CAST(dg AS BIGINT) AS core_degree, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(n_core_nodes AS BIGINT) AS n_core_nodes,
         |  CAST(n_core_edges AS BIGINT) AS n_core_edges,
         |  TRUE AS converged
         |FROM degf, st GROUP BY dg, n_core_nodes, n_core_edges ORDER BY core_degree""".stripMargin
    },
    "q62_pagerank" -> {
      val iters = (1 to 5)
        .map { i =>
          s"""r$i AS (
             |  SELECT n.node, 150000 + (850 * coalesce(s.sc, 0)) // 1000 AS r
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS node, sum(r.r // d.deg) AS sc
             |    FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
             |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
        }
        .mkString(",\n")
      s"""WITH edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT l_suppkey * 4 + 1 AS src, l_orderkey * 4 + 2 AS dst FROM lineitem
         |    UNION ALL SELECT l_orderkey * 4 + 2, l_suppkey * 4 + 1 FROM lineitem
         |    UNION ALL SELECT o_orderkey * 4 + 2, o_custkey * 4 + 3 FROM orders
         |    UNION ALL SELECT o_custkey * 4 + 3, o_orderkey * 4 + 2 FROM orders)),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |r0 AS (SELECT node, 1000000 AS r FROM nodes),
         |$iters
         |SELECT CASE node % 4 WHEN 1 THEN 'S' WHEN 2 THEN 'O' ELSE 'C' END AS node_type,
         |  node // 4 AS id, CAST(r AS BIGINT) AS r
         |FROM r5 ORDER BY r DESC, node_type, id LIMIT 20""".stripMargin
    },
    "q61_fuzzy_match" ->
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        |  CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
        |FROM nation a JOIN nation b ON a.n_name < b.n_name
        |WHERE levenshtein(a.n_name, b.n_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    "q60_set_ops_all" ->
      """WITH a AS (SELECT o_orderstatus FROM orders WHERE year(o_orderdate) = 1996),
        |     b AS (SELECT o_orderstatus FROM orders WHERE year(o_orderdate) = 1997),
        |ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
        |ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |SELECT 'intersect_all' AS op, o_orderstatus, count(*) AS n FROM ia GROUP BY 2
        |UNION ALL
        |SELECT 'except_all' AS op, o_orderstatus, count(*) AS n FROM ea GROUP BY 2
        |ORDER BY op, o_orderstatus""".stripMargin,
    "q58_variant" ->
      """WITH t AS (
        |  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT CAST((k - ((k % 10 + 10) % 10)) // 10 AS BIGINT) AS k_bucket,
        |  event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM t GROUP BY 1, 2 ORDER BY k_bucket NULLS FIRST, event_type""".stripMargin,
    "q52_unpivot" ->
      """SELECT o_orderpriority, o_orderstatus AS status, count(*) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q53_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |                        (o_orderstatus, o_orderpriority))
        |ORDER BY status, priority""".stripMargin,
    "q54_map_funcs" ->
      """SELECT o_orderpriority,
        |  count(DISTINCT o_orderstatus) AS n_statuses,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  count(*) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q55_recursive_reach" ->
      """WITH RECURSIVE
        |edges AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT l_suppkey * 4 + 1 AS src, l_orderkey * 4 + 2 AS dst FROM lineitem
        |    UNION ALL SELECT l_orderkey * 4 + 2, l_suppkey * 4 + 1 FROM lineitem
        |    UNION ALL SELECT o_orderkey * 4 + 2, o_custkey * 4 + 3 FROM orders
        |    UNION ALL SELECT o_custkey * 4 + 3, o_orderkey * 4 + 2 FROM orders)),
        |walk(node, hop) AS (
        |  SELECT 5, 0
        |  UNION
        |  SELECT e.dst, w.hop + 1 FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.hop < 3),
        |minhop AS (SELECT node, min(hop) AS hop FROM walk GROUP BY node)
        |SELECT CASE node % 4 WHEN 1 THEN 'S' WHEN 2 THEN 'O' ELSE 'C' END AS node_type,
        |  hop, count(*) AS n
        |FROM minhop GROUP BY 1, 2 ORDER BY node_type, hop""".stripMargin,
    "x153_assoc_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |nb AS (SELECT count(DISTINCT o) AS nb FROM bi),
        |cnt AS (SELECT p, count(*) AS cnt FROM bi GROUP BY 1),
        |pairs AS (
        |  SELECT x.p AS pa, y.p AS pb, count(*) AS support
        |  FROM bi x JOIN bi y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2)
        |SELECT pa, pb, support,
        |  (support * 1000000) // ca AS conf_ab_ppm,
        |  (support * 1000000) // cb AS conf_ba_ppm,
        |  (support * nb * 1000000) // (ca * cb) AS lift_ppm
        |FROM (
        |  SELECT pairs.pa, pairs.pb, pairs.support, a.cnt AS ca, b.cnt AS cb, nb.nb
        |  FROM pairs JOIN cnt a ON pairs.pa = a.p JOIN cnt b ON pairs.pb = b.p CROSS JOIN nb)
        |ORDER BY support DESC, pa, pb LIMIT 40""".stripMargin,
    // x152: weighted edges rebuilt from the closed-form weight formulas;
    // all ≤4-edge walks enumerated with state dedup (UNION over
    // (node, dist, r) — distances are small integers, so the state space
    // is nodes × ~25, never the path count), then min per node.
    "x152_weighted_sssp" ->
      """WITH RECURSIVE
        |edges AS (
        |  SELECT src, dst, min(w) AS w FROM (
        |    SELECT l_suppkey * 4 + 1 AS src, l_orderkey * 4 + 2 AS dst,
        |           1 + CAST(l_quantity AS BIGINT) % 7 AS w FROM lineitem
        |    UNION ALL
        |    SELECT l_orderkey * 4 + 2, l_suppkey * 4 + 1,
        |           1 + CAST(l_quantity AS BIGINT) % 7 FROM lineitem
        |    UNION ALL
        |    SELECT o_orderkey * 4 + 2, o_custkey * 4 + 3, 1 + o_orderkey % 5 FROM orders
        |    UNION ALL
        |    SELECT o_custkey * 4 + 3, o_orderkey * 4 + 2, 1 + o_orderkey % 5 FROM orders)
        |  GROUP BY 1, 2),
        |walk(node, dist, r) AS (
        |  SELECT CAST(5 AS BIGINT), CAST(0 AS BIGINT), 0
        |  UNION
        |  SELECT e.dst, wk.dist + e.w, wk.r + 1
        |  FROM walk wk JOIN edges e ON wk.node = e.src WHERE wk.r < 4),
        |best AS (SELECT node, min(dist) AS dist FROM walk GROUP BY 1)
        |SELECT node % 4 AS ntype, count(*) AS n_reached,
        |  CAST(sum(dist) AS BIGINT) AS dist_sum,
        |  min(dist) AS dist_min, max(dist) AS dist_max,
        |  CAST(sum(node * dist) AS BIGINT) AS wdigest
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
