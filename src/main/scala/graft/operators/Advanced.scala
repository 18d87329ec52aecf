package graft.operators

import graft.Graft
import graft.Graft.table
import graft.etl.ReferenceData
import graft.sources.Fixture
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Second operator batch: the SQL entry point (temp views + spark.sql with
  * correlated/scalar subqueries), CUBE, exact percentiles, ordered string
  * aggregation, regex functions, an as-of join, deterministic hash
  * sampling, and null-handling ops (SURVEY.md §2.4-§2.5 completeness).
  *
  * The as-of join (absent from both the reference and stock Spark) is
  * composed from a union + running `last(ignoreNulls)` window — one shuffle
  * on the key, no range explosion, the standard scalable Spark shape. The
  * DuckDB oracle uses its native ASOF JOIN, so the test also proves the
  * composition's semantics.
  */
object Advanced {

  /** base hash → [0,100) bucket, identical in both engines (see Hashing). */
  private def hashBucket(c: org.apache.spark.sql.Column) =
    graft.functions.Hashing.md5Bucket(c.cast("string"), 100L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Join-amplification census (x246) — the pre-flight check BEFORE a
    // 100 TB key join: exact output size from the key censuses alone
    // (self-join rows = Σ c_k², never run the join to learn it will
    // explode) + the top-10 amplifying keys (the salting candidates for
    // x38/AQE skew handling). The exactness LAW is verified in-query on
    // a 1%-of-keys slice (est ≡ actual — the x234 instrument
    // discipline, slice-bounded so the verification leg itself stays
    // scale-safe). One census with map-side combine; top-10 is
    // TakeOrderedAndProject.
    "x246_join_amplification" -> ((s, d) => {
      val keys = table(s, d, "lineitem").select(col("l_partkey").as("k")).localCheckpoint()
      val census = keys.groupBy("k").agg(count(lit(1)).as("c")).localCheckpoint()
      val summary = census.agg(sum(expr("c * c")).as("est_self_join_rows"), count(lit(1)).as("n_keys"))
      val sliceEst = census
        .where(expr("k % 100 = 0"))
        .agg(coalesce(sum(expr("c * c")), lit(0L)).as("slice_est"))
      val sliceActual = keys
        .where(expr("k % 100 = 0"))
        .join(keys.where(expr("k % 100 = 0")).withColumnRenamed("k", "k2"), col("k") === col("k2"))
        .agg(count(lit(1)).as("slice_actual"))
      census
        .orderBy(col("c").desc, col("k"))
        .limit(10)
        .withColumn("amp", expr("c * c"))
        .crossJoin(broadcast(summary))
        .crossJoin(broadcast(sliceEst))
        .crossJoin(broadcast(sliceActual))
        .select("k", "c", "amp", "est_self_join_rows", "n_keys", "slice_est", "slice_actual")
        .orderBy(col("c").desc, col("k"))
    }),
    // KMV join-cardinality estimation (x234, Beyer et al. SIGMOD'07) —
    // the query-planning instrument: estimate the size of
    // filtered-orders ⋈ lineitem from two 256-slot bottom-k sketches
    // WITHOUT running the join, then verify against the exact counts in
    // the same result (est, exact, err_ppm per metric — the x224
    // instrument discipline: operator claims become measured operating
    // points). Distinct estimate D̂ = (k−1)·2⁶⁰ div h₍ₖ₎ (exact when the
    // side has < k keys); overlap = union-sketch agreement ρ·D̂_∪; join
    // rows = overlap · rows/key under the uniform-multiplicity planner
    // assumption — the err_ppm column reports exactly how wrong that
    // assumption is here. Scale shape: sketches are TakeOrderedAndProject
    // bottom-256 over hashed DISTINCT keys (map-side combine, per-
    // partition heaps); everything downstream is ≤256-row arithmetic.
    // The one full-size leg is the EXACT verification join — the thing
    // the estimator exists to avoid, present here as its own oracle.
    "x234_kmv_join_estimate" -> ((s, d) => {
      def hashed(df: DataFrame): DataFrame =
        df.select(
          graft.functions.Hashing.md5Window15(concat(col("k").cast("string"), lit("#jk"))).as("h")
        )
      val a = table(s, d, "orders")
        .where(expr("o_orderkey % 10 < 3"))
        .select(col("o_orderkey").as("k"))
        .distinct()
        .localCheckpoint() // sketch + exact counts + exact joins
      val bk = table(s, d, "lineitem")
        .select(col("l_orderkey").as("k"))
        .distinct()
        .localCheckpoint()
      val ska = hashed(a).orderBy("h").limit(256).localCheckpoint()
      val skb = hashed(bk).orderBy("h").limit(256).localCheckpoint()
      val sku = ska.unionByName(skb).distinct().orderBy("h").limit(256).localCheckpoint()
      def kmvEst(sk: DataFrame, alias: String): DataFrame =
        sk.agg(count(lit(1)).as("c"), max("h").as("hk"))
          .select(
            expr("IF(c < 256, c, CAST((CAST(255 AS DECIMAL(38,0)) * 1152921504606846976) div hk AS BIGINT))")
              .as(alias)
          )
      val rho = sku
        .join(ska, Seq("h"), "left_semi")
        .join(skb, Seq("h"), "left_semi")
        .agg(count(lit(1)).as("nboth"))
      val li = table(s, d, "lineitem").select(col("l_orderkey"))
      kmvEst(ska, "da")
        .crossJoin(broadcast(kmvEst(skb, "db")))
        .crossJoin(broadcast(kmvEst(sku, "du")))
        .crossJoin(broadcast(rho))
        .crossJoin(broadcast(a.agg(count(lit(1)).as("da_ex"))))
        .crossJoin(broadcast(bk.agg(count(lit(1)).as("db_ex"))))
        .crossJoin(broadcast(a.join(bk, "k").agg(count(lit(1)).as("ov_ex"))))
        .crossJoin(broadcast(li.agg(count(lit(1)).as("nli"))))
        .crossJoin(broadcast(li.join(a, col("l_orderkey") === col("k")).agg(count(lit(1)).as("jr_ex"))))
        .withColumn("ov_est", expr("(nboth * du) div 256"))
        .withColumn("jr_est", expr("(ov_est * nli) div db"))
        .selectExpr(
          "stack(4, 'd_orders_filtered', da, da_ex, 'd_lineitem_keys', db, db_ex, " +
            "'key_overlap', ov_est, ov_ex, 'join_rows', jr_est, jr_ex) AS (metric, est, exact)"
        )
        .withColumn("err_ppm", expr("IF(exact = 0, 0L, (abs(est - exact) * 1000000) div exact)"))
        .orderBy("metric")
    }),
    // CIDR longest-prefix enrichment join (x232) — the log-enrichment
    // staple (GeoIP/allowlist/ASN lookup): map each IPv4 to its most
    // specific containing network block. NEVER the ip×blocks theta join
    // at corpus scale — the x93 grid trick on /16 cells: a block with
    // prefix ≥ 16 lands in ONE cell, a shorter prefix expands to
    // 2^(16−plen) cells (few short blocks, bounded fan-out), the ip
    // stream equi-joins its single cell, and containment + the
    // longest-prefix argmax (pure-integer key plen·2³² + base, so both
    // engines break ties identically) run inside cells only. NESTED
    // blocks are PLANTED (every odd block is a +6-bits sub-block of its
    // even sibling), so the longest-prefix path is load-bearing, not
    // decorative. Output: per-winning-block hit counts + the unmatched
    // census row (base −1).
    "x232_cidr_join" -> ((s, d) => {
      val ips = table(s, d, "customer")
        .select(graft.functions.Hashing.md5Bucket(concat(col("c_custkey").cast("string"), lit("#ip")), 1L << 32).as("ip"))
        .distinct() // collision-clean universe: hits + unmatched = |ips|
        .localCheckpoint() // match + unmatched legs
      val blocks = s
        .range(64)
        .select(
          (col("id") % 2).as("odd"),
          graft.functions.Hashing
            .md5Bucket(concat((col("id") / 2).cast("long").cast("string"), lit("#cidr")), 1L << 32)
            .as("raw"),
          expr("8 + ((id div 2) * 3) % 16").as("p0")
        )
        .select(
          expr("CAST(p0 + IF(odd = 1, 6, 0) AS BIGINT)").as("plen"),
          expr("(raw div shiftleft(1L, CAST(32 - (p0 + IF(odd = 1, 6, 0)) AS INT))) * shiftleft(1L, CAST(32 - (p0 + IF(odd = 1, 6, 0)) AS INT))")
            .as("base")
        )
        .distinct()
        .localCheckpoint() // cell expansion + winner re-agg
      val cells = blocks
        .withColumn("lo_cell", expr("base div 65536"))
        .withColumn("hi_cell", expr("(base + shiftleft(1L, CAST(32 - plen AS INT)) - 1) div 65536"))
        .select(col("base"), col("plen"), explode(expr("sequence(lo_cell, hi_cell)")).as("cell"))
      val cand = ips
        .withColumn("cell", expr("ip div 65536"))
        .join(cells, "cell")
        .where(expr("ip div shiftleft(1L, CAST(32 - plen AS INT)) = base div shiftleft(1L, CAST(32 - plen AS INT))"))
        .localCheckpoint() // winner argmax + unmatched anti
      val winners = cand
        .groupBy("ip")
        .agg(max(expr("plen * 4294967296L + base")).as("key"))
        .groupBy(expr("key div 4294967296L").as("plen"), expr("key % 4294967296L").as("base"))
        .agg(count(lit(1)).as("n_hits"))
      val unmatched = ips
        .join(cand.select("ip"), Seq("ip"), "left_anti")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(-1L).as("plen"), lit(-1L).as("base"), col("n_hits"))
      winners.select(col("plen"), col("base"), col("n_hits")).unionByName(unmatched).orderBy("plen", "base")
    }),
    "q21_cube" -> ((s, d) => {
      table(s, d, "orders")
        .cube(col("o_orderstatus"), year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("yr").cast("string"), lit("ALL")).as("yr"),
          col("n_orders")
        )
        .orderBy("status", "yr")
    }),
    "q22_sql_exists" -> ((s, d) => {
      // SQL entry point: temp views + correlated EXISTS through spark.sql
      table(s, d, "supplier").createOrReplaceTempView("v_supplier")
      table(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""SELECT s_name, s_acctbal FROM v_supplier
              |WHERE EXISTS (SELECT 1 FROM v_lineitem
              |              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
              |ORDER BY s_name""".stripMargin)
    }),
    "q23_sql_in" -> ((s, d) => {
      table(s, d, "part").createOrReplaceTempView("v_part")
      table(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""SELECT p_brand, count(*) AS n_parts FROM v_part
              |WHERE p_partkey IN (SELECT l_partkey FROM v_lineitem WHERE l_discount >= 0.09)
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    }),
    "q24_sql_scalar_subquery" -> ((s, d) => {
      table(s, d, "customer").createOrReplaceTempView("v_customer")
      table(s, d, "nation").createOrReplaceTempView("v_nation")
      s.sql("""SELECT n_name, count(*) AS n_rich FROM v_customer JOIN v_nation ON c_nationkey = n_nationkey
              |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM v_customer)
              |GROUP BY n_name ORDER BY n_name""".stripMargin)
    }),
    "q25_union_by_name" -> ((s, d) => {
      val c = table(s, d, "customer")
        .select(col("c_acctbal").as("bal"), lit("customer").as("kind"))
      val sup = table(s, d, "supplier")
        .select(lit("supplier").as("kind"), col("s_acctbal").as("bal"))
      c.unionByName(sup) // schema aligned by NAME, not position
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), round(sum("bal"), 2).as("total_bal"))
        .orderBy("kind")
    }),
    "q26_string_agg" -> ((s, d) => {
      // order-insensitive list agg made deterministic by sorting pre-concat
      table(s, d, "nation")
        .join(broadcast(table(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy("r_name")
    }),
    // exact percentiles via the two-phase spillable shape (ExactPercentile)
    // instead of the built-in's per-group value map — identical doubles,
    // bounded memory at any distinct-value cardinality. Two passes, but each
    // parquet scan prunes to (flag, one value column), so total I/O matches
    // the one-pass built-in.
    "q27_percentiles" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val qty = ExactPercentile(li, "l_returnflag", col("l_quantity"), Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      val price = ExactPercentile(li, "l_returnflag", col("l_extendedprice"), Seq("price_p90" -> 0.9))
      qty
        .join(price, Seq("l_returnflag"))
        .select("l_returnflag", "p25", "p50", "p75", "price_p90")
        .orderBy("l_returnflag")
    }),
    "q28_regex" -> ((s, d) => {
      table(s, d, "part")
        .withColumn("grp", regexp_extract(col("p_type"), "^([A-Z]+)", 1))
        .where(col("p_name").rlike("^(red|blue) "))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), count_distinct(regexp_replace(col("p_name"), "\\s+", "_")).as("n_names"))
        .orderBy("grp")
    }),
    "q29_asof_join" -> ((s, d) => {
      // as-of: for each purchase, the user's most recent click at-or-before it
      val ev = graft.Graft.events(s, d).withColumn("us", unix_micros(col("ts").cast("timestamp")))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("us"), lit(null).cast("long").as("event_id"), lit(0).as("is_p"), col("us").as("click_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"), lit(1).as("is_p"), lit(null).cast("long").as("click_us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("is_p"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("last_click_us", last(col("click_us"), ignoreNulls = true).over(w))
        .where(col("is_p") === 1)
        .select(
          col("event_id"),
          col("us").as("p_us"),
          col("last_click_us"),
          (col("us") - col("last_click_us")).as("gap_us")
        )
        .orderBy("event_id")
    }),
    "q30_hash_sample" -> ((s, d) => {
      // deterministic 5% sample via md5 bucketing — reproducible across
      // engines AND across cluster sizes (unlike rand()-based sampling)
      table(s, d, "orders")
        .where(hashBucket(col("o_orderkey")) < 5)
        .agg(count(lit(1)).as("n_sampled"), round(sum("o_totalprice"), 2).as("sampled_total"))
    }),
    "q31_null_ops" -> ((s, d) => {
      // left join fabricates nulls → coalesce / conditional-count handling
      val o01 = table(s, d, "orders").where(year(col("o_orderdate")) === 2001)
      table(s, d, "customer")
        .join(o01, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_with_order"),
          round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("spend_or_zero")
        )
        .orderBy("c_mktsegment")
    }),
    // sketches: HLL distinct + KLL-style approximate percentile. The sketch
    // VALUES are engine-specific (DuckDB can't replay Spark's HLL), so the
    // gate-pinned result emits (a) the exact twins and (b) the sketch
    // accuracy contracts as booleans computed against exact order
    // statistics — every column deterministic, hash-exact, and the sketches
    // still run in the hot path (x49's exact-twin ride-along, VERDICT r4
    // #8). Tolerances are generous vs the guarantees: rsd 0.02 → 6% + abs
    // floor; percentile accuracy 1000 → rank error 1e-3, checked against an
    // exact ±1.1%-rank band.
    "q34_approx_sketches" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val agg = li
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("hll"),
          percentile_approx(col("l_extendedprice"), lit(0.9), lit(1000)).as("p90s")
        )
      val band =
        ExactPercentile(li, "l_returnflag", col("l_extendedprice"), Seq("p89" -> 0.889, "p91" -> 0.911))
      agg
        .join(band, Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          col("exact_parts"),
          (abs(col("hll") - col("exact_parts")) <= greatest(col("exact_parts") * lit(0.06), lit(8.0)))
            .as("hll_within_6pct"),
          col("p90s").between(col("p89"), col("p91")).as("p90_within_band")
        )
        .orderBy("l_returnflag")
    }),
    // KMV distinct-count sketch — the mergeable-sketch counterpart of q34's
    // HLL, as a native TypedImperativeAggregate with a bounded k-long buffer
    // (graftbridge.KmvSketchAgg). Unlike HLL, the KMV state (k smallest
    // distinct md5 hashes) is order-free, so the gate hash-checks the FULL
    // sketch: kth minimum, retained count, and the (k-1)·2^60/v_k estimate,
    // all reproduced from first principles by the DuckDB oracle. ndv_exact
    // rides along so the result itself documents the sketch's error.
    // Sketch-accuracy sweep (x261) — the x224 instrument discipline for
    // the distinct-count sketch family: the SAME three key streams
    // (dense orderkeys ~15k, small partkeys ~2k, mid custkeys) measured
    // by both native sketches (x49 KMV k=256, x120 HLL p=8) against
    // exact NDV, as est/exact/err_ppm rows. The sweep's finding IS the
    // payload: raw HLL (no small-range correction — deliberately, x120
    // documents the regime) degrades as the census shrinks toward the
    // linear-counting regime while KMV's bottom-k stays unbiased below
    // k and ~1/√k above — the numbers that pick a sketch per column.
    // One aggregate pass per stream computes exact + both sketches.
    "x261_sketch_accuracy" -> ((s, d) => {
      def sweep(name: String, df: DataFrame): DataFrame =
        df.agg(
            countDistinct("item").as("exact"),
            graft.functions
              .KmvSketch(graft.functions.Hashing.md5Window15(col("item")), 256)
              .as("sk"),
            graft.functions.HllSketch(col("item"), 8).as("registers")
          )
          // both estimators in exact integer fdiv (the x234 discipline —
          // double round() would fork the gate on an exact .5 tie):
          // KMV = (k−1)·2⁶⁰ div h₍ₖ₎; HLL's α·m²·2⁵³ is the exact rational
          // (7213/10000)·(256000/257079)·65536·2⁵³ = N div (2570790000·Z)
          .withColumn(
            "kmv_est",
            when(size(col("sk")) < 256, size(col("sk")).cast("long"))
              .otherwise(
                expr("CAST((CAST(255 AS DECIMAL(38,0)) * 1152921504606846976) div element_at(sk, 256) AS BIGINT)")
              )
          )
          .withColumn("zsum", expr("aggregate(registers, 0L, (a, r) -> a + shiftleft(1L, CAST(53 - r AS INT)))"))
          .withColumn(
            "hll_est",
            expr(
              "CAST(CAST('1089997742110040029644455936000' AS DECIMAL(38,0)) " +
                "div (CAST(2570790000 AS DECIMAL(38,0)) * zsum) AS BIGINT)"
            )
          )
          .selectExpr("stack(2, 'kmv', kmv_est, 'hll', hll_est) AS (method, est)", "exact")
          .select(lit(name).as("stream"), col("method"), col("est"), col("exact"))
      sweep("orderkeys", table(s, d, "lineitem").select(col("l_orderkey").cast("string").as("item")))
        .unionByName(sweep("partkeys", table(s, d, "lineitem").select(col("l_partkey").cast("string").as("item"))))
        .unionByName(sweep("custkeys", table(s, d, "orders").select(col("o_custkey").cast("string").as("item"))))
        .withColumn("err_ppm", expr("(abs(est - exact) * 1000000) div exact"))
        .orderBy("stream", "method")
    }),

    "x49_kmv_distinct" -> ((s, d) => {
      val k = 256
      table(s, d, "lineitem")
        .select(
          col("l_returnflag"),
          col("l_orderkey"),
          graft.functions.Hashing.md5Window15(col("l_orderkey").cast("string")).as("h")
        )
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("ndv_exact"),
          graft.functions.KmvSketch(col("h"), k).as("sk")
        )
        .select(
          col("l_returnflag"),
          col("ndv_exact"),
          size(col("sk")).cast("long").as("n_retained"),
          get(col("sk"), lit(k - 1)).as("kth_hash"), // null while sketch not yet full
          when(size(col("sk")) < k, size(col("sk")).cast("long"))
            .otherwise(
              round(lit((k - 1).toDouble) * lit(math.pow(2, 60)) / get(col("sk"), lit(k - 1)))
                .cast("long")
            )
            .as("ndv_est")
        )
        .orderBy("l_returnflag")
    }),
    // TPC-H Q5 shape (q73) — the canonical 6-way star-with-correlation
    // join: two FACT shuffles (lineitem⋈orders, then ⋈customer) with the
    // supplier/nation/region dims broadcast, plus the correlation
    // predicate c_nationkey = s_nationkey that makes Q5 famous (it ties
    // the customer leg to the supplier leg, so join ORDER matters; the
    // declarative plan lets Catalyst+AQE pick it). Revenue crosses the
    // gate in cents (the x106 fixed-point discipline).
    "q73_local_supplier_volume" -> ((s, d) => {
      val rev = expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
      val asiaNations = broadcast(
        table(s, d, "nation")
          .join(
            broadcast(table(s, d, "region").where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey")
          )
          .select("n_nationkey", "n_name")
      )
      table(s, d, "lineitem")
        .join(
          table(s, d, "orders").where(
            col("o_orderdate") >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
              col("o_orderdate") < expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'")
          ),
          col("l_orderkey") === col("o_orderkey")
        )
        .join(broadcast(table(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(
          table(s, d, "customer"),
          col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey")
        )
        .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"), sum(rev).as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("n_name"))
    }),
    // TPC-H Q8 shape (q74) — market share: one nation's suppliers' slice
    // of a region's market for one part type, per year. The conditional
    // aggregation (numerator = CASE on supplier nation) runs in the SAME
    // pass as the denominator — one plan, no self-join; the share crosses
    // the gate as integer ppm (the x27 discipline), so no float division
    // reaches the hash.
    "q74_market_share" -> ((s, d) => {
      val rev = expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
      val mktNations = broadcast(
        table(s, d, "nation")
          .join(
            broadcast(table(s, d, "region").where(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey")
          )
          .select(col("n_nationkey").as("cn_key"))
      )
      val suppNations = broadcast(
        table(s, d, "nation").select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      )
      table(s, d, "lineitem")
        .join(
          broadcast(table(s, d, "part").where(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey")
        )
        .join(
          table(s, d, "orders").where(
            col("o_orderdate") >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
              col("o_orderdate") < expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
          ),
          col("l_orderkey") === col("o_orderkey")
        )
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(mktNations, col("c_nationkey") === col("cn_key"))
        .join(broadcast(table(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(suppNations, col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"), rev.as("rev"), col("supp_nation"))
        .groupBy("o_year")
        .agg(
          sum(when(col("supp_nation") === "NATION_7", col("rev")).otherwise(0L)).as("nation_c"),
          sum("rev").as("total_c")
        )
        .select(
          col("o_year"),
          col("nation_c"),
          col("total_c"),
          expr("(nation_c * 1000000L) div total_c").as("share_ppm")
        )
        .orderBy("o_year")
    }),
    // TPC-H Q21 shape (q75) — "suppliers who kept orders waiting", the
    // hardest TPC-H join topology: the fact correlates with ITSELF twice
    // (EXISTS another supplier in the order, NOT EXISTS another LATE
    // supplier), expressed as one semi + one anti self-join on the order
    // key. 'late' adapts to the fixture schema (shipped > 60 days after
    // the order date; lineitem has no commit/receipt dates). All three
    // plan refs share one localCheckpointed base — the self-joins shuffle
    // on l_orderkey only, never expand beyond the order's own lines, and
    // at 100 TB they are ordinary co-partitioned equi-joins (bucketing by
    // orderkey — x121 — would make them exchange-free too).
    "q75_waiting_supplier" -> ((s, d) => {
      val base = table(s, d, "lineitem")
        .join(
          table(s, d, "orders").where(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey")
        )
        .select(
          col("l_orderkey").as("k"),
          col("l_suppkey").as("supp"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late")
        )
        .localCheckpoint() // three plan refs: late lines, semi side, anti side
      val late = base.where(col("late"))
      late
        .join(
          base.select(col("k").as("k2"), col("supp").as("s2")),
          col("k2") === col("k") && col("s2") =!= col("supp"),
          "left_semi"
        )
        .join(
          late.select(col("k").as("k3"), col("supp").as("s3")),
          col("k3") === col("k") && col("s3") =!= col("supp"),
          "left_anti"
        )
        .groupBy("supp")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("supp"))
        .limit(20)
    }),
    // TPC-H Q17 shape (q76) — small-quantity-order revenue: the
    // correlated scalar subquery (per-part average quantity) decorrelated
    // into a grouped twin joined back to the fact. The 0.2·avg predicate
    // is evaluated in EXACT integers (5·qty·cnt < qsum — quantities are
    // integral, so no double avg crosses the comparison), and revenue
    // crosses the gate in cents. Dim filter broadcast; the stats join is
    // co-partitioned on l_partkey.
    "q76_small_quantity_revenue" -> ((s, d) => {
      val parts = broadcast(
        table(s, d, "part")
          .where(col("p_brand") === "Brand#23" && col("p_size") <= 25)
          .select("p_partkey")
      )
      val li = table(s, d, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .select(
          col("p_partkey"),
          col("l_quantity").cast("long").as("q"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")
        )
        .localCheckpoint() // two plan refs: stats twin, filtered fact
      val stats = li.groupBy("p_partkey").agg(sum("q").as("qsum"), count(lit(1)).as("qcnt"))
      li.join(stats, Seq("p_partkey"))
        .where(col("q") * 5 * col("qcnt") < col("qsum"))
        .agg(sum("cents").as("rev_cents"), count(lit(1)).as("n_lines"))
        .select(
          col("rev_cents"),
          col("n_lines"),
          // x120's literal invariant: CAST the divisor — bare 7.0 is
          // DECIMAL in both engines, each with its own division scale
          expr("CAST(round(rev_cents / CAST(7.0 AS DOUBLE)) AS BIGINT)").as("avg_yearly_cents")
        )
    }),
    // TPC-H Q20 shape (q77) — "excess-share suppliers", the NESTED-SEMI
    // topology: supplier ⟵semi (per-(supp,part) agg compared against a
    // correlated per-part threshold ⟵semi part-name filter). The real Q20
    // compares partsupp availability to half the shipped volume; the
    // fixture has no partsupp table, so the adapted predicate is "holds
    // more than 1/8 of a red part's shipped quantity since 1996" — the
    // same two stacked semi-joins and grouped-twin-vs-coarser-twin
    // correlation, integer-exact (qs·8 > qp, quantities integral). The
    // part filter broadcasts; both aggs shuffle on l_partkey only (the
    // finer one carries l_suppkey along), and the final semi probe is
    // supplier-dim-sized.
    "q77_excess_supplier" -> ((s, d) => {
      val redParts = broadcast(
        table(s, d, "part").where(col("p_name").startsWith("red ")).select("p_partkey")
      )
      val li = table(s, d, "lineitem")
        .where(expr("l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity").cast("long").as("q"))
        .localCheckpoint() // two plan refs: per-(supp,part) and per-part sums
      val sp = li.groupBy("l_partkey", "l_suppkey").agg(sum("q").as("qs"))
      val pt = li.groupBy("l_partkey").agg(sum("q").as("qp"))
      val excess = sp
        .join(pt, Seq("l_partkey"))
        .where(col("qs") * 8 > col("qp"))
        .select(col("l_suppkey"))
      table(s, d, "supplier")
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(
          col("s_suppkey"),
          col("s_name"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("s_acctbal_cents")
        )
        .orderBy("s_suppkey")
    }),
    // TPC-H Q22 shape (q78) — "global sales opportunity": positive-balance
    // customers ABOVE the average positive balance of their cohort who
    // placed no RECENT order — a scalar-subquery threshold plus an anti
    // join, grouped by country. The fixture has no phone column, so the
    // country code is c_nationkey and "dormant" means no order on/after
    // 2000-06-01 (every customer has SOME order here, unlike TPC-H's
    // never-ordered test — the anti join still prunes >95%). The average
    // crosses the comparison as an EXACT integer cross-multiply
    // (cents·cnt > sum_cents), never a double; the threshold aggregate is
    // one broadcast row and the anti join shuffles on o_custkey only.
    "q78_global_sales_opportunity" -> ((s, d) => {
      val cust = table(s, d, "customer")
        .where(col("c_acctbal") > 0)
        .select(
          col("c_custkey"),
          col("c_nationkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents")
        )
        .localCheckpoint() // two plan refs: threshold aggregate, filtered set
      val thr = cust.agg(sum("cents").as("sum_cents"), count(lit(1)).as("n_pos"))
      val recent = table(s, d, "orders")
        .where(expr("o_orderdate >= TIMESTAMP_NTZ '2000-06-01 00:00:00'"))
        .select(col("o_custkey"))
      cust
        .crossJoin(broadcast(thr))
        .where(col("cents") * col("n_pos") > col("sum_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), sum("cents").as("totacctbal_cents"))
        .orderBy("cntrycode")
    }),
    // Mergeable quantile sketch (x118) — the quantile member completing
    // the native sketch family (x49 distinct, x94 heavy hitters, x107
    // frequency): deterministic-compaction MRL/KLL levels, ≤ k·levels
    // state, level-wise merge. Sketch CONTENT is merge-order dependent
    // (like x94's counters), so the gate pins the ORDER-INDEPENDENT
    // worst-case guarantee: every compaction at level i perturbs a rank
    // by ≤ 2^i and ≤ ⌈N/(2^(i−1)k)⌉ compactions run per level, so the
    // estimated quantile's true rank lies within B = 2·N·levels/k of its
    // target — asserted as a sandwich over EXACT ranks computed in-query.
    // Exact-twin percentiles (the q27 two-phase operator) ride along
    // hash-pinned. The rank-probe crossJoin multiplies the stream by the
    // 3 probe values only; the cum-weight window runs over sketch-sized
    // rows (≤ k·levels), never data.
    "x118_quantile_sketch" -> ((s, d) => {
      val k = 256
      val qs = Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75))
      val cents = table(s, d, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
        .localCheckpoint() // three plan refs: sketch, rank probe, count
      val n = cents.agg(count(lit(1)).as("n"))
      val pairs = cents
        .agg(graft.functions.QuantileSketch(col("c"), k).as("sk"))
        .select(
          explode(
            expr("transform(sequence(0, size(sk) div 2 - 1), i -> struct(sk[2*i] AS w, sk[2*i+1] AS v))")
          ).as("p")
        )
        .select(col("p.w").as("w"), col("p.v").as("v"))
        .localCheckpoint() // cum-weight window + level count
      val wv = Window
        .orderBy("v", "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = pairs.withColumn("cw", sum("w").over(wv)).crossJoin(broadcast(n))
      val est = qs
        .map { case (nm, q) =>
          cum
            .where(col("cw") >= ceil(lit(q) * col("n")))
            .agg(min("v").as("v"))
            .select(lit(nm).as("pq"), lit(q).as("q"), col("v"))
        }
        .reduce(_.unionByName(_))
      val bound = pairs
        .agg(max("w").as("maxw"))
        .crossJoin(broadcast(n))
        .select(((floor(log2(col("maxw"))) + 1) * col("n") * 2.0 / k).as("bnd"))
      val ranks = cents
        .crossJoin(broadcast(est))
        .groupBy("pq", "q", "v")
        .agg(
          sum(when(col("c") < col("v"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("c") <= col("v"), 1L).otherwise(0L)).as("le")
        )
        .crossJoin(broadcast(bound))
        .crossJoin(broadcast(n))
      val twin = graft.operators.ExactPercentile(
        table(s, d, "lineitem").withColumn("g", lit("all")),
        "g",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        qs
      )
      val twinLong = twin.select(
        explode(
          array(qs.map { case (nm, _) => struct(lit(nm).as("pq"), col(nm).as("exact_pct")) }: _*)
        ).as("t")
      ).select(col("t.pq").as("pq"), expr("CAST(round(1000 * t.exact_pct) AS BIGINT)").as("exact_pct_e3"))
      ranks
        .join(broadcast(twinLong), Seq("pq"))
        .select(
          col("pq"),
          col("exact_pct_e3"),
          (col("le") >= col("q") * col("n") - col("bnd")).as("ok_low"),
          (col("lt") <= col("q") * col("n") + col("bnd")).as("ok_high")
        )
        .orderBy("pq")
    }),
    // KMV SET ALGEBRA (x112) — the reason the x49 sketch returns its raw
    // hash set instead of a scalar estimate: two sketches support union /
    // intersection / Jaccard ESTIMATES without re-scanning either input
    // (Beyer et al. 2007, "On Synopses for Distinct Value Estimation").
    // The union sketch is the k smallest of A ∪ B (pure set minimum —
    // exact, order-free algebra on two sorted arrays), Jaccard is
    // ρ̂ = |{h ∈ unionK : h ∈ A ∧ h ∈ B}| / k, and NDV∩ ≈ ρ̂ · NDV∪.
    // At 100 TB the two sides are sketched independently (bounded
    // map-side buffers, x49) and the algebra runs on two ≤k-long arrays —
    // overlap between corpus shards reconciled without ever joining them.
    // Exact twins ride along (the q34/x49 gate discipline), and the whole
    // estimator chain is replayed by the oracle, so the gate pins the
    // estimates themselves, not just their existence.
    "x112_kmv_set_algebra" -> ((s, d) => {
      val k = 256
      val ords = table(s, d, "orders")
        .select(
          col("o_orderstatus").as("st"),
          col("o_custkey"),
          graft.functions.Hashing.md5Window15(col("o_custkey").cast("string")).as("h")
        )
        .where(col("st").isin("F", "O"))
        .localCheckpoint() // two plan refs: sketches + exact twins
      val sk = ords.groupBy("st").agg(graft.functions.KmvSketch(col("h"), k).as("sk"))
      val a = sk.where(col("st") === "F").select(col("sk").as("a"))
      val b = sk.where(col("st") === "O").select(col("sk").as("b"))
      val exact = ords
        .groupBy("o_custkey")
        .agg(
          max(when(col("st") === "F", 1).otherwise(0)).as("inF"),
          max(when(col("st") === "O", 1).otherwise(0)).as("inO")
        )
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("inF") === 1 && col("inO") === 1, 1L).otherwise(0L)).as("exact_inter")
        )
      a.crossJoin(b)
        .crossJoin(broadcast(exact))
        .withColumn("u", slice(array_sort(array_union(col("a"), col("b"))), 1, k))
        .withColumn(
          "inter_k",
          size(filter(col("u"), h => array_contains(col("a"), h) && array_contains(col("b"), h)))
            .cast("long")
        )
        // get() (not element_at) + the size guard: under ANSI mode a
        // sub-k union sketch must fall back to its exact size, never
        // throw — the x49 discipline (a sub-k KMV IS the exact hash set)
        .withColumn("vk", get(col("u"), lit(k - 1)))
        .select(
          col("exact_union"),
          col("exact_inter"),
          size(col("a")).cast("long").as("n_a"),
          size(col("b")).cast("long").as("n_b"),
          col("inter_k"),
          col("vk"),
          when(size(col("u")) < k, size(col("u")).cast("long"))
            .otherwise(expr("CAST(round(255.0 * 1152921504606846976.0 / vk) AS BIGINT)"))
            .as("est_union"),
          when(size(col("u")) < k, col("inter_k"))
            .otherwise(
              expr("CAST(round((inter_k / 256.0) * (255.0 * 1152921504606846976.0 / vk)) AS BIGINT)")
            )
            .as("est_inter")
        )
    }),
    // Exact distinct counting via BITMAP aggregation — the third distinct
    // face (q12 expand-dedup, x49 KMV approximate, now bitmap-exact): for
    // dense integer key domains, pack keys into bit words (word = k
    // div 63, bit = k mod 63 — 63 bits per word, because DuckDB's BIGINT
    // shift guards the sign bit), OR the words per group, popcount. State is
    // fixed-width and MERGEABLE (OR is associative/commutative), the
    // shuffle carries ≤ groups × ⌈keyspace/63⌉ words instead of one row
    // per distinct key — the warehouse technique for COUNT DISTINCT over
    // dense surrogate keys. The countDistinct twin rides in the same
    // output, so the hash pins bitmap == exact.
    "x96_bitmap_distinct" -> ((s, d) => {
      val li = table(s, d, "lineitem").select(col("l_returnflag").as("flag"), col("l_suppkey").as("k"))
      li
        .select(col("flag"), expr("k div 63").as("w"), expr("shiftleft(1L, CAST(k % 63 AS INT))").as("bit"))
        .groupBy("flag", "w")
        .agg(expr("bit_or(bit)").as("word"))
        .groupBy("flag")
        .agg(
          sum(expr("bit_count(word)")).as("ndv_bitmap"),
          count(lit(1)).as("n_words")
        )
        .join(li.groupBy("flag").agg(countDistinct("k").as("ndv_exact")), "flag")
        .select("flag", "ndv_bitmap", "ndv_exact", "n_words")
        .orderBy("flag")
    }),
    // Heavy hitters via a native mergeable Misra–Gries sketch (the
    // frequent-items companion to x49's KMV): the stream is an INLINE
    // planted-skew construction (8 items × 4096 + 500 tail items × 3) so
    // the sketch is genuinely lossy (508 distinct through a k=16 buffer,
    // tail decrements constantly). Per-item counters are order-dependent
    // and never cross the gate; the ORDER-INDEPENDENT guarantee does:
    // undercount ≤ N/(k+1), so every item with true count > N/k must be
    // retained by every execution — the gate emits the exact-twin heavy
    // set with its membership booleans, which a broken sketch (or a
    // broken merge) flips to FALSE.
    "x94_heavy_hitters" -> ((s, _) => {
      val k = 16
      val n = 8L * 4096 + 500L * 3
      val stream = s
        .range(n)
        .select(
          expr(
            "CASE WHEN id < 32768 THEN concat('h', CAST(id % 8 AS STRING)) " +
              "ELSE concat('t', CAST((id - 32768) div 3 AS STRING)) END"
          ).as("item")
        )
        .repartition(8) // multiple partial sketches → the mergeable path
        .localCheckpoint() // two plan refs (sketch + exact twin)
      val sketch = stream.agg(graft.functions.MisraGries(col("item"), k).as("sk"))
      stream
        .groupBy("item")
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * k > n)
        .crossJoin(broadcast(sketch))
        .select(col("item"), col("cnt"), array_contains(col("sk"), col("item")).as("in_sketch"))
        .orderBy("item")
    }),
    // Corpus-fed Misra–Gries: the x94 guarantee made load-bearing over
    // the FIXTURE tables — the corpus key distribution is near-uniform,
    // so skew is PLANTED by replicating one supplier stripe (l_suppkey %
    // 10 = 3) ×25 via explode (the planted-skew fixture trick): ~18%
    // margin above the N/k retention bound through a genuinely lossy
    // k=16 buffer (≥100 distinct keys, constant tail decrements). Only
    // ORDER-INDEPENDENT facts cross the gate: the exact-twin heavy set,
    // the stream size, and per-item retention booleans.
    // Shuffle-key skew profiler (x182) — the DIAGNOSTIC feeding the skew
    // machinery the engine already carries (x38 manual salting, the AQE
    // skew-join spec, x94/x101 heavy hitters): before shuffling 100 TB on
    // a key, profile its distribution. TWO profiles in one result (the
    // x181 twin-test shape): the natural near-uniform l_suppkey and a
    // PLANTED hot-key stream (the x101 replication trick: every supplier
    // ≡3 mod 10 stripe ×25), so the "skewed" verdict path is
    // load-bearing. Per profile: row/key counts, the max key's share,
    // skew ratio (max·keys/N — 1e6 = uniform), exact p50/p99 of the
    // per-key count distribution, and a quantized entropy Σcnt·⌊log2(N
    // div cnt)⌋/N in millibits (the x61 bin() trick — zero libm). The
    // salt-advice boolean (skew ratio > 4×) is the actionable output.
    // The rank-picks (r8 hardening) run on the COUNT-VALUE census —
    // never a key-sized rank: the rank-r value under (cnt, k) order
    // depends only on the census (ties share the value), and a count
    // census is provably √-bounded (Σ t·v = N with t ≥ 1 ⇒ at most
    // 2√N distinct v: values > √N number < √N, the rest ≤ √N), so the
    // 8192-wide bucket table `Prefix` runs its offsets over is
    // ≤ 2√N/8192 rows — 245 rows at a TRILLION-row profile. The
    // profiler now survives exactly the distributions it diagnoses.
    // Scale shape: each profile is ONE key census with map-side combine;
    // everything downstream operates on the counts table or its census.
    "x182_skew_profile" -> ((s, d) => {
      val li = table(s, d, "lineitem").select(col("l_suppkey").as("k")).localCheckpoint()
      def profile(keys: DataFrame, id: Long): DataFrame = {
        val counts = keys.groupBy("k").agg(count(lit(1)).as("cnt")).localCheckpoint()
        // quantized entropy needs n_rows first — second bounded agg over
        // the counts table with the total broadcast back
        val tot2 = counts.agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"), max("cnt").as("max_cnt"))
        val qent = counts
          .crossJoin(broadcast(tot2.select(col("n_rows").as("nr"))))
          .agg(sum(expr("cnt * (length(bin(nr div cnt)) - 1)")).as("hsum"))
        val vc = counts
          .groupBy("cnt")
          .agg(count(lit(1)).as("t"))
          .withColumn("bk", expr("cnt div 8192L"))
          .localCheckpoint() // bucket offsets + positions
        val pos = Prefix
          .exclusive(vc, Nil, "bk", Seq(col("cnt")))(col("t") -> "cum")
          .localCheckpoint() // two rank probes below
        def pick(p: Int, name: String) =
          broadcast(
            pos
              .crossJoin(broadcast(tot2.select(col("n_keys").as("kk"))))
              .where(Prefix.nearestRank("cum", "t", "kk", p))
              .select(col("cnt").as(name))
          )
        tot2
          .crossJoin(broadcast(qent))
          .crossJoin(pick(50, "p50_cnt"))
          .crossJoin(pick(99, "p99_cnt"))
          .select(
            lit(id).as("profile"),
            col("n_rows"),
            col("n_keys"),
            col("max_cnt"),
            expr("(max_cnt * 1000000) div n_rows").as("max_share_ppm"),
            // max_cnt * n_keys * 1e6 ~ 1e23 at 100 TB — DECIMAL(38,0)
            // headroom (the x179/x181 discipline), never bare int64
            expr("CAST((CAST(max_cnt AS DECIMAL(38,0)) * n_keys * 1000000) div n_rows AS BIGINT)")
              .as("skew_ratio_e6"),
            col("p50_cnt"),
            col("p99_cnt"),
            expr("(hsum * 1000) div n_rows").as("qent_millibits"),
            expr("CAST((CAST(max_cnt AS DECIMAL(38,0)) * n_keys * 1000000) div n_rows AS BIGINT) > 4000000")
              .as("salt_advised")
          )
      }
      val skewed = li
        .select(col("k"), explode(expr("sequence(1, CASE WHEN k % 10 = 3 THEN 25 ELSE 1 END)")).as("r"))
        .select("k")
      profile(li, 0L).unionByName(profile(skewed, 1L)).orderBy("profile")
    }),

    "x101_heavy_hitters_corpus" -> ((s, d) => {
      val k = 16
      val stream = table(s, d, "lineitem")
        .select(col("l_suppkey").as("item"))
        .select(col("item"), explode(expr("sequence(1, CASE WHEN item % 10 = 3 THEN 25 ELSE 1 END)")).as("rep"))
        .select("item")
        .localCheckpoint() // three plan refs: sketch, exact twin, total
      val sketch = stream.agg(graft.functions.MisraGries(col("item").cast("string"), k).as("sk"))
      val total = stream.agg(count(lit(1)).as("n"))
      stream
        .groupBy("item")
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .where(col("cnt") * k > col("n"))
        .crossJoin(broadcast(sketch))
        .select(
          col("item"),
          col("cnt"),
          col("n").as("stream_n"),
          array_contains(col("sk"), col("item").cast("string")).as("in_sketch")
        )
        .orderBy("item")
    }),
    // AMS / tug-of-war F₂ sketch (x208, Alon–Matias–Szegedy 1996) — the
    // fourth sketch verb: F₂ = Σ f_x² is the self-join size, THE
    // cardinality the join-order planner needs (x132 estimates a
    // two-table join; F₂ is the self-join/skew moment). Estimator j:
    // Z_j = Σ_x f_x·s_j(x) with md5-parity signs s_j ∈ {±1}; Z_j² is
    // unbiased for F₂ and the MEDIAN of 31 estimators concentrates.
    // Everything integer: signs from the md5-window parity, Z exact,
    // Z² in DECIMAL(38,0) (Z is F₁-bounded: ~1e12 at corpus scale →
    // Z² overflows int64, the x25 headroom class). Scale shape: ONE
    // frequency census with map-side combine (the sketch's streaming
    // form would shuffle J× the raw stream; census-first is strictly
    // cheaper), then a 31× explode of the VOCAB-BOUNDED census and a
    // 31-group agg; the median is a bounded 31-row window.
    "x208_ams_f2" -> ((s, d) => {
      val j = 31 // odd → exact integer median, no interpolation
      val census = table(s, d, "lineitem")
        .groupBy(col("l_suppkey").as("k"))
        .agg(count(lit(1)).as("f"))
        .localCheckpoint() // two refs: exact F2 + estimators
      val exact = census.agg(sum(expr("CAST(f AS DECIMAL(38,0)) * f")).cast("decimal(38,0)").as("exact_f2"))
      val est = census
        .select(col("k"), col("f"), explode(expr(s"sequence(0, ${j - 1})")).as("j"))
        .withColumn(
          "sgn",
          expr("1 - 2 * pmod(CAST(conv(substring(md5(concat(CAST(k AS STRING), '#', CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT), 2)")
        )
        .groupBy("j")
        .agg(sum(col("f") * col("sgn")).as("z"))
        .withColumn("z2", expr("CAST(z AS DECIMAL(38,0)) * z"))
        .withColumn("rn", row_number().over(Window.orderBy(col("z2"), col("j"))).cast("long"))
        .where(col("rn") === lit((j + 1) / 2))
        .select(col("z2").as("ams_est"))
      // gate output in BIGINT (both fit easily at gate SF; the DECIMAL
      // headroom is for the ACCUMULATION, which is where corpus-scale
      // magnitudes live — DuckDB's decimal `//` also drifts a ULP)
      exact
        .crossJoin(broadcast(est))
        .select(
          col("exact_f2").cast("long").as("exact_f2"),
          col("ams_est").cast("long").as("ams_est")
        )
        .withColumn("abs_err_e6", expr("abs(ams_est - exact_f2) * 1000000 div exact_f2"))
    }),

    // Count-min frequency sketch (x107) — the third native mergeable
    // aggregate (KMV = distinct, Misra–Gries = membership of heavy items,
    // count-min = frequency ESTIMATES). Counters are pure sums, so unlike
    // MG the whole sketch is order-independent: the gate pins the exact
    // per-item estimates (min over depth rows of the probed counters),
    // which the oracle replays from the same md5-bucket formula. The
    // overestimate law (est >= exact, always — collisions only add) rides
    // along as a boolean per probe item. State is a fixed 4x256 long
    // array: the shuffle carries one 8 KiB buffer per partition.
    "x107_countmin_sketch" -> ((s, d) => {
      val depth = 4
      val width = 256L
      val stream = table(s, d, "lineitem")
        .select(col("l_suppkey").cast("string").as("item"))
        .localCheckpoint() // three plan refs: sketch, exact twin, probe set
      val cm = stream.agg(graft.functions.CountMin(col("item"), depth, width.toInt).as("cm"))
      val probes = stream
        .groupBy("item")
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("item"))
        .limit(10)
      val est = (0 until depth)
        .map { i =>
          // element_at is 1-based; row i's counters live at [i*width+1, ...]
          element_at(
            col("cm"),
            (lit(i * width) + graft.functions.Hashing
              .md5Bucket(concat(lit(s"cm$i:"), col("item")), width) + lit(1)).cast("int")
          )
        }
        .reduce(least(_, _))
      probes
        .crossJoin(broadcast(cm))
        .select(
          col("item"),
          col("exact_n"),
          est.as("est"),
          (est >= col("exact_n")).as("overestimate")
        )
        .orderBy(col("exact_n").desc, col("item"))
    }),
    // Join-size estimation from count-min sketches (x132) — the
    // optimizer-statistics companion of x129: histograms estimate FILTER
    // selectivity, sketch inner products estimate JOIN cardinality
    // (Cormode & Muthukrishnan 2005 §4.2). |A ⋈ B| = Σ_k cA(k)·cB(k) is
    // the inner product of the key-frequency vectors, and the CM estimate
    // min_i Σ_w A_i[w]·B_i[w] upper-bounds it — collisions only ADD mass.
    // Each side sketches independently in ONE pass (a fixed 8 KiB buffer
    // per partition, keys never shuffled), so the cost of predicting the
    // join is two scans + a 4×256 dot product — against the full shuffle
    // join it prices. The gate pins all four per-depth dot products (pure
    // integer sums, order-free), the min-estimate, the exact twin, and
    // the ≥ law.
    "x132_join_size_estimate" -> ((s, d) => {
      val depth = 4
      // wide enough that collision mass (|A|·|B|/width) stays comparable
      // to the true join size — a 256-wide sketch would estimate pure
      // collision noise; 16 K counters = 512 KiB per buffer, still fixed
      val width = 16384
      val a = table(s, d, "lineitem").select(col("l_orderkey").cast("string").as("item"))
      val b = table(s, d, "orders")
        .where(col("o_orderstatus") === "F")
        .select(col("o_orderkey").cast("string").as("item"))
      val cmA = a.agg(graft.functions.CountMin(col("item"), depth, width).as("a_cm"))
      val cmB = b.agg(graft.functions.CountMin(col("item"), depth, width).as("b_cm"))
      val exact = table(s, d, "lineitem")
        .join(
          table(s, d, "orders").where(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey")
        )
        .agg(count(lit(1)).as("exact_rows"))
      val dots = (0 until depth).map { i =>
        expr(
          s"aggregate(sequence(0, ${width - 1}), 0L, (acc, w) -> acc" +
            s" + element_at(a_cm, CAST($i * $width + w + 1 AS INT))" +
            s" * element_at(b_cm, CAST($i * $width + w + 1 AS INT)))"
        ).as(s"dot$i")
      }
      val est = least(col("dot0"), col("dot1"), col("dot2"), col("dot3"))
      cmA
        .crossJoin(broadcast(cmB))
        .select(dots: _*)
        .crossJoin(broadcast(exact))
        .select(
          col("dot0"),
          col("dot1"),
          col("dot2"),
          col("dot3"),
          est.as("est_rows"),
          col("exact_rows"),
          (est >= col("exact_rows")).as("upper_bound_holds")
        )
    }),
    // Stats-FED join planning (x265) — the r8 verdict's "statistics as
    // input" task: x129's histograms and x132's count-min sketches,
    // persisted per (table, column) (sources/JoinStats, fingerprint-
    // guarded), feed graft's THIRD optimizer rule (StatsJoinRule). The
    // query is a DELIBERATELY mis-ordered 3-chain — the big-big
    // lineitem⋈orders join written FIRST, the 15-customer stripe last;
    // with the rule on, the greedy reorder must pull (orders ⋈ customer)
    // to the bottom and broadcast-hint the stripe. The gate row carries
    // the aggregate (hash-matched against DuckDB — the rule may change
    // the PLAN, never the RESULT) plus the plan census: deepest-join
    // tables with the rule ON and OFF (the x121 contrast discipline) and
    // the injected-hint boolean. Conservative bail-outs (inner equi-only,
    // fresh stats, ≥2× estimated gain) are StatsJoinSpec territory.
    "x265_stats_join_reorder" -> ((s, d) => {
      graft.sources.JoinStats.ensure(s, d)
      import s.implicits._
      def q = {
        val li = table(s, d, "lineitem")
          .select(col("l_orderkey"), expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
        val ord = table(s, d, "orders").select("o_orderkey", "o_custkey")
        val cust = table(s, d, "customer").where(col("c_custkey") < 15).select("c_custkey", "c_nationkey")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_items"), sum("cents").as("revenue_cents"))
      }
      val (on, fired) = org.apache.spark.sql.graftbridge.Bridge.statsJoin(q)
      require(fired, "x265: StatsJoinRule did not fire on the mis-ordered chain")
      val (pairOn, bcastOn) = graft.sources.JoinStats.planAudit(on)
      val (pairOff, bcastOff) = graft.sources.JoinStats.planAudit(q)
      val audit = Seq((pairOn, bcastOn, pairOff, bcastOff))
        .toDF("deepest_on", "bcast_on", "deepest_off", "bcast_off")
      on.crossJoin(broadcast(audit)).orderBy("c_nationkey")
    }),

    // Stats-fed skew salting (x273) — graft's FOURTH optimizer rule: the
    // x270 salting decision moved into the PLANNER, fed by the persisted
    // x265 statistics instead of a fresh census. The fixture is x270's
    // 70%-skewed key PERSISTED as real parquet leaves (sources/SkewFixture;
    // JoinStats builds their stats), so the rule can resolve both sides:
    // the count-min row-max/row-min bound puts the dominant key's share at
    // ≥ the 20% threshold → the join re-plans onto a (key, salt) shuffle
    // key with n = clamp(⌈share·32⌉, 2, 16). Emitted: the plain-join
    // aggregate (the rewrite may change the PLAN, never the RESULT), the
    // advice the rule planned with (share bound + salts — the oracle
    // rebuilds the CM sketch from the fixture and replays both), and the
    // salt-projection plan census (present with the rule, absent without).
    "x273_stats_skew_join" -> ((s, d) => {
      graft.sources.JoinStats.ensure(s, d) // ensures the skew fixture too
      import s.implicits._
      val root = graft.sources.SkewFixture.dir(d)
      def q = {
        val fact = Graft.parquet(s, s"$root/skewfact.parquet")
        val dim = Graft.parquet(s, s"$root/skewdim.parquet")
        fact
          .join(dim, fact("skey") === dim("skey"))
          .groupBy("sname")
          .agg(count(lit(1)).as("n_items"), sum("cents").as("value_cents"))
      }
      val (on, fired) = org.apache.spark.sql.graftbridge.Bridge.statsSkew(q)
      require(fired, "x273: StatsSkewRule did not fire on the skewed join")
      val (shareE6, salts) =
        org.apache.spark.sql.graftbridge.StatsSkewRule.adviceFor("skewfact", "skey").get
      val audit = Seq(
        (
          org.apache.spark.sql.graftbridge.Bridge.saltAudit(on),
          org.apache.spark.sql.graftbridge.Bridge.saltAudit(q),
          shareE6,
          salts.toLong
        )
      ).toDF("salted_on", "salted_off", "share_ub_e6", "salts_planned")
      on.crossJoin(broadcast(audit))
        .orderBy(col("n_items").desc, col("sname"))
        .limit(10)
    }),
    // SESSION-path stats reorder (x308, r11) — x265's mis-ordered chain
    // with ZERO explicit invocation: no Bridge call, just a plain
    // DataFrame in a session whose injected StatsJoinRule is default-ON
    // (the posture the r10 trial earned). The rule now sees through the
    // column-pruning Projects ColumnPruning interposes between joins —
    // without that, the toggle path could never reorder anything, which
    // is exactly why the r10 trial recorded 0 suite-wide reorder fires.
    // Census is read from the OPTIMIZED plan (where injected rules live);
    // the off-twin recomputes it with the rule conf-disabled, so the row
    // pins the contrast: deepest pair (customer,orders) with the rule,
    // the written big⋈big (lineitem,orders) without.
    "x308_session_reorder" -> ((s, d) => {
      graft.sources.JoinStats.ensure(s, d)
      import s.implicits._
      def q = {
        val li = table(s, d, "lineitem")
          .select(col("l_orderkey"), expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
        val ord = table(s, d, "orders").select("o_orderkey", "o_custkey")
        val cust = table(s, d, "customer").where(col("c_custkey") < 20).select("c_custkey", "c_mktsegment")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_items"), sum("qty").as("sum_qty"))
      }
      def optAudit(df: DataFrame): (String, Boolean) =
        graft.sources.JoinStats.planAudit(org.apache.spark.sql.graftbridge.Bridge.optimizedPlan(df))
      // pin BOTH conf states explicitly — the row must not depend on the
      // ambient value (a prior caller may have toggled the session)
      val (pairOn, bcastOn) = {
        s.conf.set("spark.graft.statsJoin.enabled", "true")
        optAudit(q)
      }
      val (pairOff, bcastOff) = {
        s.conf.set("spark.graft.statsJoin.enabled", "false")
        try optAudit(q)
        finally s.conf.set("spark.graft.statsJoin.enabled", "true")
      }
      require(
        pairOn == "customer,orders" && pairOff == "lineitem,orders",
        s"x308: session-path reorder census ($pairOn / $pairOff)")
      val audit = Seq((pairOn, bcastOn, pairOff, bcastOff))
        .toDF("deepest_on", "bcast_on", "deepest_off", "bcast_off")
      q.crossJoin(broadcast(audit)).orderBy("c_mktsegment")
    }),
    // SESSION-path skew salting (x309, r11) — x273's persisted skewed
    // fixture joined PLAIN: no Bridge call, the default-ON rules decide.
    // The row pins the full PRECEDENCE the planner actually runs: with
    // both stats rules live, StatsJoinRule fires FIRST and broadcasts the
    // affordable dim — the hinted join then bails the salt rule, which is
    // the correct decision (a broadcast join has no shuffle to skew;
    // salting exists for builds too big to broadcast). With hint
    // injection conf-disabled — the stand-in for that too-big regime on a
    // gate-sized fixture — the injected StatsSkewRule must salt the
    // shuffle key to (skey, salt) through the optimizer pipeline, and
    // with both rules off the plan stays plain. All three censuses read
    // from the OPTIMIZED plan; the aggregate is hash-checked against
    // DuckDB — rewrites may change the PLAN, never the RESULT.
    "x309_session_salt" -> ((s, d) => {
      graft.sources.JoinStats.ensure(s, d) // ensures the skew fixture too
      import s.implicits._
      val root = graft.sources.SkewFixture.dir(d)
      def q = {
        val fact = Graft.parquet(s, s"$root/skewfact.parquet")
        val dim = Graft.parquet(s, s"$root/skewdim.parquet")
        fact
          .join(dim, fact("skey") === dim("skey"))
          .groupBy("sname")
          .agg(count(lit(1)).as("n_items"), sum("cents").as("value_cents"))
      }
      def census(df: DataFrame): (Boolean, Boolean) = {
        val p = org.apache.spark.sql.graftbridge.Bridge.optimizedPlan(df)
        val salted = p.collectFirst {
          case pr: org.apache.spark.sql.catalyst.plans.logical.Project
              if pr.projectList.exists(_.name == "_gsalt") =>
            true
        }.getOrElse(false)
        val hinted = p.collectFirst {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
              if j.hint.leftHint.exists(_.strategy.nonEmpty) ||
                j.hint.rightHint.exists(_.strategy.nonEmpty) =>
            true
        }.getOrElse(false)
        (salted, hinted)
      }
      def withConf[T](kvs: (String, String)*)(body: => T): T = {
        kvs.foreach { case (k, v) => s.conf.set(k, v) }
        try body
        finally kvs.foreach { case (k, _) => s.conf.unset(k) }
      }
      // pin every conf state explicitly — the row must not depend on the
      // ambient session values (a prior caller may have toggled them)
      val (saltedBoth, hintedBoth) = withConf(
        "spark.graft.statsJoin.enabled" -> "true",
        "spark.graft.skewSalt.enabled" -> "true")(census(q))
      val (saltedOn, hintedOn) =
        withConf("spark.graft.statsJoin.enabled" -> "false")(census(q))
      val (saltedOff, _) = withConf(
        "spark.graft.statsJoin.enabled" -> "false",
        "spark.graft.skewSalt.enabled" -> "false")(census(q))
      require(
        !saltedBoth && hintedBoth && saltedOn && !hintedOn && !saltedOff,
        s"x309: precedence census (both=($saltedBoth,$hintedBoth) salt=($saltedOn,$hintedOn) off=$saltedOff)")
      val audit = Seq((hintedBoth, saltedBoth, saltedOn, saltedOff))
        .toDF("bcast_when_both", "salted_when_both", "salted_on", "salted_off")
      q.crossJoin(broadcast(audit))
        .orderBy(col("n_items").desc, col("sname"))
        .limit(10)
    }),
    // HyperLogLog NDV sketch (x120) — the FIFTH native mergeable aggregate,
    // completing the sketch family: KMV (exact k-min state), Misra–Gries
    // (heavy-hitter membership), count-min (frequency), quantile (ranks),
    // and now the constant-memory industry-standard NDV estimator.
    // Registers are per-slot MAXes — order-independent like count-min's
    // sums — so the gate pins the FULL 256-register sketch per group
    // (replayed in SQL from the same md5 formula, bin()-exact bit length,
    // never float log2) plus the estimate. The harmonic sum is the exact
    // integer Σ 2^(53−M[j]) (≤ 2^61, order-free); only the final
    // alpha·m²·2^53/Z division is a double — one IEEE op, engine-identical.
    // State is m = 256 BYTES per group regardless of stream size: at
    // 100 TB the shuffle carries one 256-byte buffer per (group,
    // partition), never the stream. Linear-counting (small-range) regime
    // is structurally out of reach here (NDV >> 2.5m, pinned by the
    // lc_regime=false column); the LC estimator itself — whose ln() is
    // libm-dependent and so must NOT cross a hash gate — is spec-covered
    // in HllSpec instead.
    // TPC-H Q16 shape (q80) — "parts/supplier census": distinct suppliers
    // per (brand, type, size) over the observed supplier-part pairs, with
    // a NOT-IN supplier blacklist (negative balance standing in for Q16's
    // complaints filter — 6 suppliers at gate SF, so the anti join is
    // load-bearing) and a negative + IN-list part filter. The pair
    // DISTINCT is the one fact-sized shuffle; the blacklist broadcasts
    // and the part dim filters before the join; ordered LIMIT plans as
    // TakeOrderedAndProject.
    "q80_parts_supplier_census" -> ((s, d) => {
      val blacklist = table(s, d, "supplier")
        .where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("l_suppkey"))
      val pairs = table(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()
      pairs
        .join(broadcast(blacklist), Seq("l_suppkey"), "left_anti")
        .join(
          broadcast(
            table(s, d, "part")
              .where(col("p_brand") =!= "Brand#23" && col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
          ),
          col("l_partkey") === col("p_partkey")
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
        .limit(40)
    }),
    // One-pass column PROFILER (x138) — the Deequ/ANALYZE-style table
    // profile every ingestion pipeline runs before trusting a feed: per
    // column of the canonical orders projection (cents already integer —
    // doubles never reach a string cast), row/null/NDV counts, min/max
    // as canonical strings, and the most-common value with (count desc,
    // value asc) tie-break. Each column is one tiny aggregate + one
    // TakeOrdered top-1 over a shared localCheckpointed scan — column
    // count × O(scan), the profiling shape, no wide collect anywhere.
    // Columnar-encoding advisor (x187) — the storage-layout half of the
    // ANALYZE family (x138 profiles values, x129 builds histograms; this
    // prices ENCODINGS): per column, order-free stats (n, ndv, min, max)
    // drive closed-form size models for the four classic parquet/ORC
    // encodings — plain 64-bit, delta/bit-packed (bitlen(max−min) per
    // value), dictionary (bitlen(ndv) per value + 64-bit dict entries),
    // and sorted-RLE (ndv runs of value + 32-bit length — the
    // post-layout bound x47/x121 sorting buys). The recommendation is
    // the argmin with a fixed precedence (delta < dict < rle < plain on
    // ties). Everything derives from ONE aggregate per column (map-side
    // combine) — the advisor costs a stats pass, never a rewrite; bit
    // lengths via the x61 bin() trick, zero libm.
    "x187_encoding_advisor" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .select(
          col("l_suppkey").as("suppkey"),
          col("l_orderkey").as("orderkey"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)").as("shipday"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
          expr("CAST(l_quantity AS BIGINT)").as("qty")
        )
        .localCheckpoint() // five per-column aggs share one scan
      val cols = Seq("suppkey", "orderkey", "shipday", "price_c", "qty")
      cols
        .map { c =>
          li.agg(
            count(lit(1)).as("n"),
            countDistinct(col(c)).as("ndv"),
            min(col(c)).as("vmin"),
            max(col(c)).as("vmax")
          ).select(lit(c).as("column"), col("n"), col("ndv"), col("vmin"), col("vmax"))
        }
        .reduce(_ unionByName _)
        .select(
          col("column"),
          col("n"),
          col("ndv"),
          col("vmin"),
          col("vmax"),
          expr("n * 64").as("bits_plain"),
          // width 0 for a constant column — aligned with x192's packer,
          // whose measured geometry this model prices
          expr("n * (CASE WHEN vmax = vmin THEN 0 ELSE length(bin(vmax - vmin)) END)").as("bits_delta"),
          expr("n * length(bin(greatest(ndv - 1, 1))) + ndv * 64").as("bits_dict"),
          expr("ndv * (64 + 32)").as("bits_rle_sorted")
        )
        .withColumn(
          "best",
          // explicit precedence CASE (delta wins ties, then dict, then
          // rle) — the same literal form in both engines
          expr(
            "CASE WHEN bits_delta <= bits_dict AND bits_delta <= bits_rle_sorted AND bits_delta <= bits_plain THEN 'delta' " +
              "WHEN bits_dict <= bits_rle_sorted AND bits_dict <= bits_plain THEN 'dict' " +
              "WHEN bits_rle_sorted <= bits_plain THEN 'rle_sorted' ELSE 'plain' END"
          )
        )
        .orderBy("column")
    }),

    "x138_column_profile" -> ((s, d) => {
      import s.implicits._
      val t = table(s, d, "orders")
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("totalprice_cents"),
          col("o_orderdate"),
          col("o_orderpriority")
        )
        .localCheckpoint() // one ref per profiled column below
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "totalprice_cents", "o_orderdate", "o_orderpriority")
      cols
        .map { c =>
          val base = t.agg(
            count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("ndv"),
            min(col(c)).cast("string").as("min_s"),
            max(col(c)).cast("string").as("max_s")
          )
          val mcv = t
            .groupBy(col(c).cast("string").as("v"))
            .agg(count(lit(1)).as("top_count"))
            .orderBy(col("top_count").desc, col("v"))
            .limit(1)
            .select(col("v").as("top_value"), col("top_count"))
          // left join on TRUE (not crossJoin): an empty input leaves mcv
          // empty, and the profile row must still emit with NULL MCV —
          // matching the oracle's scalar subqueries (review-found)
          base
            .join(mcv, lit(true), "left")
            .select(lit(c).as("col_name"), col("n_rows"), col("n_null"), col("ndv"), col("min_s"), col("max_s"), col("top_value"), col("top_count"))
        }
        .reduce(_.unionByName(_))
        .orderBy("col_name")
    }),
    // Referential-integrity REPORT (x139) — every star-schema foreign key
    // audited in one result: per relationship the child row count, the
    // orphan count (left-anti probe against the parent key set), and the
    // ok flag. All seven real edges hold (their zeros are pinned), and an
    // EIGHTH relationship is PLANTED broken (every 9973rd lineitem's
    // suppkey shifted out of range, the x128/x101 discipline — a
    // detector that can only ever report zero proves nothing). Each
    // probe is a key-projected anti join: dim-sized builds broadcast,
    // the fact probes stream, nothing is collected.
    "x139_fk_integrity" -> ((s, d) => {
      import s.implicits._
      val li = table(s, d, "lineitem").localCheckpoint()
      def check(name: String, child: DataFrame, key: String, parentKeys: DataFrame) = {
        val orphans = child
          .select(col(key))
          .join(parentKeys, Seq(key), "left_anti")
        child
          .agg(count(lit(1)).as("n_child"))
          .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
          .select(
            lit(name).as("relationship"),
            col("n_child"),
            col("n_orphans"),
            (col("n_orphans") === 0L).as("ref_ok")
          )
      }
      val corrupted = li.select(
        when(col("l_orderkey") % 9973 === 0, col("l_suppkey") + 1000000L)
          .otherwise(col("l_suppkey"))
          .as("l_suppkey")
      )
      Seq(
        check("lineitem_orders", li, "l_orderkey", table(s, d, "orders").select(col("o_orderkey").as("l_orderkey"))),
        check("lineitem_part", li, "l_partkey", table(s, d, "part").select(col("p_partkey").as("l_partkey"))),
        check("lineitem_supplier", li, "l_suppkey", table(s, d, "supplier").select(col("s_suppkey").as("l_suppkey"))),
        check("orders_customer", table(s, d, "orders"), "o_custkey", table(s, d, "customer").select(col("c_custkey").as("o_custkey"))),
        check("customer_nation", table(s, d, "customer"), "c_nationkey", table(s, d, "nation").select(col("n_nationkey").as("c_nationkey"))),
        check("supplier_nation", table(s, d, "supplier"), "s_nationkey", table(s, d, "nation").select(col("n_nationkey").as("s_nationkey"))),
        check("nation_region", table(s, d, "nation"), "n_regionkey", table(s, d, "region").select(col("r_regionkey").as("n_regionkey"))),
        check("corrupted_supplier", corrupted, "l_suppkey", table(s, d, "supplier").select(col("s_suppkey").as("l_suppkey")))
      ).reduce(_.unionByName(_)).orderBy("relationship")
    }),
    // TPC-H Q3 shape (q82) — "shipping priority": the classic segment ⋈
    // pending-order ⋈ unshipped-line join with a revenue top-10; the dim
    // filter broadcasts, the fact joins shuffle on orderkey, the LIMIT is
    // TakeOrderedAndProject on a total order.
    "q82_shipping_priority" -> ((s, d) => {
      val cust = broadcast(
        table(s, d, "customer").where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      )
      table(s, d, "orders")
        .where(expr("o_orderdate < TIMESTAMP_NTZ '1998-07-01 00:00:00'"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(
          table(s, d, "lineitem").where(expr("l_shipdate > TIMESTAMP_NTZ '1998-07-01 00:00:00'")),
          col("o_orderkey") === col("l_orderkey")
        )
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("revenue_c"))
        .select(
          col("l_orderkey"),
          col("revenue_c"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
          col("o_orderpriority")
        )
        .orderBy(col("revenue_c").desc, col("o_orderdate_us"), col("l_orderkey"))
        .limit(10)
    }),
    // TPC-H Q4 shape (q83) — order-priority checking: EXISTS a late line
    // (shipped > 60 days after the order — the fixture's q75 lateness
    // convention; it has no commit/receipt dates), counted per priority
    // over one quarter. The EXISTS is a semi join on orderkey.
    "q83_order_priority" -> ((s, d) => {
      // ONE compound-condition semi join: the quarter filter prunes the
      // probe side first and the lateness predicate rides the join as a
      // filter — a separate late-lines prejoin would shuffle the full
      // fact against the full fact (review-found)
      table(s, d, "orders")
        .where(expr(
          "o_orderdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ '1997-04-01 00:00:00'"
        ))
        .join(
          table(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    // TPC-H Q6 shape (q84) — forecast revenue: the pure predicate
    // aggregate (year + discount band + quantity cap), revenue as the
    // EXACT integer cents·disc_e2 product (no double ever crosses).
    "q84_forecast_revenue" -> ((s, d) => {
      table(s, d, "lineitem")
        .where(expr(
          """l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'
            |AND l_shipdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'
            |AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
            |AND l_quantity < 24""".stripMargin.replace("\n", " ")
        ))
        .agg(
          sum(expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)"
          )).as("revenue_e4"),
          count(lit(1)).as("n_lines")
        )
    }),
    // TPC-H Q7 shape (q85) — volume shipping between two nations, BOTH
    // directions (supplier in one, customer in the other), grouped by the
    // (supp_nation, cust_nation, year) triple.
    "q85_volume_shipping" -> ((s, d) => {
      val n1 = "NATION_1"
      val n2 = "NATION_2"
      val sup = table(s, d, "supplier")
        .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .where(col("n_name").isin(n1, n2))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cus = table(s, d, "customer")
        .join(table(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .where(col("n_name").isin(n1, n2))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      table(s, d, "lineitem")
        .where(expr(
          "l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'"
        ))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), expr("CAST(year(l_shipdate) AS BIGINT)").as("l_year"))
        .agg(
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("revenue_c"),
          count(lit(1)).as("n_lines")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),
    // TPC-H Q9 shape (q86) — product-type profit by nation and year: the
    // fixture has no partsupp, so unit cost adapts to the part's retail
    // price (profit = revenue − retail·qty, all integer cents); the part
    // color filter broadcasts and profit can go negative — a signed sum.
    "q86_product_profit" -> ((s, d) => {
      val parts = broadcast(
        table(s, d, "part")
          .where(col("p_name").contains("blue"))
          .select(col("p_partkey"), expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("unit_cost_c"))
      )
      table(s, d, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(
          table(s, d, "supplier")
            .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("n_name")),
          col("l_suppkey") === col("s_suppkey")
        )
        .join(table(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), expr("CAST(year(o_orderdate) AS BIGINT)").as("o_year"))
        .agg(
          sum(expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) - unit_cost_c * CAST(l_quantity AS BIGINT)"
          )).as("profit_c")
        )
        .orderBy(col("nation"), col("o_year").desc)
    }),
    // TPC-H Q10 shape (q87) — returned-item reporting: one quarter's
    // 'R' lines joined to customer + nation, top 20 by lost revenue.
    "q87_returned_items" -> ((s, d) => {
      table(s, d, "lineitem")
        .where(col("l_returnflag") === "R")
        .join(
          table(s, d, "orders").where(expr(
            "o_orderdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ '1997-04-01 00:00:00'"
          )),
          col("l_orderkey") === col("o_orderkey")
        )
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("c_custkey"))
        .limit(20)
    }),
    // TPC-H Q11 shape (q88) — important stock: per-part value held by one
    // nation's suppliers, kept where value exceeds a fraction of the
    // GLOBAL total — the group-vs-global-scalar threshold as an integer
    // cross-multiply (value·1000 > total), the q78 discipline.
    "q88_important_stock" -> ((s, d) => {
      val natSup = broadcast(
        table(s, d, "supplier")
          .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
          .where(col("n_name") === "NATION_3")
          .select(col("s_suppkey"))
      )
      val v = table(s, d, "lineitem")
        .join(natSup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("value_c"))
        .localCheckpoint() // two plan refs: total, threshold filter
      val tot = v.agg(sum("value_c").as("total_c"))
      v.crossJoin(broadcast(tot))
        .where(col("value_c") * 1000 > col("total_c"))
        .select(col("l_partkey").as("p_partkey"), col("value_c"))
        .orderBy(col("value_c").desc, col("p_partkey"))
    }),
    // TPC-H Q12 shape (q89) — shipmode priority classes: the two-way
    // conditional count per group (the fixture has no shipmode, so the
    // class is a quantity band), one year's lines.
    "q89_shipmode_priority" -> ((s, d) => {
      table(s, d, "lineitem")
        .where(expr(
          "l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'"
        ))
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(when(col("l_quantity") < 20, "LIGHT").otherwise("HEAVY").as("ship_class"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L)).as("low_line_count")
        )
        .orderBy("ship_class")
    }),
    // TPC-H Q13 shape (q90) — customer order-count distribution: a LEFT
    // join (customers with zero qualifying orders must appear) under a
    // negated filter, then the two-level aggregate (orders per customer →
    // customers per order count).
    "q90_customer_distribution" -> ((s, d) => {
      val ord = table(s, d, "orders")
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      table(s, d, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    // TPC-H Q14 shape (q91) — promotion revenue share: the fixture's
    // p_type carries a literal PROMO class, so this is Q14 unadapted;
    // share crosses as integer ppm (the q74 convention).
    "q91_promo_share" -> ((s, d) => {
      table(s, d, "lineitem")
        .where(expr(
          "l_shipdate >= TIMESTAMP_NTZ '1997-09-01 00:00:00' AND l_shipdate < TIMESTAMP_NTZ '1997-10-01 00:00:00'"
        ))
        .join(broadcast(table(s, d, "part").select(col("p_partkey"), col("p_type"))), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
            .otherwise(0L)).as("promo_c"),
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("total_c")
        )
        .select(
          col("promo_c"),
          col("total_c"),
          expr("(promo_c * 1000000) div total_c").as("promo_share_ppm")
        )
    }),
    // TPC-H Q18 shape (q92) — large-volume customers: the HAVING-IN
    // subquery (orderkeys whose line quantities sum past a threshold)
    // rejoined to orders + customer, ordered by value.
    "q92_large_volume" -> ((s, d) => {
      val big = table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
        .where(col("sum_qty") > 300)
      table(s, d, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(
          col("c_custkey"),
          col("c_name"),
          col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("totalprice_c"),
          col("sum_qty")
        )
        .orderBy(col("totalprice_c").desc, col("o_orderkey"))
        .limit(20)
    }),
    // TPC-H Q19 shape (q93) — disjunctive bracket predicates: three OR
    // branches over (brand, quantity range, size range) feeding one
    // revenue aggregate; the part dim broadcasts and the predicate stays
    // inside whole-stage codegen.
    "q93_disjunctive_revenue" -> ((s, d) => {
      table(s, d, "lineitem")
        .join(broadcast(table(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .where(expr(
          """(p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
            | OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
            | OR (p_brand = 'Brand#4' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin
        ))
        .agg(
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("revenue_c"),
          count(lit(1)).as("n_lines")
        )
    }),
    // TPC-H Q15 shape (q81) — "top supplier": the VIEW + scalar-max
    // pattern (revenue view computed once, the best row(s) selected by
    // equality against the view's own MAX — a self-referential scalar
    // subquery, kept exact because revenue is an integer-cents sum, so
    // max-equality has no float-tie hazard). The view aggregates one
    // filtered quarter; the max is one broadcast row; ties all survive.
    "q81_top_supplier" -> ((s, d) => {
      val rev = table(s, d, "lineitem")
        .where(expr(
          "l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP_NTZ '1996-04-01 00:00:00'"
        ))
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")).as("total_revenue_c"))
        .localCheckpoint() // two plan refs: the view, its max
      val mx = rev.agg(max("total_revenue_c").as("mx"))
      rev
        .crossJoin(broadcast(mx))
        .where(col("total_revenue_c") === col("mx"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_c"))
        .orderBy("s_suppkey")
    }),
    // GDPR erasure AUDIT (x145) — the governance verb on top of the MOR
    // machinery: for the v2 delete stripe, prove per snapshot that the
    // erased keys are VISIBLE only where they should be — present in v1,
    // gone from every later snapshot on both the MOR (DV-masked) and COW
    // (rewritten) branches, and never resurrected by the upsert/rollback
    // lineage. The change-data feed rides along: the audit trail must
    // show exactly the stripe as D rows between v1 and v2. Each check is
    // one semi-join count against a snapshot read — erasure verification
    // costs reads, never rewrites.
    "x145_erasure_audit" -> ((s, d) => {
      import s.implicits._
      val root = graft.sources.CowEvo.ensure(s, d)
      val stripe = graft.sources.CowTable
        .read(s, 1, root)
        .where(expr(graft.sources.CowEvo.DelFilter)) // the single source of truth for the erased stripe
        .select("k")
        .localCheckpoint() // one ref per audited snapshot + the CDC check
      val perVersion = Seq(1, 2, 3, 4, 5, 6, 7, 30, 31).map { v =>
        graft.sources.CowTable
          .read(s, v, root)
          .join(broadcast(stripe), Seq("k"), "left_semi") // bounded stripe: never shuffle a snapshot by k
          .agg(count(lit(1)).as("n_visible"))
          .select(lit(v.toLong).as("version"), col("n_visible"))
      }
      val cdc = graft.sources.CowTable
        .snapshotDiff(s, 1, 2, root)
        .where(col("change_type") === "D")
        .join(broadcast(stripe), Seq("k"), "left_semi")
        .agg(count(lit(1)).as("n_visible"))
        .select(lit(-1L).as("version"), col("n_visible")) // -1 = the CDC audit trail row
      perVersion.reduce(_.unionByName(_)).unionByName(cdc).orderBy("version")
    }),
    // TPC-H Q2 shape (q79) — "minimum-cost supplier": the correlated
    // scalar MIN subquery (cost = the part's cheapest observed supply,
    // rejoined on equality so ALL tying suppliers survive, as in Q2),
    // decorrelated into a grouped twin over the shared per-(part,
    // supplier) aggregate. Costs are integer cents min-aggregates; the
    // final detail join is dim-sized and the output carries a total
    // order + LIMIT (TakeOrderedAndProject, no global sort).
    "q79_min_cost_supplier" -> ((s, d) => {
      val ps = table(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cost_c"))
        .localCheckpoint() // two plan refs: per-part min, equality rejoin
      val minc = ps.groupBy("l_partkey").agg(min("cost_c").as("min_cost_c"))
      ps.join(minc, Seq("l_partkey"))
        .where(col("cost_c") === col("min_cost_c"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(
          broadcast(table(s, d, "part").where(col("p_size") === 15)),
          col("l_partkey") === col("p_partkey")
        )
        .select(col("n_name"), col("s_name"), col("p_partkey"), col("p_name"), col("min_cost_c"))
        .orderBy(col("min_cost_c"), col("p_partkey"), col("s_name"))
        .limit(50)
    }),
    // Mergeable-sketch ROLLUP (x136) — the pre-aggregation pattern the
    // mergeable-sketch family exists FOR at 100 TB: sketch once at fine
    // grain (per ship-month), answer coarse queries (per year) by MERGING
    // sketches, never rescanning data. HLL registers are per-slot maxes
    // and max is associative/commutative, so the month→year merge must
    // equal the direct year sketch REGISTER-FOR-REGISTER — `rollup_exact`
    // asserts it in-engine while the oracle independently replays the
    // year registers, pinning both paths to one truth. The merge is a
    // higher-order fold over ≤ 12 collected 256-long arrays per year —
    // sketch-sized arithmetic, the whole point of the pattern.
    "x136_sketch_rollup" -> ((s, d) => {
      val p = 8
      val st = table(s, d, "lineitem")
        .select(
          expr("CAST(year(l_shipdate) AS BIGINT)").as("yr"),
          date_format(col("l_shipdate"), "yyyy-MM").as("mon"),
          col("l_orderkey").cast("string").as("item")
        )
        .localCheckpoint() // three plan refs: month sketches, direct year, exact twin
      val monthly = st.groupBy("yr", "mon").agg(graft.functions.HllSketch(col("item"), p).as("registers"))
      val merged = monthly
        .groupBy("yr")
        .agg(collect_list(col("registers")).as("rs"), count(lit(1)).as("n_months"))
        .select(
          col("yr"),
          col("n_months"),
          expr(
            "transform(sequence(0, 255), i -> aggregate(rs, 0L, (m, r) -> greatest(m, element_at(r, i + 1))))"
          ).as("mreg")
        )
      val direct = st.groupBy("yr").agg(graft.functions.HllSketch(col("item"), p).as("dreg"))
      val ex = st.groupBy("yr").agg(countDistinct(col("item")).as("exact_ndv"))
      merged
        .join(direct, Seq("yr"))
        .join(ex, Seq("yr"))
        .select(
          col("yr"),
          col("n_months"),
          array_join(col("dreg"), ",").as("registers_csv"),
          (col("mreg") === col("dreg")).as("rollup_exact"),
          col("exact_ndv")
        )
        .orderBy("yr")
    }),
    "x120_hll_sketch" -> ((s, d) => {
      val p = 8
      val m = 256
      val stream = table(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"), col("l_orderkey").cast("string").as("item"))
        .localCheckpoint() // two plan refs: sketch, exact twin
      val sk = stream
        .groupBy("grp")
        .agg(graft.functions.HllSketch(col("item"), p).as("registers"))
      val ex = stream.groupBy("grp").agg(countDistinct(col("item")).as("exact_ndv"))
      // exact integer harmonic sum: empty registers contribute 2^53
      val zsum = expr("aggregate(registers, 0L, (a, r) -> a + shiftleft(1L, CAST(53 - r AS INT)))")
      // ((alpha·m²)·2^53)/Z with the literal arithmetic written in the same
      // left-assoc order as the oracle SQL. Every literal is cast to DOUBLE
      // explicitly: both engines parse bare decimal literals as DECIMAL and
      // apply their own (different) scale rules — caught by the gate as a
      // ±4e-5 est drift before the casts were added.
      val est = expr(
        "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))) " +
          "* CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE) / CAST(zsum AS DOUBLE)"
      )
      sk.withColumn("zsum", zsum)
        .join(ex, Seq("grp"))
        .withColumn("est", est)
        .withColumn("v_zero", expr("CAST(size(filter(registers, r -> r = 0)) AS BIGINT)"))
        .select(
          col("grp"),
          // full sketch content, as a string (no raw arrays cross the gate)
          array_join(col("registers"), ",").as("registers_csv"),
          expr("CAST(round(est * 1000000) AS BIGINT)").as("est_micro"),
          col("v_zero"),
          col("exact_ndv"),
          // 5σ of the published rse 1.04/√m ≈ 0.065 — generous but real
          expr("abs(est - exact_ndv) / exact_ndv <= 0.325").as("rel_err_ok"),
          expr(s"v_zero > 0 AND est <= 2.5 * $m").as("lc_regime")
        )
        .orderBy("grp")
    }),
    // 2D proximity self-join via GRID bucketing — the spatial-join shape
    // (geo near-neighbor, collision detection, dedup-by-position): each
    // point hashes to its d×d cell, ONE side explodes to its 3×3 neighbor
    // stencil, candidates are a plain equi-join on the cell key, and the
    // exact Chebyshev predicate filters after. Never an all-pairs: work
    // is (points × 9) join fan-in, local to co-located cells — at 100 TB
    // the cell key partitions the shuffle exactly like any equi-join,
    // while the oracle brute-forces the quadratic truth at gate scale.
    "x93_grid_proximity_join" -> ((s, d) => {
      // positions from the md5 convention, NOT a linear congruence — a
      // lattice of c·k mod m points has no close pairs at all (verified:
      // zero rows), while hashed positions are uniform in both engines
      val pts = table(s, d, "customer").select(
        col("c_custkey").as("id"),
        graft.functions.Hashing.md5Bucket(col("c_custkey").cast("string"), 10000L).as("x"),
        graft.functions.Hashing.md5Bucket(concat(col("c_custkey").cast("string"), lit("#y")), 10000L).as("y")
      )
      gridProximityJoin(pts, 25L)
        .orderBy("a_id", "b_id")
    }),

    // DBSCAN density clustering (x178, Ester et al. 1996) — the
    // density-based member of the clustering family (x57 k-means is
    // centroid-based and spherical; DBSCAN finds arbitrary-shape dense
    // regions and calls the rest NOISE): core ⇔ ≥ minPts−1 = 3 neighbors
    // within Chebyshev ε, clusters = connected components of the
    // CORE-CORE proximity graph (min-core-id labels), border points join
    // the MINIMUM cluster label among their core neighbors (canonical
    // DBSCAN leaves border assignment order-dependent — the min rule
    // makes it a pure function), everything else is noise. The fixture
    // PLANTS the regime the operator exists for (the x128/x101
    // discipline): customers with key%97 < 3 drop into one of four 50×50
    // blobs (dense — blob points go core), the rest spread md5-uniform
    // over the 10⁴×10⁴ grid (sparse background).
    // ε is DENSITY-ADAPTIVE — ⌊6000/√n⌋ — so the background's expected
    // neighbor count (λ = n·(2ε)²/10⁸ ≈ 1.4) is corpus-size-INVARIANT
    // and stays below the 2D continuum-percolation threshold: a FIXED ε
    // percolates the 16× background into one giant high-diameter core
    // component whose min-label propagation needs diameter-many rounds
    // (measured: 323 s vs 11 s at 16× — the probe caught it). The one
    // driver-side count() that sizes ε is a metadata-sized scalar (the
    // x158/x73 documented class); sqrt + floor are IEEE-identical in
    // both engines.
    // Scale shape: neighbor pairs via the x93 grid-stencil equi-join
    // (never all-pairs), components via x37's bounded min-label
    // propagation; the quadratic lives ONLY in the oracle's brute-force
    // replay. One pair table feeds counts, the core graph and border
    // assignment (localCheckpointed once).
    "x178_dbscan" -> ((s, d) => {
      val key = col("c_custkey")
      val h = (salt: String, m: Long) =>
        graft.functions.Hashing.md5Bucket(
          if (salt.isEmpty) key.cast("string") else concat(key.cast("string"), lit(salt)), m)
      def coord(salt: String) =
        when(key % 97 < 3, lit(2000L) + (key % 4) * 2000L + h(salt, 50L))
          .otherwise(h(salt, 10000L))
      val pts = table(s, d, "customer").select(key.as("id"), coord("").as("x"), coord("#y").as("y"))
      val n = table(s, d, "customer").count()
      val eps = math.max(1L, math.floor(6000.0 / math.sqrt(n.toDouble)).toLong)
      val pairs = gridProximityJoin(pts, eps).select("a_id", "b_id").localCheckpoint()
      val sym = pairs
        .select(col("a_id").as("id"), col("b_id").as("nb"))
        .unionByName(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
      val nbrs = pts
        .join(sym.groupBy("id").agg(count(lit(1)).as("n_nbrs")), Seq("id"), "left")
        .select(col("id"), coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"))
        .localCheckpoint()
      val core = nbrs.where(col("n_nbrs") >= 3).select("id")
      val coreEdges = pairs
        .join(core.select(col("id").as("a_id")), "a_id")
        .join(core.select(col("id").as("b_id")), "b_id")
        .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))
      val cc = Dedup.connectedComponents(coreEdges)
      val coreLab = core
        .join(cc.select(col("doc_id").as("id"), col("cluster_id")), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cl"))
        .localCheckpoint() // read by border assignment AND the final union
      val borderLab = sym
        .join(core, Seq("id"), "left_anti")
        .join(coreLab.select(col("id").as("nb"), col("cl")), "nb")
        .groupBy("id")
        .agg(min("cl").as("cl"))
      val labeled = coreLab
        .withColumn("role", lit("core"))
        .unionByName(borderLab.withColumn("role", lit("border")))
      val sizes = labeled.groupBy("cl").agg(count(lit(1)).as("cluster_size"))
      nbrs
        .join(labeled, Seq("id"), "left")
        .join(sizes, Seq("cl"), "left")
        .select(
          col("id"),
          lit(eps).as("eps"),
          col("n_nbrs"),
          coalesce(col("role"), lit("noise")).as("role"),
          coalesce(col("cl"), lit(-1L)).as("cluster_id"),
          coalesce(col("cluster_size"), lit(0L)).as("cluster_size")
        )
        .orderBy("id")
    }),
    "q35_range_join" -> ((s, d) => {
      // composite equi+range join: equi key keeps it a hash/sort-merge join
      // with the range as a post-join predicate (never a cross product)
      val o = table(s, d, "orders")
      val l = table(s, d, "lineitem")
      o.join(
        l,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") < date_add(col("o_orderdate").cast("date"), 120)
      )
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_fast_ships"), round(sum("l_extendedprice"), 2).as("value"))
        .orderBy("o_orderstatus")
    }),
    "q32_pivot" -> ((s, d) => {
      table(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P")
        )
        .orderBy("o_orderpriority")
    }),
    "q33_explode" -> ((s, d) => {
      // generator/lateral-view: one row per word of p_name
      table(s, d, "part")
        .select(explode(split(col("p_name"), " ")).as("word"), col("p_brand"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"), count_distinct(col("p_brand")).as("n_brands"))
        .orderBy("word")
    }),

    // Temporal-ordering census (x225) — the DIRECTIONALITY face of
    // co-occurrence (x153's rules are order-blind, q59's funnel checks
    // ONE prescribed order; this measures which of a→b / b→a actually
    // happens for EVERY type pair): per (user, day) session, distinct
    // ordered pairs under the total (ts, event_id) order, censused to
    // n(a→b) vs n(b→a) and a direction ratio. The generator's event
    // order is random (natural ratios ≈ ½), so a directional pair is
    // PLANTED (the x101 discipline): every session gets a 'qstart' at
    // its head and a 'qend' at its tail — its ratio must read 1e6 while
    // natural pairs hover at the coin flip, both verdicts in one
    // output. Scale shape: sessions are user-day bounded, so the
    // in-session pair self-join is O(session²·types) with distinct
    // collapsing to ≤ types² per session; the census is types²-sized.
    "x225_order_census" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .select(
          col("user_id"),
          expr("CAST(date_trunc('day', ts) AS DATE)").as("day"),
          col("event_type").as("t"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id")
        )
        .localCheckpoint() // session census for the plant + pair join ×2
      val plant = ev
        .groupBy("user_id", "day")
        .agg(min("us").as("lo"), max("us").as("hi"))
        .select(
          col("user_id"), col("day"),
          explode(
            expr(
              "array(named_struct('t', 'qstart', 'us', lo - 1000000, 'event_id', -1L), " +
                "named_struct('t', 'qend', 'us', hi + 1000000, 'event_id', -2L))"
            )
          ).as("p")
        )
        .select(col("user_id"), col("day"), col("p.t"), col("p.us"), col("p.event_id"))
      val all = ev.select("user_id", "day", "t", "us", "event_id").unionByName(plant)
      val a = all.select(col("user_id"), col("day"), col("t").as("ta"), col("us").as("ua"), col("event_id").as("ea"))
      val b = all.select(col("user_id"), col("day"), col("t").as("tb"), col("us").as("ub"), col("event_id").as("eb"))
      val ordered = a
        .join(b, Seq("user_id", "day"))
        .where(col("ta") =!= col("tb") && (col("ua") < col("ub") || (col("ua") === col("ub") && col("ea") < col("eb"))))
        .select("user_id", "day", "ta", "tb")
        .distinct()
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n_ab"))
      // canonicalize to the unordered pair by FOLDING both directions —
      // a transpose left-join drops pairs seen only in the
      // alphabetically-descending direction (the planted qstart→qend row
      // vanished from the first draft; gate passed because the oracle
      // shared the flaw — caught by reading the output)
      ordered
        .select(
          least(col("ta"), col("tb")).as("pa"),
          greatest(col("ta"), col("tb")).as("pb"),
          when(col("ta") < col("tb"), col("n_ab")).otherwise(0L).as("fwd"),
          when(col("ta") > col("tb"), col("n_ab")).otherwise(0L).as("bwd")
        )
        .groupBy("pa", "pb")
        .agg(sum("fwd").as("n_ab"), sum("bwd").as("n_ba"))
        .select(
          col("pa").as("ta"),
          col("pb").as("tb"),
          col("n_ab"),
          col("n_ba"),
          expr("n_ab * 1000000 div (n_ab + n_ba)").as("dir_e6")
        )
        .orderBy("ta", "tb")
    }),

    // Session path mining (x172) — the user-journey census beside q36's
    // session stats, q59's FIXED-order funnel and x141's retention: the
    // top event-type PATHS (first 5 events per 30-min-gap session,
    // '>'-joined) with session-share ppm — frequent-path discovery where
    // the funnel checks one prescribed order. Determinism: the in-session
    // order is (ts, event_id) — a total order — and the top-15 cut breaks
    // count ties on the path string. Scale shape: one user-keyed window
    // pass (shared shape with q36), one session-key agg that collapses
    // each session to a bounded path string, then a path census +
    // TakeOrderedAndProject; no self-joins, no explode.
    "x172_session_paths" -> ((s, d) => {
      val ev = graft.Graft
        .events(s, d)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .select("user_id", "event_id", "us", "event_type")
      val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val paths = ev
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn(
          "new_session",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 30L * 60 * 1000000, 1L).otherwise(0L)
        )
        .withColumn(
          "session_no",
          sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        )
        .groupBy("user_id", "session_no")
        .agg(sort_array(collect_list(struct(col("us"), col("event_id"), col("event_type")))).as("evs"))
        .select(expr("array_join(transform(slice(evs, 1, 5), e -> e.event_type), '>')").as("path"))
        .localCheckpoint() // two plan refs: census, total
      val totals = paths.agg(count(lit(1)).as("n_sessions"))
      paths
        .groupBy("path")
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(totals))
        .withColumn("share_ppm", expr("(n * 1000000) div n_sessions"))
        .orderBy(col("n").desc, col("path"))
        .limit(15)
    }),

    "q36_sessionize" -> ((s, d) => {
      // gap-based sessionization in batch: a new session starts when the
      // gap to the previous event of the same user exceeds 30 min; session
      // id = running count of session starts (the streaming face is
      // EventStreams.sessionize via mapGroupsWithState)
      val ev = graft.Graft.events(s, d)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .select("user_id", "event_id", "us", "value")
      val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val sessions = ev
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn(
          "new_session",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 30L * 60 * 1000000, 1L).otherwise(0L)
        )
        .withColumn("session_no", sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessions
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("session_value"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          max("n_events").as("max_session_events"),
          round(sum("session_value"), 2).as("total_value")
        )
        .orderBy("user_id")
    }),

    // skew-mitigation in the gate: the salted join must be SEMANTICALLY
    // identical to a plain equi-join (the oracle is the plain join), while
    // physically sharding each key over 8 sub-keys so a hot key spreads
    // across tasks even where AQE's skew splitting can't help (co-grouping,
    // pathological single-key skew)
    "q38_salted_join" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val sup = table(s, d, "supplier").select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Skew
        .saltedJoin(li, sup, "l_suppkey", salts = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"), round(sum("l_extendedprice"), 2).as("value"))
        .orderBy("s_name")
    }),

    // Measured-skew-fed salting (x270) — q38 chose its salt factor by
    // hand; here the factor is CHOSEN BY A MEASUREMENT, extending the
    // x265 stats-as-input loop from logical planning into physical skew
    // handling. A deliberately skewed derived key (70% of lineitem on one
    // value) is censused exactly (one partial-agg pass, ≤998 shuffled
    // rows), the integer advice formula picks the salt count
    // (share 0.7 × parallelism 32 → ceil 22.4 → clamped 16), and the
    // salted join must produce the identical aggregate the plain join
    // does — advice AND result both hash-pinned. A uniform key would
    // advise salts=1 and take the unsalted branch (SkewAdviceSpec).
    "x270_adaptive_salt" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .withColumn("skey", expr("CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 997 END"))
      val dim = li
        .select(col("skey"))
        .distinct()
        .select(col("skey"), concat(lit("s"), col("skey")).as("sname"))
      val (share, salts) = Skew.advisedSalts(li, "skey", parallelism = 32, maxSalts = 16)
      val joined = if (salts <= 1) li.join(dim, "skey") else Skew.saltedJoin(li, dim, "skey", salts)
      joined
        .groupBy("sname")
        .agg(count(lit(1)).as("n_items"), round(sum("l_extendedprice"), 2).as("value"))
        .orderBy(col("n_items").desc, col("sname"))
        .limit(10)
        .withColumn("salts_used", lit(salts.toLong))
        .withColumn("share_e6", lit(share))
    }),

    // sink round-trips INSIDE the gate: the aggregate is written through the
    // engine's CSV / JSON-lines sinks, read back with the schema-explicit
    // readers, and only then returned — while the oracle computes the same
    // aggregate straight from the parquet tables. A hash match therefore
    // proves the sink+reader pair is value-preserving (quoting, null
    // encoding, double formatting round-trip exactly).
    "q39_csv_roundtrip" -> ((s, d) => {
      val out = Fixture.scratch("graft_csv_rt")
      val agg = table(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      graft.etl.Ingest.writeCsv(agg.coalesce(1), out)
      graft.etl.Ingest
        .csv(s, out, org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderpriority", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("total", org.apache.spark.sql.types.DoubleType)
        )))
        .orderBy("o_orderpriority")
    }),
    // whole-file binary source: Spark's binaryFile format reads raw files
    // as (path, modificationTime, length, content) rows — the ingest face
    // for media payloads and model artifacts that have no row structure.
    // Emitted as basename + length + md5-over-hex (hex is uppercase in
    // both engines; the mtime column is machine state, never emitted).
    "q73_binary_source" -> ((s, _) => {
      BinFixture.ensure()
      s.read
        .format("binaryFile")
        .load(s"${BinFixture.dir}/*.bin")
        .select(
          element_at(split(col("path"), "/"), -1).as("fname"),
          col("length"),
          md5(hex(col("content"))).as("content_md5")
        )
        .orderBy("fname")
    }),

    // schema evolution across partitioned epochs: epoch 1 was written
    // before the `cents` column existed, epoch 2 after — `mergeSchema`
    // reconciles the footers into one superset schema, epoch-1 rows
    // surface NULL cents. The operational shape of every long-lived lake
    // table (columns accrete; readers must span old and new files).
    "q72_schema_evolution" -> ((s, d) => {
      val out = Fixture.scratch("graft_evolve")
      val o = table(s, d, "orders")
      o.where(year(col("o_orderdate")) < 1996)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$out/epoch=1")
      o.where(year(col("o_orderdate")) >= 1996)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("cents"))
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$out/epoch=2")
      s.read
        .option("mergeSchema", "true")
        .parquet(out)
        .groupBy("o_orderpriority")
        .agg(
          sum("n").as("n_total"),
          sum("cents").as("cents_total"),
          sum(when(col("cents").isNull, col("n")).otherwise(0L)).as("n_without_cents")
        )
        .orderBy("o_orderpriority")
    }),

    // text sink + scan round-trip: the line-oriented source family (raw
    // logs, one-record-per-line exports) — `write.text` emits a single
    // string column, `read.text` recovers lines, and the field parse is an
    // explicit split. The oracle recomputes the aggregate from the source
    // tables, so the round-trip must preserve every character.
    "q69_text_roundtrip" -> ((s, d) => {
      val out = Fixture.scratch("graft_text_rt")
      val lines = table(s, d, "customer")
        .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), expr("sum(CAST(round(c_acctbal * 100) AS BIGINT))").as("cents"))
        .select(concat_ws("|", col("n_name"), col("n"), col("cents")).as("value"))
      lines.coalesce(1).write.mode("overwrite").text(out)
      s.read
        .text(out)
        .select(split(col("value"), "\\|").as("f"))
        .select(
          element_at(col("f"), 1).as("n_name"),
          element_at(col("f"), 2).cast("long").as("n"),
          element_at(col("f"), 3).cast("long").as("cents")
        )
        .orderBy("n_name")
    }),
    // ORC sink + scan round-trip (Spark's second builtin columnar format —
    // same footer-driven pushdown/pruning machinery as parquet): aggregate,
    // write ORC, read it back; the oracle computes the same aggregate from
    // the source table, so the round-trip must preserve every value bit.
    "q44_orc_roundtrip" -> ((s, d) => {
      val out = Fixture.scratch("graft_orc_rt")
      table(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
        .coalesce(1)
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("l_returnflag", "l_linestatus")
    }),
    "q40_jsonl_roundtrip" -> ((s, d) => {
      val out = Fixture.scratch("graft_jsonl_rt")
      val agg = table(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(avg("c_acctbal"), 2).as("avg_bal"))
      graft.etl.Ingest.writeJsonLines(agg.coalesce(1), out)
      graft.etl.Ingest
        .jsonLines(s, out, org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("c_mktsegment", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("avg_bal", org.apache.spark.sql.types.DoubleType)
        )))
        .orderBy("c_mktsegment")
    }),

    // the reference's one real Spark transform (dags/transform/airport.py:
    // csv → parquet), upgraded to engine discipline: explicit schema
    // instead of inferSchema (no second scan), then the data model's
    // declared airport↔port join on iata_code against the SAS ports dim.
    // Exercises S1 quoted-CSV parse, S4 parquet sink, S5 scan and the
    // broadcast dim join end-to-end in the gate.
    "etl_airport_pipeline" -> ((s, _) => {
      graft.etl.AirportFixture.ensure(s)
      val raw = graft.etl.Ingest.csv(s, graft.etl.AirportFixture.csvPath, graft.etl.Schemas.airportCodes)
      graft.etl.Ingest.writeParquet(raw, graft.etl.AirportFixture.parquetPath)
      val airports = graft.etl.Ingest.parquet(s, graft.etl.AirportFixture.parquetPath)
      val ports = graft.etl.SasLabels
        .load(s, s"${ReferenceData.root}/I94_SAS_Labels_Descriptions.SAS")
        .ports.select(col("code"), col("city"))
      airports
        .join(broadcast(ports), col("iata_code") === col("code"))
        .groupBy("iso_country", "type")
        .agg(
          count(lit(1)).as("n_airports"),
          round(avg(col("elevation_ft")) * 100).cast("long").as("avg_elev_e2")
        )
        .orderBy("iso_country", "type")
    }),

    // S3 SAS7BDAT binary scan inside the gate: the deterministic fixture is
    // written once through Sas7bdatWriter (+ a parquet twin for DuckDB);
    // this query decodes the BINARY through the distributed page-range
    // reader. Hash match vs the twin = the decode is value-exact; pandas
    // cross-validation lives in scripts/check_sas7bdat.py.
    "etl_sas7bdat_scan" -> ((s, _) => {
      graft.sources.SasFixture.ensure(s)
      graft.sources.Sas7bdat.read(s, graft.sources.SasFixture.sasPath)
        .groupBy("category")
        .agg(
          count(lit(1)).as("n"),
          count(col("value")).as("n_value"),
          round(sum("value"), 2).as("sum_value"),
          count(col("comment")).as("n_comment")
        )
        .orderBy("category")
    }),

    // The SAS reader as a registered DataSource V2 (x306, r10): the EXACT
    // consumption shape the reference uses — notebook cell 5 loads I94
    // data via spark.read.format("com.github.saurfang.sas.spark"); a
    // reference user swaps the format string for "graft-sas7bdat" and
    // keeps their code. Page-range input partitions, decode-level column
    // pruning (row-major format: pruning skips cell conversion, not disk
    // bytes — stated honestly in the source scaladoc). Same aggregate and
    // oracle as etl_sas7bdat_scan: the two paths must agree hash-exactly.
    "x306_dsv2_sas" -> ((s, _) => {
      graft.sources.SasFixture.ensure(s)
      s.read
        .format("graft-sas7bdat")
        .load(graft.sources.SasFixture.sasPath)
        .groupBy("category")
        .agg(
          count(lit(1)).as("n"),
          count(col("value")).as("n_value"),
          round(sum("value"), 2).as("sum_value"),
          count(col("comment")).as("n_comment")
        )
        .orderBy("category")
    }),

    // Same decode contract over an RLE-COMPRESSED (SASYZCRL / COMPRESS=CHAR)
    // file — the layout most production SAS exports ship, and the one the
    // reference's saurfang datasource handles in notebook cell 5. The
    // fixture exercises every RLE command incl. the >255 length-nibble
    // forms and stored-raw (incompressible) rows.
    "etl_sas7bdat_rle" -> ((s, _) => {
      graft.sources.SasFixture.ensure(s)
      graft.sources.Sas7bdat.read(s, graft.sources.SasFixture.sasRlePath)
        .groupBy("tag")
        .agg(
          count(lit(1)).as("n"),
          round(sum("id"), 2).as("sum_id"),
          round(sum("z1") + sum("z2") + sum("z3"), 2).as("sum_zero"),
          sum(length(rtrim(col("pattern")))).cast("long").as("pattern_chars"),
          count(col("pattern")).as("n_pattern")
        )
        .orderBy("tag")
    }),

    // S7 catalog round-trip in the gated surface: write a table through
    // the session catalog (saveAsTable → parquet at an explicit location +
    // catalog entry), then read it back BY NAME via spark.table and query
    // it. The catalog implementation behind the identical API surface is a
    // deployment knob (in-memory here; enableHiveSupport + a metastore on a
    // cluster); what the engine guarantees is the name-addressed write/read
    // contract, which this query proves end-to-end inside the oracle gate.
    "q37_catalog_roundtrip" -> ((s, d) => {
      val tbl = "graft_cat_region_summary"
      // the table's files live in this process's scratch dir, so a
      // concurrent JVM's round trip never rewrites them mid-read; drop
      // both the catalog entry AND any files an earlier session left there
      // (the in-memory catalog forgets tables across sessions, the files
      // persist)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(Fixture.scratch(tbl))
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      table(s, d, "nation")
        .join(broadcast(table(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"), round(avg(length(col("n_name"))), 2).as("avg_comment_len"))
        .write.mode("overwrite").option("path", loc.toString).saveAsTable(tbl)
      s.table(tbl).orderBy("r_name")
    }),

    // fact ↔ demographics star join (reference us-cities-demographics.csv:1,
    // SURVEY §2.3's declared join): cleaned I94 fact aggregated to state
    // grain, left-joined to the S2-ingested demographics dim. Oracle-checked
    // end-to-end — CSV parse, sentinel '99' state policy, ;-delimited dim
    // ingest and the broadcast join all sit inside the gate. The float avg
    // crosses engines as integer centi-years (median_age_e2).
    "etl_state_demo" -> ((s, _) => {
      val dims = graft.etl.SasLabels.load(s, s"${ReferenceData.root}/I94_SAS_Labels_Descriptions.SAS")
      val states = dims.states.select("code").collect().map(_.getString(0)).toSeq
      val raw = graft.etl.Ingest
        .csv(s, s"${ReferenceData.root}/immigration_data_sample.csv", graft.etl.Schemas.immigrationSample)
        .drop("_row")
      val fact = graft.etl.Clean.immigration(raw, states)
      val demo = graft.etl.Model.stateDemographics(
        graft.etl.Ingest.demographics(s, s"${ReferenceData.root}/us-cities-demographics.csv")
      )
      fact
        .groupBy("state_code")
        .agg(count(lit(1)).as("n_arrivals"))
        .join(broadcast(demo), Seq("state_code"), "left")
        .select(
          col("state_code"),
          col("n_arrivals"),
          col("total_population"),
          col("foreign_born"),
          round(col("median_age") * 100).cast("long").as("median_age_e2")
        )
        .orderBy("state_code")
    }),

    // LATERAL correlated subquery (SQL surface): per-customer top-2 orders
    // through a lateral derived table — Catalyst decorrelates the
    // ORDER BY/LIMIT into a per-key window group-limit, so the physical
    // plan is the partial top-k shape, not one subquery execution per row.
    "q41_lateral_topk" -> ((s, d) => {
      table(s, d, "customer").createOrReplaceTempView("v_customer")
      table(s, d, "orders").createOrReplaceTempView("v_orders")
      s.sql("""SELECT c_custkey, o_orderkey, o_totalprice
              |FROM v_customer,
              |LATERAL (SELECT o_orderkey, o_totalprice FROM v_orders
              |         WHERE o_custkey = c_custkey
              |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
              |WHERE c_custkey < 20
              |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    }),

    // Time-series gap fill + forward fill: the spine of 5-minute buckets
    // per user is generated with sequence/explode (never a driver loop),
    // actual per-bucket aggregates left-join onto it, and missing values
    // carry forward via last(_, ignoreNulls) over a streaming running
    // window. Bucket arithmetic is integer epoch-seconds derived from the
    // normalized TIMESTAMP_NTZ under the session's pinned-UTC zone — no
    // timezone-dependent value ever crosses the gate (invariant #6).
    "q42_gap_fill" -> ((s, d) => {
      val e = graft.Graft.events(s, d)
        .where(col("user_id") < 5)
        .select(
          col("user_id"),
          expr("(unix_seconds(cast(ts as timestamp)) div 300) * 300").as("b"),
          col("value"))
      val actual = e.groupBy("user_id", "b").agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      val spine = actual
        .groupBy("user_id")
        .agg(min("b").as("mn"), max("b").as("mx"))
        .select(col("user_id"), explode(sequence(col("mn"), col("mx"), lit(300L))).as("b"))
      val w = Window
        .partitionBy("user_id")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine
        .join(actual, Seq("user_id", "b"), "left")
        .select(
          col("user_id"),
          col("b"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("v"), ignoreNulls = true).over(w).as("carried")
        )
        .orderBy("user_id", "b")
    }),

    // Statistical aggregates (correlation + least-squares fit), integer-
    // exact cross-engine: builtin corr/covar/stddev accumulate floats in
    // partition order, so their low bits differ between engines — instead
    // the five moment sums (Σx, Σy, Σx², Σy², Σxy) are exact BIGINTs
    // (quantity is integral, discount in integer percent; magnitudes
    // bounded so n·Σx² stays well inside int64), and the final
    // corr/slope/intercept are fixed-dividend double expressions over
    // IDENTICAL integers in both engines — bit-equal, emitted in e6
    // fixed-point. The shape is one partial+final hash aggregation; the
    // closed-form OLS never iterates.
    "q46_stats_regression" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .select(
          col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("y")
        )
      li.groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"),
          sum("y").as("sy"),
          sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"),
          sum(expr("x * y")).as("sxy")
        )
        .select(
          col("l_returnflag"),
          col("n"),
          col("sx"),
          col("sy"),
          col("sxy"),
          expr("CAST(round(1000000 * CAST(n*sxy - sx*sy AS DOUBLE) / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))) AS BIGINT)").as("corr_e6"),
          expr("CAST(round(1000000 * CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) AS BIGINT)").as("slope_e6"),
          expr("CAST(round(1000000 * (CAST(sy AS DOUBLE) - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) * sx) / n) AS BIGINT)").as("intercept_e6")
        )
        .orderBy("l_returnflag")
    }),

    // Statistical window-function family: ntile / percent_rank / cume_dist
    // / nth_value — the ranking functions q08 doesn't cover. All are
    // integer-count-derived (percent_rank = (rank−1)/(n−1), cume_dist =
    // rows≤current/n), so the emitted doubles are identical divisions in
    // both engines; ORDER BY is total down to the key.
    "q45_window_stats" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
      table(s, d, "customer")
        .where(col("c_custkey") < 200)
        .select(
          col("c_mktsegment"),
          col("c_custkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("c_custkey"), 2).over(w).as("second_key"),
          first(col("c_custkey")).over(w).as("top_key")
        )
        .orderBy("c_mktsegment", "c_custkey")
    }),

    // SCD1 merge/upsert — the warehouse operation the reference's daily
    // batch implies (each day's I94 month lands over the previous state):
    // a changes batch (updates to existing keys + brand-new keys) merges
    // into the snapshot as anti-join ⊎ changes. That is THE scale shape for
    // merge without a table format: one shuffle on the key for the anti
    // join, no full-table rewrite driver-side, works at any snapshot size.
    // (With Delta/Iceberg this is `MERGE INTO`; the plan underneath is the
    // same anti-join ⊎ union.)
    // Money crosses this query as integer CENTS (invariant #7 applied to
    // currency): a rounded double sum holds only while accumulated float
    // error stays under half a cent, and a whole-table sum (~1.3e10 at
    // sf0.1, ulp ≈ 2e-6 per addition) walks right up to that edge —
    // observed flipping the last cent between engines. Integer cents are
    // order-free and exact at any scale. The ×1.1 price bump is likewise
    // integer: (cents·11 + 5) div 10 (half-up), identical in both engines.
    "q43_merge_upsert" -> ((s, d) => {
      val snap = table(s, d, "orders")
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      val updates = snap
        .where(col("o_orderkey") % 97 === 0)
        .withColumn("cents", expr("(cents * 11 + 5) div 10"))
      val inserts = snap
        .where(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
      val changes = updates.unionByName(inserts)
      val merged = snap
        .join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(changes)
      merged
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // Incremental aggregate maintenance — the materialized-view merge law.
    // A snapshot aggregate (orders before the cut date) is combined with a
    // delta aggregate (orders on/after it) by re-aggregating the mergeable
    // state (count + integer-cent sum); non-mergeable measures (avg) are
    // DERIVED from the maintained sums, never maintained directly — the
    // classic incremental-view lesson. The oracle recomputes the aggregate
    // from scratch over the full table, so the hash match PROVES the
    // algebraic merge equals full recomputation. At 100 TB this is the
    // difference between re-scanning history daily and scanning one day.
    "q49_incremental_agg" -> ((s, d) => {
      val orders = table(s, d, "orders")
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      def agg(df: DataFrame) =
        df.groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      val snapshot = agg(orders.where(col("o_orderdate") < "1997-01-01"))
      val delta = agg(orders.where(col("o_orderdate") >= "1997-01-01"))
      snapshot
        .unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(sum("n").as("n_orders"), sum("cents").as("total_cents"))
        .withColumn("avg_cents", expr("total_cents div n_orders"))
        .orderBy("o_orderstatus")
    }),

    // Higher-order array functions — the §2.5 functional surface over
    // complex types: transform / filter / aggregate (fold) / zip_with /
    // reverse / array_position evaluated per-row over a single scan (no
    // shuffle at any scale; the lambda work parallelizes flat). Every
    // float op widens float32→double and rounds to integer micro-units in
    // the identical order in the DuckDB oracle (invariant #7), so the
    // lambda arithmetic itself is hash-checked.
    "q47_higher_order" -> ((s, d) => {
      table(s, d, "embeddings")
        .where(col("vec_id") < 50)
        .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("xd"))
        .select(
          col("vec_id"),
          size(filter(col("xd"), v => v > 0)).cast("long").as("n_pos"),
          aggregate(col("xd"), lit(0L), (acc, v) => acc + round(abs(v) * 1e6).cast("long")).as("l1_e6"),
          aggregate(
            zip_with(col("xd"), reverse(col("xd")), (a, b) => round(a * b * 1e6).cast("long")),
            lit(0L),
            (acc, v) => acc + v
          ).as("rev_dot_e6"),
          array_position(col("xd"), array_max(col("xd"))).cast("long").as("argmax_1based")
        )
        .orderBy("vec_id")
    }),

    // Reference-parity ETL pipeline end-to-end (reads ReferenceData.root, so
    // rows-only — the sf tables play no part): SURVEY.md §7.2 flagship.
    "etl_i94_top_ports" -> ((s, _) => {
      val dims = graft.etl.SasLabels.load(s, s"${ReferenceData.root}/I94_SAS_Labels_Descriptions.SAS")
      val states = dims.states.select("code").collect().map(_.getString(0)).toSeq
      val raw = graft.etl.Ingest
        .csv(s, s"${ReferenceData.root}/immigration_data_sample.csv", graft.etl.Schemas.immigrationSample)
        .drop("_row")
      val star = graft.etl.Model.build(s, graft.etl.Clean.immigration(raw, states), dims)
      star
        .groupBy("port_code", "port_city", "port_state")
        .agg(count(lit(1)).as("n_arrivals"))
        .orderBy(col("n_arrivals").desc, col("port_code"))
        .limit(10)
    })
  )

  /** Pairs of points within Chebyshev distance `d`, via d×d grid cells:
    * the build side keys by its own cell, the probe side explodes to its
    * 3×3 neighbor stencil, candidates are a plain equi-join on the cell
    * key, and the exact |Δ|≤d predicate filters after. A qualifying pair
    * meets in EXACTLY the build point's cell (a cell appears once in any
    * stencil), so no dedup pass is needed. Input schema: (id, x, y). */
  private[graft] def gridProximityJoin(pts: DataFrame, d: Long): DataFrame = {
    val cells = pts
      .withColumn("cx", expr(s"x div ${d}L"))
      .withColumn("cy", expr(s"y div ${d}L"))
    val offsets =
      expr("flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> struct(dx, dy))))")
    val probe = cells
      .select(
        col("id").as("b_id"), col("x").as("xb"), col("y").as("yb"),
        col("cx").as("pcx"), col("cy").as("pcy"), explode(offsets).as("o")
      )
      .select(col("b_id"), col("xb"), col("yb"), (col("pcx") + col("o.dx")).as("cx"), (col("pcy") + col("o.dy")).as("cy"))
    cells
      .select(col("id").as("a_id"), col("x").as("xa"), col("y").as("ya"), col("cx"), col("cy"))
      .join(probe, Seq("cx", "cy"))
      .where(
        col("a_id") < col("b_id") &&
          abs(col("xa") - col("xb")) <= d && abs(col("ya") - col("yb")) <= d
      )
      .select(
        col("a_id"),
        col("b_id"),
        greatest(abs(col("xa") - col("xb")), abs(col("ya") - col("yb"))).as("cheb")
      )
  }

  def oracles: Map[String, String] = Map(
    // x261: both sketches replayed independently per stream - KMV by
    // ORDER BY/LIMIT bottom-256, HLL by the x120 register rebuild.
    "x261_sketch_accuracy" ->
      """WITH st1 AS (SELECT l_orderkey::VARCHAR AS item FROM lineitem),
        |di1 AS (SELECT DISTINCT item FROM st1),
        |ex1 AS (SELECT count(*)::BIGINT AS exact FROM di1),
        |hk1 AS (SELECT ('0x' || substr(md5(item), 1, 15))::BIGINT AS h FROM di1),
        |ska1 AS (SELECT h FROM hk1 ORDER BY h LIMIT 256),
        |kmv1 AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |  ELSE CAST((255::HUGEINT * 1152921504606846976) // max(h) AS BIGINT) END AS est FROM ska1),
        |rh1 AS (SELECT ('0x' || substr(md5('hll:' || item), 1, 15))::BIGINT AS hv FROM di1),
        |rg1 AS (SELECT (hv % 256)::BIGINT AS idx,
        |  max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS mx
        |  FROM rh1 GROUP BY 1),
        |fr1 AS (SELECT i.idx, coalesce(r.mx, 0) AS mx
        |  FROM (SELECT unnest(range(256))::BIGINT AS idx) i LEFT JOIN rg1 r ON i.idx = r.idx),
        |hll1 AS (SELECT CAST('1089997742110040029644455936000'::HUGEINT
        |  // (2570790000::HUGEINT * sum(1::BIGINT << (53 - mx))) AS BIGINT) AS est FROM fr1),
        |st2 AS (SELECT l_partkey::VARCHAR AS item FROM lineitem),
        |di2 AS (SELECT DISTINCT item FROM st2),
        |ex2 AS (SELECT count(*)::BIGINT AS exact FROM di2),
        |hk2 AS (SELECT ('0x' || substr(md5(item), 1, 15))::BIGINT AS h FROM di2),
        |ska2 AS (SELECT h FROM hk2 ORDER BY h LIMIT 256),
        |kmv2 AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |  ELSE CAST((255::HUGEINT * 1152921504606846976) // max(h) AS BIGINT) END AS est FROM ska2),
        |rh2 AS (SELECT ('0x' || substr(md5('hll:' || item), 1, 15))::BIGINT AS hv FROM di2),
        |rg2 AS (SELECT (hv % 256)::BIGINT AS idx,
        |  max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS mx
        |  FROM rh2 GROUP BY 1),
        |fr2 AS (SELECT i.idx, coalesce(r.mx, 0) AS mx
        |  FROM (SELECT unnest(range(256))::BIGINT AS idx) i LEFT JOIN rg2 r ON i.idx = r.idx),
        |hll2 AS (SELECT CAST('1089997742110040029644455936000'::HUGEINT
        |  // (2570790000::HUGEINT * sum(1::BIGINT << (53 - mx))) AS BIGINT) AS est FROM fr2),
        |st3 AS (SELECT o_custkey::VARCHAR AS item FROM orders),
        |di3 AS (SELECT DISTINCT item FROM st3),
        |ex3 AS (SELECT count(*)::BIGINT AS exact FROM di3),
        |hk3 AS (SELECT ('0x' || substr(md5(item), 1, 15))::BIGINT AS h FROM di3),
        |ska3 AS (SELECT h FROM hk3 ORDER BY h LIMIT 256),
        |kmv3 AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |  ELSE CAST((255::HUGEINT * 1152921504606846976) // max(h) AS BIGINT) END AS est FROM ska3),
        |rh3 AS (SELECT ('0x' || substr(md5('hll:' || item), 1, 15))::BIGINT AS hv FROM di3),
        |rg3 AS (SELECT (hv % 256)::BIGINT AS idx,
        |  max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS mx
        |  FROM rh3 GROUP BY 1),
        |fr3 AS (SELECT i.idx, coalesce(r.mx, 0) AS mx
        |  FROM (SELECT unnest(range(256))::BIGINT AS idx) i LEFT JOIN rg3 r ON i.idx = r.idx),
        |hll3 AS (SELECT CAST('1089997742110040029644455936000'::HUGEINT
        |  // (2570790000::HUGEINT * sum(1::BIGINT << (53 - mx))) AS BIGINT) AS est FROM fr3),
        |u AS (
        |  SELECT 'orderkeys' AS stream, 'hll' AS method, hll1.est AS est, ex1.exact AS exact FROM hll1, ex1
        |  UNION ALL SELECT 'orderkeys', 'kmv', kmv1.est, ex1.exact FROM kmv1, ex1
        |  UNION ALL SELECT 'partkeys' AS stream, 'hll' AS method, hll2.est AS est, ex2.exact AS exact FROM hll2, ex2
        |  UNION ALL SELECT 'partkeys', 'kmv', kmv2.est, ex2.exact FROM kmv2, ex2
        |  UNION ALL SELECT 'custkeys' AS stream, 'hll' AS method, hll3.est AS est, ex3.exact AS exact FROM hll3, ex3
        |  UNION ALL SELECT 'custkeys', 'kmv', kmv3.est, ex3.exact FROM kmv3, ex3)
        |SELECT stream, method, est, exact,
        |  CAST((abs(est - exact) * 1000000) // exact AS BIGINT) AS err_ppm
        |FROM u ORDER BY stream, method""".stripMargin,
    // x246: census arithmetic + the definitional slice join.
    "x246_join_amplification" ->
      """WITH keys AS (SELECT l_partkey AS k FROM lineitem),
        |census AS (SELECT k, count(*) AS c FROM keys GROUP BY 1),
        |s AS (SELECT CAST(sum(c * c) AS BIGINT) AS est_self_join_rows, count(*) AS n_keys FROM census),
        |se AS (SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) AS slice_est FROM census WHERE k % 100 = 0),
        |sa AS (SELECT count(*) AS slice_actual FROM keys a JOIN keys b ON a.k = b.k AND a.k % 100 = 0),
        |top AS (SELECT k, c FROM census ORDER BY c DESC, k LIMIT 10)
        |SELECT k, CAST(c AS BIGINT) AS c, CAST(c * c AS BIGINT) AS amp,
        |  s.est_self_join_rows, s.n_keys, se.slice_est, sa.slice_actual
        |FROM top, s, se, sa ORDER BY c DESC, k""".stripMargin,
    // x234: the same bottom-256 sketches by ORDER BY/LIMIT, same
    // estimator arithmetic, same exact legs.
    "x234_kmv_join_estimate" ->
      """WITH a AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 10 < 3),
        |bk AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
        |ha AS (SELECT ('0x' || substr(md5(k || '#jk'), 1, 15))::BIGINT AS h FROM a),
        |hb AS (SELECT ('0x' || substr(md5(k || '#jk'), 1, 15))::BIGINT AS h FROM bk),
        |ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb) u ORDER BY h LIMIT 256),
        |ea AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |  ELSE CAST((255::HUGEINT * 1152921504606846976) // max(h) AS BIGINT) END AS da FROM ska),
        |eb AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |  ELSE CAST((255::HUGEINT * 1152921504606846976) // max(h) AS BIGINT) END AS db FROM skb),
        |eu AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |  ELSE CAST((255::HUGEINT * 1152921504606846976) // max(h) AS BIGINT) END AS du FROM sku),
        |rho AS (SELECT count(*) AS nboth FROM sku
        |  WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
        |ex AS (SELECT (SELECT count(*) FROM a) AS da_ex, (SELECT count(*) FROM bk) AS db_ex,
        |  (SELECT count(*) FROM a WHERE k IN (SELECT k FROM bk)) AS ov_ex,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT k FROM a)) AS jr_ex,
        |  (SELECT count(*) FROM lineitem) AS nli),
        |ov AS (SELECT CAST((rho.nboth * eu.du) // 256 AS BIGINT) AS ov_est FROM rho, eu),
        |jr AS (SELECT CAST((ov.ov_est * ex.nli) // eb.db AS BIGINT) AS jr_est FROM ov, ex, eb),
        |m AS (
        |  SELECT 'd_orders_filtered' AS metric, CAST(ea.da AS BIGINT) AS est,
        |    CAST(ex.da_ex AS BIGINT) AS exact FROM ea, ex
        |  UNION ALL SELECT 'd_lineitem_keys', CAST(eb.db AS BIGINT), CAST(ex.db_ex AS BIGINT) FROM eb, ex
        |  UNION ALL SELECT 'key_overlap', ov.ov_est, CAST(ex.ov_ex AS BIGINT) FROM ov, ex
        |  UNION ALL SELECT 'join_rows', jr.jr_est, CAST(ex.jr_ex AS BIGINT) FROM jr, ex)
        |SELECT metric, est, exact,
        |  CAST(CASE WHEN exact = 0 THEN 0 ELSE (abs(est - exact) * 1000000) // exact END AS BIGINT) AS err_ppm
        |FROM m ORDER BY metric""".stripMargin,
    // x232: the definitional ip×blocks containment join with the same
    // pure-integer longest-prefix argmax key — affordable at gate scale,
    // which is exactly what makes it a trustworthy oracle for the
    // grid-bucketed plan.
    "x232_cidr_join" ->
      """WITH ips AS (
        |  SELECT DISTINCT ('0x' || substr(md5(c_custkey || '#ip'), 1, 15))::BIGINT % 4294967296 AS ip
        |  FROM customer),
        |b0 AS (SELECT range AS j FROM range(64)),
        |blk1 AS (
        |  SELECT 8 + ((j // 2) * 3) % 16 + CASE WHEN j % 2 = 1 THEN 6 ELSE 0 END AS plen,
        |    ('0x' || substr(md5((j // 2) || '#cidr'), 1, 15))::BIGINT % 4294967296 AS raw
        |  FROM b0),
        |blocks AS (
        |  SELECT DISTINCT CAST(plen AS BIGINT) AS plen,
        |    (raw // (1::BIGINT << (32 - plen))) * (1::BIGINT << (32 - plen)) AS base
        |  FROM blk1),
        |cand AS (
        |  SELECT ip, plen, base FROM ips, blocks
        |  WHERE ip // (1::BIGINT << CAST(32 - plen AS INT)) = base // (1::BIGINT << CAST(32 - plen AS INT))),
        |win AS (SELECT ip, max(plen * 4294967296 + base) AS key FROM cand GROUP BY ip),
        |hits AS (
        |  SELECT CAST(key // 4294967296 AS BIGINT) AS plen, CAST(key % 4294967296 AS BIGINT) AS base,
        |    count(*) AS n_hits
        |  FROM win GROUP BY 1, 2),
        |unm AS (
        |  SELECT CAST(-1 AS BIGINT) AS plen, CAST(-1 AS BIGINT) AS base, count(*) AS n_hits
        |  FROM ips WHERE ip NOT IN (SELECT ip FROM cand))
        |SELECT plen, base, n_hits FROM hits
        |UNION ALL SELECT plen, base, n_hits FROM unm
        |ORDER BY plen, base""".stripMargin,
    // x208: the identical census → md5-parity signs → 31 estimators →
    // median replay; both engines carry Z² in DECIMAL(38,0).
    "x208_ams_f2" ->
      """WITH census AS (SELECT l_suppkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |exact AS (
        |  SELECT CAST(sum(CAST(f AS HUGEINT) * f) AS DECIMAL(38,0)) AS exact_f2 FROM census),
        |e AS (
        |  SELECT j,
        |    sum(f * (1 - 2 * (('0x' || substr(md5(k::VARCHAR || '#' || j::VARCHAR), 1, 15))::BIGINT % 2))) AS z
        |  FROM census, unnest(generate_series(0, 30)) t(j) GROUP BY j),
        |m AS (
        |  SELECT CAST(CAST(z AS DECIMAL(38,0)) * z AS DECIMAL(38,0)) AS z2, j,
        |    row_number() OVER (ORDER BY CAST(z AS DECIMAL(38,0)) * z, j) AS rn FROM e)
        |SELECT CAST(exact_f2 AS BIGINT) AS exact_f2, CAST(z2 AS BIGINT) AS ams_est,
        |  abs(CAST(z2 AS BIGINT) - CAST(exact_f2 AS BIGINT)) * 1000000 // CAST(exact_f2 AS BIGINT) AS abs_err_e6
        |FROM exact, m WHERE rn = 16""".stripMargin,

    // the same pack/OR/popcount pipeline in SQL, plus the plain
    // count(DISTINCT) twin — bitmap-exactness proven per group
    "x96_bitmap_distinct" ->
      """WITH li AS (SELECT l_returnflag AS flag, l_suppkey AS k FROM lineitem),
        |w AS (
        |  SELECT flag, k // 63 AS w,
        |    bit_or(1::BIGINT << CAST(k % 63 AS INT)) AS word
        |  FROM li GROUP BY flag, k // 63),
        |b AS (
        |  SELECT flag, CAST(sum(bit_count(word)) AS BIGINT) AS ndv_bitmap,
        |    CAST(count(*) AS BIGINT) AS n_words
        |  FROM w GROUP BY flag),
        |e AS (SELECT flag, CAST(count(DISTINCT k) AS BIGINT) AS ndv_exact FROM li GROUP BY flag)
        |SELECT b.flag, ndv_bitmap, ndv_exact, n_words
        |FROM b JOIN e ON b.flag = e.flag ORDER BY b.flag""".stripMargin,
    // the heavy set replayed exactly; in_sketch is the guarantee the
    // sketch must meet on every execution
    "x94_heavy_hitters" ->
      """WITH ids AS (SELECT unnest(range(34268)) AS id),
        |st AS (
        |  SELECT CASE WHEN id < 32768 THEN 'h' || (id % 8)
        |              ELSE 't' || ((id - 32768) // 3) END AS item
        |  FROM ids),
        |c AS (SELECT item, count(*) AS cnt FROM st GROUP BY item)
        |SELECT item, CAST(cnt AS BIGINT) AS cnt, TRUE AS in_sketch
        |FROM c WHERE cnt * 16 > 34268 ORDER BY item""".stripMargin,
    // the corpus replay: every lineitem supplier key once, the planted
    // stripe 25×; heavy set from the exact counts; retention is the
    // guarantee (count > N/k ⇒ always in the buffer), so TRUE is truth
    "x101_heavy_hitters_corpus" ->
      """WITH st AS (
        |  SELECT l_suppkey AS item
        |  FROM lineitem, (SELECT unnest(range(25)) AS r)
        |  WHERE l_suppkey % 10 = 3 OR r = 0),
        |c AS (SELECT item, count(*) AS cnt FROM st GROUP BY item),
        |t AS (SELECT count(*) AS n FROM st)
        |SELECT item, CAST(cnt AS BIGINT) AS cnt, CAST(n AS BIGINT) AS stream_n, TRUE AS in_sketch
        |FROM c, t WHERE cnt * 16 > n ORDER BY item""".stripMargin,
    // x107: full replay — count-min counters are pure sums (order-free),
    // so the oracle rebuilds every probed cell from the same md5-bucket
    // formula and reproduces the exact estimates, not just the guarantee.
    "x107_countmin_sketch" ->
      """WITH st AS (SELECT l_suppkey::VARCHAR AS item FROM lineitem),
        |probe AS (
        |  SELECT item, count(*) AS exact_n FROM st GROUP BY item
        |  ORDER BY exact_n DESC, item LIMIT 10),
        |grid AS (SELECT unnest(range(4)) AS i),
        |cells AS (
        |  SELECT i,
        |    ('0x' || substr(md5('cm' || i || ':' || item), 1, 15))::BIGINT % 256 AS bucket,
        |    count(*) AS c
        |  FROM st, grid GROUP BY 1, 2),
        |est AS (
        |  SELECT p.item, p.exact_n, min(c.c) AS est
        |  FROM probe p CROSS JOIN grid g JOIN cells c
        |    ON c.i = g.i
        |   AND c.bucket = ('0x' || substr(md5('cm' || g.i || ':' || p.item), 1, 15))::BIGINT % 256
        |  GROUP BY 1, 2)
        |SELECT item, exact_n, CAST(est AS BIGINT) AS est, est >= exact_n AS overestimate
        |FROM est ORDER BY exact_n DESC, item""".stripMargin,
    // x132: both counter grids rebuilt from the same md5-bucket formula
    // (pure sums — order-free), the dot products as exact integer joins
    // on (depth, bucket), the exact twin as the literal join count.
    "x132_join_size_estimate" ->
      """WITH sa AS (SELECT l_orderkey::VARCHAR AS item FROM lineitem),
        |sb AS (SELECT o_orderkey::VARCHAR AS item FROM orders WHERE o_orderstatus = 'F'),
        |grid AS (SELECT unnest(range(4)) AS i),
        |ca AS (
        |  SELECT i, ('0x' || substr(md5('cm' || i || ':' || item), 1, 15))::BIGINT % 16384 AS bucket,
        |    count(*) AS c
        |  FROM sa, grid GROUP BY 1, 2),
        |cb AS (
        |  SELECT i, ('0x' || substr(md5('cm' || i || ':' || item), 1, 15))::BIGINT % 16384 AS bucket,
        |    count(*) AS c
        |  FROM sb, grid GROUP BY 1, 2),
        |dots AS (
        |  SELECT a.i, CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |  FROM ca a JOIN cb b ON a.i = b.i AND a.bucket = b.bucket
        |  GROUP BY 1),
        |ex AS (
        |  SELECT count(*) AS exact_rows
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT
        |  (SELECT dot FROM dots WHERE i = 0) AS dot0,
        |  (SELECT dot FROM dots WHERE i = 1) AS dot1,
        |  (SELECT dot FROM dots WHERE i = 2) AS dot2,
        |  (SELECT dot FROM dots WHERE i = 3) AS dot3,
        |  (SELECT min(dot) FROM dots) AS est_rows,
        |  CAST(ex.exact_rows AS BIGINT) AS exact_rows,
        |  (SELECT min(dot) FROM dots) >= ex.exact_rows AS upper_bound_holds
        |FROM ex""".stripMargin,
    // x265: the DEFINITIONAL join (any order — the rule may change the
    // plan, never the result) plus the expected plan census as literals:
    // reordered deepest pair, injected broadcast hint, untouched twin.
    "x265_stats_join_reorder" ->
      """SELECT c_nationkey, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  'customer,orders' AS deepest_on, TRUE AS bcast_on,
        |  'lineitem,orders' AS deepest_off, FALSE AS bcast_off
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey < 15
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // x273: the plain-join aggregate over the PERSISTED fixture (the rule
    // may change the plan, never the result), the count-min share bound
    // rebuilt from the same md5 CM formula JoinStats persisted, the salt
    // advice replayed, and the plan census as pinned literals.
    "x273_stats_skew_join" ->
      s"""WITH f AS (
        |  SELECT skey, cents
        |  FROM '${Fixture.root}/graft_skewfix/sf0.01/skewfact.parquet/*.parquet'),
        |dm AS (
        |  SELECT skey, sname
        |  FROM '${Fixture.root}/graft_skewfix/sf0.01/skewdim.parquet/*.parquet'),
        |j AS (
        |  SELECT sname, count(*) AS n_items, CAST(sum(cents) AS BIGINT) AS value_cents
        |  FROM f JOIN dm USING (skey) GROUP BY 1),
        |grid AS (SELECT unnest(range(4)) AS i),
        |cm AS (
        |  SELECT i, ('0x' || substr(md5('cm' || i || ':' || skey::VARCHAR), 1, 15))::BIGINT % 8192 AS b,
        |    count(*) AS c
        |  FROM f, grid GROUP BY 1, 2),
        |ub AS (SELECT min(mx) AS ub FROM (SELECT i, max(c) AS mx FROM cm GROUP BY i)),
        |n AS (SELECT count(*) AS nr FROM f),
        |adv AS (
        |  SELECT (ub * 1000000) // nr AS share_ub_e6,
        |    greatest(1, least(16, (((ub * 1000000) // nr) * 32 + 999999) // 1000000)) AS salts
        |  FROM ub, n)
        |SELECT sname, n_items, value_cents, TRUE AS salted_on, FALSE AS salted_off,
        |  CAST(share_ub_e6 AS BIGINT) AS share_ub_e6, CAST(salts AS BIGINT) AS salts_planned
        |FROM j, adv ORDER BY n_items DESC, sname LIMIT 10""".stripMargin,
    // x308: the definitional aggregate (plan may change, result may not)
    // plus the SESSION-path optimized-plan census as pinned literals —
    // reorder pulls (customer,orders) to the bottom with the rule live,
    // the written (lineitem,orders) stays without it.
    "x308_session_reorder" ->
      """SELECT c_mktsegment, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  'customer,orders' AS deepest_on, TRUE AS bcast_on,
        |  'lineitem,orders' AS deepest_off, FALSE AS bcast_off
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey < 20
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // x309: the plain skewed-join aggregate (identical to x273's j leg)
    // plus the session-path PRECEDENCE census as pinned literals: both
    // rules on → broadcast (no salt); hints off → salted; both off →
    // plain.
    "x309_session_salt" ->
      s"""WITH f AS (
        |  SELECT skey, cents
        |  FROM '${Fixture.root}/graft_skewfix/sf0.01/skewfact.parquet/*.parquet'),
        |dm AS (
        |  SELECT skey, sname
        |  FROM '${Fixture.root}/graft_skewfix/sf0.01/skewdim.parquet/*.parquet'),
        |j AS (
        |  SELECT sname, count(*) AS n_items, CAST(sum(cents) AS BIGINT) AS value_cents
        |  FROM f JOIN dm USING (skey) GROUP BY 1)
        |SELECT sname, n_items, value_cents,
        |  TRUE AS bcast_when_both, FALSE AS salted_when_both,
        |  TRUE AS salted_on, FALSE AS salted_off
        |FROM j ORDER BY n_items DESC, sname LIMIT 10""".stripMargin,
    // x120: full register replay — HLL registers are per-slot maxes
    // (order-free), so the oracle rebuilds all 256 registers per group
    // from the same md5 formula (bin() = exact integer bit length), then
    // the same integer harmonic sum and the same left-assoc double
    // estimate. A single mis-set register flips the list hash.
    // q80: the literal Q16 form — NOT IN blacklist subquery (keys are
    // non-null supplier PKs on both sides, so NOT IN ≡ the anti join
    // here; the x139 NOT-EXISTS caveat applies only to nullable keys).
    "q80_parts_supplier_census" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#23'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 40""".stripMargin,
    // x138: six per-column blocks, each one aggregate + one ordered-limit
    // MCV subquery; string casts only on integers/timestamps/strings
    // (doubles were canonicalized to cents first on both sides).
    "x138_column_profile" -> {
      def block(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  count(DISTINCT $c) AS ndv,
           |  min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s,
           |  (SELECT $c::VARCHAR FROM t GROUP BY $c
           |   ORDER BY count(*) DESC, $c::VARCHAR NULLS FIRST LIMIT 1) AS top_value,
           |  (SELECT count(*) FROM t GROUP BY $c
           |   ORDER BY count(*) DESC, $c::VARCHAR NULLS FIRST LIMIT 1) AS top_count
           |FROM t""".stripMargin
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "totalprice_cents", "o_orderdate", "o_orderpriority")
      s"""WITH t AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
         |    o_orderdate, o_orderpriority
         |  FROM orders)
         |${cols.map(block).mkString("\nUNION ALL\n")}
         |ORDER BY col_name""".stripMargin
    },
    // x139: each relationship replayed as a NOT-IN orphan count; the
    // planted corruption uses the same shift formula, so the detector's
    // non-zero row is load-bearing.
    "x139_fk_integrity" -> {
      // NOT EXISTS (never NOT IN): left_anti keeps a NULL child key as an
      // orphan while NOT IN returns NULL for it — NOT EXISTS matches the
      // anti-join on both null-key directions (review-found)
      def rel(name: String, childSql: String, key: String, parentSql: String) =
        s"""SELECT '$name' AS relationship, count(*) AS n_child,
           |  CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM ($parentSql) p WHERE p.$key = c.$key)
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           |  sum(CASE WHEN NOT EXISTS (SELECT 1 FROM ($parentSql) p WHERE p.$key = c.$key)
           |      THEN 1 ELSE 0 END) = 0 AS ref_ok
           |FROM ($childSql) c""".stripMargin
      Seq(
        rel("corrupted_supplier",
          """SELECT CASE WHEN l_orderkey % 9973 = 0 THEN l_suppkey + 1000000 ELSE l_suppkey END AS l_suppkey
            |FROM lineitem""".stripMargin,
          "l_suppkey", "SELECT s_suppkey AS l_suppkey FROM supplier"),
        rel("customer_nation", "SELECT c_nationkey FROM customer", "c_nationkey", "SELECT n_nationkey AS c_nationkey FROM nation"),
        rel("lineitem_orders", "SELECT l_orderkey FROM lineitem", "l_orderkey", "SELECT o_orderkey AS l_orderkey FROM orders"),
        rel("lineitem_part", "SELECT l_partkey FROM lineitem", "l_partkey", "SELECT p_partkey AS l_partkey FROM part"),
        rel("lineitem_supplier", "SELECT l_suppkey FROM lineitem", "l_suppkey", "SELECT s_suppkey AS l_suppkey FROM supplier"),
        rel("nation_region", "SELECT n_regionkey FROM nation", "n_regionkey", "SELECT r_regionkey AS n_regionkey FROM region"),
        rel("orders_customer", "SELECT o_custkey FROM orders", "o_custkey", "SELECT c_custkey AS o_custkey FROM customer"),
        rel("supplier_nation", "SELECT s_nationkey FROM supplier", "s_nationkey", "SELECT n_nationkey AS s_nationkey FROM nation")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
    },
    // q82–q93: the remaining TPC-H shapes, each as its literal form.
    "q82_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  epoch_us(o_orderdate::TIMESTAMP) AS o_orderdate_us, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < '1998-07-01' AND l_shipdate > '1998-07-01'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue_c DESC, o_orderdate_us, l_orderkey LIMIT 10""".stripMargin,
    "q83_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_forecast_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,
    "q85_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
        |  AND n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q86_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           - CAST(round(p_retailprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT)
        |    AS profit_c
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%blue%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q87_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_c DESC, c_custkey LIMIT 20""".stripMargin,
    "q88_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_c
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1)
        |SELECT p_partkey, value_c FROM v
        |WHERE value_c * 1000 > (SELECT sum(value_c) FROM v)
        |ORDER BY value_c DESC, p_partkey""".stripMargin,
    "q89_shipmode_priority" ->
      """SELECT CASE WHEN l_quantity < 20 THEN 'LIGHT' ELSE 'HEAVY' END AS ship_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
        |    AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q90_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT o_custkey, o_orderkey FROM orders WHERE o_orderpriority <> '1-URGENT') o
        |  ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q91_promo_share" ->
      """WITH t AS (
        |  SELECT p_type,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01')
        |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rc ELSE 0 END) AS BIGINT) AS promo_c,
        |  CAST(sum(rc) AS BIGINT) AS total_c,
        |  (CAST(sum(CASE WHEN p_type = 'PROMO' THEN rc ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(sum(rc) AS BIGINT) AS promo_share_ppm
        |FROM t""".stripMargin,
    "q92_large_volume" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_c, sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |      FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 300) b
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY totalprice_c DESC, o_orderkey LIMIT 20""".stripMargin,
    "q93_disjunctive_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_c,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#4' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin,
    // q81: the literal Q15 view + scalar-max form.
    "q81_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |      AS total_revenue_c
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue_c
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue_c = (SELECT max(total_revenue_c) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    // x145: the audit's truth from the stripe formulas — visible only in
    // v1 (and in the CDC trail as D rows), zero everywhere else.
    "x145_erasure_audit" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderkey // 1024 AS bucket FROM orders),
        |stripe AS (SELECT count(*) AS n FROM base WHERE k % 13 = 0 AND bucket % 3 = 1)
        |SELECT CAST(v AS BIGINT) AS version,
        |  CAST(CASE WHEN v IN (-1, 1) THEN n ELSE 0 END AS BIGINT) AS n_visible
        |FROM stripe, unnest([-1, 1, 2, 3, 4, 5, 6, 7, 30, 31]) t(v)
        |ORDER BY version""".stripMargin,
    // q79: the correlated scalar MIN written literally — DuckDB's
    // decorrelation must agree with the grouped-twin equality rejoin.
    "q79_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT n_name, s_name, p_partkey, p_name, ps.cost_c AS min_cost_c
        |FROM part
        |JOIN ps ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_size = 15
        |  AND ps.cost_c = (SELECT min(cost_c) FROM ps p2 WHERE p2.l_partkey = ps.l_partkey)
        |ORDER BY min_cost_c, p_partkey, s_name LIMIT 50""".stripMargin,
    // x136: the year registers replayed independently (the x120 formula
    // keyed by year); rollup_exact is the oracle's literal TRUE — a merge
    // that loses any register flips it red.
    "x136_sketch_rollup" ->
      """WITH st AS (
        |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        |    strftime(l_shipdate, '%Y-%m') AS mon, l_orderkey::VARCHAR AS item
        |  FROM lineitem),
        |h AS (SELECT yr, ('0x' || substr(md5('hll:' || item), 1, 15))::BIGINT AS hv FROM st),
        |rhos AS (
        |  SELECT yr, (hv % 256)::BIGINT AS idx,
        |    CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END AS rho
        |  FROM h),
        |regs AS (SELECT yr, idx, max(rho) AS mx FROM rhos GROUP BY 1, 2),
        |grid AS (
        |  SELECT y.yr, i.idx FROM (SELECT DISTINCT yr FROM st) y,
        |       (SELECT unnest(range(256))::BIGINT AS idx) i),
        |fr AS (
        |  SELECT gr.yr, gr.idx, coalesce(r.mx, 0) AS mx
        |  FROM grid gr LEFT JOIN regs r ON gr.yr = r.yr AND gr.idx = r.idx),
        |sk AS (
        |  SELECT yr, string_agg(mx::VARCHAR, ',' ORDER BY idx) AS registers_csv
        |  FROM fr GROUP BY yr),
        |nm AS (SELECT yr, count(DISTINCT mon)::BIGINT AS n_months FROM st GROUP BY 1),
        |ex AS (SELECT yr, count(DISTINCT item)::BIGINT AS exact_ndv FROM st GROUP BY 1)
        |SELECT sk.yr, nm.n_months, sk.registers_csv, TRUE AS rollup_exact, ex.exact_ndv
        |FROM sk JOIN nm USING (yr) JOIN ex USING (yr) ORDER BY yr""".stripMargin,
    "x120_hll_sketch" ->
      """WITH st AS (SELECT l_returnflag AS grp, l_orderkey::VARCHAR AS item FROM lineitem),
        |h AS (
        |  SELECT grp, ('0x' || substr(md5('hll:' || item), 1, 15))::BIGINT AS hv FROM st),
        |rhos AS (
        |  SELECT grp, (hv % 256)::BIGINT AS idx,
        |    CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END AS rho
        |  FROM h),
        |regs AS (SELECT grp, idx, max(rho) AS mx FROM rhos GROUP BY 1, 2),
        |grid AS (
        |  SELECT g.grp, i.idx FROM (SELECT DISTINCT grp FROM st) g,
        |       (SELECT unnest(range(256))::BIGINT AS idx) i),
        |fr AS (
        |  SELECT gr.grp, gr.idx, coalesce(r.mx, 0) AS mx
        |  FROM grid gr LEFT JOIN regs r ON gr.grp = r.grp AND gr.idx = r.idx),
        |sk AS (
        |  SELECT grp, string_agg(mx::VARCHAR, ',' ORDER BY idx) AS registers_csv,
        |    sum(1::BIGINT << (53 - mx)) AS zsum,
        |    sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END)::BIGINT AS v_zero
        |  FROM fr GROUP BY grp),
        |est AS (
        |  SELECT grp, registers_csv, v_zero,
        |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
        |      * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)
        |      / CAST(zsum AS DOUBLE) AS e
        |  FROM sk),
        |ex AS (SELECT grp, count(DISTINCT item)::BIGINT AS exact_ndv FROM st GROUP BY 1)
        |SELECT e.grp, e.registers_csv, CAST(round(e.e * 1000000) AS BIGINT) AS est_micro,
        |  e.v_zero, x.exact_ndv,
        |  abs(e.e - x.exact_ndv) / x.exact_ndv <= 0.325 AS rel_err_ok,
        |  e.v_zero > 0 AND e.e <= 2.5 * 256 AS lc_regime
        |FROM est e JOIN ex x ON e.grp = x.grp ORDER BY e.grp""".stripMargin,
    // brute-force quadratic truth at gate scale — exactly what the grid
    // decomposition must reproduce without ever forming all pairs
    // x187: five per-column stats blocks + the same closed-form size
    // models and precedence CASE.
    "x187_encoding_advisor" ->
      """WITH li AS (
        |  SELECT l_suppkey AS suppkey, l_orderkey AS orderkey,
        |    CAST(date_diff('day', DATE '1970-01-01', l_shipdate::DATE) AS BIGINT) AS shipday,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |stats AS (
        |  SELECT 'suppkey' AS "column", CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT suppkey) AS BIGINT) AS ndv,
        |    CAST(min(suppkey) AS BIGINT) AS vmin, CAST(max(suppkey) AS BIGINT) AS vmax FROM li
        |  UNION ALL SELECT 'orderkey', count(*), count(DISTINCT orderkey), min(orderkey), max(orderkey) FROM li
        |  UNION ALL SELECT 'shipday', count(*), count(DISTINCT shipday), min(shipday), max(shipday) FROM li
        |  UNION ALL SELECT 'price_c', count(*), count(DISTINCT price_c), min(price_c), max(price_c) FROM li
        |  UNION ALL SELECT 'qty', count(*), count(DISTINCT qty), min(qty), max(qty) FROM li),
        |sized AS (
        |  SELECT "column", n, ndv, vmin, vmax,
        |    n * 64 AS bits_plain,
        |    n * (CASE WHEN vmax = vmin THEN 0 ELSE length(bin(vmax - vmin)) END) AS bits_delta,
        |    n * length(bin(greatest(ndv - 1, 1))) + ndv * 64 AS bits_dict,
        |    ndv * (64 + 32) AS bits_rle_sorted
        |  FROM stats)
        |SELECT "column", n, ndv, vmin, vmax, bits_plain, bits_delta, bits_dict, bits_rle_sorted,
        |  CASE WHEN bits_delta <= bits_dict AND bits_delta <= bits_rle_sorted AND bits_delta <= bits_plain THEN 'delta'
        |    WHEN bits_dict <= bits_rle_sorted AND bits_dict <= bits_plain THEN 'dict'
        |    WHEN bits_rle_sorted <= bits_plain THEN 'rle_sorted' ELSE 'plain' END AS best
        |FROM sized ORDER BY "column"""".stripMargin,

    // x182: both profiles replayed — census, rank-picked percentiles,
    // bin()-length entropy, identical ratio arithmetic.
    "x182_skew_profile" ->
      """WITH li AS (SELECT l_suppkey AS k FROM lineitem),
        |sk AS (
        |  SELECT k FROM li, unnest(generate_series(1,
        |    CASE WHEN k % 10 = 3 THEN 25 ELSE 1 END)) t(r)),
        |p0 AS (SELECT 0 AS profile, k, count(*) AS cnt FROM li GROUP BY 2),
        |p1 AS (SELECT 1 AS profile, k, count(*) AS cnt FROM sk GROUP BY 2),
        |c AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1),
        |r AS (
        |  SELECT profile, cnt,
        |    row_number() OVER (PARTITION BY profile ORDER BY cnt, k) AS rk
        |  FROM c),
        |tot AS (
        |  SELECT profile, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(cnt) AS BIGINT) AS max_cnt
        |  FROM c GROUP BY 1),
        |qe AS (
        |  SELECT c.profile,
        |    CAST(sum(c.cnt * (length(bin(t.n_rows // c.cnt)) - 1)) AS BIGINT) AS hsum
        |  FROM c JOIN tot t USING (profile) GROUP BY 1),
        |p50 AS (
        |  SELECT r.profile, r.cnt AS p50_cnt FROM r JOIN tot t USING (profile)
        |  WHERE r.rk = ((t.n_keys - 1) * 50) // 100 + 1),
        |p99 AS (
        |  SELECT r.profile, r.cnt AS p99_cnt FROM r JOIN tot t USING (profile)
        |  WHERE r.rk = ((t.n_keys - 1) * 99) // 100 + 1)
        |SELECT CAST(t.profile AS BIGINT) AS profile, t.n_rows, t.n_keys, t.max_cnt,
        |  (t.max_cnt * 1000000) // t.n_rows AS max_share_ppm,
        |  CAST((t.max_cnt::HUGEINT * t.n_keys * 1000000) // t.n_rows AS BIGINT) AS skew_ratio_e6,
        |  CAST(p50.p50_cnt AS BIGINT) AS p50_cnt, CAST(p99.p99_cnt AS BIGINT) AS p99_cnt,
        |  (qe.hsum * 1000) // t.n_rows AS qent_millibits,
        |  CAST((t.max_cnt::HUGEINT * t.n_keys * 1000000) // t.n_rows AS BIGINT) > 4000000 AS salt_advised
        |FROM tot t JOIN qe USING (profile) JOIN p50 USING (profile) JOIN p99 USING (profile)
        |ORDER BY profile""".stripMargin,

    // x178: the brute-force quadratic truth (the decomposition the grid
    // join must reproduce) + recursive transitive closure over the
    // core-core graph + the same min-label border rule and size census.
    "x178_dbscan" ->
      """WITH RECURSIVE ep AS (
        |  SELECT greatest(1, CAST(floor(6000.0 / sqrt(count(*))) AS BIGINT)) AS eps
        |  FROM customer),
        |p AS (
        |  SELECT c_custkey AS id,
        |    CASE WHEN c_custkey % 97 < 3
        |      THEN 2000 + (c_custkey % 4) * 2000 + ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT % 50
        |      ELSE ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT % 10000 END AS x,
        |    CASE WHEN c_custkey % 97 < 3
        |      THEN 2000 + (c_custkey % 4) * 2000 + ('0x' || substr(md5(c_custkey::VARCHAR || '#y'), 1, 15))::BIGINT % 50
        |      ELSE ('0x' || substr(md5(c_custkey::VARCHAR || '#y'), 1, 15))::BIGINT % 10000 END AS y
        |  FROM customer),
        |e AS (
        |  SELECT a.id AS a_id, b.id AS b_id FROM p a JOIN p b ON a.id < b.id, ep
        |  WHERE abs(a.x - b.x) <= ep.eps AND abs(a.y - b.y) <= ep.eps),
        |sym AS (SELECT a_id AS id, b_id AS nb FROM e UNION ALL SELECT b_id, a_id FROM e),
        |nb AS (
        |  SELECT p.id, coalesce(c.n, 0) AS n_nbrs
        |  FROM p LEFT JOIN (SELECT id, count(*) AS n FROM sym GROUP BY 1) c USING (id)),
        |core AS (SELECT id FROM nb WHERE n_nbrs >= 3),
        |ce AS (
        |  SELECT a_id AS src, b_id AS dst FROM e
        |  JOIN core ca ON a_id = ca.id JOIN core cb ON b_id = cb.id),
        |ced AS (SELECT src, dst FROM ce UNION SELECT dst, src FROM ce),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM ced
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN ced e2 ON r.dst = e2.src),
        |lab AS (SELECT src AS id, least(src, min(dst)) AS cl FROM reach GROUP BY src),
        |corelab AS (SELECT c.id, coalesce(l.cl, c.id) AS cl FROM core c LEFT JOIN lab l USING (id)),
        |borderlab AS (
        |  SELECT s.id, min(cl.cl) AS cl
        |  FROM sym s JOIN corelab cl ON s.nb = cl.id
        |  WHERE s.id NOT IN (SELECT id FROM core) GROUP BY s.id),
        |labeled AS (
        |  SELECT id, cl, 'core' AS role FROM corelab
        |  UNION ALL SELECT id, cl, 'border' AS role FROM borderlab),
        |sz AS (SELECT cl, count(*) AS n FROM labeled GROUP BY 1)
        |SELECT nb.id, (SELECT eps FROM ep) AS eps, CAST(nb.n_nbrs AS BIGINT) AS n_nbrs,
        |  coalesce(lb.role, 'noise') AS role,
        |  CAST(coalesce(lb.cl, -1) AS BIGINT) AS cluster_id,
        |  CAST(coalesce(sz.n, 0) AS BIGINT) AS cluster_size
        |FROM nb LEFT JOIN labeled lb USING (id) LEFT JOIN sz ON lb.cl = sz.cl
        |ORDER BY id""".stripMargin,

    "x93_grid_proximity_join" ->
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT % 10000 AS x,
        |    ('0x' || substr(md5(c_custkey::VARCHAR || '#y'), 1, 15))::BIGINT % 10000 AS y
        |  FROM customer)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(greatest(abs(a.x - b.x), abs(a.y - b.y)) AS BIGINT) AS cheb
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE abs(a.x - b.x) <= 25 AND abs(a.y - b.y) <= 25
        |ORDER BY a_id, b_id""".stripMargin,
    // Recomputes the KMV sketch from first principles: k smallest DISTINCT
    // md5-window hashes per group (a set minimum — order-free, hence exactly
    // reproducible), then the same double-precision (k-1)·2^60/v_k estimate.
    // 255.0·2^60 is exactly representable in double and IEEE division +
    // round-half-away match Spark bit-for-bit.
    "q73_local_supplier_volume" ->
      """SELECT n_name, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_c DESC, n_name""".stripMargin,
    "q74_market_share" ->
      """WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE 0 END) AS BIGINT) AS nation_c,
        |  CAST(sum(rev) AS BIGINT) AS total_c,
        |  (CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(sum(rev) AS BIGINT) AS share_ppm
        |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin,
    // q75: the EXISTS / NOT EXISTS pair written literally — DuckDB's
    // decorrelation must agree with the semi/anti self-join pair.
    "q75_waiting_supplier" ->
      """WITH base AS (
        |  SELECT l_orderkey AS k, l_suppkey AS supp,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT supp, count(*) AS numwait FROM base l1
        |WHERE late
        |  AND EXISTS (SELECT 1 FROM base l2 WHERE l2.k = l1.k AND l2.supp <> l1.supp)
        |  AND NOT EXISTS (SELECT 1 FROM base l3 WHERE l3.k = l1.k AND l3.supp <> l1.supp AND l3.late)
        |GROUP BY supp ORDER BY numwait DESC, supp LIMIT 20""".stripMargin,
    // q76: the correlated scalar subquery written literally; the 0.2·avg
    // predicate is the same exact-integer inequality on both sides.
    "q76_small_quantity_revenue" ->
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23' AND p_size <= 25),
        |li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN pp ON l_partkey = p_partkey),
        |st AS (SELECT l_partkey, sum(q) AS qsum, count(*) AS qcnt FROM li GROUP BY 1)
        |SELECT CAST(sum(cents) AS BIGINT) AS rev_cents,
        |  count(*) AS n_lines,
        |  CAST(round(CAST(sum(cents) AS BIGINT) / CAST(7.0 AS DOUBLE)) AS BIGINT) AS avg_yearly_cents
        |FROM li JOIN st USING (l_partkey)
        |WHERE q * 5 * qcnt < qsum""".stripMargin,
    // q77: the nested EXISTS written literally — DuckDB's decorrelation
    // must agree with the stacked semi-join plan; the share predicate is
    // the same exact-integer inequality.
    "q77_excess_supplier" ->
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01'
        |    AND EXISTS (SELECT 1 FROM part p
        |                WHERE p.p_partkey = lineitem.l_partkey AND p.p_name LIKE 'red %')),
        |sp AS (SELECT l_partkey, l_suppkey, sum(q) AS qs FROM li GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(q) AS qp FROM li GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents
        |FROM supplier
        |WHERE EXISTS (
        |  SELECT 1 FROM sp JOIN pt USING (l_partkey)
        |  WHERE sp.l_suppkey = s_suppkey AND qs * 8 > qp)
        |ORDER BY s_suppkey""".stripMargin,
    // q78: scalar-subquery threshold + NOT EXISTS written literally; the
    // above-average predicate is the identical integer cross-multiply.
    "q78_global_sales_opportunity" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_acctbal > 0),
        |thr AS (SELECT sum(cents) AS sum_cents, count(*) AS n_pos FROM cust)
        |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        |FROM cust, thr
        |WHERE cents * n_pos > sum_cents
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = cust.c_custkey AND o.o_orderdate >= '2000-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x118: exact twins + the guarantee booleans (TRUE by the worst-case
    // compaction analysis — an implementation violating its own bound
    // turns the gate red, the x94/x101 discipline).
    "x118_quantile_sketch" ->
      """SELECT 'p25' AS pq,
        |  CAST(round(1000 * quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.25)) AS BIGINT) AS exact_pct_e3,
        |  TRUE AS ok_low, TRUE AS ok_high FROM lineitem
        |UNION ALL
        |SELECT 'p50',
        |  CAST(round(1000 * quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)) AS BIGINT),
        |  TRUE, TRUE FROM lineitem
        |UNION ALL
        |SELECT 'p75',
        |  CAST(round(1000 * quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.75)) AS BIGINT),
        |  TRUE, TRUE FROM lineitem
        |ORDER BY pq""".stripMargin,
    // x112: the full sketch-algebra replay — both KMV sketches rebuilt as
    // k-smallest-distinct-hash sets, union re-trimmed, membership counted,
    // and the identical IEEE estimator chain evaluated.
    "x112_kmv_set_algebra" ->
      """WITH o AS (
        |  SELECT o_orderstatus AS st, o_custkey,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
        |a AS (SELECT h FROM (SELECT DISTINCT h FROM o WHERE st = 'F') ORDER BY h LIMIT 256),
        |b AS (SELECT h FROM (SELECT DISTINCT h FROM o WHERE st = 'O') ORDER BY h LIMIT 256),
        |u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) ORDER BY h LIMIT 256),
        |ik AS (
        |  SELECT count(*) AS inter_k FROM u
        |  WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)),
        |vk AS (SELECT max(h) AS vk FROM u),
        |ex AS (
        |  SELECT count(*) AS exact_union,
        |    CAST(sum(CASE WHEN f = 1 AND o2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
        |  FROM (
        |    SELECT o_custkey,
        |      max(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS f,
        |      max(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS o2
        |    FROM o GROUP BY 1)),
        |sz AS (SELECT (SELECT count(*) FROM a) AS n_a, (SELECT count(*) FROM b) AS n_b),
        |nu AS (SELECT count(*) AS n FROM u)
        |SELECT CAST(ex.exact_union AS BIGINT) AS exact_union, ex.exact_inter,
        |  CAST(sz.n_a AS BIGINT) AS n_a, CAST(sz.n_b AS BIGINT) AS n_b,
        |  CAST(ik.inter_k AS BIGINT) AS inter_k,
        |  CASE WHEN nu.n < 256 THEN NULL ELSE vk.vk END AS vk,
        |  CASE WHEN nu.n < 256 THEN nu.n
        |       ELSE CAST(round(255.0 * 1152921504606846976.0 / vk.vk) AS BIGINT) END AS est_union,
        |  CASE WHEN nu.n < 256 THEN ik.inter_k
        |       ELSE CAST(round((ik.inter_k / 256.0) * (255.0 * 1152921504606846976.0 / vk.vk)) AS BIGINT)
        |  END AS est_inter
        |FROM ex, sz, ik, vk, nu""".stripMargin,
    "x49_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, h,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk
        |  FROM h),
        |sk AS (
        |  SELECT l_returnflag, count(*) AS n_retained, max(h) AS vk
        |  FROM r WHERE rk <= 256 GROUP BY 1),
        |ex AS (
        |  SELECT l_returnflag, count(DISTINCT l_orderkey) AS ndv_exact
        |  FROM lineitem GROUP BY 1)
        |SELECT s.l_returnflag, ex.ndv_exact, s.n_retained,
        |  CASE WHEN s.n_retained < 256 THEN NULL ELSE s.vk END AS kth_hash,
        |  CASE WHEN s.n_retained < 256 THEN s.n_retained
        |       ELSE CAST(round(255.0 * 1152921504606846976.0 / s.vk) AS BIGINT)
        |  END AS ndv_est
        |FROM sk s JOIN ex USING (l_returnflag) ORDER BY l_returnflag""".stripMargin,
    "q49_incremental_agg" ->
      """WITH o AS (
        |  SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(sum(cents) AS BIGINT) // count(*) AS avg_cents
        |FROM o GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q47_higher_order" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        |  FROM embeddings WHERE vec_id < 50)
        |SELECT vec_id,
        |  len(list_filter(xd, v -> v > 0)) AS n_pos,
        |  CAST(list_sum(list_transform(xd, v -> CAST(round(abs(v) * 1000000) AS BIGINT))) AS BIGINT) AS l1_e6,
        |  CAST(list_sum(list_transform(range(1, len(xd) + 1),
        |    i -> CAST(round(xd[i::INT] * xd[(len(xd) + 1 - i)::INT] * 1000000) AS BIGINT))) AS BIGINT) AS rev_dot_e6,
        |  CAST(list_position(xd, list_max(xd)) AS BIGINT) AS argmax_1based
        |FROM e ORDER BY vec_id""".stripMargin,
    "q41_lateral_topk" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        |WHERE c_custkey < 20
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "q42_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, ((epoch_ns(ts) // 1000000000) // 300) * 300 AS b, value
        |  FROM events WHERE user_id < 5),
        |a AS (SELECT user_id, b, count(*) AS n, round(sum(value), 2) AS v FROM e GROUP BY 1, 2),
        |r AS (SELECT user_id, min(b) AS mn, max(b) AS mx FROM a GROUP BY 1),
        |spine AS (SELECT user_id, unnest(range(mn, mx + 300, 300)) AS b FROM r),
        |j AS (SELECT s.user_id, s.b, coalesce(a.n, 0) AS n, a.v
        |      FROM spine s LEFT JOIN a ON s.user_id = a.user_id AND s.b = a.b)
        |SELECT user_id, b, CAST(n AS BIGINT) AS n,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |FROM j ORDER BY user_id, b""".stripMargin,
    "q46_stats_regression" ->
      """WITH t AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_discount * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy
        |  FROM t GROUP BY 1)
        |SELECT l_returnflag, n, sx, sy, sxy,
        |  CAST(round(1000000 * CAST(n*sxy - sx*sy AS DOUBLE) / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))) AS BIGINT) AS corr_e6,
        |  CAST(round(1000000 * CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) AS BIGINT) AS slope_e6,
        |  CAST(round(1000000 * (CAST(sy AS DOUBLE) - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) * sx) / n) AS BIGINT) AS intercept_e6
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q45_window_stats" ->
      """SELECT c_mktsegment, c_custkey,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(c_custkey, 2) OVER w AS second_key,
        |  first_value(c_custkey) OVER w AS top_key
        |FROM customer WHERE c_custkey < 200
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q43_merge_upsert" ->
      """WITH snap AS (
        |  SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |updates AS (
        |  SELECT * REPLACE ((cents * 11 + 5) // 10 AS cents)
        |  FROM snap WHERE o_orderkey % 97 = 0),
        |inserts AS (
        |  SELECT * REPLACE (o_orderkey + 1000000000 AS o_orderkey)
        |  FROM snap WHERE o_orderkey % 101 = 0),
        |changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
        |merged AS (
        |  SELECT * FROM snap WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        |  UNION ALL SELECT * FROM changes)
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // ETL oracles read the same external inputs the queries do: the
    // reference CSVs directly, and the SAS-label dims via the parquet dump
    // Verify materializes at SasLabels.dimsDumpDir (DuckDB can't parse SAS
    // `proc format` source, so the parsed dims ARE the interface).
    "etl_i94_top_ports" ->
      s"""SELECT port_code, port_city, port_state, n_arrivals FROM (
        |  SELECT i.i94port AS port_code, p.city AS port_city, p.state AS port_state,
        |    count(*) AS n_arrivals
        |  FROM read_csv('${ReferenceData.root}/immigration_data_sample.csv', header=true) i
        |  LEFT JOIN '${Fixture.root}/graft_dims/ports/*.parquet' p
        |    ON i.i94port = p.code
        |  GROUP BY 1, 2, 3)
        |ORDER BY n_arrivals DESC, port_code LIMIT 10""".stripMargin,
    "etl_state_demo" ->
      s"""WITH demo AS (
        |  SELECT "State Code" AS state_code,
        |    CAST(sum("Total Population") AS BIGINT) AS total_population,
        |    CAST(sum("Foreign-born") AS BIGINT) AS foreign_born,
        |    CAST(round(avg("Median Age") * 100) AS BIGINT) AS median_age_e2
        |  FROM read_csv('${ReferenceData.root}/us-cities-demographics.csv', delim=';', header=true)
        |  GROUP BY 1),
        |fact AS (
        |  SELECT CASE WHEN i94addr IN
        |      (SELECT code FROM '${Fixture.root}/graft_dims/states/*.parquet')
        |    THEN i94addr ELSE '99' END AS state_code
        |  FROM read_csv('${ReferenceData.root}/immigration_data_sample.csv', header=true)),
        |agg AS (SELECT state_code, count(*) AS n_arrivals FROM fact GROUP BY 1)
        |SELECT a.state_code, a.n_arrivals, d.total_population, d.foreign_born, d.median_age_e2
        |FROM agg a LEFT JOIN demo d ON a.state_code = d.state_code
        |ORDER BY a.state_code""".stripMargin,
    "q39_csv_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q40_jsonl_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 2) AS avg_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q72_schema_evolution" ->
      """WITH v1 AS (
        |  SELECT o_orderpriority, count(*) AS n FROM orders
        |  WHERE year(o_orderdate) < 1996 GROUP BY 1),
        |v2 AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) >= 1996 GROUP BY 1)
        |SELECT o_orderpriority,
        |  CAST(coalesce(v1.n, 0) + coalesce(v2.n, 0) AS BIGINT) AS n_total,
        |  v2.cents AS cents_total,
        |  CAST(coalesce(v1.n, 0) AS BIGINT) AS n_without_cents
        |FROM v1 FULL JOIN v2 USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    "q69_text_roundtrip" ->
      """SELECT n_name, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q44_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "etl_airport_pipeline" ->
      s"""SELECT a.iso_country, a.type, count(*) AS n_airports,
        |  CAST(round(avg(a.elevation_ft) * 100) AS BIGINT) AS avg_elev_e2
        |FROM read_csv('${Fixture.root}/graft_airport/airport-codes.csv', header=true) a
        |JOIN '${Fixture.root}/graft_dims/ports/*.parquet' p
        |  ON a.iata_code = p.code
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q38_salted_join" ->
      """SELECT s_name, count(*) AS n_items, round(sum(l_extendedprice), 2) AS value
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    // x270: the census, the integer advice formula, and the PLAIN join's
    // aggregate — the salted execution may never change any of them.
    "x270_adaptive_salt" ->
      """WITH li AS (
        |  SELECT *, CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 997 END AS skey
        |  FROM lineitem),
        |c AS (SELECT skey, count(*) AS c FROM li GROUP BY 1),
        |m AS (SELECT (max(c) * 1000000) // sum(c) AS share_e6 FROM c),
        |adv AS (
        |  SELECT share_e6,
        |    greatest(1, least(16, (share_e6 * 32 + 999999) // 1000000)) AS salts
        |  FROM m),
        |j AS (
        |  SELECT 's' || skey AS sname, count(*) AS n_items,
        |    round(sum(l_extendedprice), 2) AS value
        |  FROM li GROUP BY 1)
        |SELECT sname, n_items, value, CAST(salts AS BIGINT) AS salts_used,
        |  CAST(share_e6 AS BIGINT) AS share_e6
        |FROM j, adv ORDER BY n_items DESC, sname LIMIT 10""".stripMargin,
    "etl_sas7bdat_scan" ->
      s"""SELECT category, count(*) AS n, count(value) AS n_value,
        |  round(sum(value), 2) AS sum_value, count(comment) AS n_comment
        |FROM '${Fixture.root}/graft_sas/twin/*.parquet'
        |GROUP BY category ORDER BY category""".stripMargin,
    // x306: identical oracle to etl_sas7bdat_scan — the DSv2 face must
    // agree with the function face AND the parquet twin.
    "x306_dsv2_sas" ->
      s"""SELECT category, count(*) AS n, count(value) AS n_value,
        |  round(sum(value), 2) AS sum_value, count(comment) AS n_comment
        |FROM '${Fixture.root}/graft_sas/twin/*.parquet'
        |GROUP BY category ORDER BY category""".stripMargin,
    "etl_sas7bdat_rle" ->
      s"""SELECT tag, count(*) AS n, round(sum(id), 2) AS sum_id,
        |  round(sum(z1) + sum(z2) + sum(z3), 2) AS sum_zero,
        |  CAST(sum(length(rtrim(pattern))) AS BIGINT) AS pattern_chars,
        |  count(pattern) AS n_pattern
        |FROM '${Fixture.root}/graft_sas/twin_rle/*.parquet'
        |GROUP BY tag ORDER BY tag NULLS FIRST""".stripMargin,
    "q37_catalog_roundtrip" ->
      """SELECT r_name, count(*) AS n_nations,
        |  round(avg(length(n_name)), 2) AS avg_comment_len
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q21_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(cast(yr AS VARCHAR), 'ALL') AS yr, count(*) AS n_orders
        |FROM (SELECT o_orderstatus, year(o_orderdate) AS yr FROM orders)
        |GROUP BY CUBE (o_orderstatus, yr) ORDER BY status, yr""".stripMargin,
    "q22_sql_exists" ->
      """SELECT s_name, s_acctbal FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        |ORDER BY s_name""".stripMargin,
    "q23_sql_in" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_discount >= 0.09)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q24_sql_scalar_subquery" ->
      """SELECT n_name, count(*) AS n_rich FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q25_union_by_name" ->
      """SELECT kind, count(*) AS n, round(sum(bal), 2) AS total_bal FROM (
        |  SELECT c_acctbal AS bal, 'customer' AS kind FROM customer
        |  UNION ALL SELECT s_acctbal AS bal, 'supplier' AS kind FROM supplier)
        |GROUP BY kind ORDER BY kind""".stripMargin,
    "q26_string_agg" ->
      """SELECT r_name, array_to_string(list_sort(list(n_name)), ',') AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q27_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_extendedprice, 0.9) AS price_p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q28_regex" ->
      """SELECT regexp_extract(p_type, '^([A-Z]+)', 1) AS grp, count(*) AS n,
        |  count(DISTINCT regexp_replace(p_name, '\s+', '_', 'g')) AS n_names
        |FROM part WHERE regexp_matches(p_name, '^(red|blue) ')
        |GROUP BY grp ORDER BY grp""".stripMargin,
    "q29_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
        |p AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, us AS click_us FROM ev WHERE event_type = 'click')
        |SELECT p.event_id, p.us AS p_us, c.click_us AS last_click_us,
        |  p.us - c.click_us AS gap_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.click_us
        |ORDER BY event_id""".stripMargin,
    "q30_hash_sample" ->
      """SELECT count(*) AS n_sampled, round(sum(o_totalprice), 2) AS sampled_total
        |FROM orders
        |WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 100 < 5""".stripMargin,
    // x225: identical plant + ordered-pair census + transpose join.
    "x225_order_census" ->
      """WITH e AS (
        |  SELECT user_id, CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS day, event_type AS t,
        |    epoch_us(ts::TIMESTAMP) AS us, event_id
        |  FROM events),
        |pl AS (
        |  SELECT user_id, day, 'qstart' AS t, min(us) - 1000000 AS us, CAST(-1 AS BIGINT) AS event_id
        |  FROM e GROUP BY 1, 2
        |  UNION ALL
        |  SELECT user_id, day, 'qend', max(us) + 1000000, -2 FROM e GROUP BY 1, 2),
        |allv AS (SELECT * FROM e UNION ALL SELECT * FROM pl),
        |op AS (
        |  SELECT DISTINCT a.user_id, a.day, a.t AS ta, b.t AS tb
        |  FROM allv a JOIN allv b ON a.user_id = b.user_id AND a.day = b.day
        |    AND a.t <> b.t AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))),
        |c AS (SELECT ta, tb, count(*) AS n_ab FROM op GROUP BY 1, 2),
        |f AS (
        |  SELECT least(ta, tb) AS ta, greatest(ta, tb) AS tb,
        |    CAST(sum(CASE WHEN ta < tb THEN n_ab ELSE 0 END) AS BIGINT) AS n_ab,
        |    CAST(sum(CASE WHEN ta > tb THEN n_ab ELSE 0 END) AS BIGINT) AS n_ba
        |  FROM c GROUP BY 1, 2)
        |SELECT ta, tb, n_ab, n_ba, n_ab * 1000000 // (n_ab + n_ba) AS dir_e6
        |FROM f ORDER BY ta, tb""".stripMargin,

    // x172: q36's session derivation + ordered-list paths (list(... ORDER
    // BY us, event_id) — the same total order as the struct sort).
    "x172_session_paths" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us, event_type FROM events),
        |marked AS (
        |  SELECT user_id, event_id, us, event_type,
        |    CASE WHEN lag(us, 1) OVER w IS NULL
        |           OR us - lag(us, 1) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, event_id, us, event_type,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked),
        |p AS (
        |  SELECT array_to_string(list_slice(list(event_type ORDER BY us, event_id), 1, 5), '>') AS path
        |  FROM sess GROUP BY user_id, session_no),
        |tot AS (SELECT count(*) AS n_sessions FROM p)
        |SELECT path, count(*) AS n, CAST(n_sessions AS BIGINT) AS n_sessions,
        |  CAST((count(*) * 1000000) // n_sessions AS BIGINT) AS share_ppm
        |FROM p, tot GROUP BY path, n_sessions ORDER BY n DESC, path LIMIT 15""".stripMargin,
    "q36_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us, value FROM events),
        |marked AS (
        |  SELECT user_id, event_id, us, value,
        |    CASE WHEN lag(us, 1) OVER w IS NULL
        |           OR us - lag(us, 1) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, us, value,
        |    cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM marked),
        |per_session AS (
        |  SELECT user_id, session_no, count(*) AS n_events, round(sum(value), 2) AS session_value
        |  FROM sess GROUP BY user_id, session_no)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
        |  round(sum(session_value), 2) AS total_value
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q35_range_join" ->
      """SELECT o_orderstatus, count(*) AS n_fast_ships,
        |  round(sum(l_extendedprice), 2) AS value
        |FROM orders JOIN lineitem
        |  ON o_orderkey = l_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate::DATE + INTERVAL 120 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q32_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q33_explode" ->
      """SELECT word, count(*) AS n, count(DISTINCT p_brand) AS n_brands
        |FROM part, unnest(string_split(p_name, ' ')) t(word)
        |GROUP BY word ORDER BY word""".stripMargin,
    // the sketch-accuracy booleans are Spark-side assertions against exact
    // order statistics; the oracle pins the exact twins and expects the
    // contracts to HOLD (TRUE) — a drifting sketch flips the hash red
    "q34_approx_sketches" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS hll_within_6pct, TRUE AS p90_within_band
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q31_null_ops" ->
      """SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_with_order,
        |  round(sum(coalesce(o_totalprice, 0.0)), 2) AS spend_or_zero
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE year(o_orderdate) = 2001) o
        |ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // DuckDB reads the same raw files through read_blob — an independent
    // byte-level reader, so the hash pins the source's content fidelity
    "q73_binary_source" ->
      s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
         |  CAST(size AS BIGINT) AS length, md5(hex(content)) AS content_md5
         |FROM read_blob('${BinFixture.dir}/*.bin') ORDER BY fname""".stripMargin
  )
}

/** Fixture for q73 binaryFile source: 40 raw files of deterministic
  * non-ASCII bytes (every value 0-255 appears), written OUTSIDE any
  * columnar container so the binaryFile format's (path, length, content)
  * contract — and DuckDB's independent read_blob — see the same bytes. */
object BinFixture {
  val dir = Fixture.dir("graft_bin")

  def bytesOf(i: Int): Array[Byte] =
    Array.tabulate(64 + i)(j => ((i * 7 + j * 13) % 256).toByte)

  def ensure(): Unit = Fixture.at(dir, "v1") {
    (0 until 40).foreach { i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f"$dir/doc_$i%03d.bin"), bytesOf(i))
    }
  }
}
