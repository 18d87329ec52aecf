package graft.operators

import graft.{TempSources, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** q56/q57 on planted event logs. Fixture `ts` is raw TIMESTAMP(NANOS)
  * longs, exactly like the driver tables ([[graft.Graft.events]] converts). */
class WarehouseSpec extends AnyFunSuite with TempSources {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nanos(sec: Long): Long = sec * 1000000000L
  private def us(sec: Long): Long = sec * 1000000L

  test("q56 collapses consecutive equal states into SCD2 validity intervals") {
    val dir = tempSource()
    val rows = Seq(
      // user 7: A A B A → three intervals, the last open-ended
      (0L, nanos(10), 7L, "A", 1.0, "{}"),
      (1L, nanos(20), 7L, "A", 1.0, "{}"),
      (2L, nanos(30), 7L, "B", 1.0, "{}"),
      (3L, nanos(40), 7L, "A", 1.0, "{}"),
      // user 8: single state stays one open interval
      (4L, nanos(15), 8L, "C", 1.0, "{}"),
      (5L, nanos(25), 8L, "C", 1.0, "{}")
    )
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Warehouse
      .queries("q56_scd2_intervals")(spark, dir)
      .collect()
      .map(r =>
        (r.getAs[Long]("user_id"), r.getAs[Long]("valid_from_us")) ->
          (r.getAs[String]("event_type"), r.getAs[Long]("valid_to_us"), r.getAs[Long]("is_current"), r.getAs[Long]("n_events"))
      )
      .toMap
    assert(got.size === 4)
    assert(got((7L, us(10))) === (("A", us(30), 0L, 2L)))
    assert(got((7L, us(30))) === (("B", us(40), 0L, 1L)))
    assert(got((7L, us(40))) === (("A", -1L, 1L, 1L)))
    assert(got((8L, us(15))) === (("C", -1L, 1L, 2L)))
  }

  test("q59 funnel requires strict stage order (signup before click before purchase)") {
    val dir = tempSource()
    val rows = Seq(
      // user 1: in order → reaches all three stages
      (0L, nanos(10), 1L, "signup", 1.0, "{}"),
      (1L, nanos(20), 1L, "click", 1.0, "{}"),
      (2L, nanos(30), 1L, "purchase", 1.0, "{}"),
      // user 2: click BEFORE signup → stalls at stage 1
      (3L, nanos(10), 2L, "click", 1.0, "{}"),
      (4L, nanos(20), 2L, "signup", 1.0, "{}"),
      (5L, nanos(30), 2L, "purchase", 1.0, "{}"),
      // user 3: purchase between signup and click → click qualifies, purchase doesn't
      (6L, nanos(10), 3L, "signup", 1.0, "{}"),
      (7L, nanos(20), 3L, "purchase", 1.0, "{}"),
      (8L, nanos(30), 3L, "click", 1.0, "{}"),
      // user 4: never signs up
      (9L, nanos(10), 4L, "view", 1.0, "{}"),
      // user 5: signup and click share a timestamp — event_id order makes
      // the signup strictly precede, so the click qualifies
      (10L, nanos(10), 5L, "signup", 1.0, "{}"),
      (11L, nanos(10), 5L, "click", 1.0, "{}")
    )
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = Warehouse.queries("q59_funnel")(spark, dir).collect().head
    assert(r.getAs[Long]("n_users") === 5L)
    assert(r.getAs[Long]("users_signup") === 4L) // users 1,2,3,5
    assert(r.getAs[Long]("users_click_after") === 3L) // users 1,3,5
    assert(r.getAs[Long]("users_purchase_after") === 1L) // user 1 only
  }

  test("q57 arg-max breaks value ties by event_id, deterministically") {
    val dir = tempSource()
    val rows = Seq(
      (10L, nanos(1), 5L, "x", 2.00, "{}"),
      (11L, nanos(2), 6L, "x", 2.00, "{}"), // tie on value → higher event_id wins
      (12L, nanos(3), 4L, "x", 1.00, "{}"),
      (13L, nanos(4), 9L, "y", 7.50, "{}")
    )
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Warehouse
      .queries("q57_argmax")(spark, dir)
      .collect()
      .map(r => r.getAs[String]("event_type") -> r)
      .toMap
    assert(got("x").getAs[Long]("top_user") === 6L)
    assert(got("x").getAs[Long]("bottom_user") === 4L)
    assert(got("x").getAs[Long]("max_cents") === 200L)
    assert(got("x").getAs[Long]("min_cents") === 100L)
    assert(got("y").getAs[Long]("top_user") === 9L)
  }

  test("x166 recovers a planted period-2 series: negative lag-1, positive lag-2 ACF") {
    val dir = tempSource()
    // 14 days alternating 10 / 2 events per day
    val counts = (0 until 14).map(d => d -> (if (d % 2 == 0) 10 else 2))
    val rows = counts.flatMap { case (d, c) =>
      (0 until c).map(i => ((d * 100 + i).toLong, nanos(d.toLong * 86400 + i), 1L, "click", 1.0, "{}"))
    }
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Warehouse
      .queries("x166_autocorrelation")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("lag") -> r.getAs[Long]("acf_ppm"))
      .toMap
    // independent reference: the same cleared-integer formula in Scala
    val xs = counts.map(_._2.toLong)
    val n = xs.length.toLong; val s = xs.sum
    val cen = xs.map(x => BigInt(n * x - s))
    val den = cen.map(c => c * c).sum
    def acf(k: Int): Long = {
      val num = (0 until (xs.length - k)).map(t => cen(t) * cen(t + k)).reduce(_ + _)
      val p = num * 1000000
      ((p - (((p % den) + den) % den)) / den).toLong
    }
    for (k <- 1 to 7) assert(got(k.toLong) === acf(k), s"lag $k")
    assert(got(1L) < -500000L, "alternation must anti-correlate at lag 1")
    assert(got(2L) > 500000L, "alternation must correlate at lag 2")
  }

  test("x172 mines session paths: gap split, (ts, event_id) order, 5-event truncation") {
    val dir = tempSource()
    val rows = Seq(
      // user 1, session 1: 7 events 1s apart — path truncates at 5
      (0L, nanos(100), 1L, "view", 1.0, "{}"),
      (1L, nanos(101), 1L, "click", 1.0, "{}"),
      (2L, nanos(102), 1L, "view", 1.0, "{}"),
      (3L, nanos(103), 1L, "click", 1.0, "{}"),
      (4L, nanos(104), 1L, "purchase", 1.0, "{}"),
      (5L, nanos(105), 1L, "view", 1.0, "{}"),
      (6L, nanos(106), 1L, "view", 1.0, "{}"),
      // user 1, session 2 (gap > 30 min): short path
      (7L, nanos(100 + 3600), 1L, "signup", 1.0, "{}"),
      (8L, nanos(101 + 3600), 1L, "purchase", 1.0, "{}"),
      // user 2: same short path — counts pool across users
      (9L, nanos(200), 2L, "signup", 1.0, "{}"),
      (10L, nanos(201), 2L, "purchase", 1.0, "{}"),
      // tie on ts within user 3: event_id breaks it
      (12L, nanos(300), 3L, "b_second", 1.0, "{}"),
      (11L, nanos(300), 3L, "a_first", 1.0, "{}")
    )
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Advanced
      .queries("x172_session_paths")(spark, dir)
      .collect()
      .map(r => r.getAs[String]("path") -> (r.getAs[Long]("n"), r.getAs[Long]("n_sessions"), r.getAs[Long]("share_ppm")))
      .toMap
    assert(got("signup>purchase") === ((2L, 4L, 500000L)))
    assert(got("view>click>view>click>purchase") === ((1L, 4L, 250000L)))
    assert(got("a_first>b_second") === ((1L, 4L, 250000L)), s"tie order broken wrongly: ${got.keys}")
    assert(got.size === 3)
  }

  test("x173 Theil-Sen trend resists a planted outlier day; matches the in-memory order statistics") {
    val dir = tempSource()
    // day d carries d+1 events (true slope exactly 1/day) except day 7's
    // 50-event burst — the median pairwise slope must stay at 1e6 ppm
    // while a moment-based (OLS) slope would be dragged by the outlier
    val counts = (0 until 10).map(d => d -> (if (d == 7) 50 else d + 1))
    val rows = counts.flatMap { case (d, c) =>
      (0 until c).map(i => ((d * 100 + i).toLong, nanos(d.toLong * 86400 + i), 1L, "click", 1.0, "{}"))
    }
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Warehouse
      .queries("x173_theil_sen")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("p") -> r.getAs[Long]("slope_ppm_per_day"))
      .toMap
    // independent replay: pairwise fractions ranked by value then (dy, dx)
    val xs = counts.map(_._2.toLong)
    val pairs = for { i <- xs.indices; j <- (i + 1) until xs.length } yield (xs(j) - xs(i), (j - i).toLong)
    val sorted = pairs.sortBy { case (dy, dx) => (dy.toDouble / dx, dy, dx) }
    def ppm(t: (Long, Long)): Long = {
      val p = t._1 * 1000000L
      (p - (((p % t._2) + t._2) % t._2)) / t._2
    }
    for (p <- Seq(25L, 50L, 75L)) {
      val k = ((sorted.length - 1) * p / 100 + 1).toInt
      assert(got(p) === ppm(sorted(k - 1)), s"p$p")
    }
    assert(got(50L) === 1000000L, "the planted outlier dragged the median slope")
  }

  test("x191 contract audit: a clean feed passes all rules; a planted duplicate key is localized") {
    val dir = tempSource()
    // keys chosen OFF every planted stripe (k % 1009/1013/1019/1021 != 0)
    // so the in-query plants stay inert and the feed is genuinely clean
    val mkOrders = (keys: Seq[Long]) =>
      keys.map(k => (k, 100.50, "F", java.sql.Date.valueOf("1996-05-01"), 1L))
        .toDF("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate", "o_custkey")
    TestSpark.writeTable(dir, "orders", mkOrders(Seq(5L, 6L, 7L)))
    TestSpark.writeTable(dir, "customer", Seq(Tuple1(1L)).toDF("c_custkey"))
    val clean = Warehouse
      .queries("x191_contract_audit")(spark, dir)
      .collect()
      .map(r => r.getAs[String]("rule") -> r)
      .toMap
    assert(clean.size === 5)
    clean.values.foreach { r =>
      assert(r.getAs[Boolean]("ok"), s"rule ${r.getAs[String]("rule")} failed on a clean feed")
      assert(r.getAs[Long]("min_bad_key") === -1L)
    }
    // duplicate key 6 → only the uniqueness rule fires, localized at 6
    val dir2 = tempSource()
    TestSpark.writeTable(dir2, "orders", mkOrders(Seq(5L, 6L, 6L, 7L)))
    TestSpark.writeTable(dir2, "customer", Seq(Tuple1(1L)).toDF("c_custkey"))
    val dup = Warehouse
      .queries("x191_contract_audit")(spark, dir2)
      .collect()
      .map(r => r.getAs[String]("rule") -> r)
      .toMap
    assert(!dup("key_unique_not_null").getAs[Boolean]("ok"))
    assert(dup("key_unique_not_null").getAs[Long]("min_bad_key") === 6L)
    assert(dup.filterKeys(_ != "key_unique_not_null").values.forall(_.getAs[Boolean]("ok")))
  }

  test("x194 watermark profile: planted lateness straddles each fence with exact drop counts") {
    val dir = tempSource()
    // 500 on-time events 1 s apart; ids 37k/101k/211k get their event
    // time pulled back 5 min / 30 min / 2 h by the in-query plant
    val rows = (1 to 500).map(i => (i.toLong, nanos(10000L + i), 1L, "click", 1.0, "{}"))
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Warehouse
      .queries("x194_watermark_profile")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("wm_min") -> r)
      .toMap
    val n37 = (1 to 500).count(_ % 37 == 0) // 5-min late
    val n101 = (1 to 500).count(i => i % 101 == 0 && i % 37 != 0) // 30-min late
    val n211 = (1 to 500).count(i => i % 211 == 0 && i % 37 != 0 && i % 101 != 0) // 2h late
    assert(got(1L).getAs[Long]("n_late") === (n37 + n101 + n211).toLong)
    assert(got(10L).getAs[Long]("n_late") === (n101 + n211).toLong)
    assert(got(60L).getAs[Long]("n_late") === n211.toLong)
    assert(got(180L).getAs[Long]("n_late") === 0L)
    assert(got(180L).getAs[Boolean]("ok_at_1000ppm"))
    assert(!got(1L).getAs[Boolean]("ok_at_1000ppm"))
    // max lateness ~2h (2h minus the <=1s local gap to the running max)
    assert(got(1L).getAs[Long]("max_late_s") >= 7100L && got(1L).getAs[Long]("max_late_s") <= 7200L)
  }

  test("x193 federated parity: five formats agree on a fresh table; a corrupted leg flips parity") {
    val dir = tempSource()
    val orders = Seq(
      (1L, 10.00, "F", java.sql.Date.valueOf("1996-01-01"), 1L),
      (2L, 20.50, "O", java.sql.Date.valueOf("1996-01-02"), 1L),
      (3L, 30.25, "P", java.sql.Date.valueOf("1996-01-03"), 1L)
    ).toDF("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate", "o_custkey")
    TestSpark.writeTable(dir, "orders", orders)
    val got = Warehouse.queries("x193_federated_scan")(spark, dir).collect()
    assert(got.length === 5)
    assert(got.forall(_.getAs[Boolean]("parity")), "fresh fixture must be value-identical")
    assert(got.map(_.getAs[Long]("digest")).distinct.length === 1)
    assert(got.forall(_.getAs[Long]("sum_cents") === 1000L + 2050L + 3025L))
    // corrupt the CSV leg (drop an EXTRA part file into the directory —
    // appending to a committed part trips Spark's modified-file guard
    // instead of exercising the parity check): digest diverges, parity
    // flips on every row
    val root = new java.io.File(graft.sources.Fixture.dir("graft_federated", Some(dir)))
    val extra = new java.io.File(new java.io.File(root, "csv"), "part-99999-extra.csv")
    val w = new java.io.FileWriter(extra)
    w.write("k,cents,status\n99,9999,Z\n"); w.close()
    spark.catalog.refreshByPath(s"$root/csv")
    val corrupted = Warehouse.queries("x193_federated_scan")(spark, dir).collect()
    assert(corrupted.forall(!_.getAs[Boolean]("parity")), "corruption must flip parity")
    assert(corrupted.map(_.getAs[Long]("digest")).distinct.length === 2)
  }

  test("x188 composeDiffs: every pair rule, both cancellation paths, pass-through singles") {
    val mk = (rows: Seq[(Long, String, Long, Long)]) =>
      rows.toDF("k", "change_type", "old_cents", "new_cents")
    val d12 = mk(Seq(
      (1L, "I", -1L, 10L), // I then U -> I(12)
      (2L, "I", -1L, 20L), // I then D -> nothing
      (3L, "U", 30L, 31L), // U then U -> U(30, 32)
      (4L, "U", 40L, 41L), // U then D -> D(40)
      (5L, "D", 50L, -1L), // D then I(same) -> nothing
      (6L, "D", 60L, -1L), // D then I(different) -> U(60, 61)
      (7L, "U", 70L, 71L), // only in first -> pass through
      (9L, "U", 90L, 91L) // U then U back to the original -> nothing
    ))
    val d23 = mk(Seq(
      (1L, "U", 10L, 12L),
      (2L, "D", 20L, -1L),
      (3L, "U", 31L, 32L),
      (4L, "D", 41L, -1L),
      (5L, "I", -1L, 50L),
      (6L, "I", -1L, 61L),
      (8L, "I", -1L, 80L), // only in second -> pass through
      (9L, "U", 91L, 90L)
    ))
    val got = Warehouse
      .composeDiffs(d12, d23)
      .collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("change_type"), r.getAs[Long]("old_cents"), r.getAs[Long]("new_cents"))))
      .toMap
    assert(got === Map(
      1L -> (("I", -1L, 12L)),
      3L -> (("U", 30L, 32L)),
      4L -> (("D", 40L, -1L)),
      6L -> (("U", 60L, 61L)),
      7L -> (("U", 70L, 71L)),
      8L -> (("I", -1L, 80L))
    ))
  }

  test("x181 chi2: zero statistic on an exactly independent table; in-memory replay of the planted test") {
    import graft.functions.Hashing
    val dir = tempSource()
    // 2x2 exactly independent: cells (A,X)=(A,Y)=(B,X)=(B,Y)=10 -> every
    // O*N - R*C = 0, chi2 exactly 0, not significant
    val rows = (0 until 40).map { i =>
      (i.toLong, Seq("A", "B")(i % 2), Seq("X", "Y")((i / 2) % 2))
    }
    TestSpark.writeTable(dir, "orders", rows.toDF("o_orderkey", "o_orderpriority", "o_orderstatus"))
    val got = Warehouse.queries("x181_chi2_independence")(spark, dir).collect()
    val t0 = got.filter(_.getAs[Long]("test_id") == 0L)
    assert(t0.length === 4)
    t0.foreach { r =>
      assert(r.getAs[Long]("contrib_e6") === 0L)
      assert(r.getAs[Long]("chi2_e6") === 0L)
      assert(!r.getAs[Boolean]("significant_95"))
    }
    // the planted test replays exactly in memory (dep via the md5 formula)
    val dep = rows.map { case (k, p, _) =>
      val d =
        if (Hashing.md5BucketOf(s"$k#m", 3L) == 0L) p.substring(0, 1)
        else Hashing.md5BucketOf(s"$k#d", 3L).toString
      (p, d)
    }
    val cells = dep.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rm = dep.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cm = dep.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = dep.size.toLong
    val expected = cells.map { case ((p, b), o) =>
      val diff = BigInt(o) * n - BigInt(rm(p)) * cm(b)
      (p, b) -> (diff * diff * 1000000 / (BigInt(n) * rm(p) * cm(b))).toLong
    }
    val t1 = got.filter(_.getAs[Long]("test_id") == 1L)
    assert(t1.length === expected.size)
    t1.foreach { r =>
      val key = (r.getAs[String]("prio"), r.getAs[String]("b"))
      assert(r.getAs[Long]("contrib_e6") === expected(key), s"cell $key")
      assert(r.getAs[Long]("chi2_e6") === expected.values.sum)
      assert(r.getAs[Long]("df") === (rm.size - 1L) * (cm.size - 1L))
    }
  }

  test("x183 seasonal decomposition: flat series + plants recover exact closed-form components") {
    val dir = tempSource()
    // EXACTLY 10 events every day for 28 consecutive days starting at a
    // Monday-aligned epoch day: after the in-query plants the series is
    // pure weekly pattern + one spike, so every component is closed-form
    val d0 = 19723L // (19723+3)%7 = 0: epoch day 0 is a Thursday, +3 puts Monday at 0
    val rows = (0 until 28).flatMap { d =>
      (0 until 10).map(i => ((d * 100 + i).toLong, nanos((d0 + d) * 86400 + i), 1L, "click", 1.0, "{}"))
    }
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Warehouse
      .queries("x183_seasonal_decompose")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("day") -> r)
      .toMap
    // independent replay: x = 10 * (weekend? 2:1) * (day==d0+10? 3:1)
    def x(day: Long): Long = {
      val wd = (day + 3) % 7
      10L * (if (wd == 5 || wd == 6) 2 else 1) * (if (day == d0 + 10) 3 else 1)
    }
    val days = (d0 + 3) to (d0 + 24) // full 7-day windows only
    assert(got.keySet === days.toSet)
    days.foreach { d =>
      val trend = (-3 to 3).map(k => x(d + k)).sum * 1000L / 7L
      assert(got(d).getAs[Long]("trend_e3") === trend, s"trend day $d")
      assert(got(d).getAs[Long]("x") === x(d))
    }
    // the planted spike day is flagged; weekend seasonal components are
    // strictly above every weekday component
    assert(got(d0 + 10).getAs[Boolean]("anomaly"), "planted spike must be flagged")
    val byWd = got.values.groupBy(r => (r.getAs[Long]("day") + 3) % 7)
      .view.mapValues(_.head.getAs[Long]("seasonal_e3")).toMap
    val weekend = Seq(5L, 6L).map(byWd)
    val weekdays = (0L to 4L).map(byWd)
    assert(weekend.min > weekdays.max, "weekend seasonality must be recovered")
  }

  test("x174 PIT join: boundary inclusivity, run collapse, pre-state facts, zero-width intervals") {
    val dir = tempSource()
    val rows = Seq(
      // user 1: purchase BEFORE any state → 'none' / -1
      (0L, nanos(5), 1L, "purchase", 1.0, "{}"),
      (1L, nanos(10), 1L, "signup", 1.0, "{}"),
      (2L, nanos(15), 1L, "signup", 1.0, "{}"), // same-state repeat: no new version
      // purchase mid-run: state_since must be the RUN start (10), not 15
      (3L, nanos(20), 1L, "purchase", 1.0, "{}"),
      (4L, nanos(30), 1L, "view", 1.0, "{}"),
      // purchase EXACTLY at a version open: vf ≤ ts inclusive → 'view'
      (5L, nanos(30), 1L, "purchase", 1.0, "{}"),
      // user 2: two changes at ONE instant → the earlier interval is
      // zero-width and dead; the later (higher event_id) wins
      (6L, nanos(40), 2L, "signup", 1.0, "{}"),
      (7L, nanos(40), 2L, "error", 1.0, "{}"),
      (8L, nanos(40), 2L, "purchase", 1.0, "{}"),
      // a LATER state change never leaks backwards
      (9L, nanos(50), 2L, "view", 1.0, "{}")
    )
    TestSpark.writeTable(dir, "events", rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Warehouse
      .queries("x174_pit_scd2_join")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("event_id") -> (r.getAs[String]("state"), r.getAs[Long]("state_since_us")))
      .toMap
    assert(got.size === 4)
    assert(got(0L) === (("none", -1L)))
    assert(got(3L) === (("signup", us(10))))
    assert(got(5L) === (("view", us(30))))
    assert(got(8L) === (("error", us(40))))
  }
}
