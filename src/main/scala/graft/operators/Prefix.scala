package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The one distributed running sum: a corpus-wide single-task
  * `Window.orderBy` replaced by the scan decomposition (Blelloch 1990).
  * Rows carry a coarse, order-preserving bucket key; the per-`(part,
  * bucket)` totals get an exclusive running sum over the bucket table
  * (the only window not partitioned by bucket, and it sees one row per
  * bucket); the offsets are broadcast back; a running sum inside each
  * `(part, bucket)` finishes the job. Parallelism is one task per bucket,
  * and no window ever holds a part's whole row stream.
  *
  * Contract, which the caller's bucket key must meet:
  *   - `bucket` never decreases along `order` within a part (a value
  *     range, a hash range, a string prefix);
  *   - `order` is unique within `(part, bucket)`, so the running sums are
  *     deterministic.
  *
  * The offsets come from a window over the bucket table, never from a
  * `b2 < bk` self-join: the window needs no eager checkpoint of the
  * totals and costs O(B log B) on B buckets, the self-join O(B²).
  *
  * Running windows deliberately left outside: x194's prefix-MAX
  * (`Warehouse`, a different aggregate), x215's per-source census window
  * (`Analytic`, unbucketed over a domain-bounded census),
  * [[ExactPercentile]] (double values, no integer bucket key) and the
  * per-user `lag`/session windows.
  */
object Prefix {

  /** `df` plus, for each `(weight, out)`, a column `out`: the sum of
    * `weight` over the rows strictly before this one in `(part…, order…)`
    * order, 0 (not null) on a part's first row. Inclusive callers add
    * their own weight; rank callers pass `lit(1L)` and add 1. */
  def exclusive(df: DataFrame, part: Seq[String], bucket: String, order: Seq[Column])(
      sums: (Column, String)*
  ): DataFrame = {
    val keys = part :+ bucket
    val wOff = Window.partitionBy(part.map(col): _*).orderBy(bucket).rowsBetween(Window.unboundedPreceding, -1)
    val wLoc = Window.partitionBy(keys.map(col): _*).orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
    val totals = sums.map { case (w, out) => sum(w).as(out) }
    val offs = df
      .groupBy(keys.map(col): _*)
      .agg(totals.head, totals.tail: _*)
      .select(keys.map(col) ++ sums.map { case (_, out) => coalesce(sum(out).over(wOff), lit(0L)).as(out) }: _*)
    df.join(broadcast(offs), keys)
      .select(df.columns.map(col) ++ sums.map { case (w, out) =>
        (offs(out) + coalesce(sum(w).over(wLoc), lit(0L))).as(out)
      }: _*)
  }

  /** The nearest-rank percentile pick over an exclusive census prefix:
    * true on the one census row (value count `t`, `cum` values before it)
    * that holds the 1-based rank `((n − 1)·p) div 100 + 1` of `n` values. */
  def nearestRank(cum: String, t: String, n: String, p: Int): Column = {
    val r = s"(($n - 1) * $p) div 100 + 1"
    expr(s"$cum < $r AND $r <= $cum + $t")
  }

  /** Posmod-floor integer division ⌊a / d⌋ as Spark SQL text — the
    * convention both engines share (bucket keys of negative values stay
    * order-preserving). */
  def floorDiv(a: String, d: String): String = s"(($a) - ((($a) % ($d) + ($d)) % ($d))) div ($d)"

  /** The same division in DuckDB's dialect, for oracle SQL. */
  def floorDivDuck(a: String, d: String): String = s"(($a) - ((($a) % ($d) + ($d)) % ($d))) // ($d)"
}
