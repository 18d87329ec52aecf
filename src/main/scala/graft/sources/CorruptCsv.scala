package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corrupt-record-tolerant CSV ingestion (x122) — the missing half of the
  * S1/S2 CSV surface: real feeds carry malformed lines (truncated rows,
  * unparseable values), and at 100 TB "crash the job" and "silently drop"
  * are both wrong. The production answer is PERMISSIVE parse + quarantine:
  * every line lands exactly once, either parsed or held with its raw text
  * and a reason code, so the pipeline is restartable and the quarantine is
  * auditable (the ingestion-ledger x90 counterpart at the ROW grain).
  *
  * The reader is plain `spark.read.csv` with an explicit schema plus
  * Spark's `columnNameOfCorruptRecord` channel — declarative, distributed,
  * splittable; classification of WHY a line failed is recomputed from the
  * raw line itself (field census), never guessed from parser state.
  *
  * Fixture: one line per order (sorted by key), corrupted by key formula —
  * `k % 13 = 3` → truncated (price field missing), `k % 13 = 7` → bad
  * value (`N/A` price) — so the DuckDB oracle replays good/quarantine
  * censuses from the parquet original without reading the CSV at all.
  * Prices cross as `%.2f` (exact: every o_totalprice is a 2-decimal value,
  * so the correctly-rounded format recovers its cents exactly).
  */
object CorruptCsv {

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("_corrupt", StringType)
  ))

  def fixturePath(d: String): String = s"${Fixture.dir("graft_corrupt_csv", Some(d))}/orders.csv"

  def ensure(s: SparkSession, d: String): Unit = Fixture("graft_corrupt_csv", Some(d), "corruptcsv1") { dir =>
    val rows = graft.Graft
      .table(s, d, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
      .collect() // fixture generation: gate-sized by design (the AvroScan pattern)
    val w = new java.io.PrintWriter(new java.io.File(dir, "orders.csv"), "UTF-8")
    try rows.foreach { r =>
      val k = r.getLong(0)
      val st = r.getString(1)
      val price = "%.2f".formatLocal(java.util.Locale.ROOT, r.getDouble(2))
      val line =
        if (k % 13 == 3) s"$k,$st" // truncated: price column lost
        else if (k % 13 == 7) s"$k,$st,N/A" // unparseable value
        else s"$k,$st,$price"
      w.println(line)
    } finally w.close()
  }

  /** PERMISSIVE read with the quarantine channel: `_corrupt` is null for
    * clean rows and holds the raw line otherwise. */
  def read(s: SparkSession, d: String): DataFrame =
    s.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(fixturePath(d))
}
