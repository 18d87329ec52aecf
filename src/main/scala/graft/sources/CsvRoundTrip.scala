package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** x260 fixture: a CSV written by Spark's own writer whose field values
  * hit every RFC 4180 quoting edge — embedded delimiters, embedded
  * double-quotes (doubled on write), embedded NEWLINES (legal inside
  * quotes — the case that breaks naive line-split readers), and
  * unquoted leading/trailing spaces (which a compliant reader must
  * preserve). Content is closed-form so the oracle rebuilds every value
  * without touching a CSV byte: the gate then proves the full
  * write→quote→read cycle content-preserving, and CsvRoundTripSpec pins
  * DuckDB's independent read_csv parser against the same file.
  */
object CsvRoundTrip {
  val dir = Fixture.dir("graft_csv_rt")
  val outPath = s"$dir/out"

  /** the field formula — mirrored in the x260 oracle SQL */
  def f1Expr: org.apache.spark.sql.Column =
    concat(
      lit("v"),
      col("rid").cast("string"),
      expr(
        "CASE CAST(rid % 4 AS INT) WHEN 0 THEN ',c' WHEN 1 THEN '\"q\"' " +
          "WHEN 2 THEN concat(char(10), 'nl') ELSE ' sp ' END"
      )
    )

  def ensure(s: SparkSession): Unit = Fixture.at(dir, "v2") {
    s.range(300)
      .select(col("id").as("rid"))
      .select(col("rid"), f1Expr.as("f1"), (col("rid") * 17L + 3L).as("f2"))
      .coalesce(1)
      .write
      .mode("overwrite")
      .option("header", "true")
      // Spark's CSV DEFAULTS are not RFC 4180: quotes escape with
      // backslash (escape=\) and trailing whitespace is TRIMMED on
      // write (ignoreTrailingWhiteSpace=true) — both found by this
      // fixture's own spec. Doubling + preservation are opt-in:
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(outPath)
  }
}
