package graft.sources

import graft.Graft
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

/** One mechanism for binary payload corpora: where a fixture keeps its
  * payloads (`<fixture dir>/payloads`), how they are written (an
  * `(<id>, payload)` frame in one parquet file), how a frame of them is
  * decoded into typed rows, and the digest the gates compare.
  *
  * Decode is the one boundary between the from-scratch decoders and
  * Spark's rows: one `mapPartitions` pass, no shuffle, the output schema
  * declared up front as DDL. A payload the decoder cannot read gets the
  * quarantine row, its id plus nulls, never a task-killing exception.
  * Nothing here touches the disk before the first call. */
object Payloads {

  private def path(dir: String): String = s"$dir/payloads"

  /** Write `rows` as the corpus of the fixture at `dir`; called inside the
    * fixture's build, so the corpus is published with its marker. */
  def write(spark: SparkSession, dir: String, idCol: String, rows: Seq[(Long, Array[Byte])]): Unit = {
    import spark.implicits._
    rows.toDF(idCol, "payload").coalesce(1).write.mode("overwrite").parquet(path(dir))
  }

  def read(spark: SparkSession, dir: String): DataFrame = Graft.parquet(spark, path(dir))

  /** A corpus generated on the fly: `(id, gen(id))` for ids `0 until n`
    * over 8 partitions, for round trips whose input is a formula. */
  def generated(spark: SparkSession, n: Long)(gen: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    spark.range(n).repartition(8).map(z => (z.longValue, gen(z.longValue))).toDF("id", "payload")
  }

  /** Decode a frame whose first two columns are `(<id> BIGINT, payload
    * BINARY)` into rows of the schema `ddl`, whose first column is the id:
    * `f(id, payload)` returns the payload's rows (zero or more), or `None`
    * for the quarantine row. */
  def decode(frame: DataFrame, ddl: String)(f: (Long, Array[Byte]) => Option[Seq[Row]]): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    val nulls = Seq.fill(schema.length - 1)(null)
    frame.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        f(id, r.getAs[Array[Byte]](1)).getOrElse(Seq(Row.fromSeq(id +: nulls)))
      }
    }(Encoders.row(schema))
  }

  def md5Hex(b: Array[Byte]): String =
    java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("MD5").digest(b))
}
