package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always passes exactly two args → full surface); an
    // unknown name fails here instead of silently dropping its query
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.lift(2).map(SparkEntry.select(_).map(_._1).toSet)
    val spark = Graft.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // materialize the SAS-label dims for the DuckDB side of the ETL oracles
    try graft.etl.SasLabels.dump(spark, s"${graft.etl.ReferenceData.root}/I94_SAS_Labels_Descriptions.SAS")
    catch { case e: Throwable => System.err.println(s"[verify] dims dump failed: ${e.getMessage}") }
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // JVM and codegen totals for the whole run (the generated-class census
    // that sizes Graft.CodegenCacheEntries reads codegen_compiles here)
    System.err.println(s"[verify] {${Bench.jvmTelemetry}}")
    spark.stop()
  }
}
