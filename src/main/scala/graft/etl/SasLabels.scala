package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parser for SAS `proc format` value blocks → dimension DataFrames.
  *
  * The reference embeds its code→label dimensions as data inside a SAS
  * script (reference `I94_SAS_Labels_Descriptions.SAS`: countries lines
  * 9-298, ports 302-963, modes 972-976, states 981-1036, visa categories in
  * a comment at 1046-1050). A parity engine must surface those as joinable
  * tables (SURVEY.md §2.1 S8).
  *
  * Pure Scala parsing on the driver — the file is ~1k lines; the resulting
  * dims are tiny (≤660 rows) and meant for `broadcast()` joins against the
  * 100 TB fact side, so driver-side parse + broadcast is the scalable shape.
  */
object SasLabels {

  /** One `code = 'label'` entry of a `value <name>` block. */
  final case class Entry(code: String, label: String)

  private val valueBlock = """(?s)value\s+(\$?\w+)\s+(.*?);""".r
  private val entryRe = """(?s)\s*(?:'([^']*)'|([-\w.]+))\s*=\s*'((?:[^']|'')*)'""".r

  /** Parse every `value` block in SAS `proc format` source text.
    * Returns blockName → entries, preserving file order.
    */
  def parseBlocks(sasSource: String): Map[String, Vector[Entry]] = {
    // Strip /* ... */ comments first so commented-out examples never parse.
    val noComments = """(?s)/\*.*?\*/""".r.replaceAllIn(sasSource, " ")
    valueBlock
      .findAllMatchIn(noComments)
      .map { m =>
        val entries = entryRe
          .findAllMatchIn(m.group(2))
          .map(e => Entry(Option(e.group(1)).getOrElse(e.group(2)).trim, e.group(3).replace("''", "'").trim))
          .toVector
        m.group(1) -> entries
      }
      .toMap
  }

  /** All five I94 dimensions from the labels file, as DataFrames.
    *
    * Schemas follow FIXTURES.md A4: countries/modes/visa keyed by int code,
    * ports/states by string code. Port labels carry a trailing ", ST" state
    * suffix which we split out (reference `I94_SAS_Labels_Descriptions.SAS:303-320`).
    */
  final case class Dims(
      countries: DataFrame, // code:int, name:string
      ports: DataFrame, // code:string, name:string, city:string, state:string
      modes: DataFrame, // code:int, name:string
      states: DataFrame, // code:string, name:string
      visas: DataFrame // code:int, name:string
  )

  /** Where [[graft.Verify]] materializes the parsed dims as parquet so the
    * driver's DuckDB oracle can join against them (the labels file itself is
    * SAS source text DuckDB can't read). A fixed path under the fixture
    * root: the oracle SQL strings name it. */
  val dimsDumpDir = s"${graft.sources.Fixture.root}/graft_dims"

  /** Parse the labels file and write each dim under `outDir/<name>`, as a
    * [[graft.sources.Fixture]] keyed by the labels file: rewritten only
    * when that file changes, marker last, under the cross-JVM lock. */
  def dump(spark: SparkSession, labelsPath: String, outDir: String = dimsDumpDir): Unit =
    graft.sources.Fixture.at(outDir, graft.sources.Fingerprint.of(spark, labelsPath, "v1")) {
      val dims = load(spark, labelsPath)
      Seq(
        "countries" -> dims.countries,
        "ports" -> dims.ports,
        "modes" -> dims.modes,
        "states" -> dims.states,
        "visas" -> dims.visas
      ).foreach { case (n, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n") }
    }

  def load(spark: SparkSession, path: String): Dims = {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    fromSource(spark, src)
  }

  def fromSource(spark: SparkSession, src: String): Dims = {
    import spark.implicits._
    val blocks = parseBlocks(src)
    def block(n: String): Vector[Entry] =
      blocks.getOrElse(n, sys.error(s"SAS labels: missing value block $n"))

    val countries = block("i94cntyl").map(e => (e.code.toDouble.toInt, e.label)).toDF("code", "name")
    val ports = block("$i94prtl").map { e =>
      // "CITY, ST" → (city, state); labels without a 2-token suffix keep null state.
      val idx = e.label.lastIndexOf(',')
      val (city, state) =
        if (idx >= 0 && e.label.substring(idx + 1).trim.length <= 3)
          (e.label.substring(0, idx).trim, e.label.substring(idx + 1).trim)
        else (e.label, null)
      (e.code, e.label, city, state)
    }.toDF("code", "name", "city", "state")
    val modes = block("i94model").map(e => (e.code.toDouble.toInt, e.label)).toDF("code", "name")
    val states = block("i94addrl").map(e => (e.code, e.label)).toDF("code", "name")
    // Visa categories live only in a comment (lines 1046-1050) — hardcoded.
    val visas = Seq((1, "Business"), (2, "Pleasure"), (3, "Student")).toDF("code", "name")
    Dims(countries, ports, modes, states, visas)
  }
}
