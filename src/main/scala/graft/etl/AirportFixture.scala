package graft.etl

import org.apache.spark.sql.SparkSession

/** Deterministic airport-codes fixture (reference `dags/transform/airport.py`
  * reads `airport-codes_csv.csv`, which is absent from the checkout —
  * MISSING_LARGE_BLOBS — but its datahub.io schema is public knowledge,
  * [[Schemas.airportCodes]]). Rows are a pure function of the index;
  * `coordinates` is a quoted comma-bearing field, so the gate also proves
  * quoted-CSV parsing agrees between engines. 12 airports carry IATA codes
  * matching real I94 port codes (the data model's declared airport↔port
  * join); the rest are non-matching noise. */
object AirportFixture {
  val dir = graft.sources.Fixture.dir("graft_airport")
  val csvPath = s"$dir/airport-codes.csv"

  /** where the pipeline query writes its parquet: per process, outside the fixture */
  def parquetPath: String = graft.sources.Fixture.scratch("graft_airport/transform/airport")

  private val portCodes =
    Seq("NYC", "MIA", "LOS", "SFR", "CHI", "HHW", "ATL", "HOU", "WAS", "FTL", "ORL", "NEW")
  private val types = Seq("small_airport", "medium_airport", "large_airport", "heliport")
  private val countries = Seq("US", "CA", "MX", "GB")

  def ensure(spark: SparkSession): Unit = graft.sources.Fixture.at(dir, "v1") {
    val header =
      "ident,type,name,elevation_ft,continent,iso_country,iso_region,municipality,gps_code,iata_code,local_code,coordinates"
    val rows = (0 until 240).map { i =>
      val iata = if (i < portCodes.size) portCodes(i) else f"Z$i%03d"
      val elev = if (i % 7 == 0) "" else s"${(i * 37) % 900}.${i % 10}" // some missing
      val lat = -90 + (i * 83) % 180
      val lon = -180 + (i * 131) % 360
      Seq(
        f"K$i%03d",
        types(i % 3), // 3 of 4 types, decorrelated from the i%4 country cycle
        s"Airport $i",
        elev,
        "NA",
        countries(i % countries.size),
        s"${countries(i % countries.size)}-$i",
        s"City $i",
        f"GPS$i%03d",
        iata,
        f"L$i%03d",
        "\"" + s"$lon.25, $lat.75" + "\"" // quoted: contains a comma
      ).mkString(",")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(csvPath),
      (header +: rows).mkString("\n").getBytes("UTF-8")
    )
  }
}
