package graft.etl

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec

/** `CapstoneEtl.run` end to end over a tiny raw-data dir in the
  * FIXTURES.md A1–A10 formats (a few rows per file), so the quality gate
  * over the written tables runs without the reference's raw files. */
class EtlGateSpec extends SparkSpec {
  import spark.implicits._

  private val Tables = Seq("dim_countries", "staging_temperature",
    "fact_temperature", "dim_airlines", "dim_travel_modes",
    "dim_visa_categories", "dim_port_of_entry",
    "staging_us_cities_demographics", "fact_us_population", "fact_us_race",
    "dim_states", "fact_immigration", "dim_date")

  private val Airlines = Seq("Code,Airline", "AA,American Airlines",
    "05Q,\"Comlux Aviation, AG\"")

  private def lines(dir: Path, name: String, ls: Seq[String]): Unit =
    Files.write(dir.resolve(name), ls.mkString("\n").getBytes)

  /** Stage the raw dir; `cicids` become the I94 fact ids (A1). */
  private def rawDir(cicids: Seq[Option[Double]] = Seq(Some(1.0), Some(2.0), Some(3.0)),
                     airlines: Seq[String] = Airlines): String = {
    val dir = Files.createTempDirectory("etl-gate-raw")
    lines(dir, "internal_country_codes.txt", Seq(
      "236 =  'AFGHANISTAN'", "101 =  'ALBANIA'", "582 =  'MEXICO AIR SEA'"))
    lines(dir, "country_codes.csv", Seq(
      "COUNTRY,COUNTRY CODE,ISO CODES,POPULATION,AREA KM2,GDP $USD",
      "Afghanistan,93,AF / AFG,29121286,647500,20.65 Billion",
      "Albania,355,AL / ALB,2986952,28748,12.8 Billion"))
    lines(dir, "unmatched_countries_updated.csv", Seq(
      "int_country_code,int_country_name,actual_country_name,comment",
      "582,MEXICO AIR SEA,Mexico,synthetic"))
    lines(dir, "airlines.csv", airlines)
    lines(dir, "port_of_entry.txt", Seq(
      "'ALC'\t=\t'ALCAN, AK '", "'NYC'\t=\t'NEW YORK, NY '"))
    lines(dir, "us-cities-demographics.csv", Seq(
      "City;State;Median Age;Male Population;Female Population;" +
        "Total Population;Number of Veterans;Foreign-born;" +
        "Average Household Size;State Code;Race;Count",
      "Silver Spring;Maryland;33.8;40601;41862;82463;1562;30908;2.6;MD;Hispanic or Latino;25924",
      "Quincy;Massachusetts;41.0;44129;49500;93629;4147;32935;2.39;MA;White;58723"))
    Files.copy(Paths.get("fixtures", "GlobalLandTemperaturesByCountry.csv"),
      dir.resolve("GlobalLandTemperaturesByCountry.csv"))
    // A1: every numeric a double; 20566.0 is 2016-04-22 as a SAS day offset
    cicids.zipWithIndex.map { case (id, i) =>
      (id, 2016.0, 4.0, 236.0, 101.0, if (i % 2 == 0) "ALC" else "NYC",
        20566.0 + i, 1.0, "MD", Option(20570.0 + i), 30.0 + i, 2.0, "M",
        "F", Option.empty[String], "AA", 5.6582674633e10, "00123", "B2")
    }.toDF("cicid", "i94yr", "i94mon", "i94cit", "i94res", "i94port",
      "arrdate", "i94mode", "i94addr", "depdate", "i94bir", "i94visa",
      "matflag", "gender", "insnum", "airline", "admnum", "fltno", "visatype")
      .write.parquet(dir.resolve("sas_data").toString)
    dir.toString
  }

  private def runGate(in: String): String = {
    val out = Files.createTempDirectory("etl-gate-out").toString
    CapstoneEtl.run(spark, in, out)
    out
  }

  test("run(): a clean raw dir passes the gate and writes all 13 tables") {
    val out = runGate(rawDir())
    val written = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(written === Tables.map(t => s"$t.parquet").toSet)
  }

  test("run(): one null cicid fails the gate on fact_immigration.id") {
    val e = intercept[IllegalStateException](
      runGate(rawDir(cicids = Seq(Some(1.0), None, Some(3.0)))))
    assert(e.getMessage ===
      "Data quality check failed. fact_immigration column id contains 1 null values")
  }

  test("run(): a header-only airlines.csv fails the gate on dim_airlines") {
    val e = intercept[IllegalStateException](
      runGate(rawDir(airlines = Seq("Code,Airline"))))
    assert(e.getMessage === "Data quality check failed. dim_airlines returned no results")
  }
}
