package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Io
import graft.parse.Parsers
import graft.quality.DataQuality

/** The reference's entire transformation layer
  * (dags/scripts/spark/data_preparation.py:110-502), re-expressed as
  * Spark-native Scala: typed `DataFrame => DataFrame` composition instead
  * of temp-view string-chaining, native column expressions instead of
  * Python UDFs, and the same star-schema outputs.
  *
  * Faithfully-preserved reference quirks (SURVEY.md §7.4):
  *  - dim_states is NOT de-duplicated (one row per demographics row,
  *    data_preparation.py:406-409);
  *  - fact_us_race drops the Race column itself (dp:391-399);
  *  - non-ANSI casts: INT(admnum) overflows int32, INT(insnum) nulls out
  *    on free text (dp:445-447) — requires spark.sql.ansi.enabled=false;
  *  - dim_date's UNION is the deduplicating SQL UNION (dp:471-477).
  */
object CapstoneEtl {

  // ---- schemas (SURVEY.md §1.4 mode 1) ----------------------------------

  val countryCodesSchema: StructType = StructType(Seq(
    StructField("COUNTRY", StringType),
    StructField("COUNTRY CODE", IntegerType),
    StructField("ISO CODES", StringType),
    StructField("POPULATION", IntegerType),
    StructField("AREA KM2", DoubleType),
    StructField("GDP $USD", StringType)))

  val demographicsSchema: StructType = StructType(Seq(
    StructField("City", StringType),
    StructField("State", StringType),
    StructField("Median Age", DoubleType),
    StructField("Male Population", IntegerType),
    StructField("Female Population", IntegerType),
    StructField("Total Population", IntegerType),
    StructField("Number of Veterans", IntegerType),
    StructField("Foreign-born", IntegerType),
    StructField("Average Household Size", DoubleType),
    StructField("State Code", StringType),
    StructField("Race", StringType),
    StructField("Count", IntegerType)))

  // ---- countries stage (dp:110-197) -------------------------------------

  /** `internal_country_codes.txt` lines → (int_country_code, int_country_name).
    * Native regexp_extract replaces parseCountriesUDF (dp:20-31). */
  def stagingIntCountries(raw: DataFrame): DataFrame =
    raw.select(
      Parsers.parseCountryCode(col("value")).as("int_country_code"),
      Parsers.parseCountryName(col("value")).as("int_country_name"))

  /** `country_codes.csv` → renamed + parsed iso/gdp columns (dp:134-148). */
  def stagingCountryCodes(raw: DataFrame): DataFrame =
    raw.withColumnsRenamed(Map(
        "COUNTRY" -> "country_name", "COUNTRY CODE" -> "country_code",
        "ISO CODES" -> "iso_codes", "POPULATION" -> "population",
        "AREA KM2" -> "area_km2", "GDP $USD" -> "gdp_usd"))
      .withColumn("country_iso_code", Parsers.parseIsoCode(col("iso_codes")))
      .withColumn("gdp_usd_billion", Parsers.parseGdpUsd(col("gdp_usd")))

  /** Manually-curated correction file → NVL fallback names (dp:155-158). */
  def unmatchedCountries(raw: DataFrame): DataFrame =
    raw.select(
      col("int_country_code"),
      coalesce(col("actual_country_name"), initcap(col("int_country_name")))
        .as("int_country_name"))

  /** Left-join corrections over internal countries (J1, dp:164-168), then
    * left-join ISO metadata on case-insensitive name (J2, dp:173-181).
    * Both right sides are tiny (33 / 240 rows) → broadcast hash joins. */
  def stagingCountries(intCountries: DataFrame, unmatched: DataFrame,
                       codes: DataFrame): DataFrame = {
    val ic = intCountries.alias("ic")
    val uc = broadcast(unmatched).alias("uc")
    val corrected = ic.join(uc, col("ic.int_country_code") === col("uc.int_country_code"), "left")
      .select(
        col("ic.int_country_code"),
        coalesce(col("uc.int_country_name"), col("ic.int_country_name"))
          .as("int_country_name"))
    val cc = broadcast(codes).alias("cc")
    corrected.alias("ic2")
      .join(cc, upper(col("ic2.int_country_name")) === upper(col("cc.country_name")), "left")
      .select(
        col("ic2.int_country_code"), col("ic2.int_country_name"),
        col("cc.country_code"), col("cc.country_iso_code"),
        coalesce(col("cc.country_name"), col("ic2.int_country_name")).as("country_name"),
        col("cc.population"), col("cc.area_km2"), col("cc.gdp_usd_billion"))
      .orderBy("int_country_name")
  }

  /** dim_countries projection (dp:184-190). */
  def dimCountries(staging: DataFrame): DataFrame =
    staging.select(
      col("int_country_code").cast(IntegerType).as("country_key"),
      col("country_code").cast(IntegerType).as("country_code"),
      col("country_iso_code"), col("country_name"))

  // ---- temperature stage (dp:200-238) -----------------------------------

  /** Left join temperatures to countries on upper(name), null-rejecting
    * filter (J3 — Catalyst rewrites to inner). */
  def stagingTemperature(temperature: DataFrame, stagingCountries: DataFrame): DataFrame =
    temperature.alias("tp")
      .join(broadcast(stagingCountries).alias("sc"),
        upper(col("tp.Country")) === upper(col("sc.country_name")), "left")
      .where(col("sc.country_name").isNotNull && col("tp.AverageTemperature").isNotNull)
      .select(
        col("tp.dt").as("date"),
        col("tp.AverageTemperature").as("average_temperature"),
        col("tp.AverageTemperatureUncertainty").as("average_temperature_uncertainty"),
        col("sc.country_name"), col("sc.int_country_code"), col("sc.country_code"))

  def factTemperature(staging: DataFrame): DataFrame =
    staging.select(
      Parsers.genUuid().as("id"),
      to_date(col("date")).as("date_key"),
      col("int_country_code").cast(IntegerType).as("country_key"),
      col("average_temperature").cast(DoubleType).as("average_temperature"),
      col("average_temperature_uncertainty").cast(DoubleType)
        .as("average_temperature_uncertainty"))
      .orderBy("date_key")

  // ---- small dimensions (dp:241-319) ------------------------------------

  def dimAirlines(raw: DataFrame): DataFrame =
    raw.withColumnsRenamed(Map("Code" -> "airline_key", "Airline" -> "airline_name"))

  /** S5 — literal in-memory relations; key values from
    * dags/data/raw-data/I94_SAS_Labels_Descriptions.SAS:972-976,1046-1050. */
  def dimTravelModes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "Air"), (2, "Sea"), (9, "Not reported"))
      .toDF("travel_mode_key", "travel_mode_name")
  }

  def dimVisaCategories(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "Business"), (2, "Pleasure"), (3, "Student"))
      .toDF("visa_category_key", "visa_category_name")
  }

  /** `port_of_entry.txt` lines → (port_of_entry_key, port_of_entry_name).
    * Native regexp replaces parsePortOfEntryUDF (dp:56-67, 300-319). */
  def dimPortOfEntry(raw: DataFrame): DataFrame =
    raw.select(
      Parsers.parsePortCode(col("value")).as("port_of_entry_key"),
      Parsers.parsePortName(col("value")).as("port_of_entry_name"))

  // ---- demographics stage (dp:320-416) ----------------------------------

  def stagingDemographics(raw: DataFrame): DataFrame =
    raw.withColumnsRenamed(Map(
      "City" -> "city", "State" -> "state_name", "Median Age" -> "median_age",
      "Male Population" -> "male_population",
      "Female Population" -> "female_population",
      "Total Population" -> "total_population",
      "Number of Veterans" -> "number_of_veterans",
      "Foreign-born" -> "foreign_born",
      "Average Household Size" -> "avg_household_size",
      "State Code" -> "state_code", "Race" -> "race", "Count" -> "count"))

  def factUsPopulation(staging: DataFrame): DataFrame =
    staging.select(
        col("state_code").as("state_key"), col("city"), col("median_age"),
        col("male_population"), col("female_population"),
        col("total_population"), col("number_of_veterans"), col("foreign_born"))
      .distinct()
      .select(Parsers.genUuid().as("id"), col("*"))

  /** Reference quirk kept: the Race column itself is dropped (dp:391-399),
    * so rows collapse per (state, city, count). */
  def factUsRace(staging: DataFrame): DataFrame =
    staging.select(col("state_code").as("state_key"), col("city"), col("count"))
      .distinct()
      .select(Parsers.genUuid().as("id"), col("*"))

  /** Reference quirk kept: NOT distinct (dp:406-409) — duplicate state_keys. */
  def dimStates(staging: DataFrame): DataFrame =
    staging.select(col("state_code").as("state_key"), col("state_name"))

  // ---- immigration fact + date dimension (dp:418-485) -------------------

  /** The 19-column projection with non-ANSI casts (dp:427-453). */
  def factImmigration(immigration: DataFrame): DataFrame =
    immigration.select(
      col("cicid").cast(IntegerType).as("id"),
      col("i94cit").cast(IntegerType).as("country_citizen_key"),
      col("i94res").cast(IntegerType).as("country_resident_key"),
      col("i94port").cast(StringType).as("port_of_entry_key"),
      Parsers.sasDate(col("arrdate")).as("arrival_date_key"),
      col("i94mode").cast(IntegerType).as("travel_mode_key"),
      col("i94addr").cast(StringType).as("state_key"),
      Parsers.sasDate(col("depdate")).as("departure_date_key"),
      col("i94bir").cast(IntegerType).as("age"),
      col("i94visa").cast(IntegerType).as("visa_category_key"),
      col("matflag").isNotNull.as("match_flag"),
      col("gender").cast(StringType).as("gender"),
      col("insnum").cast(IntegerType).as("ins_num"),
      col("airline").cast(StringType).as("airline_key"),
      col("admnum").cast(IntegerType).as("admission_number"),
      col("fltno").cast(StringType).as("flight_number"),
      col("visatype").cast(StringType).as("visa_type"),
      col("i94yr").cast(IntegerType).as("year"),
      col("i94mon").cast(IntegerType).as("month"))

  /** dim_date: DISTINCT arrivals ∪ DISTINCT departures (deduplicating
    * UNION — load-bearing, dim_date needs unique keys) + extract fields
    * (dp:463-479). */
  def dimDate(factImmigration: DataFrame): DataFrame = {
    val arr = factImmigration.select(col("arrival_date_key").as("date"))
      .where(col("date").isNotNull).distinct()
    val dep = factImmigration.select(col("departure_date_key").as("date"))
      .where(col("date").isNotNull).distinct()
    arr.union(dep).distinct()
      .select(
        col("date").as("date_key"), col("date"),
        year(col("date")).as("year"), quarter(col("date")).as("quarter"),
        month(col("date")).as("month"), dayofmonth(col("date")).as("day"),
        weekofyear(col("date")).as("week"))
      .orderBy("date")
  }

  // ---- orchestration (dp:488-502 + dag quality matrix) ------------------

  final case class EtlOutputs(tables: Map[String, DataFrame])

  /** Build every output table from an input directory shaped like the
    * reference's raw-data dir. Pure — no writes. Stage order dependency
    * (countries → temperature) is explicit function composition, not
    * hidden temp-view state. */
  def build(spark: SparkSession, inputPath: String): EtlOutputs = {
    val intCountries = stagingIntCountries(
      Io.readText(spark, s"$inputPath/internal_country_codes.txt"))
    val codes = stagingCountryCodes(
      Io.readCsv(spark, s"$inputPath/country_codes.csv", countryCodesSchema))
    val unmatched = unmatchedCountries(
      Io.readCsvUntyped(spark, s"$inputPath/unmatched_countries_updated.csv"))
    val stgCountries = stagingCountries(intCountries, unmatched, codes)

    val stgTemp = stagingTemperature(
      Io.readCsvUntyped(spark, s"$inputPath/GlobalLandTemperaturesByCountry.csv"),
      stgCountries)

    val stgDemo = stagingDemographics(
      Io.readCsv(spark, s"$inputPath/us-cities-demographics.csv",
        demographicsSchema, sep = ";"))

    val factImm = factImmigration(
      Io.readParquet(spark, s"$inputPath/sas_data"))

    EtlOutputs(Map(
      "dim_countries" -> dimCountries(stgCountries),
      "staging_temperature" -> stgTemp,
      "fact_temperature" -> factTemperature(stgTemp),
      "dim_airlines" -> dimAirlines(Io.readCsvUntyped(spark, s"$inputPath/airlines.csv")),
      "dim_travel_modes" -> dimTravelModes(spark),
      "dim_visa_categories" -> dimVisaCategories(spark),
      "dim_port_of_entry" -> dimPortOfEntry(Io.readText(spark, s"$inputPath/port_of_entry.txt")),
      "staging_us_cities_demographics" -> stgDemo,
      "fact_us_population" -> factUsPopulation(stgDemo),
      "fact_us_race" -> factUsRace(stgDemo),
      "dim_states" -> dimStates(stgDemo),
      "fact_immigration" -> factImm,
      "dim_date" -> dimDate(factImm)))
  }

  /** Full pipeline: build → write (fact_immigration partitioned by
    * year/month, K2) → quality gates (matrix from dag_immigration.py:337-348).
    *
    * The gate reads the 10 checked tables back from `outputPath`, never
    * the in-memory frames, with each read's schema set to the checked
    * column's field (no inference job), and measures all of them in one
    * [[DataQuality.checkAll]] aggregation; the first failure in matrix
    * order throws.
    *
    * The 13 output writes are independent (the reference fans them out as
    * 11 parallel Airflow loads, dag_immigration.py:355-386); submitting
    * them concurrently lets Spark overlap their jobs and keep all cores
    * busy through the small-table writes. */
  def run(spark: SparkSession, inputPath: String, outputPath: String): Unit = {
    val out = build(spark, inputPath)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    // each write carries the reference's per-task retry budget
    // (retries: 1, dag_immigration.py:44-45); overwrite-mode writes are
    // idempotent, so a retry is safe by construction
    val writes = out.tables.toSeq.map {
      case ("fact_immigration", df) => Future(Try(Retry.withRetry(1) {
        Io.writePartitioned(df, s"$outputPath/fact_immigration.parquet", "year", "month")
      }))
      case (name, df) => Future(Try(Retry.withRetry(1) {
        Io.writeParquet(df, s"$outputPath/$name.parquet")
      }))
    }
    // wait for EVERY write to finish before reporting failure: throwing
    // on the first error would leave sibling writes mutating the output
    // dir in the background, and would drop their exceptions
    val outcomes = Await.result(Future.sequence(writes), Duration.Inf)
    val failures = outcomes.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    // read back what was written, naming the checked column's type from
    // the frame that wrote it: no schema-inference job per table
    val written = (t: String, c: String) =>
      (spark.read.schema(StructType(Seq(out.tables(t).schema(c))))
        .parquet(s"$outputPath/$t.parquet"), t, c)
    DataQuality.checkAll(Seq(
      written("fact_immigration", "id"),
      written("fact_temperature", "id"),
      written("fact_us_population", "id"),
      written("fact_us_race", "id"),
      written("dim_countries", "country_key"),
      written("dim_airlines", "airline_key"),
      written("dim_date", "date_key"),
      written("dim_port_of_entry", "port_of_entry_key"),
      written("dim_travel_modes", "travel_mode_key"),
      written("dim_visa_categories", "visa_category_key")))
  }
}
