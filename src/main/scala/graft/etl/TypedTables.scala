package graft.etl

import java.sql.Date

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import graft.io.Io

/** Typed `Dataset[T]` facade over the star schema (SURVEY.md §1.1's
  * per-table upgrade): compile-time column names/types for the tables a
  * downstream Scala consumer touches most. The ETL itself stays
  * DataFrame-based — schemas there are driven by the reference's raw
  * inputs — but everything it OUTPUTS has a stable contract, and these
  * case classes pin it: a drifting column name or type becomes an
  * analysis error at `.as[T]` instead of a silent downstream null.
  *
  * Encoders are product encoders (codegen'd, Tungsten-native) — no
  * Kryo, no reflection at row speed. Option[_] marks the nullable
  * columns (every cast output can null under non-ANSI semantics). */
object TypedTables {

  final case class FactImmigration(
      id: Option[Int], country_citizen_key: Option[Int],
      country_resident_key: Option[Int], port_of_entry_key: Option[String],
      arrival_date_key: Option[Date], travel_mode_key: Option[Int],
      state_key: Option[String], departure_date_key: Option[Date],
      age: Option[Int], visa_category_key: Option[Int], match_flag: Boolean,
      gender: Option[String], ins_num: Option[Int],
      airline_key: Option[String], admission_number: Option[Int],
      flight_number: Option[String], visa_type: Option[String],
      year: Option[Int], month: Option[Int])

  final case class DimCountry(
      country_key: Option[Int], country_code: Option[Int],
      country_iso_code: Option[String], country_name: Option[String])

  final case class DimDate(
      date_key: Date, date: Date, year: Int, quarter: Int, month: Int,
      day: Int, week: Int)

  final case class DimPortOfEntry(
      port_of_entry_key: String, port_of_entry_name: String)

  final case class DimTravelMode(travel_mode_key: Int, travel_mode_name: String)

  final case class DimVisaCategory(visa_category_key: Int,
                                   visa_category_name: String)

  implicit val factImmigrationEnc: Encoder[FactImmigration] =
    Encoders.product[FactImmigration]
  implicit val dimCountryEnc: Encoder[DimCountry] = Encoders.product[DimCountry]
  implicit val dimDateEnc: Encoder[DimDate] = Encoders.product[DimDate]
  implicit val dimPortEnc: Encoder[DimPortOfEntry] = Encoders.product[DimPortOfEntry]
  implicit val dimTravelModeEnc: Encoder[DimTravelMode] = Encoders.product[DimTravelMode]
  implicit val dimVisaEnc: Encoder[DimVisaCategory] = Encoders.product[DimVisaCategory]

  /** Typed views over a written ETL output directory. */
  def factImmigration(spark: SparkSession, outDir: String): Dataset[FactImmigration] =
    Io.readParquet(spark, s"$outDir/fact_immigration.parquet").as[FactImmigration]

  def dimCountries(spark: SparkSession, outDir: String): Dataset[DimCountry] =
    Io.readParquet(spark, s"$outDir/dim_countries.parquet").as[DimCountry]

  def dimDate(spark: SparkSession, outDir: String): Dataset[DimDate] =
    Io.readParquet(spark, s"$outDir/dim_date.parquet").as[DimDate]
}
