package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Io

/** The four analytical questions the reference warehouse is modeled for
  * (README.md:8-11) — never implemented as code in the reference — run
  * over the harness star schema (orders/lineitem ≈ fact, customer/nation/
  * region ≈ dims). SURVEY.md §2.6 A4/A5, §2.5 J4, §2.7.
  *
  * Scale notes: the truly tiny dims (nation 25, region 5 — fixed-size
  * by schema) carry explicit broadcast hints; customer is SIZE-DEPENDENT
  * (0.15M rows per SF — GBs at 100×), so its join strategy is left to
  * Catalyst/AQE, which broadcasts while it fits and degrades to a
  * shuffle join instead of failing the broadcast outright. The per-group
  * top-k uses a rank window AFTER a groupBy that has already collapsed
  * the fact to |groups| rows, so the window's sort is tiny.
  */
object StarAnalytics {

  private def p(dir: String, t: String) = s"$dir/$t.parquet"

  /** "Visitations for a selected year" → order counts + exact revenue
    * cents per order-year. */
  def visitsByYear(spark: SparkSession, dir: String): DataFrame = {
    val orders = Io.readParquet(spark, p(dir, "orders"))
    orders
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        count(lit(1)).as("order_cnt"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
      .orderBy("order_year")
  }

  /** "Visit count by world region" → fact ⨝ customer ⨝ nation ⨝ region
    * with broadcast dims. */
  def visitsByRegion(spark: SparkSession, dir: String): DataFrame = {
    val orders = Io.readParquet(spark, p(dir, "orders"))
    val customer = Io.readParquet(spark, p(dir, "customer"))
      .select("c_custkey", "c_nationkey")
    val nation = Io.readParquet(spark, p(dir, "nation"))
    val region = Io.readParquet(spark, p(dir, "region"))
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"))
      .agg(count(lit(1)).as("order_cnt"))
      .orderBy("region_name")
  }

  /** "Top-5 countries YTD" → global orderBy + limit (TakeOrderedAndProject:
    * no full sort materialization, per-partition top-k then merge). */
  def top5NationsYtd(spark: SparkSession, dir: String, yr: Int = 1995): DataFrame = {
    val orders = Io.readParquet(spark, p(dir, "orders"))
      .where(year(col("o_orderdate")) === yr)
    val customer = Io.readParquet(spark, p(dir, "customer"))
      .select("c_custkey", "c_nationkey")
    val nation = Io.readParquet(spark, p(dir, "nation"))
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("order_cnt"))
      .orderBy(desc("order_cnt"), asc("nation_name"))
      .limit(5)
  }

  /** "Top-5 countries per month" → rank window over pre-aggregated groups
    * (the only window the reference implies; SURVEY.md §2.7). Deterministic
    * tie-break on nation_name. */
  def top5NationsPerMonth(spark: SparkSession, dir: String, yr: Int = 1995): DataFrame = {
    val orders = Io.readParquet(spark, p(dir, "orders"))
      .where(year(col("o_orderdate")) === yr)
    val customer = Io.readParquet(spark, p(dir, "customer"))
      .select("c_custkey", "c_nationkey")
    val nation = Io.readParquet(spark, p(dir, "nation"))
    val monthly = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(month(col("o_orderdate")).cast("long").as("order_month"),
               col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("order_cnt"))
    val w = Window.partitionBy(col("order_month"))
      .orderBy(desc("order_cnt"), asc("nation_name"))
    monthly.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 5)
      .orderBy("order_month", "rnk")
  }
}
