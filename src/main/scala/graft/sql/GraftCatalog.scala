package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Io

/** SQL-facing surface: registers the warehouse tables as temp views so
  * users can query with plain `spark.sql` — the reference's interaction
  * model (temp views + SQL, SURVEY.md §1.1) without its hidden
  * cross-function view dependencies: registration is one explicit call.
  */
object GraftCatalog {

  val testdataTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register every parquet table under `dir` as a temp view. */
  def registerAll(spark: SparkSession, dir: String,
                  tables: Seq[String] = testdataTables): Unit =
    tables.foreach { t =>
      Io.readParquet(spark, s"$dir/$t.parquet").createOrReplaceTempView(t)
    }

  /** Register + run one SQL statement. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerAll(spark, dir)
    spark.sql(query)
  }
}
