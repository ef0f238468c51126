package graft.quality

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** In-engine data-quality gate (SURVEY.md §2.13 Q1).
  *
  * Same contract as the reference's DataQualityOperator
  * (plugins/operators/data_quality.py:21-38): for each {table, column} —
  * fail if the column contains any NULL; fail if the table is empty.
  *
  * Scale note: the whole matrix is measured by ONE aggregation job
  * (plus its AQE shuffle stage), one read per table: each check's frame
  * becomes (check index, is-null flag), the frames are unioned, and a
  * single `groupBy(index)` yields every table's row and null counts —
  * not the reference's two SQL round-trips per table, one table after
  * another.
  */
object DataQuality {

  final case class CheckResult(table: String, column: String,
                               rows: Long, nulls: Long) {
    def passed: Boolean = rows > 0 && nulls == 0
  }

  /** Throwing form of a one-entry [[checkAll]]. */
  def check(df: DataFrame, table: String, column: String): CheckResult =
    checkAll(Seq((df, table, column))).head

  /** Run the full matrix (reference: dags/dag_immigration.py:337-348).
    * Every table is measured before any verdict; the first failure in
    * matrix order then throws, mirroring the reference's
    * ValueError-on-violation (data_quality.py:29,38). Results come back
    * in input order. */
  def checkAll(checks: Seq[(DataFrame, String, String)]): Seq[CheckResult] = {
    val tagged = checks.zipWithIndex.map { case ((df, _, c), i) =>
      df.select(lit(i).as("i"), col(c).isNull.cast("long").as("n"))
    }
    val counts: Map[Int, (Long, Long)] =
      if (tagged.isEmpty) Map.empty
      else tagged.reduce(_ union _).groupBy("i").agg(count(lit(1)), sum("n"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // an empty frame has no group at all: a missing index means 0 rows
    val results = checks.zipWithIndex.map { case ((_, t, c), i) =>
      val (rows, nulls) = counts.getOrElse(i, (0L, 0L))
      CheckResult(t, c, rows, nulls)
    }
    results.find(!_.passed).foreach { r =>
      throw new IllegalStateException(
        if (r.rows == 0) s"Data quality check failed. ${r.table} returned no results"
        else s"Data quality check failed. ${r.table} column ${r.column} " +
          s"contains ${r.nulls} null values")
    }
    results
  }

  /** Engine extras beyond the reference's two gates. */

  /** Fail if `column` has duplicate values (PK-style uniqueness — the
    * check Redshift declares but never enforces). One aggregation pass. */
  def checkUnique(df: DataFrame, table: String, column: String): Unit = {
    val Row(rows: Long, distinct: Long) =
      df.agg(count(col(column)), countDistinct(col(column))).head()
    if (rows != distinct)
      throw new IllegalStateException(
        s"Data quality check failed. $table column $column has " +
          s"${rows - distinct} duplicate values")
  }

  /** Fail if any non-null fact key lacks a match in the dimension
    * (referential integrity); left-anti join, dim side broadcastable. */
  def checkForeignKey(fact: DataFrame, factCol: String,
                      dim: DataFrame, dimCol: String,
                      factName: String, dimName: String): Unit = {
    val orphans = fact.where(col(factCol).isNotNull)
      .join(dim, fact(factCol) === dim(dimCol), "left_anti")
      .count()
    if (orphans > 0)
      throw new IllegalStateException(
        s"Data quality check failed. $factName.$factCol has $orphans " +
          s"values missing from $dimName.$dimCol")
  }
}
