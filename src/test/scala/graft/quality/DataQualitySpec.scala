package graft.quality

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  test("passes on non-empty table with no nulls") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val r = DataQuality.check(df, "t", "k")
    assert(r.passed && r.rows === 2 && r.nulls === 0)
  }

  test("fails on null values (reference ValueError contract)") {
    val df = Seq((Some(1), "a"), (None, "b")).toDF("k", "v")
    val e = intercept[IllegalStateException](DataQuality.check(df, "t", "k"))
    assert(e.getMessage.contains("null values"))
  }

  test("uniqueness gate: passes on unique, fails on duplicates") {
    val ok = Seq(1, 2, 3).toDF("k")
    DataQuality.checkUnique(ok, "t", "k")
    val dup = Seq(1, 2, 2).toDF("k")
    val e = intercept[IllegalStateException](DataQuality.checkUnique(dup, "t", "k"))
    assert(e.getMessage.contains("duplicate"))
  }

  test("foreign-key gate: nulls ignored, orphans fail") {
    val dim = Seq(1, 2).toDF("pk")
    val factOk = Seq(Some(1), Some(2), None).toDF("fk")
    DataQuality.checkForeignKey(factOk, "fk", dim, "pk", "fact", "dim")
    val factBad = Seq(Some(1), Some(9)).toDF("fk")
    val e = intercept[IllegalStateException](
      DataQuality.checkForeignKey(factBad, "fk", dim, "pk", "fact", "dim"))
    assert(e.getMessage.contains("missing"))
  }

  test("fails on empty table") {
    val df = spark.emptyDataFrame.withColumn("k", org.apache.spark.sql.functions.lit(1))
    val e = intercept[IllegalStateException](
      DataQuality.check(df.where("k > 1"), "t", "k"))
    assert(e.getMessage.contains("no results"))
  }

  test("checkAll: results come back in input order with exact rows and nulls") {
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
    val b = Seq(("p", 1.0), ("q", 2.0)).toDF("s", "d")
    val c = Seq(("w", 1), ("u", 2), ("t", 3), ("r", 4)).toDF("s", "x")
    val rs = DataQuality.checkAll(Seq(
      (b, "b", "s"), (a, "a", "v"), (c, "c", "s"), (a, "a2", "k")))
    assert(rs === Seq(
      DataQuality.CheckResult("b", "s", 2, 0),
      DataQuality.CheckResult("a", "v", 3, 0),
      DataQuality.CheckResult("c", "s", 4, 0),
      DataQuality.CheckResult("a2", "k", 3, 0)))
  }

  test("checkAll: with two failing entries the message names the earlier one") {
    val ok = Seq(1, 2).toDF("k")
    val twoNulls = Seq[Option[Int]](None, Some(1), None).toDF("k")
    val oneNull = Seq[Option[Int]](Some(1), None).toDF("k")
    val e = intercept[IllegalStateException](DataQuality.checkAll(Seq(
      (ok, "ok", "k"), (twoNulls, "first", "k"), (oneNull, "second", "k"))))
    assert(e.getMessage ===
      "Data quality check failed. first column k contains 2 null values")
  }

  test("checkAll: an empty frame in the middle of the matrix returns no results") {
    val ok = Seq(1, 2).toDF("k")
    val empty = Seq(1, 2).toDF("k").where("k > 5")
    val nulls = Seq[Option[Int]](None).toDF("k")
    val e = intercept[IllegalStateException](DataQuality.checkAll(Seq(
      (ok, "head", "k"), (empty, "middle", "k"), (nulls, "tail", "k"))))
    assert(e.getMessage === "Data quality check failed. middle returned no results")
  }

  test("checkAll: a 10-entry matrix over parquet tables runs in at most 2 Spark jobs") {
    import org.apache.spark.grafttest.ListenerBusHelper.waitUntilListenerBusEmpty
    val dir = Files.createTempDirectory("dq-matrix").toString
    val tables = (0 until 10).map { i =>
      val path = s"$dir/t$i.parquet"
      spark.range(0, 100 + i, 1, 3).selectExpr("id AS k", "id * 2 AS v")
        .write.parquet(path)
      (spark.read.parquet(path), s"t$i", if (i % 2 == 0) "k" else "v")
    }
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val rs = DataQuality.checkAll(tables)
      waitUntilListenerBusEmpty(spark.sparkContext)
      assert(rs.map(_.rows) === (0 until 10).map(100L + _))
      assert(jobs.get() <= 2, s"expected at most 2 jobs, got ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
