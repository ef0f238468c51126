package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.{LibrarySources, SparkEntry, SparkSpec}

/** `Io.readParquet` against a plain inferring `spark.read.parquet`:
  * the same frame on every path shape, no footer job while the table's
  * files are unchanged, and a fresh inference whenever they or the
  * inference confs change. */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def sample: DataFrame =
    (1 to 40).map(i => (i.toLong, s"name-$i", i * 0.5, 2020 + i % 2, 1 + i % 3))
      .toDF("id", "name", "score", "year", "month")

  /** Two reads through the memo (an inferring miss, then a hit) both
    * equal the plain read: schema with column order, and rows. */
  private def assertSameAsPlain(path: String): Unit = {
    val plain = spark.read.parquet(path)
    for (read <- Seq(Io.readParquet(spark, path), Io.readParquet(spark, path))) {
      assert(read.schema === plain.schema, path)
      assert(read.columns.toSeq === plain.columns.toSeq, path)
      assert(rows(read) === rows(plain), path)
    }
  }

  test("readParquet equals spark.read.parquet on a file, a dir, a partitioned dir and a glob") {
    val root = tmp("graft-io-eq")
    val dir = root.resolve("plain").toString
    sample.repartition(3).write.parquet(dir)
    val single = Files.list(root.resolve("plain")).iterator().asScala
      .map(_.toString).find(_.endsWith(".parquet")).get
    val parted = root.resolve("parted").toString
    sample.write.partitionBy("year", "month").parquet(parted)

    assertSameAsPlain(single)
    assertSameAsPlain(dir)
    assertSameAsPlain(parted)
    assertSameAsPlain(s"$dir/part-*")
    // partition columns come last, typed as inference types them
    assert(Io.readParquet(spark, parted).columns.toSeq ===
      Seq("id", "name", "score", "year", "month"))
  }

  test("a second read of an unchanged table runs no Spark job") {
    val dir = tmp("graft-io-jobs").resolve("t").toString
    sample.write.parquet(dir)
    val (_, first) = withJobCount(Io.readParquet(spark, dir))
    assert(first > 0, "the first read should infer the schema from the footer")
    val (again, second) = withJobCount(Io.readParquet(spark, dir))
    assert(second === 0, "the memoized read ran a footer job")
    assert(again.count() === 40L)
  }

  test("an overwrite with a different schema at the same path is read with the new schema") {
    val dir = tmp("graft-io-rewrite").resolve("t").toString
    sample.write.parquet(dir)
    assert(Io.readParquet(spark, dir).columns.toSeq ===
      Seq("id", "name", "score", "year", "month"))
    Seq(("a", 1.5f)).toDF("tag", "w").write.mode("overwrite").parquet(dir)
    val back = Io.readParquet(spark, dir)
    assert(back.schema === spark.read.parquet(dir).schema)
    assert(back.columns.toSeq === Seq("tag", "w"))
    assert(rows(back) === Seq("a|1.5"))
  }

  test("a table emptied of its data files still fails schema inference") {
    val root = tmp("graft-io-empty").resolve("t")
    sample.write.parquet(root.toString)
    assert(Io.readParquet(spark, root.toString).count() === 40L)
    Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).foreach(Files.delete)
    val e = intercept[AnalysisException](Io.readParquet(spark, root.toString))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers the schema") {
    // a footer without Spark's schema metadata, so the conf decides the type
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val file = tmp("graft-io-binary").resolve("b.parquet").toString
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally writer.close()

    val key = "spark.sql.parquet.binaryAsString"
    assert(!spark.conf.getAll.contains(key))
    assert(Io.readParquet(spark, file).schema("b").dataType === BinaryType)
    try {
      spark.conf.set(key, "true")
      val (flipped, jobs) = withJobCount(Io.readParquet(spark, file))
      assert(jobs > 0, "a conf flip must re-infer, not reuse the kept schema")
      assert(flipped.schema("b").dataType === StringType)
      assert(flipped.as[String].collect().toSeq === Seq("hi"))
    } finally spark.conf.unset(key)
    assert(Io.readParquet(spark, file).schema("b").dataType === BinaryType)
  }

  test("readCsvUntyped picks up a changed header and reuses an unchanged one") {
    val file = tmp("graft-io-csv").resolve("t.csv")
    Files.write(file, "a,b\n1,2\n".getBytes(UTF_8))
    val first = Io.readCsvUntyped(spark, file.toString)
    assert(first.columns.toSeq === Seq("a", "b"))
    val (again, jobs) = withJobCount(Io.readCsvUntyped(spark, file.toString))
    assert(jobs === 0, "the memoized header read ran a job")
    assert(rows(again) === Seq("1|2"))

    Files.write(file, "x,y,z\n1,2,3\n".getBytes(UTF_8))
    val changed = Io.readCsvUntyped(spark, file.toString)
    assert(changed.schema === spark.read.option("header", "true").csv(file.toString).schema)
    assert(changed.columns.toSeq === Seq("x", "y", "z"))
    assert(rows(changed) === Seq("1|2|3"))
  }

  test("SparkEntry.countOnce counts a table once per version of its files") {
    val dir = tmp("graft-io-count").toString
    sample.write.parquet(s"$dir/t.parquet")
    assert(SparkEntry.countOnce(spark, dir, "t") === 40L)
    val (again, jobs) = withJobCount(SparkEntry.countOnce(spark, dir, "t"))
    assert(again === 40L)
    assert(jobs === 0, "an unchanged table was counted again")
    sample.limit(7).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(SparkEntry.countOnce(spark, dir, "t") === 7L, "a rewritten table kept its old count")
  }

  test("library code reads parquet tables only through Io") {
    val files = LibrarySources.files
    assert(files.size > 50,
      s"scanned only ${files.size} files from ${LibrarySources.root.toAbsolutePath}")
    val hits = LibrarySources.lineHits(
      files.filterNot(_.endsWith(Paths.get("io", "Io.scala"))),
      Seq(".read.parquet("))
    assert(hits.isEmpty, hits.mkString("parquet read outside Io.readParquet:\n", "\n", ""))
  }
}
