package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Io
import graft.ops.LshIndex

/** SparkEntry's shared state: the build-once memo behind the serving
  * entries, and the pairing of every query with one oracle. */
class SparkEntrySpec extends SparkSpec {

  private val sourceDocs = "/root/testdata/sf0.001/documents.parquet"

  /** `body` over a fresh sf dir holding a copy of the sf0.001 documents
    * table; the dir is deleted afterwards. */
  private def withSfDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-entry-sf")
    try {
      Files.copy(Paths.get(sourceDocs), dir.resolve("documents.parquet"))
      body(dir.toString)
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def q112(dir: String): Seq[String] =
    rows(SparkEntry.queries("q112_lsh_index_probe")(spark, dir))

  /** q112's answer over an index built just now, outside the memo. */
  private def q112Fresh(dir: String): Seq[String] = {
    val docs = Io.readParquet(spark, s"$dir/documents.parquet")
    val idx = Files.createTempDirectory("graft-entry-lsh")
    try {
      LshIndex.build(docs.where(col("doc_id") % 17 === 0), idx.toString,
        numHashes = 8, rowsPerBand = 2, shingleSize = 2)
      rows(LshIndex.nearDuplicates(docs.where(col("doc_id") % 17 =!= 0), idx.toString,
          threshold = 0.35)
        .select(col("doc_id"), col("index_doc_id").as("bench_doc_id"), col("jaccard")))
    } finally FileUtils.deleteDirectory(idx.toFile)
  }

  /** The memoized LSH index's current path; fails if the memo would
    * have to build it. */
  private def keptLshIndex(dir: String): String =
    SparkEntry.buildOnce(spark, "lsh-index", dir, "documents")(_ => fail("index rebuilt"))

  private def underRoot(path: String): Boolean =
    Paths.get(path).toAbsolutePath.normalize.startsWith(SparkEntry.buildRoot.toPath)

  test("q112 probes an index rebuilt after documents is rewritten in the process") {
    withSfDir { dir =>
      val first = q112(dir)
      assert(first.nonEmpty)
      assert(first === q112Fresh(dir))
      val oldIndex = keptLshIndex(dir)
      assert(Files.isDirectory(Paths.get(oldIndex)))

      // give benchmark-side doc 0 the text of probe-side doc 1: only an
      // index built over the rewritten table can report that pair
      val text1 = spark.read.parquet(sourceDocs).where(col("doc_id") === 1)
        .select("text").head.getString(0)
      spark.read.parquet(sourceDocs)
        .withColumn("text", when(col("doc_id") === 0, lit(text1)).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val second = q112(dir)
      assert(second === q112Fresh(dir))
      assert(second !== first, "q112 answered from the index of the replaced table")
      assert(second.exists(_.startsWith("1|0|")))
      val newIndex = keptLshIndex(dir)
      assert(newIndex !== oldIndex)
      assert(!Files.exists(Paths.get(oldIndex)), "the replaced index dir was not deleted")
      assert(underRoot(oldIndex) && underRoot(newIndex))
    }
  }

  test("buildOnce builds once per input version, under one root, and nests") {
    withSfDir { dir =>
      var builds = 0
      def counted(): String = SparkEntry.buildOnce(spark, "spec-counted", dir, "documents") { d =>
        builds += 1
        Files.writeString(Paths.get(d, "artifact"), "x")
        s"$d/artifact"
      }
      val a = counted()
      val (b, jobs) = withJobCount(counted())
      assert(a === b)
      assert(builds === 1)
      assert(jobs === 0, "a memo hit ran a Spark job")
      assert(underRoot(a) && Files.exists(Paths.get(a)))

      // the epoch -> shard-store shape: a build reads another artifact
      val outer = SparkEntry.buildOnce(spark, "spec-outer", dir, "documents") { d =>
        val inner = SparkEntry.buildOnce(spark, "spec-inner", dir, "documents")(identity)
        Files.writeString(Paths.get(d, "inner"), inner)
        d
      }
      val inner = Files.readString(Paths.get(outer, "inner"))
      assert(SparkEntry.buildOnce(spark, "spec-inner", dir, "documents")(_ => fail()) === inner)
      assert(underRoot(outer) && underRoot(inner) && outer != inner)

      // a failed build leaves no dir behind and keeps the old entry
      spark.read.parquet(sourceDocs).limit(10)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      intercept[IllegalStateException] {
        SparkEntry.buildOnce(spark, "spec-counted", dir, "documents")(_ =>
          throw new IllegalStateException("build failed"))
      }
      assert(Files.exists(Paths.get(a)))
      val c = counted()
      assert(builds === 2)
      assert(c != a && !Files.exists(Paths.get(a)))
      val dirs = Files.list(SparkEntry.buildRoot.toPath).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("spec-counted")).toSeq
      assert(dirs === Seq(Paths.get(c).getParent.getFileName.toString))
    }
  }

  test("every query has one oracle: static or data-dependent") {
    val static = SparkEntry.oracleSql.keySet
    val data = SparkEntry.dataOracles.keySet
    assert(static.intersect(data).isEmpty, "a query has both a static and a data oracle")
    val queries = SparkEntry.queries.keySet
    assert((queries -- static -- data).isEmpty, "queries without an oracle")
    assert(((static ++ data) -- queries).isEmpty, "oracles without a query")
  }

  test("SparkEntry memoizes only through buildOnce and countOnce") {
    val file = LibrarySources.root.resolve("SparkEntry.scala")
    val lines = Files.readAllLines(file).asScala.toSeq
    val defName = """^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored
    val hits = lines.zipWithIndex.collect {
      case (line, i) if Seq("createTempDirectory(", "computeIfAbsent(").exists(line.contains) =>
        val owner = lines.take(i + 1).reverseIterator
          .collectFirst { case defName(name) => name }.getOrElse("")
        (owner, s"$file:${i + 1}: ${line.trim}")
    }
    assert(hits.nonEmpty, "countOnce's computeIfAbsent was not found")
    val outside = hits.filterNot { case (owner, _) => Set("buildOnce", "countOnce")(owner) }
    assert(outside.isEmpty,
      outside.map(_._2).mkString("hand-rolled memo outside buildOnce:\n", "\n", ""))
  }
}
