package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("curation drops exact dups, near-dups, and low-quality docs") {
    val good = "the data engine reads the table and runs the query " * 5
    val docs = Seq(
      (0L, good),                                   // keeper
      (1L, good),                                   // exact dup → dropped
      (2L, good + "with one extra tail phrase ok"), // near-dup → dropped
      (3L, "short"),                                // low quality → dropped
      (4L, "another perfectly reasonable document about the engine " +
           "and the storage layer of the big table system " * 4)
    ).toDF("doc_id", "text")
    val out = Curation.curate(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out === Set(0L, 4L))
  }

  test("crawlCurate with a reliable checkpoint dir is row-identical to local") {
    // every crawlCurate stage (extract, segment dedup, curate's keeper
    // ids, the LM scores, per-language stats) materializes through the
    // session policy, so the reliable path must not change a row
    val body = "the data engine reads the table and runs the query " * 4
    val pages = Seq(
      (0L, s"<html><body><p>$body</p></body></html>"),
      (1L, s"<html><body><p>$body</p></body></html>"),   // exact dup
      (2L, s"<html><body><p>${body}with a tail</p></body></html>"),
      (3L, "<html><body><p>short</p></body></html>"),
      (4L, "<html><body><p>" + "another reasonable document about " +
        "the storage layer of the big table system " * 4 + "</p></body></html>")
    ).toDF("doc_id", "html")
    val dir = java.nio.file.Files.createTempDirectory("graft-ck-curate").toString
    for (perLang <- Seq(false, true)) {
      def run() = Curation.crawlCurate(pages, perLanguageBuckets = perLang)
        .collect().map(_.toSeq).toSet
      val local = run()
      assert(local.nonEmpty)
      assert(withCheckpointDir(dir)(run()) === local, s"perLanguageBuckets=$perLang")
    }
  }

  test("splitLeakage reports exactly the near-dup pairs that straddle splits") {
    val dup = "the data engine reads the table and runs the query " * 5
    // 40 docs: 20 near-identical (ids 0..19), 20 unique
    val docs = ((0L until 20L).map(i => (i, dup + s"tail $i")) ++
      (20L until 40L).map(i => (i, s"unique doc $i with its own words " * 3)))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(docs, numHashes = 8, rowsPerBand = 2,
      shingleSize = 2, threshold = 0.35)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    val leaks = Curation.splitLeakage(docs).collect()
    // every reported pair is a real near-dup pair with differing labels,
    // and the labels match splitExpr recomputed directly
    val expect = docs.select(col("doc_id"),
        Sampling.splitExpr(col("doc_id"), 900000L, 50000L).as("s"))
      .as[(Long, String)].collect().toMap
    leaks.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(pairs.contains((a, b)))
      assert(r.getAs[String]("split_a") === expect(a))
      assert(r.getAs[String]("split_b") === expect(b))
      assert(expect(a) !== expect(b))
    }
    // and completeness: every straddling near-dup pair is reported
    val straddling = pairs.filter { case (a, b) => expect(a) != expect(b) }
    assert(leaks.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet === straddling)
  }
}
