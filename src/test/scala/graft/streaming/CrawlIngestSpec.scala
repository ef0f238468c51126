package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ops.Warc

/** The streaming crawl front end must equal its batch twin on the same
  * segment files, batch-by-batch arrival included. */
class CrawlIngestSpec extends SparkSpec {
  import spark.implicits._

  // markup-heavy pages whose extraction survives the gate (enough
  // prose) plus one page that extracts to nothing (script-only)
  private def page(i: Long): String =
    s"<html><head><script>var x = $i < 2;</script></head><body>" +
      s"<div class='nav'>Home</div><p>document number $i carries " +
      "enough plain prose words to pass the stats quality gate " +
      ("of the streaming crawl ingest pipeline " * 8) +
      "caf&eacute; &#8217;quoted&#8217;</p></body></html>"

  // even pages EMBED the record marker in their payload — Content-Length
  // framing ingests them whole; the page body keeps enough prose to
  // pass the gate
  private def advPage(i: Long): String =
    page(i) + (if (i % 2 == 0) s"\n${Warc.Marker}\nsevered tail bait\n" else "")

  private def writeSegment(dir: String, ids: Range): Unit = {
    val docs = ids.map(i => (i.toLong, advPage(i.toLong))).toDF("doc_id", "text")
    Warc.writeWet(docs, s"$dir/seg-${ids.head}",
      uriPrefix = "http://crawl.example/p/")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("doc_id").collect().map(_.toSeq).toSeq

  test("streaming extract+gate equals the batch twin across arriving segments; replay is idempotent") {
    val segRoot = Files.createTempDirectory("crawl-segs").toString
    val sink = Files.createTempDirectory("crawl-sink").toString
    val ckpt = Files.createTempDirectory("crawl-ckpt").toString
    writeSegment(segRoot, 0 until 6)
    val glob = s"$segRoot/*"

    def runAvailable(): Unit = {
      val q = CrawlIngest.extractStream(spark, glob, sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(600000), "stream did not finish")
    }
    runAvailable()
    val after1 = spark.read.parquet(sink).drop("batch")
    assert(rows(after1) === rows(CrawlIngest.batchTwin(spark, glob)))
    assert(after1.count() === 6)

    // a second segment arrives → exactly the new docs appear, and the
    // union still equals the twin over ALL files
    writeSegment(segRoot, 6 until 10)
    runAvailable()
    val after2 = spark.read.parquet(sink).drop("batch")
    assert(rows(after2) === rows(CrawlIngest.batchTwin(spark, glob)))
    assert(after2.count() === 10)

    // a gzipped segment arrives (the Common-Crawl shape) — the stream
    // decompresses by extension and parses through the same reader
    val gzDir = new java.io.File(s"$segRoot/seg-gz"); gzDir.mkdirs()
    val tmp = Files.createTempDirectory("crawl-tmp").toString
    writeSegment(tmp, 10 until 14)
    val rawSeg = new java.io.File(s"$tmp/seg-10").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(java.nio.file.Paths.get(gzDir.toString, "seg.warc.gz")))
    out.write(Files.readAllBytes(rawSeg.toPath)); out.close()
    runAvailable()
    val after3 = spark.read.parquet(sink).drop("batch")
    assert(rows(after3) === rows(CrawlIngest.batchTwin(spark, glob)))
    assert(after3.count() === 14)

    // replaying a batch id overwrites its own batch directory — same
    // rows after a double run, never duplicates (the exactly-once
    // contract foreachBatch relies on)
    val sink2 = Files.createTempDirectory("crawl-sink2").toString
    val recs = Warc.readWet(spark, s"$segRoot/seg-6")
      .where(col("wtype") === "conversion")
    CrawlIngest.extractBatch(recs, 0L, sink2)
    val once = rows(spark.read.parquet(sink2))
    CrawlIngest.extractBatch(recs, 0L, sink2)
    val twice = rows(spark.read.parquet(sink2))
    assert(once === twice && once.nonEmpty)

    // the gate is real: a script-only page never reaches the sink
    val gateRoot = Files.createTempDirectory("crawl-gate").toString
    Warc.writeWet(Seq((99L, "<script>only code, no text()</script>"))
      .toDF("doc_id", "text"), s"$gateRoot/seg-99",
      uriPrefix = "http://crawl.example/p/")
    assert(CrawlIngest.batchTwin(spark, s"$gateRoot/*").count() === 0)
  }
}
