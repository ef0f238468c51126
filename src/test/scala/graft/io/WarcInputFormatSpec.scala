package graft.io

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.ops.Warc

/** The reader's refusal and close contracts, seen through the batch and
  * streaming `ops.Warc` readers. */
class WarcInputFormatSpec extends SparkSpec {
  import spark.implicits._

  /** Run `Warc.readWetStream` over `dir` to completion, handing each
    * micro-batch to `sink`; the query's failure, if any, is rethrown. */
  private def runStream(dir: String)(sink: Dataset[Row] => Unit): Unit = {
    val ckpt = Files.createTempDirectory("graft-warc-ckpt").toString
    val fn: (Dataset[Row], Long) => Unit = (batch, _) => sink(batch)
    val q = Warc.readWetStream(spark, dir).writeStream.foreachBatch(fn)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(600000), "stream did not finish")
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  test("a record without Content-Length is refused with its file and offset, by the batch reader and the stream") {
    // the layout the old marker-framed writers produced: no
    // Content-Length anywhere
    val markerLayout =
      "WARC/1.0\nWARC-Type: warcinfo\n\nsoftware: graft\n\n" +
        "WARC/1.0\nWARC-Type: conversion\n" +
        "WARC-Target-URI: http://example.com/doc/0\n" +
        "WARC-Date: 2026-08-16T00:00:00Z\n\nfirst document text\n"
    // a well-formed record ahead of it: a partial result would have a
    // row to return
    val valid = "WARC/1.0\nWARC-Type: conversion\n" +
      "WARC-Target-URI: http://example.com/doc/9\nContent-Length: 5\n\nvalid\n\n"
    for ((name, content, offset) <- Seq(
        ("marker.wet", markerLayout, 0L),
        ("mixed.wet", valid + markerLayout, valid.length.toLong))) {
      val dir = Files.createTempDirectory("graft-warc-refuse").toString
      Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))
      def refused(e: Throwable): Boolean = messages(e).exists(m =>
        m.contains(s"malformed WARC record in file:$dir/$name at offset $offset") &&
          m.contains("well-formed header block") && m.contains("Content-Length"))

      val batch = intercept[Exception](Warc.readWet(spark, dir).collect())
      assert(refused(batch), messages(batch).mkString("\n"))

      val rows = new ConcurrentLinkedQueue[Row]()
      val stream = intercept[StreamingQueryException](
        runStream(dir)(_.collect().foreach(rows.add)))
      assert(refused(stream), messages(stream).mkString("\n"))
      assert(rows.isEmpty)
    }
  }

  test("a stream that stops early mid-segment closes every reader it opened") {
    // a .gz segment of many records, of which the batch takes one: the
    // reader stops mid-segment, so only the task-completion listener
    // can close it
    val tmp = Files.createTempDirectory("graft-warc-early").toString
    Warc.writeWet((0L until 200L).map(i => (i, s"document number $i"))
      .toDF("doc_id", "text"), s"$tmp/w")
    val raw = new java.io.File(s"$tmp/w").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val dir = Files.createDirectory(Paths.get(tmp, "segs")).toString
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(dir, "seg.wet.gz")))
    out.write(Files.readAllBytes(raw.toPath)); out.close()

    val open0 = WarcInputFormat.openReaders.get
    val taken = new ConcurrentLinkedQueue[Row]()
    runStream(dir)(_.limit(1).collect().foreach(taken.add))
    // the one row taken came through a reader the stream opened
    assert(taken.size === 1)
    assert(WarcInputFormat.openReaders.get === open0)
  }
}
