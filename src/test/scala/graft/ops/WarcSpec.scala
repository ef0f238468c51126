package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def writeFile(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))

  /** One record: version line, `headers`, Content-Length of the UTF-8
    * payload, blank line, payload, record separator — `eol` picks the
    * header dialect. */
  private def rec(headers: Seq[String], payload: String,
                  eol: String = "\n"): String =
    (("WARC/1.0" +: headers :+
      s"Content-Length: ${payload.getBytes("UTF-8").length}") :+ "")
      .map(_ + eol).mkString + payload + eol + eol

  test("readWet: records parse fields and payload; warcinfo, CRLF header dialect, non-ASCII header values") {
    val dir = Files.createTempDirectory("graft-wet-spec").toString
    val wet =
      rec(Seq("WARC-Type: warcinfo"), "software: graft") +
        rec(Seq("WARC-Type: conversion",
          "WARC-Target-URI: http://a.example/x",
          "WARC-Date: 2026-08-16T00:00:00Z"),
          "first page text\nwith a second line") +
        // CRLF header dialect (real Common-Crawl WET uses \r\n); the
        // payload's own bytes come back verbatim
        rec(Seq("WARC-Type: conversion",
          "WARC-Target-URI: http://b.example/y",
          "WARC-Date: 2026-08-16T01:00:00Z"),
          "crlf payload line\r\nsecond", eol = "\r\n") +
        // ISO-28500 allows UTF-8 header values; the reader accumulates
        // header bytes as Latin-1 and re-encodes Latin-1 (a byte-identity
        // round trip), so the record's one UTF-8 decode recovers them
        rec(Seq("WARC-Type: conversion",
          "WARC-Target-URI: http://exämple.com/döc/7",
          "WARC-Date: 2026-08-16T02:00:00Z"), "payload text")
    writeFile(dir, "seg.wet", wet)
    val got = Warc.readWet(spark, dir).orderBy("uri").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.toSeq === Seq(
      ("warcinfo", "", "", "software: graft"),
      ("conversion", "http://a.example/x", "2026-08-16T00:00:00Z",
        "first page text\nwith a second line"),
      ("conversion", "http://b.example/y", "2026-08-16T01:00:00Z",
        "crlf payload line\r\nsecond"),
      ("conversion", "http://exämple.com/döc/7", "2026-08-16T02:00:00Z",
        "payload text")))
  }

  test("readWet: gzipped segments parse transparently (.wet.gz, the Common-Crawl shape)") {
    // real Common-Crawl WET segments ship as .wet.gz; a gzip file is
    // ONE split — parallelism is per-file, which matches the crawl's
    // many-segments layout
    val dir = Files.createTempDirectory("graft-wet-gz").toString
    val content = rec(Seq("WARC-Type: conversion",
      "WARC-Target-URI: http://gz.example/a",
      "WARC-Date: 2026-08-16T02:00:00Z"), "gz payload text here")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(Paths.get(dir, "seg.wet.gz")))
    out.write(content.getBytes("UTF-8")); out.close()
    val got = Warc.readWet(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3)))
    assert(got.toSeq === Seq(
      ("conversion", "http://gz.example/a", "gz payload text here")))
  }

  test("writeWet -> readWet round-trips a corpus exactly") {
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "multi\nline\n\ndocument"),
      (2L, "")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-wet-rt").toString
    // a non-ASCII URI prefix: header values round-trip byte-exactly too
    Warc.writeWet(docs, s"$dir/wet", uriPrefix = "http://exämple.com/döc/")
    val back = Warc.readWet(spark, s"$dir/wet")
      .where(col("wtype") === "conversion")
      .select(col("uri"), col("payload")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back === Set(
      ("http://exämple.com/döc/0", "alpha beta gamma"),
      ("http://exämple.com/döc/1", "multi\nline\n\ndocument"),
      ("http://exämple.com/döc/2", "")))
    // the warcinfo header record is present exactly once
    assert(Warc.readWet(spark, s"$dir/wet")
      .where(col("wtype") === "warcinfo").count() === 1)
  }

  test("writeWet singleFile=false: per-partition files, each with its own warcinfo, identical corpus back") {
    val docs = spark.range(0, 40).selectExpr("id AS doc_id",
      "concat('doc text number ', id) AS text").repartition(4)
    val dir = Files.createTempDirectory("graft-wet-multi").toString
    Warc.writeWet(docs, s"$dir/wet", singleFile = false)
    val files = new java.io.File(s"$dir/wet").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(files.length === 4)
    val back = Warc.readWet(spark, s"$dir/wet")
    // one warcinfo per (non-empty) file — every file independently parseable
    assert(back.where(col("wtype") === "warcinfo").count() === 4)
    val texts = back.where(col("wtype") === "conversion")
      .select("payload").collect().map(_.getString(0)).toSet
    assert(texts === (0L until 40L).map(i => s"doc text number $i").toSet)
    // empty partitions emit no warcinfo-only files: 2 docs across 8
    // partitions → at most 2 non-empty files, each with one warcinfo
    val dir2 = Files.createTempDirectory("graft-wet-empty").toString
    Warc.writeWet(docs.where(col("doc_id") < 2).repartition(8), s"$dir2/wet",
      singleFile = false)
    val back2 = Warc.readWet(spark, s"$dir2/wet")
    assert(back2.where(col("wtype") === "conversion").count() === 2)
    val nonEmptyFiles = new java.io.File(s"$dir2/wet").listFiles()
      .count(f => f.getName.startsWith("part-") && f.length() > 0)
    assert(back2.where(col("wtype") === "warcinfo").count() === nonEmptyFiles)
    assert(nonEmptyFiles <= 2)
  }

  test("readWarcResponses: HTTP header split at the second blank line; status/content-type parse; non-responses filtered") {
    val dir = Files.createTempDirectory("graft-warc-resp-spec").toString
    val warc =
      rec(Seq("WARC-Type: warcinfo"), "software: graft") +
        rec(Seq("WARC-Type: response",
          "WARC-Target-URI: http://a.example/page",
          "WARC-Date: 2026-08-16T00:00:00Z"),
          "HTTP/1.1 200 OK\ncontent-type: text/html; charset=UTF-8\n" +
            "Server: test\n\n" +
            "<html><body><p>body with a blank\n\nline inside it</p></body></html>") +
        // a request record (filtered), CRLF dialect
        rec(Seq("WARC-Type: request", "WARC-Target-URI: http://a.example/page"),
          "GET /page HTTP/1.1\r\nHost: a.example\r\n\r\n", eol = "\r\n") +
        // a response with a missing/malformed status line
        rec(Seq("WARC-Type: response",
          "WARC-Target-URI: http://b.example/broken",
          "WARC-Date: 2026-08-16T01:00:00Z"),
          "not a status line\n\nbroken body text") +
        // the real HTTP dialect: the \r\n\r\n separator wins over a
        // LATER \n\n inside the body; header values come back CR-free
        rec(Seq("WARC-Type: response", "WARC-Target-URI: http://c.example/z"),
          "HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n" +
            "\r\nbody line\n\nwith an LF blank line")
    writeFile(dir, "seg.warc", warc)
    val got = Warc.readWarcResponses(spark, dir).orderBy("uri").collect()
    assert(got.length === 3)
    val a = got(0)
    assert(a.getString(0) === "http://a.example/page")
    assert(a.getInt(2) === 200)
    assert(a.getString(3) === "text/html; charset=UTF-8")
    // the body keeps ITS OWN blank lines — the split is at the second
    // blank line only
    assert(a.getString(4) ===
      "<html><body><p>body with a blank\n\nline inside it</p></body></html>")
    val b = got(1)
    assert(b.getString(0) === "http://b.example/broken")
    assert(b.isNullAt(2)) // malformed status line → null, surfaced not guessed
    assert(b.getString(4) === "broken body text")
    val c = got(2)
    assert((c.getString(0), c.getInt(2), c.getString(3), c.getString(4)) ===
      ("http://c.example/z", 404, "text/plain", "body line\n\nwith an LF blank line"))
  }

  test("writeWarcResponses -> readWarcResponses -> extract composes the from-scratch chain") {
    // the third body carries the record marker AND an LF blank line —
    // it comes back verbatim
    val bait = "<p>first</p>\nWARC/1.0\nWARC-Type: fake\n\nafter a blank line"
    val docs = Seq(
      (0L, "<html><body><p>first document body prose here</p></body></html>"),
      (1L, "<html><body><p>second document body prose here</p></body></html>"),
      (2L, bait))
      .toDF("doc_id", "html")
    val dir = Files.createTempDirectory("graft-warc-resp-rt").toString
    Warc.writeWarcResponses(docs, s"$dir/warc")
    val back = Warc.readWarcResponses(spark, s"$dir/warc")
    val got = back
      .where(col("uri") =!= "http://example.com/doc/2")
      .select(col("uri"), col("http_status"),
        Extract.mainText(col("body")).as("t"))
      .orderBy("uri").collect()
    assert(got.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq === Seq(
      ("http://example.com/doc/0", 200, "first document body prose here"),
      ("http://example.com/doc/1", 200, "second document body prose here")))
    val b = back.where(col("uri") === "http://example.com/doc/2").collect()
      .map(r => (r.getInt(2), r.getString(3), r.getString(4)))
    assert(b.toSeq === Seq((200, "text/html; charset=UTF-8", bait)))
  }

  test("readWet: Content-Length framing returns marker-bearing payloads verbatim; splits resync correctly") {
    val docs = (0L until 200L).map { i =>
      val body = i % 5 match {
        // adversarial payloads: a bare marker line, and a FAKE header
        // block without Content-Length — both must ride inside the
        // payload untouched (resync validation skips the fake: no
        // Content-Length header)
        case 0 => s"doc $i first line\nWARC/1.0\nWARC-Type: fake\n\nnot a record\nWARC/1.0\ntail of $i"
        // a COMPLETE header block is the documented resync
        // false-positive limit — but one whose Content-Length is >18
        // digits (Long overflow) or Unicode digits (isDigit-true,
        // toLong-false) must fail VALIDATION and move the scan on, not
        // kill the task with NumberFormatException
        case 1 => s"doc $i\nWARC/1.0\nWARC-Type: fake\n" +
          "Content-Length: 99999999999999999999999\n\nnot a record, doc " + i
        case 2 => s"doc $i\nWARC/1.0\nWARC-Type: fake\n" +
          "Content-Length: ٧٨٩\n\nnot a record either, doc " + i
        case _ => s"plain document number $i\nwith a second line"
      }
      (i, body)
    }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-wet-exact-spec").toString
    Warc.writeWet(docs, s"$dir/wet")
    def readAll(maxSplit: Option[Long]) = {
      val conf = spark.sparkContext.hadoopConfiguration
      val prev = conf.get("mapreduce.input.fileinputformat.split.maxsize")
      maxSplit.foreach(m =>
        conf.setLong("mapreduce.input.fileinputformat.split.maxsize", m))
      try Warc.readWet(spark, s"$dir/wet")
        .where(col("wtype") === "conversion")
        .select("uri", "payload").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      finally {
        if (prev == null)
          conf.unset("mapreduce.input.fileinputformat.split.maxsize")
        else conf.set("mapreduce.input.fileinputformat.split.maxsize", prev)
      }
    }
    val want = docs.collect()
      .map(r => (s"http://example.com/doc/${r.getLong(0)}", r.getString(1)))
      .toSet
    // single split: everything verbatim, embedded markers included
    assert(readAll(None) === want)
    // 2-4 KB max splits: dozens of splits, most starting mid-record or
    // mid-payload — resync + the [start, end) ownership rule must
    // yield EXACTLY the same record set, no duplicates, no losses
    assert(readAll(Some(4096L)) === want)
    assert(readAll(Some(2048L)) === want)
    // a gzipped exact segment reads sequentially (single split)
    val dir2 = Files.createTempDirectory("graft-wet-exact-gz").toString
    val raw = new java.io.File(s"$dir/wet").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(dir2, "seg.warc.gz")))
    out.write(java.nio.file.Files.readAllBytes(raw.toPath)); out.close()
    val gz = Warc.readWet(spark, dir2)
      .where(col("wtype") === "conversion")
      .select("uri", "payload").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gz === want)
  }

  test("readWarcRequests / readWarcMetadata: outbound half and per-fetch sidecar parse; malformed metadata lines surface") {
    val docs = Seq((3L, "x"), (14L, "y")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-warc-req").toString
    Warc.writeWarcRequests(docs, s"$dir/req",
      uriPrefix = "http://crawl.example/p/")
    val req = Warc.readWarcRequests(spark, s"$dir/req")
      .orderBy("uri").collect()
    assert(req.map(r => (r.getString(0), r.getString(2), r.getString(3),
      r.getString(4))).toSeq === Seq(
      ("http://crawl.example/p/14", "GET", "/p/14", "HTTP/1.1"),
      ("http://crawl.example/p/3", "GET", "/p/3", "HTTP/1.1")))
    assert(req.forall(_.getString(5)
      .contains("Host: crawl.example")))
    assert(req.forall(_.getString(6) === "")) // GETs carry no body
    // a handwritten CRLF request with a body (POST)
    val dir2 = Files.createTempDirectory("graft-warc-req2").toString
    val http = "POST /submit HTTP/1.0\r\nHost: h.example\r\n\r\npayload=1"
    writeFile(dir2, "seg.warc",
      s"WARC/1.0\nWARC-Type: request\nWARC-Target-URI: http://h.example/submit\n" +
        s"Content-Length: ${http.getBytes("UTF-8").length}\n\n$http\n")
    val post = Warc.readWarcRequests(spark, dir2).collect()(0)
    assert(post.getString(2) === "POST" && post.getString(3) === "/submit" &&
      post.getString(4) === "HTTP/1.0" && post.getString(6) === "payload=1")
    assert(post.getString(5) === "Host: h.example")
    // metadata: exploded key/value pairs; a colon-free line surfaces
    // with a null key instead of vanishing
    val dir3 = Files.createTempDirectory("graft-warc-meta").toString
    Warc.writeWarcMetadata(docs, s"$dir3/meta",
      uriPrefix = "http://crawl.example/p/")
    val meta = Warc.readWarcMetadata(spark, s"$dir3/meta")
      .orderBy("uri", "key").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3)))
    assert(meta.toSeq === Seq(
      ("http://crawl.example/p/14", "charset", "UTF-8"),
      ("http://crawl.example/p/14", "fetchTimeMs", "14"),
      ("http://crawl.example/p/14", "languages-cld2", "en"),
      ("http://crawl.example/p/3", "charset", "UTF-8"),
      ("http://crawl.example/p/3", "fetchTimeMs", "3"),
      ("http://crawl.example/p/3", "languages-cld2", "en")))
    val dir4 = Files.createTempDirectory("graft-warc-meta2").toString
    val m = "goodKey: v\nmalformed line without colon"
    writeFile(dir4, "seg.warc",
      s"WARC/1.0\nWARC-Type: metadata\nWARC-Target-URI: http://h.example/x\n" +
        s"Content-Length: ${m.getBytes("UTF-8").length}\n\n$m\n")
    val bad = Warc.readWarcMetadata(spark, dir4)
      .orderBy("value").collect()
      .map(r => (Option(r.getString(2)), r.getString(3)))
    assert(bad.toSeq === Seq(
      (None, "malformed line without colon"),
      (Some("goodKey"), "v")))
  }

  test("readWet: seeded fuzz — adversarial payloads round-trip verbatim at many split sizes") {
    // random concatenations of the resync-hostile pieces: bare
    // markers, fake header blocks WITHOUT a valid Content-Length
    // (missing, overflowing, non-ASCII digits), CRLF runs, non-ASCII
    // text. Deliberately EXCLUDED: a complete well-formed record with
    // a valid Content-Length — a split landing inside such a payload
    // syncs onto it by design (the documented false-positive limit of
    // any splittable WARC reader); everything else must fail resync
    // validation and round-trip exactly.
    val rnd = new scala.util.Random(20260817L)
    val pieces = Seq(
      "plain text ", "\n", "\r\n", "WARC/1.0\n", "WARC/",
      "WARC/1.0\nWARC-Type: fake\n\nno length here\n",
      "WARC/1.0\nX: y\nContent-Length: 99999999999999999999999\n\n",
      "WARC/1.0\nX: y\nContent-Length: ١٢٣\n\n",
      "Content-Length: 12\n", "é中文 ", "<b>html</b>", "  ")
    val docs = (0L until 120L).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i, (1 to n).map(_ => pieces(rnd.nextInt(pieces.length))).mkString)
    }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-wet-exact-fuzz").toString
    Warc.writeWet(docs, s"$dir/wet")
    val want = docs.collect()
      .map(r => (s"http://example.com/doc/${r.getLong(0)}", r.getString(1)))
      .toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = conf.get("mapreduce.input.fileinputformat.split.maxsize")
    try {
      for (maxSplit <- Seq(None, Some(512L), Some(1777L), Some(4096L),
          Some(16384L))) {
        maxSplit match {
          case Some(m) => conf.setLong(
            "mapreduce.input.fileinputformat.split.maxsize", m)
          case None => conf.unset(
            "mapreduce.input.fileinputformat.split.maxsize")
        }
        val got = Warc.readWet(spark, s"$dir/wet")
          .where(col("wtype") === "conversion")
          .select("uri", "payload").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        assert(got === want, s"mismatch at maxsize=$maxSplit")
      }
    } finally {
      if (prev == null)
        conf.unset("mapreduce.input.fileinputformat.split.maxsize")
      else conf.set("mapreduce.input.fileinputformat.split.maxsize", prev)
    }
  }
}
