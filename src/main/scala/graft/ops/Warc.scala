package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC/WET source readers and writers — the file format a real crawl
  * actually lands in: a segment is a concatenation of ISO-28500
  * records, each `WARC/1.0` + header lines + blank line + exactly
  * `Content-Length` payload bytes. The readers turn a segment set into
  * relations (`(wtype, uri, warc_date, payload)` for WET, typed
  * projections for response/request/metadata records) so the rest of
  * the pipeline (extraction for raw WARC, language-ID/quality/dedup
  * for WET) starts from the bytes a crawl delivers.
  *
  * Framing: every reader frames records by Content-Length through the
  * splittable [[graft.io.WarcInputFormat]] (the batch readers) or the
  * same [[graft.io.WarcRecordReader]] over whole arriving files (the
  * stream). Payloads come back VERBATIM — no CRLF normalization, no
  * padding strip — and may contain anything, the record marker
  * included. A record without a well-formed header block carrying
  * Content-Length is refused with its file and offset, never guessed
  * at. Every writer emits Content-Length, so its files read back. */
object Warc {

  val Marker = "WARC/1.0"

  /** Read a WET file set into one row per record. `wtype` is the
    * WARC-Type header (`warcinfo`, `conversion`, …); header lines may
    * use CRLF (the Common-Crawl dialect), the payload is verbatim.
    * Splittable on uncompressed files (resync validates a full header
    * block before believing a marker, so payload bytes that merely
    * look like one are skipped); gzipped segments (`.wet.gz`, the
    * Common-Crawl shape) are one split per file, which matches the
    * crawl's many-small-segments layout. */
  def readWet(spark: SparkSession, path: String): DataFrame =
    recordProjection(readRecords(spark, path))

  /** Streaming twin of [[readWet]] over Structured Streaming. A custom
    * DSv2 streaming source around [[graft.io.WarcInputFormat]] would
    * re-implement Spark's file discovery, offset log, and exactly-once
    * bookkeeping; instead the stream rides the built-in `binaryFile`
    * file source: each discovered segment file arrives WHOLE and
    * parses through the SAME [[graft.io.WarcRecordReader]] sequential
    * path the batch reader uses for gzip members (framing
    * single-sourced — stream and batch can never diverge), `.gz`
    * decompressed by extension. In the crawl's many-small-segments
    * layout the FILE is the arrival unit, and a gzip segment is one
    * split in the batch reader anyway; per-task memory is one segment
    * (~100 MB at the Common-Crawl shape). Compose with
    * [[graft.ops.Extract.mainText]] and a quality gate for the full
    * streaming front end ([[graft.streaming.CrawlIngest]]). */
  def readWetStream(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // binaryFile's schema is FIXED by the source; streaming sources
    // refuse to infer, so it is spelled out here
    val binSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val recs = spark.readStream.format("binaryFile")
      .schema(binSchema).load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val base: java.io.InputStream =
          new java.io.ByteArrayInputStream(bytes)
        val in =
          if (p.endsWith(".gz")) new java.util.zip.GZIPInputStream(base)
          else base
        val rr = new graft.io.WarcRecordReader
        rr.initializeSequential(in, p)
        // close the reader (and its gzip Inflater's native buffer) the
        // moment the last record is consumed, and again at task end for
        // a consumer that stops early (a LIMIT) — leaving it to GC
        // finalization builds up native memory in long-running streams
        // over many .gz segments
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => rr.close()))
        new Iterator[String] {
          private def advance(): Boolean = {
            val more = rr.nextKeyValue()
            if (!more) rr.close()
            more
          }
          private var has = advance()
          def hasNext: Boolean = has
          def next(): String = {
            val v = rr.getCurrentValue.toString
            has = advance()
            v
          }
        }
      }.toDF("v")
    recordProjection(recs)
  }

  /** Read raw WARC `response` records — the format a from-scratch
    * crawl actually starts at, one step EARLIER than WET: each record
    * is WARC headers + blank line + an HTTP response (status line +
    * HTTP headers + blank line + body, usually HTML). An HTTP body may
    * contain ANYTHING, the record marker included, and comes back
    * VERBATIM. The HTTP message splits at its FIRST blank line (real
    * HTTP uses CRLF; a fixture may use LF — the EARLIER of `\r\n\r\n`
    * and `\n\n` wins) into the status/header block and the body.
    * Non-`response` records (warcinfo, request, metadata) are filtered
    * here.
    *
    * Columns: `uri`, `warc_date`, `http_status` (int, null when the
    * status line is absent/malformed), `content_type` (the HTTP
    * Content-Type header, case-insensitive match, '' when absent),
    * `body` (feed it to [[graft.ops.Extract.mainText]]). */
  def readWarcResponses(spark: SparkSession, path: String): DataFrame = {
    val parts = httpMessageParts(spark, path, "response")
    parts.select(
      col("uri"), col("warc_date"),
      regexp_extract(col("head"),
        "^HTTP/[0-9.]+\\s+([0-9]{3})", 1).cast("int").as("http_status"),
      regexp_extract(col("head"),
        "(?mi)^content-type:\\s*([^\\r\\n]+)", 1).as("content_type"),
      when(col("sepAt") > 0,
        col("p").substr(col("sepAt") + col("sepLen"), length(col("p"))))
        .otherwise(lit("")).as("body"))
  }

  /** Raw-WARC `request` records — the crawl's OUTBOUND half
    * (ISO-28500 pairs each response with the request that elicited it;
    * `WARC-Concurrent-To` links them): the payload is an HTTP request
    * message whose REQUEST LINE is `method target protocol`, parsed
    * here into columns; the header block after it stays available to
    * the caller via the verbatim message in `http_headers` (everything
    * after the request line up to the blank line). Bodies are rare on
    * crawl requests and are surfaced verbatim when present. Columns:
    * (uri, warc_date, http_method, target, protocol, http_headers,
    * body). */
  def readWarcRequests(spark: SparkSession, path: String): DataFrame = {
    val parts = httpMessageParts(spark, path, "request")
    parts.select(
      col("uri"), col("warc_date"),
      regexp_extract(col("head"),
        "^([A-Z]+)\\s+\\S+\\s+HTTP/[0-9.]+", 1).as("http_method"),
      regexp_extract(col("head"),
        "^[A-Z]+\\s+(\\S+)\\s+HTTP/[0-9.]+", 1).as("target"),
      regexp_extract(col("head"),
        "^[A-Z]+\\s+\\S+\\s+(HTTP/[0-9.]+)", 1).as("protocol"),
      when(instr(col("head"), "\n") > 0,
        regexp_replace(
          col("head").substr(instr(col("head"), "\n") + lit(1),
            length(col("head"))),
          "\r", ""))
        .otherwise(lit("")).as("http_headers"),
      when(col("sepAt") > 0,
        col("p").substr(col("sepAt") + col("sepLen"), length(col("p"))))
        .otherwise(lit("")).as("body"))
  }

  /** Raw-WARC `metadata` records — the per-fetch sidecar (Common Crawl
    * records fetch timing, detected charset/language here): the
    * payload is `key: value` lines, EXPLODED to one row per pair (the
    * SQL-friendly shape — a map column would defeat pushdown and the
    * oracle compare). Lines without a colon are surfaced with a null
    * key and the raw line as the value — refuse-or-surface, never
    * silently dropped. Columns: (uri, warc_date, key, value). */
  def readWarcMetadata(spark: SparkSession, path: String): DataFrame =
    typedRecords(spark, path, "metadata")
      .select(col("uri"), col("warc_date"),
        explode(split(regexp_replace(col("p"), "\r", ""), "\n")).as("line"))
      .where(length(trim(col("line"))) > 0)
      .select(col("uri"), col("warc_date"),
        when(instr(col("line"), ":") > 0,
          trim(substring_index(col("line"), ":", 1)))
          .otherwise(lit(null).cast("string")).as("key"),
        when(instr(col("line"), ":") > 0,
          ltrim(col("line").substr(instr(col("line"), ":") + lit(1),
            length(col("line")))))
          .otherwise(col("line")).as("value"))

  /** Per-file INVENTORY of a segment set — the monitoring relation a
    * crawl gate watches: per file, total records, per-record-type
    * counts (conversion/response/other), and total payload characters.
    * A file whose counts drift from the manifest (or a type showing up
    * where none should) gates the set before the pipeline consumes it.
    * One scan + one file-keyed aggregate exchange.
    * Output: (src_file, n_records, n_conversion, n_response, n_other,
    * payload_chars). */
  def warcInventory(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    recordProjection(recordsWithFile(spark, path).toDF("src_file", "v"),
        col("src_file"))
      .groupBy("src_file")
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("wtype") === "conversion", 1L).otherwise(0L))
          .as("n_conversion"),
        sum(when(col("wtype") === "response", 1L).otherwise(0L))
          .as("n_response"),
        sum(when(col("wtype") === "conversion" ||
          col("wtype") === "response", 0L).otherwise(1L)).as("n_other"),
        sum(length(col("payload"))).as("payload_chars"))
  }

  /** The readers' shared projection over the emitted record shape
    * (header block + `\n\n` + verbatim payload); `keep` columns of
    * `recs` ride along in front. */
  private def recordProjection(recs: DataFrame, keep: Column*): DataFrame = {
    val header = substring_index(col("v"), "\n\n", 1)
    recs.select(keep ++ Seq(
      regexp_extract(header, "(?m)^WARC-Type:\\s*(\\S+)", 1).as("wtype"),
      regexp_extract(header, "(?m)^WARC-Target-URI:\\s*(\\S+)", 1).as("uri"),
      regexp_extract(header, "(?m)^WARC-Date:\\s*(\\S+)", 1).as("warc_date"),
      when(instr(col("v"), "\n\n") > 0,
        col("v").substr(instr(col("v"), "\n\n") + lit(2), length(col("v"))))
        .otherwise(lit("")).as("payload")): _*)
  }

  /** One row (`v`) per record: the WARC header block (CRs stripped, no
    * blank lines) + `\n\n` + the VERBATIM payload —
    * [[graft.io.WarcInputFormat]]'s emitted shape. The first `\n\n` in
    * `v` is therefore always the header/payload boundary, whatever the
    * payload contains. */
  private def readRecords(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    recordsWithFile(spark, path).map(_._2).toDF("v")
  }

  /** (src_file, record) pairs off the reader — the split's path
    * recovered via mapPartitionsWithInputSplit (the RDD-level
    * equivalent of `input_file_name()`, which only exists for
    * DataSource scans). */
  private def recordsWithFile(spark: SparkSession,
                              path: String): org.apache.spark.rdd.RDD[(String, String)] = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.FileSplit
    spark.sparkContext.newAPIHadoopFile(
        path, classOf[graft.io.WarcInputFormat],
        classOf[LongWritable], classOf[Text],
        spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit { (split, it) =>
        val file = split.asInstanceOf[FileSplit].getPath.toString
        it.map { case (_, t) => (file, t.toString) }
      }
  }

  /** The records of one WARC-Type — (uri, warc_date, p) with `p` the
    * verbatim payload. */
  private def typedRecords(spark: SparkSession, path: String,
                           wtype: String): DataFrame =
    recordProjection(readRecords(spark, path))
      .where(col("wtype") === wtype)
      .select(col("uri"), col("warc_date"), col("payload").as("p"))

  /** [[typedRecords]] with the HTTP message split located —
    * (uri, warc_date, p, sepAt, sepLen, head), shared by the response
    * and request projections. `head` is the message up to its first
    * blank line; the EARLIER of the CRLF and LF separators wins (an LF
    * blank line inside a CRLF body — or vice versa — must not steal
    * the split). */
  private def httpMessageParts(spark: SparkSession, path: String,
                               wtype: String): DataFrame =
    typedRecords(spark, path, wtype)
      .withColumn("pCrlf", instr(col("p"), "\r\n\r\n"))
      .withColumn("pLf", instr(col("p"), "\n\n"))
      .withColumn("crlfFirst",
        col("pCrlf") > 0 && (col("pLf") === 0 || col("pCrlf") < col("pLf")))
      .withColumn("sepAt",
        when(col("crlfFirst"), col("pCrlf")).otherwise(col("pLf")))
      .withColumn("sepLen",
        when(col("crlfFirst"), lit(4)).otherwise(lit(2)))
      .withColumn("head",
        when(col("sepAt") > 0, col("p").substr(lit(1), col("sepAt") - 1))
          .otherwise(col("p")))

  /** Write a corpus as a WET file set — the round-trip twin of
    * [[readWet]]: one `conversion` record per document, its
    * Content-Length the UTF-8 octet length of the payload, plus a
    * leading `warcinfo` record per file. Deterministic headers so the
    * round-trip is exactly invertible; payloads may contain ANYTHING,
    * the record marker included.
    *
    * Scale contract: `singleFile = true` (the default, and what the
    * memoized fixtures use) coalesces to ONE task and ONE output file —
    * a fixture/export-a-sample path, NOT the 100 TB export path. For a
    * real export set `singleFile = false`: each input partition writes
    * its own WET file with its own leading `warcinfo` record (the
    * Common-Crawl many-segments layout), so the write parallelizes like
    * any text sink and every file is independently [[readWet]]-
    * parseable. Empty partitions emit nothing (no warcinfo-only
    * files). */
  def writeWet(docs: DataFrame, path: String,
               uriPrefix: String = "http://example.com/doc/",
               idCol: String = "doc_id", textCol: String = "text",
               singleFile: Boolean = true): Unit =
    writeRecords(docs, "conversion", uriPrefix, idCol, col(textCol), path,
      singleFile)

  /** Write a corpus as raw WARC `response` records — [[writeWet]]'s
    * sibling one stage earlier in the crawl: each document's markup
    * becomes the body of a deterministic HTTP 200 response (status
    * line + Content-Type + blank line + body), Content-Length the
    * UTF-8 octet length of the WHOLE HTTP message, so
    * [[readWarcResponses]] → [[graft.ops.Extract.mainText]] exercises
    * the real from-scratch chain. Same `singleFile` contract as
    * [[writeWet]]. */
  def writeWarcResponses(docs: DataFrame, path: String,
                         uriPrefix: String = "http://example.com/doc/",
                         idCol: String = "doc_id", htmlCol: String = "html",
                         singleFile: Boolean = true): Unit = {
    val httpHead = "HTTP/1.1 200 OK\nContent-Type: text/html; " +
      "charset=UTF-8\nServer: graft-fixture\n\n"
    writeRecords(docs, "response", uriPrefix, idCol,
      concat(lit(httpHead), col(htmlCol)), path, singleFile)
  }

  /** Fixture twin for [[readWarcRequests]]: one deterministic GET per
    * document (target = the URI's path). */
  def writeWarcRequests(docs: DataFrame, path: String,
                        uriPrefix: String = "http://example.com/doc/",
                        idCol: String = "doc_id",
                        singleFile: Boolean = true): Unit = {
    val host = uriPrefix.replaceFirst("^[a-z]+://", "")
      .takeWhile(_ != '/')
    val pathPrefix = uriPrefix.replaceFirst("^[a-z]+://[^/]*", "")
    val msg = concat(
      lit(s"GET $pathPrefix"), col(idCol).cast("string"),
      lit(s" HTTP/1.1\nHost: $host\nUser-Agent: graft-crawler\n\n"))
    writeRecords(docs, "request", uriPrefix, idCol, msg, path, singleFile)
  }

  /** Fixture twin for [[readWarcMetadata]]: deterministic per-fetch
    * key/value pairs. */
  def writeWarcMetadata(docs: DataFrame, path: String,
                        uriPrefix: String = "http://example.com/doc/",
                        idCol: String = "doc_id",
                        singleFile: Boolean = true): Unit = {
    val msg = concat(
      lit("fetchTimeMs: "), (col(idCol) % 1000).cast("string"),
      lit("\ncharset: UTF-8\nlanguages-cld2: en"))
    writeRecords(docs, "metadata", uriPrefix, idCol, msg, path, singleFile)
  }

  /** The shared record sink: one `wtype` record per document whose
    * payload is `payload`, framed by its UTF-8 octet length, behind a
    * `warcinfo` record. `singleFile = true` (fixtures) coalesces to one
    * task and one file; `false` (the real export path) writes one file
    * per input partition, each with its own leading warcinfo so every
    * file is independently parseable, empty partitions emitting
    * nothing. */
  private def writeRecords(docs: DataFrame, wtype: String, uriPrefix: String,
                           idCol: String, payload: Column,
                           path: String, singleFile: Boolean): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val infoBody = "software: graft"
    val infoRec = s"$Marker\nWARC-Type: warcinfo\n" +
      s"Content-Length: ${infoBody.getBytes("UTF-8").length}\n\n$infoBody\n"
    val recs = docs.select(concat(
      lit(s"$Marker\nWARC-Type: $wtype\nWARC-Target-URI: $uriPrefix"),
      col(idCol).cast("string"),
      lit("\nWARC-Date: 2026-08-16T00:00:00Z\nContent-Length: "),
      octet_length(payload).cast("string"),
      lit("\n\n"), payload).as("value"))
    val out =
      if (singleFile)
        Seq(infoRec).toDF("value").unionByName(recs).coalesce(1)
      else
        recs.as[String].mapPartitions { it =>
          if (it.hasNext) Iterator(infoRec) ++ it else Iterator.empty
        }.toDF("value")
    out.write.mode("overwrite").text(path)
  }
}
