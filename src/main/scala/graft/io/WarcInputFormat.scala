package graft.io

import java.io.{EOFException, IOException, InputStream}

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}

/** Content-Length-honoring WARC record framing as a SPLITTABLE Hadoop
  * InputFormat — the ISO-28500 framing, and the one every `ops.Warc`
  * reader goes through: the reader skips exactly `Content-Length`
  * payload bytes, so it can never split inside a payload, whatever the
  * payload contains (the record marker included).
  *
  * Record = version line (`WARC/x.y`) + header lines + blank line +
  * exactly Content-Length payload bytes (+ separator newlines). The
  * emitted value is `headerBlock + "\n\n" + payload` (version line
  * dropped, header CRs stripped, payload bytes VERBATIM — exactness
  * is the point, so no payload normalization happens here).
  *
  * Split handling (the LineRecordReader convention, record-shaped):
  * a split emits records whose START offset s lies in [start, end);
  * the first reader of a file starts at 0, every other seeks to its
  * split start and RESYNCS — scan for a `WARC/` at line start, then
  * VALIDATE by parsing the header block (well-formed `Name: value`
  * lines, a blank-line terminator, a Content-Length header) before
  * believing it; a payload byte-string that merely looks like a
  * marker fails validation and the scan moves on. Once synced, the
  * reader follows the Content-Length chain and never rescans (a
  * malformed mid-stream record raises — refuse loudly, the house
  * contract). False positives are only possible at a resync point
  * whose payload embeds a COMPLETE well-formed header block with its
  * own Content-Length — the inherent limit of any splittable WARC
  * reader, documented here.
  *
  * Compression: a gzip member is not seekable, so compressed files
  * are single-split (`isSplitable = false`, the Common-Crawl
  * many-small-segments layout keeps parallelism per-file) and read
  * sequentially from offset 0 — no resync is ever needed there. */
class WarcInputFormat extends FileInputFormat[LongWritable, Text] {
  override def isSplitable(context: JobContext, file: Path): Boolean =
    new CompressionCodecFactory(context.getConfiguration).getCodec(file) == null

  override def createRecordReader(split: InputSplit,
                                  context: TaskAttemptContext): RecordReader[LongWritable, Text] =
    new WarcRecordReader
}

object WarcInputFormat {
  /** Parsed header block: raw text (CRs stripped, no version line,
    * no trailing blank line) + the Content-Length value. */
  private[io] final case class Header(text: String, contentLength: Long)

  private[io] val MaxHeaderBytes = 64 * 1024
  private[io] val MaxHeaderLines = 256

  /** Readers initialized and not yet closed in this JVM — the close
    * contract's observable. */
  private[io] val openReaders = new java.util.concurrent.atomic.AtomicInteger
}

class WarcRecordReader extends RecordReader[LongWritable, Text] {
  import WarcInputFormat._

  private var fsin: FSDataInputStream = _
  private var stream: InputStream = _ // decompressed stream when compressed
  private var file = "" // named in the refusal message
  private var seekable = false
  private var start = 0L
  private var end = 0L
  private var fileLen = 0L

  // buffered view over the (possibly decompressed) byte stream;
  // `pos` = absolute offset of the next byte to deliver
  private val buf = new Array[Byte](64 * 1024)
  private var bufLen = 0
  private var bufOff = 0
  private var pos = 0L

  private val key = new LongWritable()
  private val value = new Text()
  private var done = false

  /** Standalone SEQUENTIAL initialization over an already-open byte
    * stream of the file `name` — the streaming reader's entry
    * ([[graft.ops.Warc.readWetStream]] feeds each whole segment file
    * through here): the identical parser, caps, and refuse-loudly
    * contract as the compressed (non-seekable) file path, so batch and
    * streaming framing are single-sourced. The caller owns the stream's
    * lifecycle (close() also closes it). */
  def initializeSequential(in: InputStream, name: String): Unit = {
    opened(in, name)
    seekable = false
    start = 0L
    end = Long.MaxValue
    pos = 0L
    fileLen = 0L
  }

  private def opened(in: InputStream, name: String): Unit = {
    stream = in
    file = name
    openReaders.incrementAndGet()
  }

  override def initialize(genericSplit: InputSplit,
                          context: TaskAttemptContext): Unit = {
    val split = genericSplit.asInstanceOf[FileSplit]
    val conf = context.getConfiguration
    val path = split.getPath
    val fs = path.getFileSystem(conf)
    fileLen = fs.getFileStatus(path).getLen
    fsin = fs.open(path)
    val codec = new CompressionCodecFactory(conf).getCodec(path)
    if (codec != null) {
      // compressed: whole-stream single split, sequential only
      opened(codec.createInputStream(fsin), path.toString)
      seekable = false
      start = 0L
      end = Long.MaxValue
      pos = 0L
    } else {
      opened(fsin, path.toString)
      seekable = true
      start = split.getStart
      end = start + split.getLength
      // include the byte before the split so a record starting EXACTLY
      // at `start` is seen at a line start by the resync scan
      pos = if (start == 0) 0L else start - 1
      seekTo(pos)
      if (start > 0 && !resync()) done = true
    }
  }

  private def seekTo(p: Long): Unit = {
    require(seekable, "seek on a non-seekable (compressed) WARC stream")
    fsin.seek(p)
    pos = p
    bufLen = 0
    bufOff = 0
  }

  /** Next byte (0-255) or -1 at EOF. */
  private def readByte(): Int = {
    if (bufOff >= bufLen) {
      bufLen = stream.read(buf)
      bufOff = 0
      if (bufLen <= 0) return -1
    }
    val b = buf(bufOff) & 0xff
    bufOff += 1
    pos += 1
    b
  }

  private def readFully(n: Long): Array[Byte] = {
    if (n > Int.MaxValue)
      throw new IOException(s"WARC payload too large for one record: $n")
    val out = new Array[Byte](n.toInt)
    var i = 0
    // bulk-copy from the buffer (payloads are the volume; a per-byte
    // loop here halves the reader's throughput)
    while (i < out.length) {
      if (bufOff >= bufLen) {
        bufLen = stream.read(buf)
        bufOff = 0
        if (bufLen <= 0) throw new EOFException(
          s"EOF inside a Content-Length payload ($i of $n bytes) at pos $pos")
      }
      val take = math.min(out.length - i, bufLen - bufOff)
      System.arraycopy(buf, bufOff, out, i, take)
      bufOff += take
      i += take
      pos += take
    }
    out
  }

  /** Un-read the last byte delivered by [[readByte]] — it is always
    * still in the buffer (a refill resets bufOff to 0 and delivery
    * advances it to ≥ 1), so this never touches the stream: no
    * re-seek, no buffer discard. (The per-record seekTo this replaces
    * re-fetched each 64 KB buffer region up to ~64× for ~1 KB records
    * on a remote filesystem — pure read amplification.) */
  private def rewindOne(): Unit = {
    require(bufOff > 0, "rewindOne with no byte in the buffer")
    bufOff -= 1
    pos -= 1
  }

  /** Read one \n-terminated line (CR stripped); null at EOF before any
    * byte; capped at MaxHeaderBytes. Bytes decode as Latin-1 — a
    * byte↔char bijection — so [[emit]]'s Latin-1 re-encode returns the
    * EXACT header bytes; the assembled record is then decoded once as
    * UTF-8 by the consumer (Text.toString), recovering non-ASCII
    * header values (a UTF-8 WARC-Target-URI is legal per ISO-28500)
    * instead of mojibake'ing them through a per-byte char cast. All
    * parsing below compares ASCII only, which Latin-1 preserves. */
  private def readLine(): String = {
    val sb = new java.lang.StringBuilder(80)
    var b = readByte()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      sb.append(b.toChar)
      if (sb.length > MaxHeaderBytes)
        throw new IOException(s"WARC header line exceeds $MaxHeaderBytes bytes")
      b = readByte()
    }
    if (sb.length > 0 && sb.charAt(sb.length - 1) == '\r')
      sb.setLength(sb.length - 1)
    sb.toString
  }

  private def isVersionLine(s: String): Boolean =
    s != null && s.startsWith("WARC/") && s.drop(5).nonEmpty &&
      s.drop(5).forall(c => (c >= '0' && c <= '9') || c == '.')

  /** Parse version line + header block at the CURRENT position; null
    * when the bytes here are not a well-formed record head. */
  private def tryParseHeader(): Header = {
    val version = readLine()
    if (!isVersionLine(version)) return null
    val sb = new java.lang.StringBuilder(256)
    var contentLength = -1L
    var lines = 0
    var line = readLine()
    while (line != null && line.nonEmpty) {
      lines += 1
      if (lines > MaxHeaderLines || sb.length > MaxHeaderBytes) return null
      val colon = line.indexOf(':')
      // a header line is `Name: value` with a sane token name
      if (colon <= 0) return null
      val name = line.substring(0, colon)
      if (!name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'))
        return null
      if (name.equalsIgnoreCase("Content-Length")) {
        val v = line.substring(colon + 1).trim
        // ASCII digits only (Character.isDigit accepts Unicode digits
        // that Long parsing rejects) and ≤ 18 of them (no Long
        // overflow): in the resync path a crash here would kill the
        // task on adversarial payload bytes instead of rejecting the
        // candidate and moving on
        if (v.isEmpty || v.length > 18 ||
            !v.forall(c => c >= '0' && c <= '9')) return null
        contentLength = v.toLong
      }
      if (sb.length > 0) sb.append('\n')
      sb.append(line)
      line = readLine()
    }
    if (line == null) return null // EOF before the blank line
    if (contentLength < 0) return null // Content-Length is mandatory here
    Header(sb.toString, contentLength)
  }

  /** Scan forward (seekable mode) for the next VALIDATED record head
    * with start offset in [start, end); positions `pos` at its first
    * byte and returns true. */
  private def resync(): Boolean = {
    // at entry pos = start - 1 (or a failure point); scan for
    // '\n' 'W' 'A' 'R' 'C' '/'
    val marker = "WARC/".getBytes
    var atLineStart = false
    var b = readByte()
    while (b >= 0 && pos - 1 < end) {
      if (atLineStart && b == marker(0)) {
        val candidate = pos - 1
        // try the full match + header validation; on failure fall back
        var i = 1
        var ok = true
        while (ok && i < marker.length) {
          val nb = readByte()
          if (nb != (marker(i) & 0xff)) ok = false else i += 1
        }
        if (ok) {
          seekTo(candidate)
          if (tryParseHeader() != null && candidate < end) {
            seekTo(candidate)
            return true
          }
        }
        seekTo(candidate + 1)
        atLineStart = false
      } else {
        atLineStart = b == '\n'
      }
      b = readByte()
    }
    false
  }

  override def nextKeyValue(): Boolean = {
    if (done) return false
    // skip inter-record separator newlines
    var recStart = pos
    var b = readByte()
    while (b == '\n' || b == '\r') { recStart = pos; b = readByte() }
    if (b < 0) { done = true; return false }
    // un-read the record head's first byte IN the buffer (no re-seek:
    // the per-record seekTo here re-fetched each 64 KB buffer region
    // up to ~64× for ~1 KB records on a remote filesystem) — and with
    // the rewind, the sequential (compressed) mode parses through the
    // same tryParseHeader as the seekable one: one parser, one set of
    // header caps, one refuse-loudly contract
    rewindOne()
    if (recStart >= end) { done = true; return false }
    val header = tryParseHeader()
    if (header == null)
      throw new IOException(
        s"malformed WARC record in $file at offset $recStart: a record " +
          "needs a well-formed header block (version line, `Name: value` " +
          "lines, blank line) with a Content-Length header; refusing " +
          "to guess")
    emit(recStart, header)
    true
  }

  private def emit(recStart: Long, header: Header): Unit = {
    val payload = readFully(header.contentLength)
    key.set(recStart)
    // Latin-1 re-encode returns the EXACT header bytes readLine
    // decoded (see readLine) — the consumer decodes the assembled
    // record as UTF-8 once, so non-ASCII header values survive
    val head = (header.text + "\n\n").getBytes("ISO-8859-1")
    val full = new Array[Byte](head.length + payload.length)
    System.arraycopy(head, 0, full, 0, head.length)
    System.arraycopy(payload, 0, full, head.length, payload.length)
    value.set(full, 0, full.length)
  }

  override def getCurrentKey: LongWritable = key
  override def getCurrentValue: Text = value
  override def getProgress: Float =
    if (end == Long.MaxValue)
      if (fileLen == 0) 1f else math.min(1f, pos.toFloat / fileLen)
    else if (end == start) 1f
    else math.min(1f, (pos - start).toFloat / (end - start))
  /** Idempotent: a streaming caller closes on drain AND at task end. */
  override def close(): Unit = if (stream != null) {
    stream.close()
    stream = null
    openReaders.decrementAndGet()
  }
}
