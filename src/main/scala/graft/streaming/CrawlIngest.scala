package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.{Checkpoints, Extract, TextStats, Warc}

/** The streaming crawl front end: WET segment files land in a
  * directory continuously (the shape a live crawl actually delivers —
  * many segment files over days, not one batch), and each micro-batch
  * discovers the new files, parses records through the SAME
  * Content-Length framing as the batch reader
  * ([[graft.ops.Warc.readWetStream]] — whole arriving segment files
  * through the batch reader's WarcRecordReader, so stream and batch can
  * never diverge), extracts main text, quality-gates, and commits
  * survivors to `sinkDir/batch=<id>`.
  *
  * Exactly-once: foreachBatch replays a failed batch under the SAME
  * batchId, and the write overwrites its own batch-keyed directory —
  * the [[IngestStream]] replay contract. Downstream (the curation
  * chain, [[IngestStream.ingestDedupStream]] for continuous dedup of
  * the extracted docs) reads the sink as an ordinary parquet corpus.
  *
  * Scale shape: everything here is scan-local — framing is per
  * arriving segment file, extraction and stats are per-row
  * projections — so a micro-batch costs (batch bytes) / (extraction
  * MB/s); there is no state store and no shuffle except statsFor's
  * generator barrier. The stream keeps up as long as segment arrival
  * rate stays under the extraction throughput (SCALE.md r16 addendum
  * 0: ~180 MB/s on local[32]). */
object CrawlIngest {

  /** Start-ready writer: WET records → extraction → quality gate →
    * batch-keyed parquet; payloads may contain anything, the record
    * marker included. Caller sets trigger/checkpoint and starts;
    * [[batchTwin]] is its backfill twin. */
  def extractStream(spark: SparkSession, segmentDir: String,
                    sinkDir: String,
                    minQuality: Double = 0.7): DataStreamWriter[Row] = {
    val recs = Warc.readWetStream(spark, segmentDir)
      .where(col("wtype") === "conversion")
    val fn: (Dataset[Row], Long) => Unit = (batch, id) =>
      extractBatch(batch.toDF(), id, sinkDir, minQuality)
    recs.writeStream.foreachBatch(fn)
  }

  /** One cycle over a records batch `(uri, payload)` — callable
    * directly for batch backfill of historic segments; the streaming
    * path IS this function per micro-batch. Output columns:
    * (doc_id = uri, text, n_tokens, quality_score, lang_pred). */
  def extractBatch(batch: DataFrame, id: Long, sinkDir: String,
                   minQuality: Double = 0.7): Unit =
    extractGate(batch, minQuality)
      .write.mode("overwrite").parquet(s"$sinkDir/batch=$id")

  /** The batch twin of the whole stream over a COMPLETE segment set —
    * what the sink must union up to, regardless of how the files were
    * batched (CrawlIngestSpec asserts equality). */
  def batchTwin(spark: SparkSession, segmentDir: String,
                minQuality: Double = 0.7): DataFrame =
    extractGate(Warc.readWet(spark, segmentDir)
      .where(col("wtype") === "conversion"), minQuality)

  /** The shared per-records computation: extraction → quality gate,
    * text joined back. Extraction feeds the stats pass AND the text
    * column of the sink row — materialized once (the q146 lesson;
    * inside foreachBatch the batch is small, but extraction is the
    * expensive projection). */
  private def extractGate(recs: DataFrame, minQuality: Double): DataFrame = {
    val pages = Checkpoints.materialize(
      recs.select(col("uri").as("doc_id"),
        Extract.mainText(col("payload")).as("text"))
        .where(length(col("text")) > 0))
    TextStats.statsFor(pages)
      .where(col("quality_score") >= minQuality)
      .select("doc_id", "n_tokens", "quality_score", "lang_pred")
      .join(pages, Seq("doc_id"))
      .select("doc_id", "text", "n_tokens", "quality_score", "lang_pred")
  }
}
