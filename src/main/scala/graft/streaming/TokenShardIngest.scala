package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.{LangModel, Packer}

/** Streaming tail of the training-data pipeline: each micro-batch of
  * (curated) documents tokenizes under a FROZEN persisted BPE model
  * and APPENDS to a [[graft.ops.Packer.writeTokenShardStore]]
  * directory — the continuous form of "the crawl arrives and the
  * training shards grow", composing the two serve-many artifacts this
  * engine already maintains (the model via [[graft.ops.LangModel
  * .loadBpeModel]], the store via [[graft.ops.Packer
  * .appendToTokenShardStore]]).
  *
  * Exactly-once: Structured Streaming replays a failed batch under
  * the SAME batchId, and the store's append is idempotent per
  * (batchId, prevBatch) — a replay overwrites its own
  * `shards/batch=b<id>` and `carry/batch=b<id>` and re-reads the
  * still-present previous carry. Batch ids are the stream's own
  * (sequential), so the carry lineage is `base ← b0 ← b1 ← …` with no
  * caller-maintained state. An EMPTY micro-batch still appends (zero
  * sequences, carry forwarded verbatim) so the lineage never gaps.
  *
  * Contracts inherited from the store, surfaced here because a stream
  * hits them continuously: doc ids must arrive in ascending order
  * across batches within each pack group (crawl ids/timestamps are
  * naturally monotone — a violation is REFUSED, not silently
  * re-packed), and the store must be dropRemainder (the default).
  * Dedup/curation belong UPSTREAM of this sink
  * ([[IngestStream.ingestDedupStream]] is the history-dedup stage;
  * its survivors relation is exactly this stream's natural input).
  *
  * Scale shape: per micro-batch, one vocabulary-sized segmentation
  * under the broadcast model + one batch-sized pack continued from
  * the numGroups-row carry — never a history rescan; the store's
  * published shard files are never rewritten. */
object TokenShardIngest {

  def tokenShardIngestStream(docs: DataFrame, modelDir: String,
                             storeDir: String,
                             textCol: String = "text"): DataStreamWriter[Row] = {
    val fn: (Dataset[Row], Long) => Unit = (batch, id) =>
      ingestTokenBatch(batch.toDF(), id, modelDir, storeDir, textCol)
    docs.writeStream.foreachBatch(fn)
  }

  /** One cycle, callable directly for backfill: tokenize `batch` under
    * the persisted model, append as store batch `b<id>` continuing
    * from `b<id-1>` (or the initial write's `base` carry at id 0). */
  def ingestTokenBatch(batch: DataFrame, id: Long, modelDir: String,
                       storeDir: String, textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    // loaded per batch (bounded: nMerges rows) — a long-lived stream
    // must not pin a driver-side model across a model-artifact rebuild
    val model = LangModel.loadBpeModel(spark, modelDir)
    // STAGE the encode: the append runs 3+ actions over it (the
    // monotonicity count, the shard write, the carry write) and an
    // unstaged lineage would re-tokenize the batch per action — the
    // materializeTokenShards staging contract, enforced here because
    // a streaming sink pays it every micro-batch
    val enc = graft.ops.Checkpoints.materialize(
      LangModel.bpeEncodeWithModel(batch, model, textCol = textCol))
    Packer.appendToTokenShardStore(enc, storeDir, batchId = s"b$id",
      prevBatch = if (id == 0) "base" else s"b${id - 1}")
  }
}
