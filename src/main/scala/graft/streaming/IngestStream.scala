package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.io.Io
import graft.ops.{LshIndex, Similarity}

/** Streaming ingest dedup against a persisted [[graft.ops.LshIndex]] —
  * the continuous form of the "does today's shard duplicate three years
  * of history?" flow. Each micro-batch:
  *
  *  1. probes the index: any batch doc with a near-duplicate at or
  *     above `threshold` among everything indexed so far (the base
  *     corpus plus every prior batch's survivors) is dropped;
  *  2. collapses within-batch near-duplicates (the index cannot see
  *     them — none of the batch is indexed yet): one representative
  *     per near-dup component, the component-minimum doc_id, same
  *     keeper rule as the batch operators;
  *  3. writes the survivors to `sinkDir/batch=<id>` and appends them
  *     to the index as `shard=batch-<id>`, so the NEXT batch dedupes
  *     against them.
  *
  * Exactly-once: foreachBatch replays a failed batch under the SAME
  * batchId; both the sink write and the index append overwrite their
  * own batch-keyed directory, so a replay replaces its partial output
  * instead of duplicating rows ([[LshIndex.append]]'s shard contract).
  * The index append reads the batch back FROM THE COMMITTED SINK, so
  * the indexed rows are exactly the rows a downstream consumer sees
  * even if the source re-delivers the batch differently on replay.
  *
  * Scale shape: the probe is the index's serving join — batch-side
  * bands/shingles scan-local, index sides bare parquet scans, digest
  * keys only; the within-batch component pass is batch-sized, never
  * history-sized. History grows only through the index's derived
  * relations (band keys + 64-bit shingle-hash sets — longs, not text),
  * the whole point of the flow: raw history text is NEVER rescanned.
  *
  * LSH params come from the index meta; recall is the LSH families'
  * (< 1 by construction) — a near-dup the bands never bucket slips
  * through, exactly as in the one-shot operators.
  *
  * Steps 1 and 2 run as ONE fused probe ([[LshIndex.ingestVerdicts]]):
  * a single collapse + signature + shingle derivation of the batch
  * feeds the history check and the within-batch component pass —
  * the two-operator formulation derived all three twice per
  * micro-batch (spec asserts the fused verdicts equal it exactly). */
object IngestStream {

  /** `compactEvery` (0 = never): every k-th batch, fold the index's
    * accreted shards into a fresh generation via
    * [[LshIndex.compactInPlace]], over any [[LshIndex.build]] index.
    * The in-flight batch's shard is kept
    * under its own id (`keepShards`) so a post-compaction replay can
    * still exclude its own rows; older batches are committed by the
    * streaming checkpoint and never replayed, so folding them is
    * safe. */
  def ingestDedupStream(docs: DataFrame, indexDir: String, sinkDir: String,
                        threshold: Double = 0.5, textCol: String = "text",
                        compactEvery: Int = 0): DataStreamWriter[Row] = {
    val fn: (Dataset[Row], Long) => Unit = (batch, id) => {
      ingestBatch(batch.toDF(), id, indexDir, sinkDir, threshold, textCol)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        LshIndex.compactInPlace(batch.sparkSession, indexDir,
          keepShards = Seq(s"batch-$id"))
    }
    docs.writeStream.foreachBatch(fn)
  }

  /** One ingest cycle, callable directly for batch backfill: dedupe
    * `batch` against the index and within itself, commit survivors to
    * `sinkDir/batch=<id>`, index them as `shard=batch-<id>`. */
  def ingestBatch(batch: DataFrame, id: Long, indexDir: String,
                  sinkDir: String, threshold: Double = 0.5,
                  textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    // one fused probe: history near-dups AND within-batch demotions
    // from a single batch derivation. excludeShards: a replayed batch
    // has already appended (part of) its own survivors as batch-<id> —
    // history must not include them or the replay would see the batch
    // duplicating itself and drop every row (spec: "replaying a batch
    // id is idempotent")
    val drop = LshIndex.ingestVerdicts(batch, indexDir, threshold, textCol,
        excludeShards = Seq(s"batch-$id"))
      .select("doc_id").distinct()
    val survivors = batch.join(drop, Seq("doc_id"), "left_anti")
    survivors.write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
    // index exactly what was committed (replay-stable even if the
    // source re-delivers the batch in different tasks)
    LshIndex.append(Io.readParquet(spark, s"$sinkDir/batch=$id"), indexDir,
      shardId = s"batch-$id", textCol = textCol)
  }

  /** One semantic ingest cycle against a persisted
    * [[Similarity.buildIvfIndex]] directory, the embedding twin of
    * [[ingestBatch]]: vectors with an indexed semantic duplicate (cosine
    * >= `threshold` in their `nprobe` closest cells) drop; within-batch
    * semantic-dup components — searched under the index's FROZEN
    * centroids — keep their minimum vec_id; survivors land in
    * `sinkDir/batch=<id>` and append to the index as `shard=batch-<id>`
    * ([[Similarity.appendToIvfIndex]]). Replay-safe like the text flow:
    * batch-keyed overwrites, and the history probe excludes the batch's
    * own shard. Recall is the IVF family's (`nprobe = nlist` is exact). */
  def ingestEmbeddingBatch(batch: DataFrame, id: Long, indexDir: String,
                           sinkDir: String, threshold: Double = 0.9,
                           nprobe: Int = 4): Unit = {
    val spark = batch.sparkSession
    val dupOfHistory = Similarity.cosineNearDuplicatesIndexed(batch, indexDir,
        threshold, nprobe, excludeShards = Seq(s"batch-$id"))
      .select("vec_id").distinct()
    val demoted = Similarity.semDedupLosersIndexed(batch, indexDir, threshold)
      .select(col("doc_id").as("vec_id"))
    val survivors = batch
      .join(dupOfHistory, Seq("vec_id"), "left_anti")
      .join(demoted, Seq("vec_id"), "left_anti")
    survivors.write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
    Similarity.appendToIvfIndex(Io.readParquet(spark, s"$sinkDir/batch=$id"),
      indexDir, shardId = s"batch-$id")
  }

  /** Streaming ANN enrichment: each micro-batch of query vectors gets
    * its top-k neighbors from a persisted [[graft.ops.Pq]] IVF-PQ
    * index — the retrieval side of a labeling / RAG-style pipeline,
    * where the index updates on its OWN ingest cadence and the stream
    * only reads it. `refine > 0` adds the exact-cosine re-rank stage
    * against `source` (the raw vector relation — the index stores
    * codes, not floats).
    *
    * Replay-safe the usual way: results overwrite `sinkDir/batch=<id>`,
    * so a replayed batch replaces its own output. The index is never
    * written here, so batches are independent: the union of per-batch
    * outputs equals one big indexed call over the union of queries
    * (spec-asserted) — no cross-batch state to reason about.
    *
    * `excludeSelf` defaults FALSE here, the opposite of the Pq family:
    * enrichment queries normally come from a DIFFERENT id namespace
    * than the index, so an id collision is not a self pair — the
    * family default would silently hide a true neighbor whose vec_id
    * happens to equal the query's. Pass true only when the stream's
    * queries really are corpus rows. */
  def annEnrichStream(queries: DataFrame, indexDir: String, sinkDir: String,
                      k: Int = 5, nprobe: Int = 4, refine: Int = 0,
                      source: Option[DataFrame] = None,
                      excludeSelf: Boolean = false): DataStreamWriter[Row] = {
    val fn: (Dataset[Row], Long) => Unit = (batch, id) =>
      annEnrichBatch(batch.toDF(), id, indexDir, sinkDir, k, nprobe,
        refine, source, excludeSelf)
    queries.writeStream.foreachBatch(fn)
  }

  /** One enrichment cycle, callable directly for batch backfill. */
  def annEnrichBatch(batch: DataFrame, id: Long, indexDir: String,
                     sinkDir: String, k: Int = 5, nprobe: Int = 4,
                     refine: Int = 0,
                     source: Option[DataFrame] = None,
                     excludeSelf: Boolean = false): Unit = {
    val out =
      if (refine > 0) {
        val src = source.getOrElse(sys.error(
          "annEnrichBatch: refine > 0 needs `source` (the raw vector " +
            "relation) — the IVF-PQ index holds codes, not floats"))
        graft.ops.Pq.ivfPqTopKRefined(batch, indexDir, k, src, nprobe, refine,
          excludeSelf = excludeSelf)
      } else graft.ops.Pq.ivfPqTopKIndexed(batch, indexDir, k, nprobe,
        excludeSelf = excludeSelf)
    out.write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
  }
}
