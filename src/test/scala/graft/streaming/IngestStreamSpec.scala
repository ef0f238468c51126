package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ops.{Generations, LshIndex, Similarity}

/** Streaming ingest dedup against a persisted LSH index: history dups
  * drop, within-batch dups keep their component minimum, survivors are
  * indexed so LATER batches dedupe against them, and replays are
  * idempotent. All texts are fixed strings hashed with md5-derived
  * functions, so every LSH bucketing below is deterministic. */
class IngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val baseText = "the quick brown fox jumps over the lazy dog again"
  private val novel1 = "pack my box with five dozen liquor jugs right now"
  private val novel2 = "how vexingly quick daft zebras jump over fences"
  private val novel3 = "sphinx of black quartz judge my vow tonight please"

  test("multi-batch ingest: history dups drop, batch dups keep min, survivors feed the index") {
    val base = Files.createTempDirectory("graft-ingest").toString
    val (idxDir, srcDir, sinkDir, ckDir) =
      (s"$base/idx", s"$base/src", s"$base/sink", s"$base/ck")
    LshIndex.build(docsDf(Seq((1L, baseText))), idxDir, shingleSize = 2)
    // batch 0: 10 = exact copy of indexed 1 (drop vs history);
    //          11 = novel; 12 = exact copy of 11 (within-batch, 12>11
    //          so demoted); 13 = novel
    docsDf(Seq((10L, baseText), (11L, novel1), (12L, novel1), (13L, novel2)))
      .coalesce(1).write.parquet(s"$srcDir/a")
    // batch 1: 20 = exact copy of batch-0 survivor 11 (drops ONLY if
    //          batch 0's survivors were appended to the index);
    //          21 = novel
    docsDf(Seq((20L, novel1), (21L, novel3)))
      .coalesce(1).write.parquet(s"$srcDir/b")
    val q = IngestStream.ingestDedupStream(
        EventsStream.readDocuments(spark, s"$srcDir/*", maxFilesPerTrigger = Some(1)),
        idxDir, sinkDir, threshold = 0.5)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(600000), "stream did not finish within 10 min")
    val survivors = spark.read.parquet(sinkDir)
      .select("doc_id", "batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(survivors === Map(11L -> 0, 13L -> 0, 21L -> 1))
    // the index now holds base + both batches' survivors as shards
    val shards = spark.read.parquet(s"${Generations.root(spark, idxDir)}/bands")
      .select("shard").distinct().collect().map(_.getString(0)).toSet
    assert(shards === Set("base", "batch-0", "batch-1"))
    // and serves them: a fresh probe of novel3's copy is a dup now
    val probed = LshIndex.nearDuplicates(docsDf(Seq((99L, novel3))), idxDir,
      threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(probed.toSet === Set((99L, 21L)))
  }

  test("a fuzzy (non-exact) history near-dup also drops") {
    val base = Files.createTempDirectory("graft-ingest-fuzzy").toString
    val (idxDir, sinkDir) = (s"$base/idx", s"$base/sink")
    LshIndex.build(docsDf(Seq((1L, baseText))), idxDir, shingleSize = 2)
    // one-word suffix edit: high bigram jaccard, different fingerprint —
    // deterministic md5 banding, verified to bucket with the base doc
    val fuzzy = "the quick brown fox jumps over the lazy dog thrice"
    IngestStream.ingestBatch(docsDf(Seq((30L, fuzzy), (31L, novel1))), 0L,
      idxDir, sinkDir, threshold = 0.35)
    val got = spark.read.parquet(s"$sinkDir/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(31L))
  }

  test("compactEvery cadence: per-batch compaction preserves semantics and replay safety") {
    val base = Files.createTempDirectory("graft-ingest-compact").toString
    val (idxDir, srcDir, sinkDir, ckDir) =
      (s"$base/idx", s"$base/src", s"$base/sink", s"$base/ck")
    LshIndex.build(docsDf(Seq((1L, baseText))), idxDir, shingleSize = 2)
    docsDf(Seq((10L, baseText), (11L, novel1), (12L, novel1), (13L, novel2)))
      .coalesce(1).write.parquet(s"$srcDir/a")
    docsDf(Seq((20L, novel1), (21L, novel3)))
      .coalesce(1).write.parquet(s"$srcDir/b")
    val q = IngestStream.ingestDedupStream(
        EventsStream.readDocuments(spark, s"$srcDir/*", maxFilesPerTrigger = Some(1)),
        idxDir, sinkDir, threshold = 0.5, compactEvery = 1)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(600000), "stream did not finish within 10 min")
    // same survivors as the uncompacted run of the same scenario
    val survivors = spark.read.parquet(sinkDir)
      .select("doc_id", "batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(survivors === Map(11L -> 0, 13L -> 0, 21L -> 1))
    // two compactions ran; the live generation holds base + the last
    // batch's kept shard only
    assert(scala.io.Source.fromFile(s"$idxDir/CURRENT").mkString.trim === "gen-2")
    val shards = spark.read.parquet(s"$idxDir/gen-2/bands")
      .select("shard").distinct().collect().map(_.getString(0)).toSet
    assert(shards === Set("base", "batch-1"))
    // the kept shard is what makes a POST-COMPACTION replay of the
    // in-flight batch idempotent: its own rows are still excludable
    IngestStream.ingestBatch(docsDf(Seq((20L, novel1), (21L, novel3))), 1L,
      idxDir, sinkDir, threshold = 0.5)
    assert(spark.read.parquet(s"$sinkDir/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(21L))
  }

  test("compactEvery = 2 over a plain build: CURRENT advances, survivors unchanged") {
    val base = Files.createTempDirectory("graft-ingest-compact2").toString
    val (idxDir, srcDir, sinkDir, ckDir) =
      (s"$base/idx", s"$base/src", s"$base/sink", s"$base/ck")
    LshIndex.build(docsDf(Seq((1L, baseText))), idxDir, shingleSize = 2)
    docsDf(Seq((10L, baseText), (11L, novel1), (12L, novel1), (13L, novel2)))
      .coalesce(1).write.parquet(s"$srcDir/a")
    docsDf(Seq((20L, novel1), (21L, novel3)))
      .coalesce(1).write.parquet(s"$srcDir/b")
    val q = IngestStream.ingestDedupStream(
        EventsStream.readDocuments(spark, s"$srcDir/*", maxFilesPerTrigger = Some(1)),
        idxDir, sinkDir, threshold = 0.5, compactEvery = 2)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(600000), "stream did not finish within 10 min")
    assert(spark.read.parquet(sinkDir)
      .select("doc_id", "batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap ===
      Map(11L -> 0, 13L -> 0, 21L -> 1))
    // one compaction, after batch 1: batch 0 folded into base, the
    // in-flight batch kept under its own id
    assert(Generations.root(spark, idxDir) === s"$idxDir/gen-1")
    assert(spark.read.parquet(s"$idxDir/gen-1/bands")
      .select("shard").distinct().collect().map(_.getString(0)).toSet ===
      Set("base", "batch-1"))
  }

  test("embedding ingest: history semantic dups drop, batch dups keep min, survivors feed the index") {
    val base = Files.createTempDirectory("graft-emb-ingest").toString
    val (idxDir, sinkDir) = (s"$base/idx", s"$base/sink")
    def vecs(rows: (Long, Array[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    val (v1, v2, v3, v4) = (
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    Similarity.buildIvfIndex(
      vecs(1L -> v1, 2L -> v2, 3L -> v3, 4L -> v4), idxDir, nlist = 2)
    val diag = Array(0.7f, 0.7f, 0f, 0f)          // cos ≈ .707 to v1/v2
    val mix = Array(0f, 0.6f, 0.8f, 0f)           // cos .6/.8 to v2/v3
    // batch 0: 10 = copy of indexed v1 (drop vs history); 11 = novel
    // direction; 12 = copy of 11 (within-batch, demoted); 13 = novel
    IngestStream.ingestEmbeddingBatch(
      vecs(10L -> v1, 11L -> diag, 12L -> diag, 13L -> mix), 0L,
      idxDir, sinkDir, threshold = 0.9, nprobe = 2)
    // batch 1: 20 = copy of batch-0 survivor 11 (drops ONLY via the
    // index-append feedback); 21 = novel
    IngestStream.ingestEmbeddingBatch(
      vecs(20L -> diag, 21L -> Array(0.5f, 0.5f, 0.5f, 0.5f)), 1L,
      idxDir, sinkDir, threshold = 0.9, nprobe = 2)
    val survivors = spark.read.parquet(sinkDir)
      .select("vec_id", "batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(survivors === Map(11L -> 0, 13L -> 0, 21L -> 1))
    val shards = spark.read.parquet(s"${Generations.root(spark, idxDir)}/corpus")
      .select("shard").distinct().collect().map(_.getString(0)).toSet
    assert(shards === Set("base", "batch-0", "batch-1"))
    // replay of batch 1 is idempotent (own shard excluded from history)
    IngestStream.ingestEmbeddingBatch(
      vecs(20L -> diag, 21L -> Array(0.5f, 0.5f, 0.5f, 0.5f)), 1L,
      idxDir, sinkDir, threshold = 0.9, nprobe = 2)
    assert(spark.read.parquet(s"$sinkDir/batch=1")
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(21L))
  }

  test("ann enrichment: per-batch outputs union to one indexed call; replay idempotent") {
    val base = Files.createTempDirectory("graft-ann-enrich").toString
    val (idxDir, sinkDir) = (s"$base/idx", s"$base/sink")
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.ops.Pq.buildIvfPqIndex(em, idxDir, m = 8, ks = 8, nlist = 4)
    val (qa, qb) = (em.where(col("vec_id") < 5),
      em.where(col("vec_id") >= 5 && col("vec_id") < 10))
    // these queries ARE corpus rows, so self-exclusion is wanted — the
    // non-default here; the default (false) is the external-namespace
    // contract asserted below
    IngestStream.annEnrichBatch(qa, 0L, idxDir, sinkDir, k = 3, nprobe = 4,
      excludeSelf = true)
    IngestStream.annEnrichBatch(qb, 1L, idxDir, sinkDir, k = 3, nprobe = 4,
      excludeSelf = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toSet
    // the index is read-only to this flow, so batches are independent:
    // the union of batch outputs IS one indexed call over all queries
    assert(rows(spark.read.parquet(sinkDir)
        .drop("batch")) ===
      rows(graft.ops.Pq.ivfPqTopKIndexed(
        em.where(col("vec_id") < 10), idxDir, k = 3, nprobe = 4)))
    // replay overwrites its own batch dir, not duplicates
    IngestStream.annEnrichBatch(qa, 0L, idxDir, sinkDir, k = 3, nprobe = 4,
      excludeSelf = true)
    assert(spark.read.parquet(s"$sinkDir/batch=0").count() === 15)
    // DEFAULT (external id namespace): an id-colliding corpus row is a
    // legitimate neighbor — querying with corpus row 0's own vector
    // must surface vec 0 itself at rank 1, distance 0
    IngestStream.annEnrichBatch(qa, 2L, idxDir, sinkDir, k = 3, nprobe = 4)
    // (ADC to its own codes is the quantization residual, not 0 — the
    // contract is presence, not distance)
    val q0 = spark.read.parquet(s"$sinkDir/batch=2")
      .where(col("query_id") === 0L).collect()
    assert(q0.exists(_.getAs[Long]("neighbor_id") == 0L),
      "id-colliding corpus row was dropped under excludeSelf=false")
    // refined flavor needs the raw source and re-ranks by exact cosine
    IngestStream.annEnrichBatch(qa, 3L, idxDir, sinkDir, k = 3, nprobe = 4,
      refine = 200, source = Some(em), excludeSelf = true)
    val refined = spark.read.parquet(s"$sinkDir/batch=3")
    assert(refined.columns.contains("cos_sim"))
    assert(refined.count() === 15)
    intercept[RuntimeException] {
      IngestStream.annEnrichBatch(qa, 4L, idxDir, sinkDir, refine = 2)
    }
  }

  test("ann enrichment through a real streaming query: two file batches, batch-keyed sink") {
    val base = Files.createTempDirectory("graft-ann-stream").toString
    val (idxDir, srcDir, sinkDir, ckDir) =
      (s"$base/idx", s"$base/src", s"$base/sink", s"$base/ck")
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.ops.Pq.buildIvfPqIndex(em, idxDir, m = 8, ks = 8, nlist = 4)
    em.where(col("vec_id") < 5).select("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$srcDir/a")
    em.where(col("vec_id") >= 5 && col("vec_id") < 10)
      .select("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$srcDir/b")
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = IngestStream.annEnrichStream(stream, idxDir, sinkDir,
        k = 3, nprobe = 4, excludeSelf = true)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(600000), "stream did not finish within 10 min")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toSet
    assert(spark.read.parquet(sinkDir).select("batch").distinct().count() === 2)
    assert(rows(spark.read.parquet(sinkDir).drop("batch")) ===
      rows(graft.ops.Pq.ivfPqTopKIndexed(
        em.where(col("vec_id") < 10), idxDir, k = 3, nprobe = 4)))
  }

  test("replaying a batch id is idempotent for sink and index") {
    val base = Files.createTempDirectory("graft-ingest-replay").toString
    val (idxDir, sinkDir) = (s"$base/idx", s"$base/sink")
    LshIndex.build(docsDf(Seq((1L, baseText))), idxDir, shingleSize = 2)
    val batch = docsDf(Seq((40L, novel1), (41L, novel2)))
    IngestStream.ingestBatch(batch, 7L, idxDir, sinkDir)
    def state() = (
      spark.read.parquet(sinkDir).select("doc_id").collect()
        .map(_.getLong(0)).toSet,
      spark.read.parquet(s"${Generations.root(spark, idxDir)}/bands").count(),
      spark.read.parquet(s"${Generations.root(spark, idxDir)}/shingles").count())
    val first = state()
    IngestStream.ingestBatch(batch, 7L, idxDir, sinkDir)   // the replay
    assert(state() === first)
    assert(first._1 === Set(40L, 41L))
  }
}
