package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline a 100 TB corpus run
  * composes from this engine's operators:
  *
  *   exact dedup → MinHash-LSH near-dup removal → quality gate
  *
  * Every stage is one of the individually-verified operators; the
  * composition itself is also oracle-checked (q39). Stage order is
  * deliberate: exact dedup first (cheapest, biggest volume cut at web
  * scale), LSH on what remains, the per-document quality scoring last so
  * it runs on the smallest set.
  */
object Curation {

  final case class Params(shingleSize: Int = 2, numHashes: Int = 8,
                          rowsPerBand: Int = 2, jaccardThreshold: Double = 0.35,
                          minQuality: Double = 0.7)

  /** Curated corpus: per-document stats for survivors of both dedup
    * stages with quality_score ≥ minQuality. */
  def curate(docs: DataFrame, params: Params = Params()): DataFrame = {
    // LSH runs on the exact-dedup survivors only: any near-dup pair
    // involving a dropped exact-duplicate is represented by its keeper
    // (identical content ⇒ identical shingles), so the loser set over
    // keepers is the same — without re-hashing the duplicates.
    //
    // The keeper ID set is materialized ONCE (r18): the keeper relation
    // is referenced ~6× downstream (the LSH collapse, both candidate
    // sides, both verify sides, the surviving anti-join) and an inline
    // exactDedupedCorpus re-ran the corpus fingerprint md5 and its
    // aggregate per reference — 10 text scans in the q39 plan, each
    // with the full fingerprint subtree. Ids are checkpoint-sized;
    // each downstream reference now pays a plain column-pruned text
    // scan gated by a hash semi-join, no re-hash.
    val keepIds = Checkpoints.materialize(
      Dedup.exactDuplicates(docs).select(col("keep_doc_id").as("doc_id")))
    nearDupAndQuality(docs.join(keepIds, Seq("doc_id"), "left_semi"), params)
  }

  /** Stages 2-3 of [[curate]] — LSH near-dup removal, then the quality
    * gate — for a corpus that is ALREADY exact-deduped. Factored out so
    * the streaming pipeline can run stage 1 continuously (the
    * fingerprint state store) and this batch tail as its periodic
    * compaction over the accumulated sink
    * ([[graft.streaming.EventsStream.curateStreamCompacted]]): the
    * split is exactly the stage boundary, so stream + compaction and
    * one-shot batch [[curate]] are the same computation. Quality stays
    * AFTER near-dup removal on purpose — a low-quality LSH keeper must
    * still eliminate its higher-id near-dups before the gate drops it,
    * or the stream/batch results diverge on exactly those pairs. */
  def nearDupAndQuality(keepers: DataFrame, params: Params = Params()): DataFrame = {
    val nearDupLosers = Dedup.nearDuplicates(keepers,
        numHashes = params.numHashes, rowsPerBand = params.rowsPerBand,
        shingleSize = params.shingleSize, threshold = params.jaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val surviving = keepers.join(nearDupLosers, Seq("doc_id"), "left_anti")
    TextStats.statsFor(surviving)
      .where(col("quality_score") >= params.minQuality)
      .select("doc_id", "n_chars", "n_tokens", "quality_score", "lang_pred")
  }

  /** The full CCNet-shaped raw-crawl-to-clean-corpus chain, composed
    * from the individually-verified operators (q153 verifies the
    * composition itself):
    *
    *   markup → [[Extract.mainText]] → paragraph/segment dedup
    *   ([[Dedup.segmentDedup]] — shared boilerplate like footers and
    *   nav text occurs across pages and is cut here) → [[curate]]
    *   (exact dedup → LSH near-dup → quality gate) → corpus-trained
    *   bigram-LM perplexity ([[LangModel.bigramInterpolatedScore]])
    *   bucketed head/middle/tail ([[LangModel.perplexityBuckets]]).
    *
    * The LM trains on and buckets the POST-segment-dedup corpus (the
    * CCNet order: buckets are assigned to everything, the quality gate
    * then picks survivors), so the bucket join back to the curated set
    * always matches; docs without bigrams carry bucket `na`.
    *
    * Intermediates are structurally materialized (the q121/q146
    * ReuseExchange lesson): `extracted` feeds the segment pass twice
    * and `cleaned` feeds curation AND the LM — at 100 TB these are the
    * persisted stage tables between crawl and curation. Output:
    * (idCol, n_tokens, quality_score, lang_pred, avg_nlp_micros,
    * ppl_bucket). */
  /** `perLanguageBuckets`: bucket by PER-LANGUAGE terciles (CCNet's
    * actual rule — LM perplexity isn't comparable across languages)
    * instead of one corpus-wide cutoff pair; the language label is the
    * stats pass's lang_pred over the cleaned corpus, the same signal
    * the quality gate reads. */
  def crawlCurate(pages: DataFrame, idCol: String = "doc_id",
                  htmlCol: String = "html", params: Params = Params(),
                  perLanguageBuckets: Boolean = false): DataFrame = {
    val extracted = Checkpoints.materialize(pages.select(col(idCol),
      Extract.mainText(col(htmlCol)).as("text")))
    val cleaned = Checkpoints.materialize(Dedup.segmentDedup(extracted, idCol = idCol)
      .where(length(col("clean_text")) > 0)
      .select(col(idCol), col("clean_text").as("text")))
    // the scored relation feeds perplexityBuckets THREE ways (the
    // histogram, the population count, the bucket projection) —
    // materialize it or the whole bigram-LM chain re-runs per
    // reference (the q121 lesson; measured 13.4 → ~7 s at sf0.1)
    val scored = Checkpoints.materialize(
      LangModel.bigramInterpolatedScore(cleaned, idCol = idCol))
    val (curated, buckets) =
      if (!perLanguageBuckets)
        (curate(cleaned, params),
          LangModel.perplexityBuckets(scored, idCol = idCol))
      else {
        // per-language mode reads per-doc stats TWICE — the language
        // label for bucketing (over the whole cleaned corpus) and the
        // quality gate (over the dedup survivors). The survivors are a
        // subset, and statsFor is a pure per-row projection, so ONE
        // stats pass over `cleaned` serves both (r18: the curate()
        // route ran a second full tokenize/fingerprint stats pass):
        // the gate becomes a semi-join of the materialized stats
        // against the surviving ids — row-identical to statsFor over
        // the surviving rows themselves.
        val stats = Checkpoints.materialize(TextStats.statsFor(cleaned)
          .select(col(idCol), col("n_chars"), col("n_tokens"),
            col("quality_score"), col("lang_pred")))
        // keeper IDs materialized once, as in curate() (the keeper
        // relation is referenced by the LSH chain and the anti-join)
        val keepIds = Checkpoints.materialize(Dedup.exactDuplicates(cleaned)
          .select(col("keep_doc_id").as(idCol)))
        val keepers = cleaned.join(keepIds, Seq(idCol), "left_semi")
        val losers = Dedup.nearDuplicates(keepers,
            numHashes = params.numHashes, rowsPerBand = params.rowsPerBand,
            shingleSize = params.shingleSize,
            threshold = params.jaccardThreshold)
          .select(col("doc_b").as(idCol)).distinct()
        val survivingIds = keepers.select(col(idCol))
          .join(losers, Seq(idCol), "left_anti")
        val curatedStats = stats
          .join(survivingIds, Seq(idCol), "left_semi")
          .where(col("quality_score") >= params.minQuality)
          .select(idCol, "n_chars", "n_tokens", "quality_score", "lang_pred")
        val lang = stats.select(col(idCol), col("lang_pred"))
        (curatedStats,
          LangModel.perplexityBuckets(
            Checkpoints.materialize(scored.join(lang, Seq(idCol))),
            idCol = idCol, partitionCols = Seq("lang_pred"))
            .drop("lang_pred")) // curated carries the same label
      }
    curated.join(buckets, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("quality_score"),
        col("lang_pred"), col("avg_nlp_micros"), col("ppl_bucket"))
  }

  /** Split-leakage audit: near-duplicate pairs whose endpoints land in
    * DIFFERENT train/val/test splits — the eval-hygiene check that a
    * hash split alone cannot give you (membership is per-document, but
    * near-copies of a test doc sitting in train leak it anyway). Run
    * before training; a non-empty result routes the pairs into
    * [[Dedup.keepBestDedup]]-style canonicalization or test-side
    * removal.
    *
    * Scale: the pair list is the [[Dedup.nearDuplicates]] output
    * (∝ duplicated fraction, not corpus); the split label is a pure
    * hash expression evaluated on each endpoint — no assignment table,
    * no join, no extra corpus scan. */
  def splitLeakage(docs: DataFrame, trainPpm: Long = 900000L,
                   valPpm: Long = 50000L, salt: String = "split",
                   params: Params = Params()): DataFrame = {
    val pairs = Dedup.nearDuplicates(docs,
      numHashes = params.numHashes, rowsPerBand = params.rowsPerBand,
      shingleSize = params.shingleSize, threshold = params.jaccardThreshold)
    pairs
      .withColumn("split_a", Sampling.splitExpr(col("doc_a"), trainPpm, valPpm, salt))
      .withColumn("split_b", Sampling.splitExpr(col("doc_b"), trainPpm, valPpm, salt))
      .where(col("split_a") =!= col("split_b"))
  }
}
