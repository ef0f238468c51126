package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions

/** DSIR-style data selection (Xie et al., "Data Selection for Language
  * Models via Importance Resampling", arXiv:2302.03169): score every
  * raw document by how much more likely its hashed n-gram features are
  * under a TARGET corpus' bag-of-features model than under the raw
  * pool's own model — the standard cheap proxy for "select pretraining
  * data that looks like the high-quality target" at corpus scale.
  *
  * Features are word unigrams + space-joined bigrams (multiplicity
  * kept — these are counts, not shingle sets), hashed into `buckets`
  * cells via the engine's cross-engine-stable md5 lower-64 hash
  * ([[TextExpressions.md5_lower64]] ≡ DuckDB `md5_number_lower`, the
  * q107 idiom). Both models are add-1-smoothed over the bucket space;
  * a document's log importance weight is
  *
  *   Σ_feature [ ln(tgt[b]+1) − ln(T_tgt+B) − ln(raw[b]+1) + ln(T_raw+B) ]
  *
  * summed per feature instance. Determinism contract (the q100/q66
  * integer-micros recipe): the per-bucket delta is rounded to integer
  * MICROS once, so every downstream aggregate is an order-independent
  * BIGINT sum — no float accumulation across shuffles. Buckets absent
  * from a model take the same expression with count 0 (ln(1) ≡ +0.0,
  * bit-identical to the dedicated branch an oracle would write).
  *
  * Scale shape: featurization is scan-local; each model is one
  * map-side-combined aggregate bounded by `buckets` rows (broadcast
  * back); the per-document aggregate shuffles (id, bucket) pairs — the
  * only corpus-sized exchange, with partial aggregation upstream.
  * Nothing grows with the pair structure of the corpus and no stage
  * depends on |target|·|raw|. Selection composes downstream: feed
  * `logw_micros` to [[Sampling.weightedSample]] (Gumbel/A-ES) or a
  * plain top-fraction filter.
  *
  * The reference has no selection operators (its pipeline loads
  * everything it stages, `dags/scripts/spark/data_preparation.py`);
  * this extends the LLM-pipeline surface alongside [[QualityFilters]]
  * and [[LangModel.crossUnigramScore]] (which scores against ONE model;
  * DSIR is the two-model contrastive form over hashed features). */
object Dsir {

  /** Word unigrams + adjacent-pair bigrams, multiplicity kept. */
  private def featureArray(text: Column): Column = {
    val toks = TextStats.tokens(text)
    val bigrams = when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
    concat(toks, bigrams)
  }

  private def bucketOf(f: Column, buckets: Int): Column =
    (TextExpressions.md5_lower64(f).bitwiseAND(lit(Long.MaxValue))
      % buckets).as("bucket")

  /** (bucket, cnt) — one corpus pass, ≤ `buckets` rows out. */
  private def bucketCounts(docs: DataFrame, buckets: Int,
                           textCol: String): DataFrame =
    docs.select(explode(featureArray(col(textCol))).as("f"))
      .select(bucketOf(col("f"), buckets))
      .groupBy("bucket").agg(count(lit(1)).cast("long").as("cnt"))

  /** Per-document DSIR log importance weights of `raw` against
    * `target`: (idCol, n_feats, logw_micros). Featureless documents
    * (empty text) score (0, 0) rather than dropping out. */
  def logWeights(raw: DataFrame, target: DataFrame, buckets: Int = 1024,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    logWeightsImpl(raw, Right(target), buckets, idCol, textCol)

  /** [[logWeights]] for the in-pool target case — the target corpus is
    * the subset of `raw` satisfying `targetPred` (the common "select
    * raw data that looks like my high-quality slice" call: q116/q117/
    * q121 all pass `raw.where(pred)` as the target). The predicate
    * evaluates INSIDE the raw featurize pass as a per-document flag, so
    * the target bucket model folds from the same materialized per-doc
    * feature relation the raw model folds from — zero extra corpus
    * featurize pass (r18; the two-frame form re-tokenized and re-hashed
    * every target document). Weights are identical to
    * `logWeights(raw, raw.where(targetPred), …)` by construction: the
    * flag is constant per document, so the flagged rows are exactly the
    * target documents' features. */
  def logWeightsWithin(raw: DataFrame, targetPred: Column,
                       buckets: Int = 1024, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    logWeightsImpl(raw, Left(targetPred), buckets, idCol, textCol)

  private def logWeightsImpl(raw: DataFrame,
                             target: Either[Column, DataFrame],
                             buckets: Int, idCol: String, textCol: String): DataFrame = {
    require(buckets > 0, s"Dsir.logWeights: buckets must be positive, got $buckets")
    // the raw pool featurizes ONCE: the per-doc (id, bucket, k)
    // relation is structurally materialized (ReuseExchange does not
    // survive the differing prunes — the q119 lesson) and the raw
    // bucket model FOLDS it; an in-pool target (Left) rides the same
    // pass as a per-doc flag, an external target corpus (Right) gets
    // its own featurize pass
    val tgtFlag = target.left.toOption
      .map(p => coalesce(p, lit(false))).getOrElse(lit(false))
    val docFeats = Checkpoints.materialize(raw
      .select(col(idCol), tgtFlag.as("__tgt"),
        explode_outer(featureArray(col(textCol))).as("f"))
      .select(col(idCol), col("__tgt"), bucketOf(col("f"), buckets))
      .groupBy(col(idCol), col("__tgt"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("k")))
    val tc = (target match {
      case Right(t) => bucketCounts(t, buckets, textCol)
      case Left(_) => docFeats
        .where(col("__tgt") && col("bucket").isNotNull)
        .groupBy("bucket").agg(sum("k").cast("long").as("cnt"))
    }).withColumnRenamed("cnt", "tcnt")
    val rc = docFeats.where(col("bucket").isNotNull)
      .groupBy("bucket").agg(sum("k").cast("long").as("rcnt"))
    val counts = tc.join(rc, Seq("bucket"), "full_outer")
    // totals from the ≤buckets-row `counts` relation, NOT from tc/rc
    // again — those are uncached corpus-sized derivations, and summing
    // coalesced BIGINTs over the joined relation is exactly the same
    // integer totals (missing-side rows contribute 0)
    val totals = counts.agg(
      coalesce(sum(coalesce(col("tcnt"), lit(0L))), lit(0L))
        .cast("long").as("tt"),
      coalesce(sum(coalesce(col("rcnt"), lit(0L))), lit(0L))
        .cast("long").as("rt"))
    // explode_OUTER above kept featureless documents as a null-bucket
    // row — they score (0, 0) through the same aggregate instead of
    // via a corpus-sized re-join at the end
    docFeats
      .join(broadcast(counts), Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      // ((ln(t+1) − ln(T+B)) − ln(r+1)) + ln(R+B), rounded to integer
      // micros ONCE — everything after is exact BIGINT arithmetic
      .withColumn("delta_micros",
        round((log(coalesce(col("tcnt"), lit(0L)) + 1)
          - log(col("tt") + buckets)
          - log(coalesce(col("rcnt"), lit(0L)) + 1)
          + log(col("rt") + buckets)) * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(when(col("bucket").isNull, lit(0L)).otherwise(col("k")))
          .cast("long").as("n_feats"),
        sum(when(col("bucket").isNull, lit(0L))
          .otherwise(col("k") * col("delta_micros")))
          .cast("long").as("logw_micros"))
  }

  /** The selection step DSIR weights exist for: keep the top
    * ⌈fraction·n⌉ documents of each stratum (source, language, shard —
    * any column) ranked by (logw_micros desc, id asc). Rank-based
    * rather than threshold-based so ties at the cut are broken
    * deterministically and every stratum keeps EXACTLY its quota.
    * Output: the kept (idCol, stratum, logw_micros, kept_rank).
    *
    * Scale shape: one exchange on the stratum key feeding a
    * per-stratum sort window (rank) joined against the broadcast
    * per-stratum quotas (|strata| rows). The sort is per-stratum,
    * parallel across strata — the q41 top-k-per-group shape with a
    * data-dependent k; for corpus-sized strata this is the one
    * unavoidable sort, and skew lives on the stratum key (salt
    * upstream if one source dominates, as with any groupBy here). */
  def selectTopFraction(raw: DataFrame, target: DataFrame,
                        fractionPpm: Long, stratumCol: String = "source",
                        buckets: Int = 1024, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    selectTopFractionImpl(raw, Right(target), fractionPpm, stratumCol,
      buckets, idCol, textCol)

  /** [[selectTopFraction]] with an in-pool target predicate — see
    * [[logWeightsWithin]] for why this saves the target featurize
    * pass. Results ≡ `selectTopFraction(raw, raw.where(pred), …)`. */
  def selectTopFractionWithin(raw: DataFrame, targetPred: Column,
                              fractionPpm: Long, stratumCol: String = "source",
                              buckets: Int = 1024, idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame =
    selectTopFractionImpl(raw, Left(targetPred), fractionPpm, stratumCol,
      buckets, idCol, textCol)

  private def selectTopFractionImpl(raw: DataFrame,
                                    target: Either[Column, DataFrame],
                                    fractionPpm: Long, stratumCol: String,
                                    buckets: Int, idCol: String,
                                    textCol: String): DataFrame = {
    require(fractionPpm >= 0 && fractionPpm <= 1000000L,
      s"Dsir.selectTopFraction: fractionPpm $fractionPpm out of [0, 1e6]")
    val w = logWeightsImpl(raw, target, buckets, idCol, textCol)
      .join(raw.select(col(idCol), col(stratumCol)), Seq(idCol))
    // quotas from the RAW relation: logWeights emits exactly one row
    // per raw doc, so the per-stratum counts are identical — counting
    // `w` would run the whole (uncached) weights chain a second time
    val quotas = raw.groupBy(stratumCol)
      .agg(count(lit(1)).cast("long").as("n"))
      // ⌈fraction·n⌉ in exact integer arithmetic: (n·ppm + 999999) div 1e6
      .select(col(stratumCol),
        expr(s"(n * ${fractionPpm}L + 999999L) div 1000000L")
          .cast("long").as("quota"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(col("logw_micros").desc, col(idCol).asc)
    w.withColumn("kept_rank", row_number().over(win).cast("long"))
      .join(broadcast(quotas), Seq(stratumCol))
      .where(col("kept_rank") <= col("quota"))
      .select(col(idCol), col(stratumCol), col("logw_micros"), col("kept_rank"))
  }
}
