package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-source token-budget mixture sampling: the "mixture weights" step
  * of training-data assembly. Each source contributes documents — in a
  * deterministic pseudo-random priority order — until its token budget
  * is exhausted; the kept set is the exact prefix of the per-source
  * (priority, doc_id) order whose running token total fits the budget.
  *
  * Scale design: the naive formulation is one running-sum window
  * partitioned by source — but a 100 TB corpus has FEW sources, so that
  * window serializes each source through one task. Instead the global
  * prefix sum splits across ordered priority buckets (top bits of the
  * 63-bit priority hash): per-(source, bucket) token totals plus a
  * prefix sum over that tiny relation give each bucket its
  * cumulative-tokens-before; the row-level running sum is then
  * partitioned by (source, bucket) — 1024-way parallel per source —
  * and global-cum = cum_before + within-bucket cum, so ONE keep
  * predicate covers interior and boundary buckets alike.
  *
  * Plan shape: one corpus scan and tokenize, one row-level exchange.
  * The tokenized (id, source, n_tokens, priority, bucket) projection —
  * text already dropped — is structurally materialized once
  * ([[Checkpoints]]), because its two consumers (bucket totals, row
  * window) otherwise each re-derive it from the scan: Catalyst pushes
  * column pruning below the shared repartition, so the branches'
  * exchanges stop being identical and ReuseExchange cannot unify them
  * (measured r18: two full scans, the corpus tokenized twice — the
  * pre-r18 doc's ReuseExchange claim did not survive pruning). The
  * bounds relation (#sources × 1024) broadcasts back onto it. The
  * result is bit-identical to the naive window — a spec asserts it.
  */
object Mixer {

  private val NumBuckets = 1024
  // 63-bit priority → top 10 bits form the ordered bucket id
  private val BucketShift = 53

  private[ops] def withPriority(docs: DataFrame, idCol: String,
                                sourceCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), col(sourceCol),
      TextStats.tokenCount(col(textCol)).as("n_tokens"),
      graft.functions.TextExpressions.md5_lower64(
          concat(lit("budget|"), col(idCol).cast("string")))
        .bitwiseAND(Long.MaxValue).as("priority"))

  /** Documents kept under a uniform per-source token budget.
    * Output: (doc_id, source, n_tokens). */
  def tokenBudgetMix(docs: DataFrame, budget: Long,
                     idCol: String = "doc_id", sourceCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    // materialized ONCE (narrow: text is already dropped) — both the
    // bucket-totals aggregation and the row window read these blocks,
    // so the corpus is scanned and tokenized exactly once (see the
    // object doc: ReuseExchange does not survive column pruning)
    val base = Checkpoints.materialize(withPriority(docs, idCol, sourceCol, textCol)
      .withColumn("bucket", shiftright(col("priority"), BucketShift).cast("int")))
      .repartition(col(sourceCol), col("bucket"))
    val byBucket = Window.partitionBy(sourceCol).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = base.groupBy(col(sourceCol), col("bucket"))
      .agg(sum("n_tokens").as("btoks"))
      .withColumn("cum_before", coalesce(sum("btoks").over(byBucket), lit(0L)))
      .select(col(sourceCol), col("bucket"), col("cum_before"))
    // bucket ids are the priority's own top bits, so the (priority, id)
    // order within a bucket continues the cross-bucket order: global
    // running sum = cum_before + within-bucket running sum, and the
    // naive `cum <= budget` keep predicate transfers verbatim
    val byPriority = Window.partitionBy(col(sourceCol), col("bucket"))
      .orderBy(col("priority"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(bounds), Seq(sourceCol, "bucket"))
      .withColumn("row_cum", sum("n_tokens").over(byPriority))
      .where(col("cum_before") + col("row_cum") <= budget)
      .select(col(idCol), col(sourceCol), col("n_tokens"))
  }

  /** Temperature-based source mixture weights (α = 0.5): the sampling
    * curriculum that up-weights small sources relative to proportional
    * sampling — w_s ∝ n_s^α / Σ_t n_t^α, the multilingual/multi-source
    * rebalancing rule. Output: (source, n_tokens, weight).
    *
    * Determinism across engines: n_s^0.5 is IEEE sqrt (correctly rounded
    * everywhere), but Σ n_t^α over doubles depends on summation order —
    * so each sqrt is quantized to integer micro-units FIRST
    * (floor(√n·1e6)) and the normalizer is an exact integer sum; the
    * single final division + 6-dp round is order-free. One corpus scan,
    * one tiny aggregate (#sources rows); the unpartitioned window runs
    * over that post-aggregate relation, never the corpus. */
  def temperatureWeights(docs: DataFrame, sourceCol: String = "source",
                         textCol: String = "text"): DataFrame = {
    val per = docs.groupBy(col(sourceCol))
      .agg(sum(TextStats.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("msqrt",
        floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
    val all = Window.partitionBy()
    per
      .withColumn("weight",
        round(col("msqrt").cast("double") / sum("msqrt").over(all).cast("double"), 6))
      .select(col(sourceCol), col("n_tokens"), col("weight"))
  }
}
