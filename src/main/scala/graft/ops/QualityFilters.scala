package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
  * Models: ... Gopher", §A1.1; same family as the C4 heuristics): a
  * document whose probability mass concentrates in few tokens or a
  * repeated phrase is boilerplate/spam, not prose, and gets filtered
  * before training.
  *
  * Signals per document:
  *  - `top_token_frac`  — most frequent token's share of all tokens;
  *  - `top_bigram_frac` — most frequent word bigram's share of all
  *    bigrams (null when the doc has < 2 tokens);
  *  - `token_entropy`   — Shannon entropy (nats) of the token
  *    distribution: H = ln(N) − Σ c·ln(c) / N;
  *  - `repetition_pass` — both fraction thresholds hold.
  *
  * Scale: ONE corpus scan — unigrams and bigrams explode as tagged
  * (kind, term) rows from the same pass — then two partial-aggregating
  * shuffles keyed by (doc_id, kind, term) / doc_id, both digest-uniform
  * with bounded per-key cardinality. No join, no per-row state, no
  * collect. (The first formulation scanned the text column twice and
  * joined two aggregation trees; at corpus scale the second scan is the
  * dominant avoidable cost.) */
object QualityFilters {

  /** Relative quality gate: keep documents whose quality score is at or
    * above their language's `quantile` (default: the median) — the
    * "keep the better half per language" mixture knob, where an
    * absolute threshold would starve low-scoring languages.
    *
    * Scale: NOT a window over lang partitions (a handful of huge
    * partitions = maximal skew at corpus scale). The per-language
    * quantile is a tiny groupBy aggregate (|languages| rows) broadcast
    * back onto the scan — the corpus never shuffles.
    *
    * EAGER: building the DataFrame runs the job that materializes the
    * per-doc stats ([[Checkpoints.materialize]]), so build it only to
    * run it. */
  def relativeQualityGate(docs: DataFrame, quantile: Double = 0.5,
                          textCol: String = "text"): DataFrame = {
    require(quantile > 0 && quantile <= 1, s"quantile $quantile out of (0, 1]")
    // stats feeds the per-language cutoffs AND the gate join —
    // materialized once (r18; statsFor re-ran per reference: 2 corpus
    // text scans in the q57 plan)
    val stats = Checkpoints.materialize(
      TextStats.statsFor(docs, textCol)
        .select("doc_id", "lang_pred", "quality_score"))
    val cutoffs = stats.groupBy("lang_pred")
      .agg(expr(s"percentile(quality_score, $quantile)").as("lang_cutoff"))
    stats.join(broadcast(cutoffs), Seq("lang_pred"))
      .where(col("quality_score") >= col("lang_cutoff"))
      .select(col("doc_id"), col("lang_pred"), col("quality_score"),
        round(col("lang_cutoff"), 4).as("lang_cutoff"))
  }

  /** Length-curriculum bucketing: decile (or n-tile) buckets over
    * document length, with per-bucket volume and quality — the report
    * that orders a curriculum schedule (short/clean docs first, long
    * tail later) and sanity-checks a mixture before training.
    *
    * Engine-exact by construction: cutoffs are ORDER STATISTICS
    * (cutoff_i = smallest length with cumulative count ≥ ⌈i·n/k⌉), not
    * interpolated percentiles — pure integer arithmetic, so any engine
    * computes the identical buckets; no float-boundary doc can flip
    * sides. NOT a global ntile window either (that is one task sorting
    * the corpus): lengths first collapse to a value histogram (rows =
    * distinct lengths, bounded by the max document length), the
    * cumulative walk runs over that tiny relation, and the 9 cutoffs
    * broadcast back onto the scan as one CASE-sum projection.
    *
    * EAGER: building the DataFrame runs the job that materializes the
    * slim stats relation ([[Checkpoints.materialize]]), so build it only
    * to run it. */
  def curriculumBuckets(docs: DataFrame, nBuckets: Int = 10,
                        textCol: String = "text"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets ($nBuckets) must be >= 2")
    // the slim stats relation feeds the histogram AND the final bucket
    // projection — materialized once (r18; statsFor's fingerprint +
    // token-stats pass re-ran per reference: 2 corpus text scans in
    // the q99 plan, 3 with the histogram total before its fold)
    val stats = Checkpoints.materialize(
      TextStats.statsFor(docs, textCol)
        .select(col("doc_id"), col("n_chars"), col("quality_score")))
    val hist = stats.groupBy("n_chars").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("n_chars")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // corpus size derives from the histogram — no third corpus scan
    val cum = hist.withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(hist.agg(sum(col("c")).cast("long").as("n"))))
    // cutoff_i = min n_chars with cum >= ceil(i*n/k), as integer math
    val cutExprs = (1 until nBuckets).map { i =>
      min(when(col("cum") * nBuckets >= col("n") * i, col("n_chars")))
        .as(s"c$i")
    }
    val cutoffs = broadcast(cum.agg(cutExprs.head, cutExprs.tail: _*))
    val bucket = (1 until nBuckets)
      .map(i => when(col("n_chars") > col(s"c$i"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    stats.crossJoin(cutoffs)
      .withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        // quality is an exact multiple of 0.1 by construction, so the
        // mean is carried as integer milli-units (sum of decis × 100
        // div n) — engine-exact where a float avg's summation order
        // could flip a rounding boundary
        sum(round(col("quality_score") * 10).cast("long")).as("__sum_decis"))
      .select(col("bucket"), col("n_docs"), col("min_chars"),
        col("max_chars"),
        expr("__sum_decis * 100 div n_docs").as("avg_quality_milli"))
  }

  def repetitionStats(docs: DataFrame, textCol: String = "text",
                      maxTokenFrac: Double = 0.14,
                      maxBigramFrac: Double = 0.07): DataFrame = {
    val terms = docs
      .select(col("doc_id"), TextStats.tokens(col(textCol)).as("t"))
      .where(size(col("t")) > 0)
      .select(col("doc_id"), explode(concat(
        expr("transform(t, x -> struct(0 AS kind, x AS term))"),
        // guard: sequence(0, -1) DESCENDS in Spark, so a 1-token doc
        // must produce a typed empty array, not bogus bigrams
        expr("""CASE WHEN size(t) >= 2
                THEN transform(sequence(0, size(t)-2),
                               i -> struct(1 AS kind, concat(t[i], ' ', t[i+1]) AS term))
                ELSE cast(array() AS array<struct<kind:int,term:string>>) END""")))
        .as("kt"))
      .select(col("doc_id"), col("kt.kind").as("kind"), col("kt.term").as("term"))
    val counts = terms.groupBy("doc_id", "kind", "term").agg(count(lit(1)).as("c"))
    val isTok = col("kind") === 0
    val isBg = col("kind") === 1
    counts.groupBy("doc_id")
      .agg(
        max(when(isTok, col("c"))).as("max_tok"),
        sum(when(isTok, col("c"))).as("n_toks"),
        sum(when(isTok, col("c").cast("double") * log(col("c").cast("double"))))
          .as("clogc"),
        max(when(isBg, col("c"))).as("max_bigram"),
        sum(when(isBg, col("c"))).as("n_bigrams"))
      .select(
        col("doc_id"),
        round(col("max_tok") / col("n_toks"), 4).as("top_token_frac"),
        round(col("max_bigram") / col("n_bigrams"), 4).as("top_bigram_frac"),
        round(log(col("n_toks").cast("double")) - col("clogc") / col("n_toks"), 4)
          .as("token_entropy"),
        (col("max_tok") / col("n_toks") <= maxTokenFrac &&
          coalesce(col("max_bigram") / col("n_bigrams") <= maxBigramFrac, lit(true)))
          .as("repetition_pass"))
  }
}
