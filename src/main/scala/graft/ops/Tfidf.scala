package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistical term scoring: per-document top-k terms by TF-IDF
  * and BM25 — keyword extraction / salient-term indexing for a
  * training-data pipeline.
  *
  * Scale shape (one corpus scan):
  *  - explode(tokens) → one (doc_id, term)-keyed aggregation = term
  *    frequencies; every downstream statistic derives from that single
  *    shuffled relation, so ReuseExchange serves document-length,
  *    document-frequency, and corpus totals from one materialization;
  *  - corpus scalars (N, avg doc length) ride a broadcast single-row
  *    cross join — no driver-side action, no collect;
  *  - document frequency joins back on the term key (uniform hash — the
  *    one genuinely vocabulary-sized shuffle);
  *  - top-k per doc is a row_number window over doc_id; per-doc
  *    vocabulary is human-scale, so the within-partition sort is noise.
  *
  * Cross-engine determinism: ranking orders by the ROUNDED score (4
  * decimals) with the term string as tie-break, so a last-ulp libm
  * difference in ln() between engines cannot flip the selected rows.
  *
  * Formulas (standard smooth variants):
  *   idf    = ln((N+1)/(df+1)) + 1          tfidf = tf · idf
  *   bm25idf = ln((N − df + 0.5)/(df + 0.5) + 1)
  *   bm25   = bm25idf · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))
  */
object Tfidf {

  /** Top-`k` terms per document by TF-IDF and BM25 (see the object doc).
    * EAGER: building the DataFrame runs the job that materializes the
    * term-frequency relation ([[Checkpoints.materialize]]), so build it
    * only to run it. */
  def topTerms(docs: DataFrame, textCol: String = "text", k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // the term-frequency relation feeds THREE consumers (doc-length
    // window, document-frequency aggregate, corpus token total); it is
    // structurally materialized because the old canonical-identity
    // tricks that let ReuseExchange serve all three from one exchange
    // (an explicit isNotNull + an always-true tf>0) lost under the
    // full-suite AQE state — the q45 plan re-scanned and re-exploded
    // the corpus 3× (the SetSimilarity lesson: never bet a corpus pass
    // on planner mood). The isNotNull is kept for row-identical output
    // under any tokens() change.
    val tf = Checkpoints.materialize(docs
      .select(col("doc_id"), explode(TextStats.tokens(col(textCol))).as("term"))
      .where(col("term").isNotNull)
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf")))
    val byDoc = Window.partitionBy("doc_id")
    val withLen = tf.withColumn("doc_len", sum("tf").over(byDoc))
    // (the pre-materialization always-true tf>0 canonicalization trick
    // is gone with the ReuseExchange bet — df reads checkpoint blocks)
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus scalars: n_docs from a zero-data-column count (row-group
    // metadata scan), tot_tokens from the same reused tf exchange
    // (Σ tf ≡ Σ token-count; empty docs contribute 0 to both)
    val scalars = broadcast(
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(tf.agg(sum("tf").as("tot_tokens"))))
    val scored = withLen
      .join(df_, "term")
      .crossJoin(scalars)
      .withColumn("idf", log((col("n_docs") + 1) / (col("df") + 1)) + 1)
      .withColumn("tfidf", round(col("tf") * col("idf"), 4))
      .withColumn("avgdl", col("tot_tokens") / col("n_docs"))
      .withColumn("bm25idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("bm25", round(
        col("bm25idf") * col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1) - b + lit(b) * col("doc_len") / col("avgdl"))),
        4))
    scored
      .withColumn("rnk", row_number().over(
        byDoc.orderBy(col("tfidf").desc, col("term").asc)))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("bm25"), col("rnk").cast("long").as("rnk"))
  }
}
