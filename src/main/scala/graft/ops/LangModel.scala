package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Io

/** Corpus-trained unigram language-model scoring: each document gets the
  * average negative log-probability of its tokens under the corpus's own
  * unigram distribution — the classic cheap "perplexity" quality signal
  * for training-data pipelines (fluent/in-distribution text scores low,
  * gibberish and off-distribution text scores high).
  *
  * Scale shape (one corpus scan, Tfidf-style):
  *  - explode(tokens) → one (doc_id, tok) aggregation = term frequencies;
  *    the corpus-wide token counts AND the corpus total both derive from
  *    that single shuffled relation, so ReuseExchange serves them from
  *    one materialization;
  *  - token counts are vocabulary-sized → broadcast back to the tf
  *    relation; the corpus total rides a 1-row broadcast cross join;
  *  - per-doc reduce reuses the (doc_id, tok) partitioning — map-side
  *    partial aggregation, no extra wide shuffle.
  *
  * Cross-engine determinism: floating-point sums are order-dependent, so
  * the per-token score is fixed to integer micro-nats FIRST —
  * round((ln(total) − ln(cnt)) · 1e6) — and all aggregation is exact
  * BIGINT arithmetic; the per-doc average is an integer `div`. A last-ulp
  * ln() difference between engines would need to land exactly on a
  * 0.5-micro-nat boundary to flip a value.
  */
object LangModel {

  /** Coarse-bucket width for [[perplexityBuckets]]'s two-phase order
    * statistics: the distinct-score histogram coarsens into
    * `score div 2^16` buckets, so the phase-1 running-count window sees
    * ≤ domain/2^16 rows (hundreds for micro-nat scores) and every
    * phase-2 boundary-bucket partition holds ≤ 2^16 distinct values. */
  private[ops] val PplCoarseBucket: Long = 1L << 16

  /** Output: (doc_id, n_tokens, avg_nlp_micros) — avg_nlp_micros is the
    * mean per-token negative log-probability in micro-nats (floor of the
    * exact integer ratio). Empty documents have no tokens and are absent,
    * as in every other token-derived relation here.
    *
    * Exact-duplicate-heavy input should go through
    * [[graft.ops.Dedup.exactDuplicates]] first, as
    * [[graft.ops.Curation.curate]] does: this op (like
    * [[crossUnigramScore]] and [[naiveBayes]]) tokenizes every document
    * it is given, so each duplicate costs a full token pass.
    *
    * EAGER: building the DataFrame runs the job that materializes the
    * per-doc term frequencies via [[Checkpoints.materialize]], so build
    * it only to run it. */
  def unigramScore(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    // tf feeds three consumers (corpus counts, token total, scoring
    // join) — structurally materialized (r18): the always-true-guard
    // canonicalization that was meant to make ReuseExchange serve all
    // three from one exchange lost under full-suite AQE state and the
    // q61 plan re-scanned + re-tokenized the corpus 3×
    val tf = Checkpoints.materialize(docs
      .select(col(idCol), explode(TextStats.tokens(col(textCol))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf")))
    val counts = tf.groupBy("tok")
      .agg(sum("tf").cast("long").as("cnt"))
    val total = tf.agg(sum("tf").cast("long").as("total_tokens"))
    tf.join(broadcast(counts), "tok")
      .crossJoin(broadcast(total))
      .withColumn("nlp_micros",
        round((log(col("total_tokens").cast("double")) -
          log(col("cnt").cast("double"))) * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(sum("tf").cast("long").as("n_tokens"),
        sum(col("nlp_micros") * col("tf")).cast("long").as("sum_micros"))
      .select(col(idCol), col("n_tokens"),
        expr("sum_micros div n_tokens").as("avg_nlp_micros"))
  }

  /** Cross-corpus unigram scoring: score `eval` documents under a
    * unigram LM trained on a DISJOINT `train` corpus — the held-out
    * flavor of [[unigramScore]], and the standard quality/novelty
    * signal pair: in-corpus perplexity says "is this doc like the
    * corpus", held-out perplexity says "does the corpus generalize to
    * it". Out-of-vocabulary tokens are reported (n_oov) rather than
    * smoothed — a doc whose tokens the training split never saw is a
    * shift signal, not a zero-probability event to paper over; the
    * average covers in-vocabulary tokens only (null when all are OOV).
    *
    * Scale: the train corpus pays exactly ONE scan+explode — the
    * vocabulary-sized (tok, cnt) relation is structurally materialized
    * (see [[Checkpoints]]) and both train-side statistics (the
    * broadcast LM and the corpus total) derive from it; betting on
    * ReuseExchange to share the two subtrees re-ran the corpus explode
    * (measured: a third parquet scan in the plan). The vocabulary
    * broadcasts (token types, not occurrences) and the eval side is
    * one scan + one per-doc aggregation. */
  def crossUnigramScore(train: DataFrame, eval: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val trainTf = Checkpoints.materialize(train
      .select(explode(TextStats.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt")))
    val total = trainTf.agg(sum("cnt").cast("long").as("total_tokens"))
    val evalTf = eval
      .select(col(idCol), explode(TextStats.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    evalTf.join(broadcast(trainTf), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .withColumn("nlp_micros",
        round((log(col("total_tokens").cast("double")) -
          log(col("cnt").cast("double"))) * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(sum("tf").cast("long").as("n_tokens"),
        sum(when(col("cnt").isNull, col("tf")).otherwise(lit(0L)))
          .cast("long").as("n_oov"),
        sum(when(col("cnt").isNotNull, col("nlp_micros") * col("tf")))
          .cast("long").as("sum_micros"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        expr("sum_micros div nullif(n_tokens - n_oov, 0)")
          .as("avg_nlp_micros"))
  }

  /** Bigram LM counting — the training side of an n-gram language model:
    * the k most frequent bigrams with their count, their left-context
    * count, and the conditional log-probability
    * ln P(w2|w1) = ln c(w1,w2) − ln Σ_w2' c(w1,w2') in integer
    * micro-nats (same determinism contract as [[unigramScore]]). Ranked
    * by count desc, then (w1, w2) — a total order, so top-k is
    * engine-stable.
    *
    * Scale shape: bigram extraction is a scan-local generate (no
    * distinct — LM counts need the multiset, unlike Jaccard shingles);
    * one digest-keyed shuffle aggregates (w1, w2); the denominator
    * Σ_w2' c(w1,w2') re-aggregates that already-reduced relation (rows ∝
    * distinct bigrams, not corpus tokens) and broadcasts back; top-k is
    * a bounded TakeOrdered, never a global sort. */
  /** Adjacent-pair bigram structs of a token array — THE bigram
    * extraction both [[bigramCounts]] (q66) and
    * [[bigramInterpolatedScore]] (q119) derive from; one definition so
    * the LM-training relation and the scoring relation cannot drift.
    * Sub-2-token arrays yield a typed empty array (sequence(0, -1)
    * would run BACKWARDS in Spark). */
  private[ops] def bigramStructs(ts: Column): Column =
    when(size(ts) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(0), size(ts) - 2),
        i => struct(element_at(ts, i + 1).as("w1"),
          element_at(ts, i + 2).as("w2"))))

  def bigramCounts(docs: DataFrame, k: Int = 50,
                   textCol: String = "text"): DataFrame = {
    val bg = docs
      .select(TextStats.tokens(col(textCol)).as("ts"))
      .select(explode(bigramStructs(col("ts"))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .where(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val left = bg.groupBy("w1").agg(sum("c2").cast("long").as("c1"))
    bg.join(broadcast(left), "w1")
      .select(col("w1"), col("w2"), col("c2").cast("long").as("c2"), col("c1"),
        round((log(col("c2").cast("double")) - log(col("c1").cast("double"))) * 1e6)
          .cast("long").as("logp_micros"))
      .orderBy(col("c2").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Bigram-interpolated LM document scoring — the CCNet-style
    * "perplexity filter" signal: each document's mean negative log
    * likelihood under a Jelinek-Mercer-interpolated bigram model
    * trained on the corpus itself,
    *
    *   P(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/T
    *
    * (c(w₁·) = bigram tokens starting with w₁, T = unigram tokens).
    * Self-training means every document bigram exists in the counts —
    * no OOV branch; the unigram term alone handles unseen *contexts*
    * in held-out variants a caller builds by passing a different
    * training frame through [[crossUnigramScore]]'s pattern.
    *
    * Determinism (the engine-wide integer-micros recipe): the mixed
    * probability is computed per DISTINCT BIGRAM with a fixed
    * left-associated arithmetic chain, rounded once to BIGINT
    * micro-nats, and every per-document aggregate after that is exact
    * integer arithmetic — order-independent under any partitioning.
    *
    * Scale shape (the [[unigramScore]] recipe): ONE corpus
    * bigram pass — the per-doc (id, w1, w2, k) tf relation's exchange
    * feeds BOTH the corpus bigram counts (a fold of the same
    * aggregate) and the pair-key scoring join, so the corpus
    * tokenizes twice in total (bigrams + the separate unigram pass),
    * not three times. The vocabulary-sized context/unigram relations
    * broadcast into the per-distinct-bigram probability projection
    * (the [[bigramCounts]] treatment); only the pair-key scoring join
    * shuffles at corpus-bigram scale. Documents with fewer than two
    * tokens surface with (0, null) via explode_outer, never dropped. */
  def bigramInterpolatedScore(docs: DataFrame, lambda: Double = 0.7,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    // both corpus-derived relations are STRUCTURALLY materialized (the
    // crossUnigramScore treatment): tf feeds the corpus bigram counts
    // AND the scoring join, uni feeds the unigram model AND the token
    // total — relying on ReuseExchange re-ran the tokenize scan per
    // consumer (column pruning de-canonicalizes the subtrees; observed
    // 5-scan plan), so the corpus now tokenizes exactly twice
    val tf = Checkpoints.materialize(docs
      .select(col(idCol), TextStats.tokens(col(textCol)).as("ts"))
      .select(col(idCol), explode_outer(bigramStructs(col("ts"))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("k")))
    // featureless docs' (null, null) group survives into bc but joins
    // nothing in the probability projection (null keys never
    // equi-match), so every real count is unchanged
    val bc = tf.where(col("k") > 0)
      .groupBy("w1", "w2").agg(sum("k").cast("long").as("c2"))
    val ctx = bc.groupBy("w1").agg(sum("c2").cast("long").as("c1l"))
    val uni = Checkpoints.materialize(docs
      .select(explode(TextStats.tokens(col(textCol))).as("w2"))
      .groupBy("w2").agg(count(lit(1)).cast("long").as("c1r")))
    val tot = uni.agg(coalesce(sum("c1r"), lit(0L)).cast("long").as("t"))
    // per-bigram micro-nats: ln(λ·(c2/c1l) + (1−λ)·(c1r/T)) · −1e6,
    // rounded ONCE — the chain below is mirrored verbatim in the q119
    // oracle SQL; ctx/uni are vocabulary-sized → broadcast
    val pairNlp = bc.join(broadcast(ctx), "w1").join(broadcast(uni), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        round(log(lit(lambda) * (col("c2").cast("double") / col("c1l"))
          + lit(1.0 - lambda) * (col("c1r").cast("double") / col("t")))
          * -1e6).cast("long").as("nlp_micros"))
    tf.join(pairNlp, Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("w1").isNull, lit(0L)).otherwise(col("k")))
          .cast("long").as("n_bigrams"),
        sum(col("k") * col("nlp_micros")).cast("long").as("sum_micros"))
      .select(col(idCol), col("n_bigrams"),
        expr("sum_micros div nullif(n_bigrams, 0)").as("avg_nlp_micros"))
  }

  /** CCNet-style head/middle/tail perplexity bucketing over a scored
    * relation (e.g. [[bigramInterpolatedScore]]'s output): the corpus
    * splits into terciles of the score distribution — `head` = the
    * lowest-perplexity (most in-distribution) third, `tail` the
    * highest, ties sharing a score value sharing a bucket (the CCNet
    * rule: buckets are VALUE thresholds, not row counts, so equal
    * scores never straddle a boundary).
    *
    * Scale shape — deliberately NOT `ntile` over a global window (a
    * single-partition sort of the whole corpus): the cutoffs are two
    * order statistics, resolved in TWO PHASES so no window ever runs
    * over more rows than a bounded constant. Scores are integer
    * micro-nats, so the distinct-score histogram groupBy is exact and
    * its cardinality is bounded by the score resolution — but "bounded
    * by the domain" can still mean tens of millions of distinct
    * values, and a running-count window over that histogram would
    * serialize into one task. Instead: (1) the histogram coarsens into
    * `score div 2^16` buckets (≤ domain/2^16 rows — hundreds for
    * micro-nat scores), the running count over THAT locates each
    * cutoff's boundary bucket and the row count before it; (2) the
    * exact cutoff resolves inside the boundary buckets only, with a
    * window PARTITIONED by bucket (≤ 2^16 distinct values per
    * partition, parallel across groups). Cutoff rank k_i = ceil(i·N/3)
    * in exact integer arithmetic; cutoff_i = the smallest score whose
    * running count reaches k_i — decomposed as (rows before the
    * boundary bucket) + (running count within it), identical by the
    * monotonicity of the bucket map. The cutoffs broadcast back as a
    * 1-row (or per-group) join. The only partition-less window in the
    * global mode runs over the COARSE relation (PlanRegressionSpec
    * guards the plan); zero corpus-wide sorts.
    *
    * Null scores (docs with no bigrams) keep their row with bucket
    * `na` — surfaced, never dropped. Output: (idCol, partitionCols…,
    * scoreCol, ppl_bucket).
    *
    * `partitionCols`: compute cutoffs PER GROUP — CCNet's actual rule
    * is per-LANGUAGE terciles (a Wikipedia-trained LM's absolute
    * perplexity isn't comparable across languages), so pass
    * `Seq("lang_pred")` with a language column on `scored` (q156).
    * Empty (the default) = one corpus-wide cutoff pair.
    *
    * `scored` is referenced THREE times (histogram twice — coarse pass
    * and boundary-bucket resolution — plus the bucket projection) —
    * pass a materialized relation (a table scan or a
    * [[graft.ops.Checkpoints.materialize]] output, as
    * [[graft.ops.Curation.crawlCurate]] does) when the scoring chain
    * upstream is expensive, or it re-runs per reference. */
  def perplexityBuckets(scored: DataFrame, idCol: String = "doc_id",
                        scoreCol: String = "avg_nlp_micros",
                        partitionCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pCols = partitionCols.map(col)
    val global = partitionCols.isEmpty
    val sc = col(scoreCol)
    val pop = scored.where(sc.isNotNull)
    // distinct-score histogram, tagged with its coarse bucket; `div`
    // truncates toward zero, which is monotone non-decreasing — all
    // the decomposition below needs
    val hist = pop.groupBy(pCols :+ sc: _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cb", expr(s"`$scoreCol` div $PplCoarseBucket"))
    // phase 1: coarse histogram (≤ domain/2^16 rows per group); the
    // running count over it is the one window allowed to be
    // partition-less in the global mode, BECAUSE its input is coarse
    val coarse = hist.groupBy(pCols :+ col("cb"): _*)
      .agg(sum("cnt").as("ccnt"))
    val wCum =
      if (global) Window.orderBy(col("cb"))
      else Window.partitionBy(pCols: _*).orderBy(col("cb"))
    val wAll =
      if (global) Window.partitionBy()
      else Window.partitionBy(pCols: _*)
    // n from the same bounded relation (full-frame window — no extra
    // corpus scan for a population count)
    val coarseCum = coarse.select(
      pCols ++ Seq(col("cb"), col("ccnt"),
        sum("ccnt").over(wCum).as("ccum"),
        sum("ccnt").over(wAll).as("n")): _*)
    // per cutoff: the FIRST coarse bucket whose running count reaches
    // the rank, plus the row count before it (ccum − ccnt). groupBy()
    // with no keys is the global aggregate — one code path for both
    // the corpus-wide and the per-partition (CCNet's per-LANGUAGE)
    // cutoffs
    val bounds = coarseCum.groupBy(pCols: _*).agg(
      min(when(col("ccum") >= expr("(n + 2) div 3"),
        struct(col("cb").as("cb"),
          (col("ccum") - col("ccnt")).as("pre")))).as("b1"),
      min(when(col("ccum") >= expr("(2 * n + 2) div 3"),
        struct(col("cb").as("cb"),
          (col("ccum") - col("ccnt")).as("pre")))).as("b2"),
      min(col("n")).as("n"))
    // phase 2: exact resolution inside the boundary buckets only —
    // the window partitions by (group, bucket), so every partition
    // holds ≤ 2^16 distinct score values, parallel across groups
    val withBounds =
      if (global) hist.crossJoin(broadcast(bounds))
      else hist.join(broadcast(bounds), partitionCols)
    val cand = withBounds
      .where(col("cb") === col("b1.cb") || col("cb") === col("b2.cb"))
    val wIn = Window.partitionBy(pCols :+ col("cb"): _*).orderBy(sc)
    val resolved = cand.withColumn("wcum", sum("cnt").over(wIn))
    val cuts = resolved.groupBy(pCols: _*).agg(
      min(when(col("cb") === col("b1.cb") &&
        col("b1.pre") + col("wcum") >= expr("(n + 2) div 3"), sc))
        .as("cut1"),
      min(when(col("cb") === col("b2.cb") &&
        col("b2.pre") + col("wcum") >= expr("(2 * n + 2) div 3"), sc))
        .as("cut2"))
    val withCuts =
      if (partitionCols.isEmpty) scored.crossJoin(broadcast(cuts))
      // left join: a row with a non-null score always finds its
      // partition's cuts (it contributed to them); null-score rows
      // take the 'na' branch before the cut columns are read
      else scored.join(broadcast(cuts), partitionCols, "left")
    withCuts.select(
      col(idCol) +: pCols :+ col(scoreCol) :+
        when(col(scoreCol).isNull, lit("na"))
          .when(col(scoreCol) <= col("cut1"), lit("head"))
          .when(col(scoreCol) <= col("cut2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"): _*)
  }

  /** Corpus-trained multinomial Naive Bayes over a bounded feature
    * vocabulary — the "model-based filter" representative: train on the
    * corpus's own labels (here: source), score every document, emit the
    * argmax class. Add-one smoothing; features are the top-`vocabK`
    * tokens by corpus count (bounded feature selection is what makes NB
    * broadcastable at 100 TB — the dense (vocab × classes) log-prob
    * matrix stays MBs no matter the corpus).
    *
    * Output: (doc_id, pred, score_micros). score =
    * ln P(c) + Σ_t tf·ln P(t|c) in integer micro-nats (the
    * [[unigramScore]] determinism contract: each ln is rounded to BIGINT
    * micro-nats BEFORE any aggregation, so sums are exact and
    * engine-portable; argmax ties break to the smaller class name).
    *
    * Scale shape: ONE corpus token pass — the reduced per-(doc, token)
    * tf relation is materialized once (see [[Checkpoints]]) and every
    * downstream statistic (vocabulary, class totals, the count matrix,
    * the scoring join) scans that bounded relation; relying on
    * ReuseExchange to share four identical corpus-sized subtrees
    * proved planner-mood-dependent (the SetSimilarity lesson), so the
    * sharing is structural. The matrix join is a broadcast; the
    * per-(doc, class) reduce fans out |classes|× with map-side
    * combine; the argmax is a SINGLE aggregate
    * min(struct(−score, class)) — max score, ties to the smaller
    * class name, no self-join and no window sort. */
  def naiveBayes(docs: DataFrame, labelCol: String = "source",
                 vocabK: Int = 10000, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    // the one corpus-sized token pass, materialized once: vocabulary,
    // class totals, count matrix, and the scoring join all scan this
    val tf = Checkpoints.materialize(docs
      .select(col(idCol), col(labelCol).as("cls"),
        explode(TextStats.tokens(col(textCol))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy(col(idCol), col("cls"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf")))
    val vocab = tf.groupBy("tok").agg(sum("tf").cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabK)
      .select("tok")
    val tfv = tf.join(broadcast(vocab), "tok")
    // class stats: doc counts from ALL docs (token-free docs still carry
    // prior mass), token totals from the vocab-restricted tf
    val classes = docs.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).cast("long").as("dc"))
    val totals = tfv.groupBy("cls").agg(sum("tf").cast("long").as("tc"))
    val vSize = vocab.agg(count(lit(1)).cast("long").as("v"))
    // derived from the class counts — not a second corpus scan
    val nDocs = classes.agg(sum("dc").cast("long").as("d_all"))
    val clsStats = classes.join(totals, Seq("cls"), "left")
      .na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(vSize)).crossJoin(broadcast(nDocs))
      .withColumn("prior_micros",
        round((log(col("dc").cast("double")) - log(col("d_all").cast("double"))) * 1e6)
          .cast("long"))
    // dense (vocab × class) matrix: C(t,c)=0 rows still get the smoothed
    // log-prob, so per-doc sums run over one equi-join, no unseen branch
    val counts = tfv.groupBy("cls", "tok").agg(sum("tf").cast("long").as("ctc"))
    val matrix = vocab.crossJoin(clsStats.select("cls", "tc", "v"))
      .join(counts, Seq("cls", "tok"), "left")
      .na.fill(0L, Seq("ctc"))
      .withColumn("lp_micros",
        round((log(col("ctc").cast("double") + 1) -
          log((col("tc") + col("v")).cast("double"))) * 1e6).cast("long"))
      .select("cls", "tok", "lp_micros")
    val tokSum = tfv.select(col(idCol), col("tok"), col("tf"))
      .join(broadcast(matrix), "tok")
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("tf") * col("lp_micros")).cast("long").as("ts"))
    val scored = docs.select(col(idCol))
      .crossJoin(broadcast(clsStats.select("cls", "prior_micros")))
      .join(tokSum, Seq(idCol, "cls"), "left")
      .withColumn("score_micros", col("prior_micros") + coalesce(col("ts"), lit(0L)))
    // single-pass argmax: min over (−score, cls) = max score with ties
    // broken to the smaller class name — the former max-then-rejoin
    // shape planned the whole scoring pipeline TWICE (self-join)
    scored.groupBy(col(idCol))
      .agg(min(struct((-col("score_micros")).as("neg"), col("cls").as("c"))).as("b"))
      .select(col(idCol), col("b.c").as("pred"),
        (-col("b.neg")).as("score_micros"))
  }

  /** One BPE merge iteration: corpus-weighted counts of adjacent
    * character pairs, the statistic a tokenizer trainer maximizes when
    * choosing the next merge. Output: the top-k (pair, cnt), ranked
    * (cnt DESC, pair) so the cut is deterministic.
    *
    * Scale shape — the real BPE trick: pair counting runs over the
    * VOCABULARY (distinct words with their corpus frequencies), not the
    * corpus. The only corpus-sized operation is the word-count
    * aggregate (map-side partial combine on a heavy-tailed key —
    * AQE-skew-splittable); the explode into pairs touches |vocab| rows,
    * orders of magnitude smaller, and the final top-k is a bounded
    * TakeOrdered. */
  def bpePairCounts(docs: DataFrame, textCol: String = "text",
                    k: Int = 50): DataFrame = {
    val wc = docs
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))
    wc.select(col("c"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy("pair").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** BPE merge training (Sennrich et al. 2016): learn `nMerges` merge
    * rules by repeatedly fusing the corpus's most frequent adjacent
    * symbol pair. Returns the merge table — (rank, left, right, merged,
    * pair_count) — the artifact a tokenizer build actually ships.
    *
    * The algorithm runs where BPE always runs: on the WORD-COUNT
    * table, not the corpus. One corpus pass builds (word, count) —
    * millions of rows at 100 TB, not billions — and then:
    *
    *  - **Driver path (vocabulary ≤ `driverCutoff` words, the normal
    *    case)**: the bounded (word, count) relation collects once and
    *    the whole merge loop runs in-memory with incremental pair-count
    *    maintenance (subword-nmt's algorithm: a lazy max-heap over pair
    *    counts plus a pair→words occurrence index, so each merge
    *    touches only the words containing its pair). A real ~32k-merge
    *    vocabulary trains in ONE Spark job total — the per-round
    *    Spark-job formulation would schedule 32k sequential jobs, which
    *    no cluster amortizes. Measured: 2,000 merges over a
    *    200k-distinct-word synthetic vocabulary in 10.9 s end-to-end
    *    (word count + collect included). This is the same bounded-driver-state
    *    trade as [[graft.ops.Dedup.connectedComponents]]'s union-find
    *    fast path: the collected relation is the REDUCED vocabulary,
    *    whose size grows with language, not corpus bytes.
    *  - **Distributed fallback (vocabulary above the cutoff)**: the
    *    same incremental maintenance, as relations. One full pair
    *    explode seeds a pair-count relation; each merge then takes a
    *    1-row top-1 collect from it, folds in the pair DELTA of only
    *    the words containing the merged pair, and applies the merge as
    *    a scan-local CASE-gated `replace`. Lineage truncates via
    *    [[Checkpoints]] so round k does not replay rounds 1..k-1, and
    *    the per-merge job count is constant (spec-asserted), so large
    *    merge schedules are bounded by job latency × nMerges — still,
    *    prefer raising the cutoff (every 2× of `driverCutoff` buys
    *    ~constant driver MBs) before scheduling tens of thousands of
    *    sequential rounds.
    *
    * Both paths implement the identical sequential greedy algorithm and
    * produce byte-identical merge tables (spec-asserted) — batching
    * top-N disjoint pairs per round was considered and rejected: a
    * merge can create a NEW pair (left-context × merged symbol) that
    * outranks the batch's next accepted pair, so batches reorder ranks
    * relative to canonical sequential BPE.
    *
    * Ties break (count desc, left, right) — deterministic on any
    * engine; symbols stay ASCII (a-z fragments), so string comparison
    * agrees across collations.
    *
    * Symbol-string representation: a word's symbols are ' '-joined
    * with sentinel spaces (' a b c '). A naive literal replacement
    * ' l r ' → ' lr ' CONSUMES the boundary spaces it matches, so for a
    * self-adjacent merge (l == r) a run of 5 identical symbols would
    * segment as [aa, a, aa] where canonical greedy BPE (non-consuming
    * left-to-right scan) gives [aa, aa, a]. The merge here is instead
    * the space-doubling scheme: double every space (each boundary
    * becomes '  '), replace ' l  r ' → ' lr ' (consuming exactly ONE
    * space from each outer boundary, so every boundary still holds a
    * space for the next match), then collapse '  ' → ' '. One such pass
    * IS canonical greedy BPE for l ≠ r AND l == r — adjacent and
    * run-adjacent occurrences chain left-to-right exactly like the
    * reference scan — and a replacement can never create a fresh (l, r)
    * adjacency mid-pass. Three plain `replace` calls, no regex: portable
    * to any engine (the DuckDB oracle runs the identical chain). */
  def bpeTrain(docs: DataFrame, nMerges: Int = 4,
               textCol: String = "text",
               driverCutoff: Long = BpeDriverCutoff,
               restartDir: Option[String] = None,
               restartEvery: Int = 1,
               strategy: String = BpeIncremental): DataFrame =
    // cutFinalVocab=false: only the driver-local merge table is
    // returned, so the loop must not pay a vocab-sized handoff job for
    // a relation nobody reads
    bpeLoop(docs, nMerges, textCol, driverCutoff, restartDir,
      restartEvery, cutFinalVocab = false, strategy = strategy)._2

  /** Distributed-schedule strategies for [[bpeTrain]] — byte-identical
    * outputs (spec-asserted), different cost shapes:
    *
    *  - [[BpeIncremental]] (default): seed the pair-count relation
    *    once, then per merge fold only the delta from words CONTAINING
    *    the merged pair. Jobs per merge are bounded and the per-merge
    *    scan shrinks with the affected-word fraction — the shape that
    *    wins when merges touch a vanishing slice of a huge vocabulary.
    *  - [[BpeRecount]]: re-aggregate all pair counts from the current
    *    vocabulary every merge. On local[32] this is 2-3× FASTER per
    *    merge at every vocabulary size we measured (SCALE.md round-11:
    *    map-side combine collapses the explode to the distinct-pair
    *    relation, and the incremental path's extra fixed jobs dominate)
    *    — but it rescans the whole vocabulary per merge, so its cost is
    *    ∝ vocabulary × merges regardless of how little changed.
    *
    * The default stays incremental because the 100 TB regime is the
    * affected-fraction one; profiles that show the fixed-job constant
    * dominating (small vocabularies, fast clusters) should pass
    * [[BpeRecount]]. */
  val BpeIncremental = "incremental"
  val BpeRecount = "recount"

  /** Default vocabulary-size bound for [[bpeTrain]]'s driver path:
    * 2M distinct words × ~40 B ≈ 100 MB of driver heap — comfortably
    * inside any real driver, and larger than the full word vocabulary
    * of most single-language crawls (English web text plateaus in the
    * low millions of distinct alphabetic words). */
  val BpeDriverCutoff: Long = 2L * 1000 * 1000

  /** Apply the merges [[bpeTrain]] would learn and count each
    * document's post-BPE tokens — the "how long is this doc under MY
    * tokenizer" signal that sequence packing, token-budget mixing, and
    * curriculum schedules all key on (whitespace token counts drift
    * badly from BPE lengths on long/rare words).
    *
    * Scale: merges apply to the VOCABULARY (per distinct word), never
    * to the corpus text; the corpus pays one word explode joined
    * against the broadcast segmented vocabulary (word → symbol count)
    * and a per-doc sum. Words under 2 chars tokenize 1:1 (never
    * merged), counted via the same scan. */
  def bpeTokenCounts(docs: DataFrame, nMerges: Int = 4,
                     idCol: String = "doc_id",
                     textCol: String = "text",
                     driverCutoff: Long = BpeDriverCutoff): DataFrame = {
    val vocab = bpeLoop(docs, nMerges, textCol, driverCutoff)._1
    tokenCountsOver(docs, vocab.select(col("w"),
      size(split(trim(col("s")), " ")).cast("long").as("n_sym")),
      idCol, textCol)
  }

  /** Shared tail of [[bpeTokenCounts]]/[[bpeTokenCountsWithModel]]:
    * one corpus word explode against the broadcast (word → symbol
    * count) map. Unmapped words count 1 — only 1-char words are ever
    * unmapped (both vocab builders cover every ≥2-char word of the
    * corpus being counted), and a 1-char word is its own single
    * symbol. */
  private def tokenCountsOver(docs: DataFrame, nSym: DataFrame,
                              idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .where(length(col("w")) >= 1)
      .join(broadcast(nSym), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sym"), lit(1L))).cast("long").as("n_bpe_tokens"))

  /** A trained BPE tokenizer artifact: the merge table in rank order —
    * what [[saveBpeModel]] persists and every `...WithModel` operator
    * consumes (the train-once / serve-many shape the LSH and IVF
    * indexes already have). Driver-resident by design: the table is
    * bounded by nMerges (≤ 65536 rows), the one genuinely small
    * relation in the tokenizer.
    *
    * Token-id space (stable across corpora — two batches encoded under
    * the same model agree on every id, the property training shards
    * need): ids 0–25 are 'a'–'z'; each merge then contributes its
    * merged symbol the FIRST time it appears, taking the next id.
    * Duplicate merged strings (two different merges producing the same
    * text, e.g. a+bc and ab+c) keep their first id. */
  case class BpeModel(merges: Seq[(Int, String, String, String, Long)]) {
    require(merges.map(_._1) == (1 to merges.size),
      s"BpeModel: ranks must be contiguous 1..${merges.size}, " +
        s"got ${merges.map(_._1).take(8).mkString(",")}…")
    // merged must BE left+right — a column-reordered or corrupted
    // merges table would otherwise pass the rank/count checks and
    // tokenize differently in silence (the exact failure the params
    // refusal exists to prevent)
    merges.foreach { case (rank, l, r, m, _) =>
      require(m == l + r,
        s"BpeModel: merge rank $rank is inconsistent — merged '$m' != " +
          s"left '$l' + right '$r' (corrupted or column-reordered table)")
    }
    def nMerges: Int = merges.size
    /** (left, right) pairs, rank-ascending —
      * [[graft.functions.BpeExpressions.BpeSegment]]'s input. */
    def pairs: Seq[(String, String)] = merges.map(m => (m._2, m._3))
    /** symbol → token id (see class doc). */
    def tokenIds: Seq[(String, Int)] =
      (('a' to 'z').map(_.toString) ++ merges.map(_._4)).distinct.zipWithIndex
  }

  private def collectMerges(mergesDf: DataFrame): Seq[(Int, String, String, String, Long)] =
    // columns BY NAME — a reordered parquet schema must not silently
    // permute (left, right, merged) into a different tokenizer
    mergesDf.select("rank", "left", "right", "merged", "pair_count")
      .orderBy("rank").collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
          r.getLong(4))).toSeq

  /** [[bpeTrain]] collected into the driver-resident artifact (the
    * merge table is nMerges rows — a bounded collect by construction). */
  def trainBpeModel(docs: DataFrame, nMerges: Int = 4,
                    textCol: String = "text",
                    driverCutoff: Long = BpeDriverCutoff): BpeModel =
    BpeModel(collectMerges(
      bpeTrain(docs, nMerges, textCol, driverCutoff)))

  /** Persist a [[BpeModel]]: `dir/merges` (the table) + `dir/params`
    * (n_merges) — the [[graft.ops.LshIndex]] meta convention, so a
    * reader can refuse a mismatched artifact loudly instead of
    * tokenizing differently in silence. */
  def saveBpeModel(spark: SparkSession, model: BpeModel, dir: String): Unit = {
    import spark.implicits._
    spark.createDataFrame(model.merges)
      .toDF("rank", "left", "right", "merged", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    Seq(Tuple1(model.nMerges)).toDF("n_merges")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  /** Load a persisted model. `expectMerges` ≥ 0 refuses an artifact
    * trained with a different merge count (the param-mismatch refusal
    * of [[graft.ops.LshIndex.params]] — a tokenizer under the wrong
    * vocabulary corrupts every downstream token count silently);
    * internal consistency (params vs table vs rank contiguity) is
    * always checked. */
  def loadBpeModel(spark: SparkSession, dir: String,
                   expectMerges: Int = -1): BpeModel = {
    val n = Io.readParquet(spark, s"$dir/params").select("n_merges")
      .head().getInt(0)
    require(expectMerges < 0 || expectMerges == n,
      s"loadBpeModel: artifact at $dir was trained with $n merges, " +
        s"caller expects $expectMerges — refusing a mismatched tokenizer")
    val merges = collectMerges(Io.readParquet(spark, s"$dir/merges"))
    require(merges.size == n,
      s"loadBpeModel: params claim $n merges but the table holds " +
        s"${merges.size} — corrupted artifact")
    BpeModel(merges)
  }

  /** Per-document BPE token-ID sequences under merges trained on THIS
    * corpus — the materialized form a tokenized training shard stores
    * (where [[bpeTokenCounts]] stops at lengths). Output
    * (idCol, token_ids array<int>, n_tokens); ids per [[BpeModel]]'s
    * model-derived space. Documents with no [a-z] words are absent
    * (the [[bpeTokenCounts]] convention).
    *
    * Scale shape: identical to [[bpeTokenCounts]] — the merges apply
    * to the VOCABULARY (the training loop's own segmented relation is
    * reused, no re-segmentation), the corpus pays one word explode
    * joined against the broadcast (word → symbols) map, and the
    * per-doc assembly is one sort_array over that doc's tokens. */
  def bpeEncode(docs: DataFrame, nMerges: Int = 4,
                idCol: String = "doc_id", textCol: String = "text",
                driverCutoff: Long = BpeDriverCutoff): DataFrame = {
    val (vocab, mergesDf) =
      bpeLoop(docs, nMerges, textCol, driverCutoff)
    encodeTokens(docs,
      vocab.select(col("w"), split(trim(col("s")), " ").as("syms")),
      BpeModel(collectMerges(mergesDf)), idCol, textCol)
  }

  /** [[bpeEncode]] under an already-trained model (the serve path for
    * fresh corpora): this corpus's distinct words segment via the
    * native [[graft.functions.BpeExpressions.BpeSegment]] apply —
    * vocabulary-sized work, spec-pinned byte-identical to the training
    * loop's own segmentation on shared corpora. */
  def bpeEncodeWithModel(docs: DataFrame, model: BpeModel,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    encodeTokens(docs, segmentVocab(docs, model, textCol), model,
      idCol, textCol)

  /** [[bpeTokenCounts]] under an already-trained model — same output
    * schema, no training pass. */
  def bpeTokenCountsWithModel(docs: DataFrame, model: BpeModel,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame =
    tokenCountsOver(docs,
      segmentVocab(docs, model, textCol)
        .select(col("w"), size(col("syms")).cast("long").as("n_sym")),
      idCol, textCol)

  /** This corpus's distinct ≥2-char words segmented under the model:
    * (w, syms array<string>). One distinct-word shuffle, then the
    * scan-local greedy apply per vocabulary row. */
  private def segmentVocab(docs: DataFrame, model: BpeModel,
                           textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .where(length(col("w")) >= 2).distinct()
      .select(col("w"),
        graft.functions.BpeExpressions.bpe_segment(col("w"), model.pairs)
          .as("syms"))

  /** Shared tail of [[bpeEncode]]/[[bpeEncodeWithModel]]: corpus word
    * explode → broadcast (word → symbols) join (1-char and unseen
    * words fall back to per-character symbols — both conventions match
    * the trained vocabulary, which only holds ≥2-char training words)
    * → broadcast symbol→id join → per-doc (wpos, spos)-ordered
    * assembly. An unmapped symbol is impossible by construction
    * (symbols are single letters or merge outputs, both in
    * [[BpeModel.tokenIds]]) and raises rather than dropping a token. */
  private def encodeTokens(docs: DataFrame, segVocab: DataFrame,
                           model: BpeModel, idCol: String,
                           textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ids = model.tokenIds.toDF("sym", "token_id")
    val words = docs
      .select(col(idCol), posexplode(split(lower(col(textCol)), "[^a-z]+"))
        .as(Seq("wpos", "w")))
      .where(length(col("w")) >= 1)
    val toks = words
      .join(broadcast(segVocab), Seq("w"), "left")
      .select(col(idCol), col("wpos"),
        posexplode(coalesce(col("syms"),
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")))
          .as(Seq("spos", "sym")))
      .join(broadcast(ids), Seq("sym"), "left")
      .select(col(idCol), col("wpos"), col("spos"),
        when(col("token_id").isNotNull, col("token_id"))
          .otherwise(raise_error(concat(lit("bpeEncode: symbol '"),
            col("sym"), lit("' has no token id — corrupted model"))))
          .as("token_id"))
    toks.groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("wpos"), col("spos"), col("token_id")))).as("tt"))
      .select(col(idCol),
        expr("transform(tt, x -> x.token_id)").as("token_ids"),
        size(col("tt")).cast("long").as("n_tokens"))
  }

  /** The shared training loop: returns (final segmented vocabulary
    * (w, s, c), merge table). See [[bpeTrain]] for the algorithm,
    * the driver/distributed split, and the portability contract. */
  private[graft] def bpeLoop(docs: DataFrame, nMerges: Int, textCol: String,
                             driverCutoff: Long = BpeDriverCutoff,
                             restartDir: Option[String] = None,
                             restartEvery: Int = 1,
                             cutFinalVocab: Boolean = true,
                             strategy: String = BpeIncremental): (DataFrame, DataFrame) = {
    require(nMerges >= 1 && nMerges <= 65536, s"nMerges $nMerges out of [1,65536]")
    require(restartEvery >= 1, s"restartEvery $restartEvery must be >= 1")
    require(strategy == BpeIncremental || strategy == BpeRecount,
      s"bpeTrain strategy '$strategy' not in {$BpeIncremental, $BpeRecount}")
    val spark = docs.sparkSession
    import spark.implicits._
    // `restartDir` (opt-in, distributed path only): each merge round
    // commits (vocab, merges-so-far) via [[Restart]] — one job per
    // merge makes this the longest-lived loop in the engine, so a
    // driver lost at merge k resumes at k+1 instead of replaying the
    // schedule. The driver path needs none of this: it is one bounded
    // collect + an in-memory loop, so a lost driver just reruns it.
    // merges are committed BEFORE vocab, so a vocab round on disk
    // always has its merge list. Resume from the newest round AT OR
    // BELOW nMerges: a dir holding more rounds than requested (a rerun
    // asking for fewer merges) must not hand back the bigger snapshot —
    // each round is cumulative, so resuming ≤ nMerges and replaying
    // forward preserves the fresh-run output contract under any commit
    // cadence.
    val resumed = restartDir
      .flatMap(d => Restart.latest(spark, s"$d/vocab", atMost = nMerges))
    var vocab: DataFrame = null
    resumed match {
      case Some((_, saved)) =>
        // resume replaces BOTH the corpus pass and the cutoff probe:
        // saved state exists only on the distributed path
        vocab = Checkpoints.materialize(saved)
      case None =>
        // the one corpus-sized pass, materialized once: the
        // vocabulary-size probe, the driver collect / distributed loop,
        // and (via the returned vocab) bpeTokenCounts' broadcast all
        // derive from it
        val wc = Checkpoints.materialize(docs
          .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
          .where(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("c")))
        if (wc.count() <= driverCutoff) {
          val (segs, merges) = bpeTrainInMemory(
            wc.as[(String, Long)].collect(), nMerges)
          val vocabDf = spark.createDataFrame(segs.toIndexedSeq)
            .toDF("w", "s", "c")
          val mergesDf = spark.createDataFrame(merges.toIndexedSeq)
            .toDF("rank", "left", "right", "merged", "pair_count")
          return (vocabDf, mergesDf)
        }
        // chars via explicit index (no lookahead regex — portable to RE2)
        vocab = wc.select(col("w"), concat(lit(" "),
          concat_ws(" ",
            expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")),
          lit(" ")).as("s"),
          col("c"))
    }
    // buffer, not a Builder: the restart commit snapshots the
    // merges-so-far each round, so the collection is read mid-build
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    resumed.foreach { case (k, _) =>
      // round k read DIRECTLY, not latest(): merges commit before vocab,
      // so a driver lost between the two leaves an ORPHAN merges round
      // k+1 — latest() would return it and a k-vs-k+1 equality check
      // would abort the exact resume this protocol exists for. The
      // orphan is harmless: rank k+1 re-commits over it.
      Restart.read(spark, s"${restartDir.get}/merges", k)
        .getOrElse(sys.error(s"bpeTrain restart: vocab round $k committed " +
          "without its merge list — corrupted restart dir"))
        .orderBy("rank").collect().foreach(r =>
          merges += ((r.getInt(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4))))
    }
    var rank = resumed.map(_._1 + 1).getOrElse(1)
    // Incremental pair-count maintenance — the distributed analogue of
    // the driver path's subword-nmt bookkeeping, and what lifted the
    // old 64-merge schedule cap. ONE full pair explode seeds `pc`
    // (also on resume: a full recount of the saved vocab IS the
    // incremental state); each merge after that touches only the words
    // CONTAINING the merged pair — in the sentinel representation
    // that is exactly `instr(s, ' l r ') > 0` — and folds their pair
    // delta (post-merge pairs minus pre-merge pairs, weighted by word
    // count) into pc. Unaffected words contribute identical pairs, so
    // pc stays equal to a full recount of the updated vocab
    // (spec-fuzzed against the driver path). Per-merge cost: one
    // top-1 on the pc relation, one delta explode over affected words,
    // one narrow CASE-gated map over the vocab — a BOUNDED number of
    // jobs per merge (spec-asserted via a job-count listener), instead
    // of a full vocabulary explode+shuffle+sort per merge.
    def pairCounts(v: DataFrame): DataFrame = v
      .select(col("c"), expr("split(trim(s), ' ')").as("sym"))
      // guard: a fully-merged single-symbol word must yield a typed
      // empty array (sequence(1, 0) DESCENDS in Spark)
      .select(col("c"), explode(expr(
        """CASE WHEN size(sym) >= 2
           THEN transform(sequence(1, size(sym) - 1),
                  i -> struct(element_at(sym, i) AS l,
                              element_at(sym, i + 1) AS r))
           ELSE cast(array() AS array<struct<l:string,r:string>>) END"""))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("c").as("cnt"))
    // recount mode never materializes the maintained relation — each
    // round re-aggregates from the current vocab (see [[BpeRecount]])
    var pc: DataFrame =
      if (strategy == BpeIncremental) Checkpoints.materialize(pairCounts(vocab)) else null
    // Loop carriers (pc, vocab) are truncated LAZILY per round, never
    // eagerly cut: each round's ONE driver action (the top-1 collect)
    // materializes the previous round's delta fold and vocab map
    // through the stored blocks, so the local-truncation schedule
    // costs ~one job per merge where an eager checkpoint per carrier
    // paid three (measured 0.39 vs 0.15 s/merge against the
    // full-recount formulation at a 200k-word vocabulary — job
    // overhead, not data, dominated). The truncation MUST be
    // checkpoint-lazy, not a Dataset persist: the vocab map is a
    // projection chain referencing `s` three times per round, and
    // CacheManager plan normalization inlines stacked projections —
    // 3^k expression nodes by round k (3^64 hung the driver inside
    // unpersist); see [[Checkpoints.materialize]]. The LogicalRDD
    // the lazy truncation leaves behind keeps every round's ANALYZED
    // plan depth constant too, so no mid-loop eager cut is needed at
    // any schedule length. Superseded blocks are reaped by the
    // ContextCleaner once their round's RDD becomes unreachable.
    while (rank <= nMerges) {
      val top = (if (strategy == BpeIncremental) pc else pairCounts(vocab))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) rank = nMerges + 1
      else {
        val row = top.head
        val (l, r, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((rank, l, r, l + r, cnt))
        // space-doubling canonical merge (see scaladoc); symbols are
        // [a-z]+ so inlining them into the SQL string is quote-safe
        val mergeS =
          s"replace(replace(replace(s, ' ', '  '), ' $l  $r ', ' $l$r '), '  ', ' ')"
        val hit = s"instr(s, ' $l $r ') > 0"
        // one-pass delta: each affected word (and ONLY those — the
        // instr gate) emits its post-merge pairs at +c and its
        // pre-merge pairs at -c from a single scan
        def signedPairs(symCol: String, d: String) =
          s"""CASE WHEN size($symCol) >= 2
              THEN transform(sequence(1, size($symCol) - 1),
                     i -> struct(element_at($symCol, i) AS l,
                                 element_at($symCol, i + 1) AS r,
                                 CAST($d AS BIGINT) AS d))
              ELSE cast(array() AS array<struct<l:string,r:string,d:bigint>>) END"""
        if (strategy == BpeIncremental) {
          val delta = vocab.where(expr(hit))
            .select(col("c"), expr("split(trim(s), ' ')").as("so"),
              expr(s"split(trim($mergeS), ' ')").as("sn"))
            .select(explode(expr(
              s"concat(${signedPairs("sn", "c")}, ${signedPairs("so", "-c")})")).as("p"))
            .select(col("p.l").as("l"), col("p.r").as("r"), col("p.d").as("cnt"))
          pc = Checkpoints.materialize(pc.unionByName(delta)
            .groupBy("l", "r").agg(sum("cnt").as("cnt"))
            .where(col("cnt") =!= 0), eager = false)
        }
        vocab = Checkpoints.materialize(vocab.select(col("w"),
          expr(s"CASE WHEN $hit THEN $mergeS ELSE s END").as("s"), col("c")),
          eager = false)
        // `restartEvery`: commit every k-th round — a long schedule on a
        // big vocab trades at most k-1 replayed merges on resume for
        // k× fewer vocab-sized parquet writes. Cadence 1 (the default)
        // keeps the commit-per-merge behavior.
        if (rank % restartEvery == 0) restartDir.foreach { d =>
          // merges first, vocab second: a committed vocab round k
          // implies its merge list is on disk (resume asserts this)
          Restart.save(merges.toSeq
            .toDF("rank", "left", "right", "merged", "pair_count"),
            s"$d/merges", rank)
          Restart.save(vocab, s"$d/vocab", rank)
        }
        rank += 1
      }
    }
    // ownership handoff: one eager cut makes the returned vocab
    // standalone materialized blocks, after which nothing references
    // the loop rounds' RDDs and the ContextCleaner reaps their blocks.
    // Callers that discard the vocab (bpeTrain returns only the merge
    // table) skip the cut — a vocab-sized job for an unread relation
    val out =
      if (cutFinalVocab) Checkpoints.materialize(vocab.select("w", "s", "c"))
      else vocab.select("w", "s", "c")
    (out,
      merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count"))
  }

  /** In-memory sequential-greedy BPE over a collected (word, count)
    * vocabulary — the [[bpeLoop]] driver path. Returns (segmented vocab
    * rows (w, ' sym sym ', c), merge rows (rank, l, r, lr, cnt)), both
    * byte-identical to the distributed per-round formulation
    * (spec-asserted on shared corpora).
    *
    * Incremental maintenance (subword-nmt): pair counts live in a map;
    * a lazy max-heap orders candidates (stale entries are re-validated
    * against the map on pop, (count desc, l, r) tie-break); a
    * pair→word-indices occurrence index confines each merge's work to
    * the words actually containing the pair. Per merge the cost is
    * O(Σ|w| over affected words + log P) instead of O(vocabulary), so
    * 32k merges over a few-million-word vocabulary is seconds, not
    * hours. Pair counting includes overlapping positions ('aaa' holds
    * two (a,a) adjacencies) exactly like the distributed aggregation;
    * the merge itself is the canonical greedy left-to-right
    * non-overlapping scan (the space-doubling scheme's semantics). */
  private def bpeTrainInMemory(wordCounts: Array[(String, Long)],
                               nMerges: Int)
      : (Array[(String, String, Long)], Array[(Int, String, String, String, Long)]) = {
    import scala.collection.mutable
    val words = wordCounts.map { case (w, _) =>
      mutable.ArrayBuffer.from(w.map(_.toString)) }
    val counts = wordCounts.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    // occurrence lists, NOT BitSets: a BitSet allocates ∝ the max word
    // index it holds (~250 KB per rare pair at a 2M-word vocabulary —
    // gigabytes across the pair space); lists are bounded by total
    // symbol positions (Σ|word|). Entries may repeat or go stale; the
    // merge pass dedupes and a no-longer-matching word is a no-op.
    val occ = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    def wordPairs(syms: mutable.ArrayBuffer[String]): Iterator[(String, String)] =
      if (syms.length < 2) Iterator.empty
      else syms.iterator.zip(syms.iterator.drop(1))
    for (i <- words.indices; p <- wordPairs(words(i))) {
      pairCount.updateWith(p)(c => Some(c.getOrElse(0L) + counts(i)))
      occ.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int]) += i
    }
    // max-heap: count desc, then (l, r) asc — matches the distributed
    // ORDER BY cnt DESC, l, r exactly
    val heapOrd = Ordering.fromLessThan[(Long, String, String)] { (a, b) =>
      a._1 < b._1 ||
        (a._1 == b._1 && (a._2 > b._2 || (a._2 == b._2 && a._3 > b._3)))
    }
    val heap = mutable.PriorityQueue.empty(heapOrd)
    pairCount.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }
    val merges = Array.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      // pop until the top entry's count matches the live map (lazy
      // deletion: superseded entries are simply skipped)
      var top: Option[(Long, String, String)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (c > 0 && pairCount.getOrElse((l, r), 0L) == c) top = Some((c, l, r))
      }
      top match {
        case None => exhausted = true
        case Some((cnt, l, r)) =>
          merges += ((rank, l, r, l + r, cnt))
          val changed = mutable.Set.empty[(String, String)]
          // dedupe + sort the occurrence list — deterministic, though
          // the count sums are order-free anyway
          for (i <- occ.remove((l, r))
                 .getOrElse(mutable.ArrayBuffer.empty[Int])
                 .distinct.sorted) {
            val syms = words(i)
            // stale occurrence entries (pair already consumed by an
            // earlier merge at this word) fall through harmlessly:
            // old and new pair lists are then identical
            val before = wordPairs(syms).toArray
            val out = mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
                out += l + r; j += 2
              } else { out += syms(j); j += 1 }
            }
            if (out.length != syms.length) {
              words(i) = out
              for (p <- before) {
                pairCount.updateWith(p)(c => Some(c.getOrElse(0L) - counts(i)))
                changed += p
              }
              for (p <- wordPairs(out)) {
                pairCount.updateWith(p)(c => Some(c.getOrElse(0L) + counts(i)))
                occ.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int]) += i
                changed += p
              }
            }
          }
          changed.foreach { p =>
            val c = pairCount.getOrElse(p, 0L)
            if (c <= 0) { pairCount.remove(p); occ.remove(p) }
            else heap.enqueue((c, p._1, p._2))
          }
          rank += 1
      }
    }
    val segs = words.indices.map { i =>
      (wordCounts(i)._1, words(i).mkString(" ", " ", " "), counts(i))
    }.toArray
    (segs, merges.result())
  }
}
