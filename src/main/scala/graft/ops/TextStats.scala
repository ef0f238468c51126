package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure column expressions (codegen'd, no UDFs) so
  * they run inside whole-stage codegen over a 100 TB `documents` scan.
  */
object TextStats {

  /** Whitespace tokenization; empty/blank text → 0 tokens. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-pieces + digits + punctuation as separate
    * tokens (regexp-count of the piece pattern). */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]{1,6}|[0-9]|[!-/:-@\\[-`{-~]"))

  /** ASCII punctuation count (explicit class — identical under Java regex
    * and RE2). */
  def punctCount(text: Column): Column =
    regexp_count(text, lit("[!-/:-@\\[-`{-~]"))

  private val StopwordsEn = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val stops = filter(toks, t => t.isin(StopwordsEn: _*))
    when(size(toks) === 0, lit(0.0)).otherwise(size(stops).cast("double") / size(toks))
  }

  /** Mean token length in characters (0 for empty docs). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Single source of truth for the quality formula — statsFor and the
    * per-column helper both build from this (the DuckDB oracles encode it
    * a second time; drift shows up as an oracle hash failure). */
  private[graft] def qualityExpr(nChars: Column, nPunct: Column,
                                 stopRatio: Column): Column = {
    val lenOk = when(nChars.between(100, 10000), lit(0.4)).otherwise(lit(0.0))
    val punctOk = when(nPunct.cast("double") <= nChars * 0.1, lit(0.3))
      .otherwise(lit(0.0))
    val stopOk = when(stopRatio.between(0.01, 0.6), lit(0.3)).otherwise(lit(0.0))
    round(lenOk + punctOk + stopOk, 1)
  }

  /** Single source of truth for the language argmax: first language in
    * marker order with a positive, maximal score; 'und' otherwise. */
  private[graft] def langArgmaxExpr(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight: the first qualifying language in marker order is the
    // outermost CASE branch (first-match-wins), with no tie-break guard
    // on the accumulator — a foldLeft guard compares the 'und' seed to
    // itself and trips Spark's trivially-true-predicate warning
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1]: length band + low punctuation +
    * healthy stopword ratio. Deterministic, SQL-expressible. */
  def qualityScore(text: Column): Column =
    qualityExpr(length(text), punctCount(text), stopwordRatio(text))

  /** N-gram-heuristic language ID: score a handful of marker words per
    * language over the token set; argmax with deterministic tie-break.
    * (A real system would use character-trigram profiles; the decision
    * structure — per-language marker hit counts → argmax — is the same.) */
  def langIdHeuristic(text: Column): Column = {
    val toks = tokens(text)
    langArgmaxExpr(LangMarkers.map { case (lang, ws) =>
      lang -> size(filter(toks, t => t.isin(ws: _*)))
    })
  }

  /** Canonical text normalization for fingerprint/dedup: lowercase, strip
    * punctuation, collapse whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[!-/:-@\\[-`{-~]", " "), "\\s+", " "))

  /** Content fingerprint: 128-bit md5 of normalized text (hex string).
    * Stable across engines — the dedup join key at scale. */
  def fingerprint(text: Column): Column = md5(to_binary(normalized(text), lit("utf-8")))

  private[graft] val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "la", "y", "es"),
    "de" -> Seq("der", "die", "und", "ist"))

  /** Corpus-global vocabulary: the k most frequent tokens with total
    * occurrence count and document frequency — the counting pass a
    * tokenizer/BPE training step starts from.
    *
    * Scale: explode → two-phase hash aggregate keyed by term (uniform
    * once common terms partial-aggregate map-side); the distinct doc
    * count rides the same shuffle via (term, doc_id) pre-aggregation.
    * The final top-k is a bounded TakeOrdered, never a global sort. */
  def vocabulary(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
    perDoc.groupBy("term")
      .agg(sum("c").as("term_count"), count(lit(1)).as("doc_freq"))
      .orderBy(col("term_count").desc, col("term"))
      .limit(k)
  }

  /** Document-level co-occurrence counts for the top-`vocabK` vocabulary
    * terms: in how many documents does each term pair appear together.
    * Output: top-`topPairs` (term_a, term_b, n_docs), term_a < term_b,
    * ranked (n_docs DESC, term_a, term_b) so the cut is deterministic.
    *
    * Scale shape: the naive all-terms self-join is quadratic in document
    * length; pruning to a bounded vocabulary FIRST (broadcast semi join
    * on the top-k terms) caps the per-document fan-out at vocabK before
    * any pairing happens. The pruned (doc_id, term) relation is
    * structurally materialized (bounded: ≤ vocabK rows/doc) — the
    * self-join references it twice, and the pre-r18 ReuseExchange bet
    * (co-partition and hope) lost to AQE's broadcast conversion, so
    * BOTH sides re-ran the corpus tokenize AND the vocabulary's own
    * two-exchange top-k (4 corpus text scans in the q88 plan). The
    * final cut is a bounded TakeOrdered.
    *
    * EAGER: building the DataFrame runs the job that materializes the
    * pruned (doc_id, term) relation ([[Checkpoints.materialize]]), so
    * build it only to run it. */
  def cooccurrence(docs: DataFrame, vocabK: Int = 30, topPairs: Int = 100,
                   textCol: String = "text"): DataFrame = {
    val vocab = vocabulary(docs, vocabK, textCol).select("term")
    val dt = Checkpoints.materialize(docs
      .select(col("doc_id"), explode(array_distinct(tokens(col(textCol)))).as("term"))
      .join(broadcast(vocab), Seq("term")))
    dt.alias("a")
      .join(dt.alias("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("term_a"), col("term_b"))
      .limit(topPairs)
  }

  /** Full per-document stats projection used by `queries`.
    *
    * Two stages split by a generator barrier: stage 1 computes
    * everything that touches the raw text (codegen'd regexp stats + one
    * fused TokenStats pass over the token array) and drops the text;
    * stage 2 derives the ratios/score/lang from the small struct. The
    * explode of a single-element array evaluates the TokenStats
    * expression exactly once per row — CollapseProject cannot inline
    * through a Generate — WITHOUT an exchange (the same trick as
    * Dedup.minHashSignatures), so downstream join selection still sees
    * the scan's size statistics and the corpus never shuffles just to
    * compute its own stats. (The previous repartition barrier shuffled
    * a slim projection of every row on every stats consumer.) */
  def statsFor(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val stage1 = docs.select(
      col("doc_id"),
      length(t).cast("long").as("n_chars"),
      subwordCount(t).cast("long").as("n_subwords"),
      punctCount(t).cast("long").as("n_punct"),
      explode(array(graft.functions.TextExpressions.token_stats(
        tokens(t), StopwordsEn, LangMarkers))).as("ts"),
      fingerprint(t).as("fingerprint"))
    val nTok = col("ts.n_tokens")
    val ratio = when(nTok === 0, lit(0.0))
      .otherwise(col("ts.n_stops").cast("double") / nTok)
    val langPred = langArgmaxExpr(
      LangMarkers.map { case (lang, _) => lang -> col(s"ts.s_$lang") })
    stage1.select(
      col("doc_id"),
      col("n_chars"),
      nTok.as("n_tokens"),
      col("n_subwords"),
      col("n_punct"),
      round(ratio, 4).as("stopword_ratio"),
      round(when(nTok === 0, lit(0.0))
        .otherwise(col("ts.sum_token_len").cast("double") / nTok), 4)
        .as("mean_token_len"),
      qualityExpr(col("n_chars"), col("n_punct"), ratio).as("quality_score"),
      langPred.as("lang_pred"),
      col("fingerprint"))
  }

  /** Per-source lexical-diversity profile: documents, token volume,
    * vocabulary size (distinct unigrams / bigrams), and type-token
    * ratio. The corpus-composition companion to [[Contamination
    * .sourceOverlap]] — a source whose TTR collapses is template spam or
    * a crawler trap; one whose bigram vocabulary stops growing is
    * near-exhausted — both are per-source mixture-weight signals a
    * 100 TB curation run reads before sampling.
    *
    * Scale: ONE text pass — unigrams and bigrams explode as tagged
    * (kind, gram) rows from a single tokenize (the [[QualityFilters
    * .repetitionStats]] idiom), feeding one (src, kind, gram)
    * aggregation with map-side partials; vocabulary sizes AND the token
    * total all collapse from that relation, so the corpus text is never
    * read twice. Doc counts ride a second scan that reads only the
    * source column (column-pruned at the parquet footer). */
  def diversityBySource(docs: DataFrame, sourceCol: String = "source",
                        textCol: String = "text"): DataFrame = {
    val grams = docs
      .select(col(sourceCol).as("src"), tokens(col(textCol)).as("t"))
      .where(size(col("t")) > 0)
      .select(col("src"), explode(concat(
        expr("transform(t, x -> struct(0 AS kind, x AS gram))"),
        // guard: sequence(0, -1) DESCENDS in Spark — a 1-token doc must
        // produce a typed empty array, not bogus bigrams
        expr("""CASE WHEN size(t) >= 2
                THEN transform(sequence(0, size(t)-2),
                               i -> struct(1 AS kind, concat(t[i], ' ', t[i+1]) AS gram))
                ELSE cast(array() AS array<struct<kind:int,gram:string>>) END""")))
        .as("kg"))
      .select(col("src"), col("kg.kind").as("kind"), col("kg.gram").as("gram"))
    val occ = grams.groupBy("src", "kind", "gram")
      .agg(count(lit(1)).as("occ"))
    val vocab = occ.groupBy("src").agg(
      count(when(col("kind") === 0, lit(1))).as("distinct_tokens"),
      count(when(col("kind") === 1, lit(1))).as("distinct_bigrams"),
      sum(when(col("kind") === 0, col("occ")).otherwise(lit(0L)))
        .cast("long").as("total_tokens"))
    val nd = docs.groupBy(col(sourceCol).as("src"))
      .agg(count(lit(1)).as("n_docs"))
    nd.join(broadcast(vocab), Seq("src"), "left")
      .select(col("src").as("source"), col("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"),
        coalesce(col("distinct_bigrams"), lit(0L)).as("distinct_bigrams"),
        round(coalesce(col("distinct_tokens"), lit(0L)) /
          greatest(coalesce(col("total_tokens"), lit(0L)), lit(1L)), 6)
          .as("type_token_ratio"))
  }
}
