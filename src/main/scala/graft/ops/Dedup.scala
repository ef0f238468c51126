package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash), MinHash+LSH banding, SimHash, n-gram Jaccard
  * verification.
  *
  * Scale design:
  *  - every stage keys shuffles on a *digest* (md5/band hash), which is
  *    uniformly distributed — no skew regardless of document content;
  *  - MinHash/LSH turns the O(n²) all-pairs problem into
  *    explode(shingles) → per-doc signature → band-bucket self-join,
  *    where only same-bucket pairs are compared (the standard
  *    Broder/Indyk construction);
  *  - all hashing derives from md5 (engine-portable, deterministic)
  *    rather than murmur3, so results are oracle-checkable; the k minhash
  *    permutations are Kirsch-Mitzenmacher combinations (u + i·l mod
  *    2^31-1) of one digest per shingle — see
  *    [[graft.functions.TextExpressions.ShingleMinHash]].
  */
object Dedup {

  /** Word shingles of size n as an array column ([] if too few tokens).
    * Native expression — the equivalent HOF chain (transform + slice +
    * concat_ws + array_distinct) is interpreter-bound. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.TextExpressions.word_shingles(TextStats.tokens(text), n)

  /** Exact dedup: keep the lowest doc_id per normalized-content
    * fingerprint. Output one row per distinct content with its duplicate
    * count. Single hash-shuffle on the digest. */
  def exactDuplicates(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), TextStats.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_cnt"))

  /** Apply exact dedup: the corpus with only the keeper (lowest doc_id)
    * of each normalized-content group. Left-semi join against the keeper
    * set — no row payload shuffled for the probe side's non-matches. */
  def exactDedupedCorpus(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.join(
      exactDuplicates(docs, textCol).select(col("keep_doc_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Incremental ingestion dedup — the daily-shard flow: of the incoming
    * batch, keep one canonical row (lowest doc_id) per normalized-content
    * fingerprint that is NOT already present in the historical corpus.
    * Output: (fingerprint, doc_id).
    *
    * Scale shape: history reduces to DISTINCT fingerprints before the
    * join, so the anti join moves 16-byte digests — never historical row
    * payloads — and both the batch-internal dedup and the anti join hash
    * on the same digest key. With history materialized as a
    * fingerprint-bucketed table (Io.writeBucketed) the anti join needs
    * no shuffle at all on the history side; at 100 TB of history that is
    * the difference between re-shuffling three years and only the day's
    * batch. */
  def incrementalDedup(history: DataFrame, incoming: DataFrame,
                       textCol: String = "text"): DataFrame = {
    val histFp = history
      .select(TextStats.fingerprint(col(textCol)).as("fingerprint"))
      .distinct()
    incoming
      .select(col("doc_id"), TextStats.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"))
      .join(histFp, Seq("fingerprint"), "left_anti")
  }

  /** MinHash signature: k permutations via Kirsch-Mitzenmacher
    * combination of a single md5 per shingle; minhash_i = min over
    * shingles of (u + i·l) mod 2^31-1 (u, l = the digest's two uint64
    * halves). Computed per-row by a native expression (no explode, no
    * shuffle — the signature never leaves the scan projection). */
  def minHashSignatures(docs: DataFrame, textCol: String = "text",
                        numHashes: Int = 8, shingleSize: Int = 3): DataFrame = {
    // Generator barrier: explode of a single-element array evaluates the
    // signature expression exactly once per row (CollapseProject cannot
    // inline through a Generate), WITHOUT an exchange — so downstream
    // join selection still sees the scan's size statistics and keeps
    // broadcasting. A repartition barrier here measured 14× slower at
    // 10× data (stats hidden → sort-merge join of the pair explosion);
    // no barrier at all re-evaluates the hash k times per row.
    val sig = docs.select(col("doc_id"),
      explode(array(graft.functions.TextExpressions.shingle_minhash(
        TextStats.tokens(col(textCol)), shingleSize, numHashes))).as("sig"))
      .where(col("sig").isNotNull)
    sig.select(col("doc_id") +:
      (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** LSH banding over the minhash signature: band j = md5 of its rows.
    * Docs sharing any band hash are near-dup candidates. */
  def lshBands(signatures: DataFrame, numHashes: Int = 8,
               rowsPerBand: Int = 2): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be divisible by rowsPerBand ($rowsPerBand) " +
        "or trailing signature rows would be silently unused")
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band_id"),
        md5(to_binary(concat_ws("|", cols: _*), lit("utf-8"))).as("band_hash"))
    }
    signatures.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"))
  }

  /** Candidate pairs from shared LSH buckets (doc_a < doc_b, distinct).
    * The self-join keys on (band_id, band_hash) — uniform, skew-free
    * for ordinary content.
    *
    * `maxBucketSize`: a corpus with huge duplicate clusters makes some
    * buckets quadratic (a 10k-copy cluster is 50M intra-bucket pairs).
    * With a cap, oversized buckets emit only (min-doc, other) star pairs
    * instead of all pairs — every member still links to the cluster
    * representative, so connected-component dedup is unchanged, but the
    * pair count per bucket drops from O(n²) to O(n). None = exact
    * all-pairs (the oracle-checked default). */
  def candidatePairs(bands: DataFrame, maxBucketSize: Option[Int] = None): DataFrame =
    maxBucketSize match {
      case None =>
        // Co-partition the band stream on the join key: ReuseExchange then
        // serves both self-join sides from ONE materialization of the
        // minhash→bands subtree (otherwise the signature expression chain
        // runs twice, once per side), and the join needs no further
        // exchange. At corpus scale the band relation cannot broadcast
        // anyway — shuffle-on-digest is the plan that survives 100 TB.
        val parts = bands.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        val keyed = bands.repartition(parts, col("band_id"), col("band_hash"))
        val a = keyed.alias("a")
        val b = keyed.alias("b")
        a.join(b,
            col("a.band_id") === col("b.band_id") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band_id", "band_hash")
        val annotated = bands
          .withColumn("__n", count(lit(1)).over(w))
          .withColumn("__min", min(col("doc_id")).over(w))
        val small = annotated.where(col("__n") <= cap)
          .select("doc_id", "band_id", "band_hash")
        val a = small.alias("a")
        val b = small.alias("b")
        val smallPairs = a.join(b,
            col("a.band_id") === col("b.band_id") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        val starPairs = annotated.where(col("__n") > cap && col("doc_id") =!= col("__min"))
          .select(col("__min").as("doc_a"), col("doc_id").as("doc_b"))
        smallPairs.union(starPairs).distinct()
    }

  /** Exact n-gram Jaccard for a pair set: join each side's shingle set
    * to the pair, one fused set-intersection pass per pair.
    *
    * The per-doc set is carried as 64-bit shingle *hashes*
    * (md5_number_lower — engine-portable), not the shingle strings: at
    * millions of candidate pairs the verify join drags two set payloads
    * per pair, and longs are ~5× smaller and intersect allocation-free.
    *
    * The shingle side stays a bare scan+project so join selection sees
    * the parquet size statistics and broadcasts it — the pair side (the
    * side that explodes under dense duplication) then never shuffles.
    * Two rejected alternatives, both measured slower: a repartition
    * barrier (hides the stats → sort-merge join of the pair explosion;
    * 14× slower at 10× data) and a pair-membership semi-join gate
    * (duplicates the whole LSH subtree into the filter's plan). */
  def jaccardVerify(docs: DataFrame, pairs: DataFrame, textCol: String = "text",
                    shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    jaccardVerifyAcross(docs, docs, pairs, "doc_a", "doc_b",
      textCol, shingleSize, threshold)

  /** Two-sided form of [[jaccardVerify]]: the a-side of each pair joins
    * `left`, the b-side joins `right` (pass the same frame twice for the
    * within-corpus case). The single implementation keeps both callers'
    * verification semantics — hash payloads, plan shape, rounding —
    * identical by construction. */
  private def jaccardVerifyAcross(left: DataFrame, right: DataFrame,
                                  pairs: DataFrame, aCol: String, bCol: String,
                                  textCol: String, shingleSize: Int,
                                  threshold: Double): DataFrame = {
    def sh(d: DataFrame, as: String, setName: String) =
      d.select(col("doc_id").as(as),
        graft.functions.TextExpressions.shingle_hashes(
          TextStats.tokens(col(textCol)), shingleSize).as(setName))
    pairs
      .join(sh(left, aCol, "sh_a"), aCol)
      .join(sh(right, bCol, "sh_b"), bCol)
      .withColumn("jaccard",
        graft.functions.TextExpressions.array_jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → bands → candidate
    * pairs → exact-Jaccard verify.
    *
    * Exact-text collapse first (the RefinedWeb/Gopher ordering): docs are
    * grouped by a digest of their TOKEN STREAM — the exact input to
    * shingling, so group members have identical shingle sets, identical
    * minhash signatures and band buckets, and pairwise jaccard exactly
    * 1.0 — and the LSH self-join + shingle-set verification run on ONE
    * representative per group. Group pairs then expand back by pure id
    * arithmetic: intra-group pairs at jaccard 1.0, cross-group pairs
    * inheriting their representatives' verified jaccard. The output is
    * row-identical to running LSH over the raw corpus; what changes is
    * the cost model — a web-scale crawl is dominated by EXACT copies,
    * and without the collapse each 10k-copy text makes every one of its
    * band buckets a 10k-row bucket (50M intra-bucket candidate pairs,
    * each dragging two shingle-hash payloads through the verify join).
    * With it, the quadratic stages see each text once; the expansion's
    * quadratic part is proportional to the OUTPUT pair list, carries
    * 8-byte ids, and touches no text. Measured 10×-scale (90%-exact-dup
    * stress corpus): the near-dup family dropped 3–6× end-to-end.
    *
    * One exchange (on the token digest) feeds the group aggregate and
    * the member↔rep join; one more (on the rep id) is shared by the
    * intra self-join and both cross-expansion joins. */
  def nearDuplicates(docs: DataFrame, textCol: String = "text",
                     numHashes: Int = 8, rowsPerBand: Int = 2,
                     shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val (m, repPairs) = collapsedRepPairs(docs, textCol, numHashes,
      rowsPerBand, shingleSize, threshold)
    // ---- expansion: intra-group pairs (identical token streams,
    // jaccard exactly 1.0) plus cross-group pairs inheriting their
    // representatives' verified jaccard. Quadratic only in the OUTPUT,
    // pure id arithmetic, no text payloads.
    val intra = m.alias("x").join(m.alias("y"),
        col("x.__rep") === col("y.__rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(m.select(col("__rep").as("doc_a"), col("doc_id").as("__da")), "doc_a")
      .join(m.select(col("__rep").as("doc_b"), col("doc_id").as("__db")), "doc_b")
      .select(least(col("__da"), col("__db")).as("doc_a"),
        greatest(col("__da"), col("__db")).as("doc_b"), col("jaccard"))
    intra.unionByName(cross)
  }

  /** The token-stream digest: md5 of the ' '-joined token array. Tokens
    * contain no whitespace (split on \s+), so the join is injective on
    * token streams and the digest is a safe exact-text group key. */
  private[ops] def tokenStreamKey(text: Column): Column =
    md5(to_binary(concat_ws(" ", TextStats.tokens(text)), lit("utf-8")))

  /** Row cap backing [[tinyByEstimate]]'s confirmation probe: the most
    * rows a genuinely broadcast-class side plausibly holds (10 MB
    * default threshold / ~100 B rows ≈ 1e5). Same order as the CC
    * small-graph cutoff, and far below any corpus where losing the
    * exact-collapse matters. */
  private[ops] val TinyMaxRows: Long = 1L << 17

  /** Is `df` broadcast-class — by the planner's estimate AND a bounded
    * row probe? The estimate is the standard Catalyst broadcast test
    * (autoBroadcastJoinThreshold over optimized-plan sizeInBytes, free
    * to evaluate), but it can UNDERESTIMATE by orders of magnitude —
    * heavily-compressed parquet of duplicate text, or CBO selectivity
    * guesses under filters — and a misclassified dup-dense corpus
    * taking an escape path re-opens exactly the quadratic the
    * exact-collapse exists to avoid. So a tiny-looking side must also
    * CONFIRM ≤ [[TinyMaxRows]] rows with one count() job — a single
    * minimal-column scan, paid only when the estimate already said
    * tiny (big sides return false estimate-only, no job). A plain
    * count rather than `limit(cap+1).count()`: GlobalLimit executes
    * in scale-up waves (several jobs), which measured ~3× the one-job
    * count on exactly the tiny sides this gate serves. If the
    * estimate lied, the probe scans the big side once — the bounded
    * price of never re-opening the unbounded quadratic. -1 (broadcast
    * disabled) disqualifies everything. */
  private[ops] def tinyByEstimate(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold &&
      df.count() <= TinyMaxRows
  }

  /** Exact-text collapse shared by the stream-collapsed operators
    * (near-dup, Naive Bayes, span dedup): returns
    * (members `(doc_id, __rep)`, repDocs — `docs` filtered to one rep,
    * the min doc_id, per distinct token stream).
    *
    * Cost shape: the digest relation carries ONLY (doc_id, digest) — the
    * group aggregate and the member join reuse one cheap id-sized
    * exchange (text never shuffles); rep texts come from a doc_id
    * semi-join against the original scan, which AQE broadcasts whenever
    * the rep set fits and otherwise degrades to a hash join — either
    * way the corpus text is scanned, never exchanged.
    *
    * `materialize = false` (tiny-side escape): skips the digest
    * checkpoint AND the repartition, so the group aggregate and member
    * join each carry their own independent scan+hash subtree — the
    * input is scanned twice instead of once, but there is NO shared
    * subtree and therefore no ReuseExchange bet to lose (the flake
    * that forced materialization in the first place); correct for
    * sides the caller can bound (see [[tinyByEstimate]]), where the
    * duplicated scan is cheaper than the fixed eager-checkpoint job.
    * [[crossNearDuplicates]] decides per side automatically. */
  private[ops] def tokenStreamCollapse(docs: DataFrame, textCol: String,
                                       materialize: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    // digest relation materialized once (the SetSimilarity lesson:
    // relying on ReuseExchange to dedupe the two identical repartition
    // subtrees is planner-mood-dependent under AQE full-suite state) —
    // (doc_id, 16-byte digest, token count) rows, one corpus text pass
    // for both the group aggregate and the member join. __nt rides the
    // same pass (tokenization shared with the digest by codegen
    // subexpression elimination, +8 bytes/row) so downstream
    // ELIGIBILITY questions ("can this stream shingle?") answer from
    // the id-sized relation instead of re-scanning and re-hashing the
    // corpus — pre-r18 the member gate in [[collapsedRepPairs]] paid a
    // full text scan + minhash evaluation PER REFERENCE (4 of the 8
    // parquet scans in the q102 plan).
    // a null text counts -1 tokens: size(null) is -1 under legacy
    // sizeOfNull and null otherwise, so the coalesce pins one value
    // for either setting
    val keyedPlan = docs
      .select(col("doc_id"), tokenStreamKey(col(textCol)).as("__tk"),
        coalesce(size(TextStats.tokens(col(textCol))), lit(-1)).as("__nt"))
    val keyed =
      if (materialize) Checkpoints.materialize(keyedPlan.repartition(col("__tk")))
      else keyedPlan
    // __nt is constant within a group (same token stream) except that a
    // null text (-1) shares the empty stream's key with empty texts (0);
    // taking the rep's own count keeps __nt the rep's token count
    val reps = keyed.groupBy("__tk")
      .agg(min("doc_id").as("__rep"), min_by(col("__nt"), col("doc_id")).as("__nt"))
    val members = keyed.join(reps.select("__tk", "__rep"), "__tk")
      .select(col("doc_id"), col("__rep"))
    val repDocs = docs.join(reps.select(col("__rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    (members, repDocs, reps.select(col("__rep"), col("__nt")))
  }

  /** The collapse + rep-level LSH shared by [[nearDuplicates]] and
    * [[nearDupComponents]]: returns (eligible members `(doc_id, __rep)`,
    * verified rep pairs `(doc_a, doc_b, jaccard)`).
    *
    * Eligibility (≥1 shingle, non-null signature) is a property of the
    * token stream — a stream shingles iff its token count reaches the
    * shingle size, exactly [[graft.functions.TextExpressions.ShingleMinHash]]'s
    * null condition — so the gate joins the collapse's id-sized
    * (rep, token count) relation. Pre-r18 it joined the signature
    * relation's ids instead, which re-ran the corpus text scan and the
    * full minhash expression once per member reference (the intra
    * self-join and both cross-expansion joins: 4 scans in the q102
    * plan, none needed). Members are repartitioned on the rep id,
    * which both expansion joins and the intra self-join reuse. */
  private def collapsedRepPairs(docs: DataFrame, textCol: String,
                                numHashes: Int, rowsPerBand: Int,
                                shingleSize: Int, threshold: Double)
      : (DataFrame, DataFrame) = {
    val (members, repDocs, repNt) =
      tokenStreamCollapse(docs, textCol)
    val sigs = minHashSignatures(repDocs, textCol, numHashes, shingleSize)
    val repPairs = jaccardVerify(repDocs,
      candidatePairs(lshBands(sigs, numHashes, rowsPerBand)),
      textCol, shingleSize, threshold)
    val m = members
      .join(repNt.where(col("__nt") >= shingleSize).select("__rep"), "__rep")
      .repartition(col("__rep"))
    (m, repPairs)
  }

  /** Connected components of the near-dup graph, computed WITHOUT ever
    * materializing the expanded pair list: components run over the
    * rep-level graph and group members attach by one id join.
    * Row-identical to `connectedComponents(nearDuplicates(docs, …))` —
    * reps are group minima, so the min-reachable label of a component is
    * the same at either level; a multi-member group with no cross-group
    * edge is its own component labeled by its rep; docs in no pair
    * (singleton groups with no edges, shingle-less docs) are absent from
    * both. What changes is the cost: the closure never sees the
    * per-group cliques (a 10k-copy text contributes 10k membership rows,
    * not 50M edges). */
  def nearDupComponents(docs: DataFrame, textCol: String = "text",
                        numHashes: Int = 8, rowsPerBand: Int = 2,
                        shingleSize: Int = 3, threshold: Double = 0.5,
                        maxIter: Int = 20): DataFrame = {
    val (m, repPairs) = collapsedRepPairs(docs, textCol, numHashes,
      rowsPerBand, shingleSize, threshold)
    componentsFromCollapsed(m, repPairs, maxIter)
  }

  /** [[nearDupComponents]]'s closure + member-attach tail, callable
    * with an externally-derived (eligible members, verified rep pairs)
    * — the shared piece that lets [[LshIndex]]'s fused ingest probe
    * reuse ONE rep band/shingle derivation for both its history check
    * and the within-batch component pass without re-implementing (and
    * silently drifting from) these semantics. */
  private[ops] def componentsFromCollapsed(m: DataFrame, repPairs: DataFrame,
                                           maxIter: Int = 20)
      : DataFrame = {
    val covered = connectedComponents(repPairs, maxIter)
      .select(col("doc_id").as("__rep"), col("component_id"))
    // multi-member groups untouched by any cross-group pair form their
    // own component, labeled (like everywhere else) by the group min
    val own = m.groupBy("__rep").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2).select("__rep")
      .join(covered, Seq("__rep"), "left_anti")
      .select(col("__rep"), col("__rep").as("component_id"))
    m.join(covered.unionByName(own), "__rep")
      .select(col("doc_id"), col("component_id"))
  }

  /** Cross-corpus near-duplicates (doc-level decontamination): MinHash-
    * LSH join of a training corpus against a benchmark/eval set,
    * returning (doc_id, bench_doc_id, jaccard) for every corpus doc
    * that is a near-copy of a benchmark doc. Complements
    * [[Contamination.score]] (shingle-fraction leakage) with whole-
    * document fuzzy matching — the "drop eval look-alikes" gate.
    *
    * Scale: BOTH sides exact-collapse first (the [[nearDuplicates]]
    * treatment — signatures, bands, and jaccard are pure functions of
    * the token stream, so LSH + verification run once per distinct
    * stream and member pairs expand through the rep-level result by
    * two id joins; round-9 100× probe: the uncollapsed form verified
    * every copy×copy candidate and measured 83 s / 135× wall at ~99%
    * dup density — 3.6 s collapsed, output-identical). The benchmark
    * side is eval-set-sized, so its band relation broadcasts
    * (stats-driven) and the corpus side never shuffles for candidate
    * generation; verification joins carry 64-bit shingle hashes, not
    * strings. The OUTPUT still lists every (corpus copy, bench copy)
    * pair — multiplicity² by contract, like any pair listing — but no
    * shingle set is ever computed or compared more than once per
    * distinct text. */
  def crossNearDuplicates(corpus: DataFrame, bench: DataFrame,
                          textCol: String = "text",
                          numHashes: Int = 8, rowsPerBand: Int = 2,
                          shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    // tiny escape: the exact-collapse (reps + member expansion) earns
    // its keep on dup-dense volume (135×→7× at the 100× probe) but is
    // pure fixed cost on small inputs — the disclosed +0.4-0.6 s at
    // dup-light sf0.1. When BOTH sides are broadcast-class by the
    // planner's own estimate, run the raw uncollapsed pipeline
    // (bands join + exact verify on the raw docs — output-identical,
    // the equivalence the collapse fuzz spec asserts); when only one
    // side is tiny, keep the collapse but skip that side's fixed
    // digest-checkpoint job (no shared subtree ⇒ no ReuseExchange bet).
    val tinyC = tinyByEstimate(corpus)
    val tinyB = tinyByEstimate(bench)
    if (tinyC && tinyB) {
      val bandsC = lshBands(minHashSignatures(corpus, textCol, numHashes, shingleSize),
        numHashes, rowsPerBand)
      val bandsB = lshBands(minHashSignatures(bench, textCol, numHashes, shingleSize),
        numHashes, rowsPerBand)
      val cand = bandsC.alias("c").join(bandsB.alias("b"),
          col("c.band_id") === col("b.band_id") &&
          col("c.band_hash") === col("b.band_hash"))
        .select(col("c.doc_id").as("doc_id"), col("b.doc_id").as("bench_doc_id"))
        .distinct()
      return jaccardVerifyAcross(corpus, bench, cand, "doc_id", "bench_doc_id",
        textCol, shingleSize, threshold)
    }
    val (membersC, repC, _) = tokenStreamCollapse(corpus, textCol,
      materialize = !tinyC)
    val (membersB, repB, _) = tokenStreamCollapse(bench, textCol,
      materialize = !tinyB)
    val bandsC = lshBands(minHashSignatures(repC, textCol, numHashes, shingleSize),
      numHashes, rowsPerBand)
    val bandsB = lshBands(minHashSignatures(repB, textCol, numHashes, shingleSize),
      numHashes, rowsPerBand)
    val cand = bandsC.alias("c").join(bandsB.alias("b"),
        col("c.band_id") === col("b.band_id") &&
        col("c.band_hash") === col("b.band_hash"))
      .select(col("c.doc_id").as("doc_id"), col("b.doc_id").as("bench_doc_id"))
      .distinct()
    val repPairs = jaccardVerifyAcross(repC, repB, cand, "doc_id", "bench_doc_id",
      textCol, shingleSize, threshold)
    membersC.select(col("doc_id"), col("__rep").as("__rc"))
      .join(repPairs
        .select(col("doc_id").as("__rc"), col("bench_doc_id").as("__rb"),
          col("jaccard")), "__rc")
      .join(membersB.select(col("doc_id").as("bench_doc_id"),
        col("__rep").as("__rb")), "__rb")
      .select(col("doc_id"), col("bench_doc_id"), col("jaccard"))
  }

  /** Connected components over a near-dup pair graph: every doc that
    * appears in `pairs` is labeled with the minimum doc_id reachable
    * through the pair relation (the component representative).
    * Output: (doc_id, component_id), one row per distinct doc in pairs.
    *
    * Transitive closure is what turns pairwise "A≈B" into corpus-level
    * dedup policy: in a chain A≈B≈C, pairwise dropping can keep both
    * endpoints; component labeling keeps exactly one doc per duplicate
    * cluster.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each
    * round is two hash-shuffles on node id, converges in O(log n) rounds
    * independent of component diameter, and never materializes a
    * neighbor list (no collect_set — a 10M-member duplicate cluster at
    * corpus scale would kill any per-node list). Each round is
    * checkpointed to truncate the iterative lineage — localCheckpoint
    * by default; with a session checkpoint dir (HDFS/S3 on a cluster,
    * see [[Checkpoints]]) a lost executor replays from the reliable
    * checkpoint instead of killing the job at round k. Convergence is
    * an exact set-equality check costing ONE driver action per round:
    * a single left-join aggregate yields |next| and |next ∩ edges|
    * together, and with both sides distinct sets, |next| = |next ∩
    * edges| = |edges| (the previous round's |next|, carried in a
    * variable) ⇔ the edge sets are equal — the count-then-anti-join
    * formulation paid three jobs per round at cluster job-latency
    * prices.
    *
    * `restartDir` (opt-in) additionally commits each round's edge
    * relation as parquet ([[Restart]]) so a run killed at round k —
    * driver and all — resumes from round k in a FRESH session instead
    * of replaying 1..k; the resumed rounds are bit-identical because
    * each round is a deterministic set function of the previous edge
    * set. Costs one edge-sized parquet write per committed round —
    * `restartEvery` commits every k-th round instead (≤ k-1 rounds
    * replay on resume); the dir is per-input (resuming over different
    * `pairs` is operator error). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          smallCutoff: Long = 1L << 17,
                          restartDir: Option[String] = None,
                          restartEvery: Int = 1): DataFrame = {
    require(restartEvery >= 1, s"restartEvery $restartEvery must be >= 1")
    val spark = pairs.sparkSession
    // atMost = maxIter, like pageRank / bpeTrain: a rerun with a
    // smaller budget over a dir holding later rounds must resume AT
    // OR BELOW its own maxIter (resuming past it would throw the
    // non-convergence error below instead of converging)
    val resumed = restartDir.flatMap(Restart.latest(spark, _, atMost = maxIter))
    // orient large→small; drop self-loops. On resume the saved round-k
    // edge set REPLACES the initial build (and the small-graph fast
    // path below is skipped — saved state means the distributed loop
    // was already the chosen path).
    var edges = Checkpoints.materialize(resumed.map(_._2).getOrElse(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v")).distinct()))
    // Small-graph fast path: near-dup edge sets are usually tiny relative
    // to the corpus (dup clusters, not the documents, drive |E|). Below
    // the cutoff a driver union-find replaces ~log n distributed rounds
    // whose per-round job overhead dwarfs the work; the collect is
    // BOUNDED by the cutoff (≈2 MB of longs at the default), same
    // justification as the capped IVF training collect. Above it, the
    // alternating-star loop is the 100 TB path.
    val allLong = edges.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    val nInitial = edges.count()   // on the materialized blocks — cheap
    if (resumed.isEmpty && allLong && nInitial <= smallCutoff) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // union roots at the MIN, so every find() resolves to the
        // component minimum — the loop's fixpoint labeling, exactly
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      import spark.implicits._
      return parent.keysIterator.map(x => (x, find(x))).toSeq
        .toDF("doc_id", "component_id")
    }
    var converged = false
    var i = resumed.map(_._1).getOrElse(0)
    // |edges| for the next round's equality check; every later round
    // reuses the |next| its own aggregate produced (on resume,
    // nInitial IS the saved round's |next| — the count above ran on
    // the saved relation)
    var nEdges = nInitial
    // On resume, allow one verification round even when the saved round
    // is already maxIter: a run that converged EXACTLY at maxIter left
    // round maxIter-1 as its newest commit only if it died first — but
    // a finished run's fixpoint rerun resumes at the last saved round,
    // which can equal maxIter; skipping the loop would then throw the
    // non-convergence error on a converged state. The extra round
    // recomputes the fixpoint state (one smallStar(largeStar) pass)
    // so the convergence CHECK (next == edges) can run — redundant
    // work on an already-converged edge set, never a different result.
    val resumedRound = resumed.map(_._1)
    while (!converged && (i < maxIter || resumedRound.contains(i))) {
      val next = Checkpoints.materialize(smallStar(largeStar(edges)))
      val row = next
        .join(edges.select(col("u"), col("v"), lit(1).as("__in")),
          Seq("u", "v"), "left")
        .agg(count(lit(1)).as("n"), count(col("__in")).as("m"))
        .head()
      val (n, m) = (row.getLong(0), row.getLong(1))
      converged = n == nEdges && m == n
      nEdges = n
      edges = next
      i += 1
      // the converged round is set-equal to its predecessor — saving it
      // would only grow the dir by one redundant snapshot per fixpoint
      // rerun (the verification round above would re-commit every time).
      // `restartEvery` thins the cadence: at most restartEvery-1 rounds
      // replay on resume, for that many fewer edge-sized parquet writes.
      if (!converged && i % restartEvery == 0)
        restartDir.foreach(Restart.save(next, _, i))
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint = disjoint stars: u → component min; centers map to themselves
    edges.select(col("u").as("doc_id"), col("v").as("component_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("component_id")).distinct())
  }

  /** Large-star: every node links its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.where(col("v") > col("u")).join(mins, "u")
      .select(col("v").as("u"), col("m").as("v")).distinct()
  }

  /** Small-star: every node links its smaller neighbors (and itself) to
    * the minimum among them. Input edges are already oriented
    * large→small, so min(v) over the group is the neighborhood min. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    e.join(mins, "u")
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
      .where(col("u") =!= col("v")).distinct()
  }

  /** Transitive near-dup dedup: the corpus with every duplicate cluster
    * reduced to its representative (minimum doc_id). Composes the LSH
    * pipeline with connected components. */
  def nearDedupedCorpus(docs: DataFrame, textCol: String = "text",
                        numHashes: Int = 8, rowsPerBand: Int = 2,
                        shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val losers = nearDupComponents(docs, textCol, numHashes, rowsPerBand,
        shingleSize, threshold)
      .where(col("doc_id") =!= col("component_id"))
      .select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Keep-best near-dup dedup: like [[nearDedupedCorpus]], but the
    * cluster representative is chosen by a quality policy — the longest
    * document (token count) wins, ties broken by minimum doc_id — the
    * "keep best, not first" canonical-selection step of fuzzy-dedup
    * curation pipelines. Output: the kept corpus as
    * (doc_id, n_tokens).
    *
    * Scale: the winner per component is a `max_by` over an orderable
    * (n_tokens, -doc_id) struct — a partial-aggregating groupBy (no
    * per-component sort, no window over the corpus). Both anti-joins key
    * on doc_id; the clustered set (components ∪ losers) is proportional
    * to the duplicated fraction, not the corpus, so AQE broadcasts it
    * when small and falls back to a hash join when it isn't. */
  def keepBestDedup(docs: DataFrame, textCol: String = "text",
                    numHashes: Int = 8, rowsPerBand: Int = 2,
                    shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val comps = nearDupComponents(docs, textCol, numHashes, rowsPerBand,
      shingleSize, threshold)
    val scored = docs.select(col("doc_id"),
      TextStats.tokenCount(col(textCol)).as("n_tokens"))
    val winners = comps.join(scored, "doc_id")
      .groupBy("component_id")
      .agg(max_by(col("doc_id"),
        struct(col("n_tokens"), (-col("doc_id")).as("tie"))).as("doc_id"))
      .select("doc_id")
    val losers = comps.select("doc_id")
      .join(winners, Seq("doc_id"), "left_anti")
    scored.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Dedup diagnostics report: the distribution of duplicate-cluster
    * sizes — for each cluster size, how many clusters and how many
    * documents (≡ size × clusters) sit at that size. The standard
    * before/after artifact of a curation run: it shows whether
    * duplication is a long tail of pairs or a few mega-clusters (which
    * is also exactly the signal that decides `candidatePairs`'
    * maxBucketSize cap).
    *
    * Scale: both aggregations run over the components relation (rows ∝
    * clustered docs), then over one row per cluster — each with map-side
    * partial aggregation; nothing corpus-sized is shuffled twice. Takes
    * the components relation directly — build it with
    * [[nearDupComponents]] (clique-free) or [[connectedComponents]] over
    * an arbitrary pair graph. */
  def clusterSizeReport(comps: DataFrame): DataFrame =
    comps
      .groupBy("component_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Duplicate-span removal, the ExactSubstr flavor of dedup (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", approximated at token granularity): any k-token span that
    * appears verbatim in ≥2 DISTINCT documents is cut from every
    * document containing it; the survivors are reassembled in order.
    * Unlike [[segmentDedup]]'s disjoint fixed windows, grams here
    * overlap at every token position, so a shared span is caught at any
    * alignment — the property the suffix-array construction buys, at
    * k-gram instead of arbitrary-length granularity.
    *
    * Output: (doc_id, clean_text, kept_tokens, removed_tokens); docs
    * with no tokens are absent (the token-derived-relation convention).
    *
    * Scale shape: gram hashes are computed scan-local on the token
    * array (one md5 per position) BEFORE the explode; the duplicate-
    * hash relation reduces by digest-keyed groupBy (min≠max doc_id ⇔
    * cross-doc, no countDistinct); the flag join is digest-keyed (AQE
    * broadcasts it when duplication is sparse); span membership is a
    * dense ROWS window over positions — token j is covered iff a
    * flagged gram starts in [j-k+1, j] — so interval union costs one
    * per-doc-partitioned window, not a self-join; the final reassembly
    * reuses the window's doc_id exchange. */
  def spanDedup(docs: DataFrame, k: Int = 5,
                textCol: String = "text"): DataFrame = {
    require(k >= 2, s"spanDedup: k ($k) must be >= 2")
    // exact-text collapse (see nearDuplicates): the gram explode, the
    // cover window, and the reassembly are pure functions of the token
    // stream, so they run once per distinct stream. "Appears in >= 2
    // distinct documents" becomes "appears in >= 2 distinct streams, OR
    // in a stream with >= 2 copies" — exact copies of a doc duplicate
    // every one of its grams, exactly as the raw per-doc test saw them.
    // digest relation materialized once (two consumers: the group
    // aggregate and the final member join) — (doc_id, 16-byte digest)
    // rows, one corpus text pass instead of two
    val keyed = Checkpoints.materialize(
      docs.select(col("doc_id"), tokenStreamKey(col(textCol)).as("__tk")))
    val reps = keyed.groupBy("__tk").agg(min("doc_id").as("__rep"),
      count(lit(1)).cast("long").as("__n"))
    val streamN = reps.select(col("__tk"), col("__n"))
    val repDocs = docs.join(reps.select(col("__rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // materialized once (the q106 exploded-relation move): the gram
    // relation feeds BOTH the duplicate-hash aggregate and the flag
    // join below, and rebuilding it means re-running one md5 per token
    // position over the whole corpus. Disk-backed blocks of
    // (key, pos, tok, 16-byte digest) per token — the same volume the
    // two consumers each shuffle anyway.
    val pt = Checkpoints.materialize(repDocs
      .select(tokenStreamKey(col(textCol)).as("__tk"),
        TextStats.tokens(col(textCol)).as("ts"))
      .where(size(col("ts")) > 0)
      // multi-copy streams only (∝ dup fraction); AQE picks the strategy
      .join(streamN.where(col("__n") >= 2).withColumnRenamed("__n", "__n2"),
        Seq("__tk"), "left")
      .select(col("__tk"), coalesce(col("__n2"), lit(1L)).as("__n"), explode(expr(
        s"""transform(ts, (x, i) -> struct(i AS pos, x AS tok,
            CASE WHEN i + $k <= size(ts)
                 THEN md5(to_binary(concat_ws(' ', slice(ts, i + 1, $k)), 'utf-8'))
            END AS h))""")).as("p"))
      .select(col("__tk"), col("__n"), col("p.pos"), col("p.tok"), col("p.h")))
    val dup = pt.where(col("h").isNotNull)
      .groupBy("h").agg(min("__tk").as("mn"), max("__tk").as("mx"),
        max("__n").as("mxn"))
      .where(col("mn") =!= col("mx") || col("mxn") >= 2)
      .select(col("h"), lit(1).as("flag"))
    val cover = org.apache.spark.sql.expressions.Window
      .partitionBy("__tk").orderBy("pos")
      .rowsBetween(-(k - 1).toLong, 0L)
    val perStream = pt.join(dup, Seq("h"), "left")
      .withColumn("rm", max(coalesce(col("flag"), lit(0))).over(cover))
      .groupBy("__tk")
      .agg(
        concat_ws(" ", expr(
          """transform(array_sort(collect_list(
               CASE WHEN rm = 0 THEN struct(pos, tok) END)), s -> s.tok)"""))
          .as("clean_text"),
        sum(when(col("rm") === 0, 1).otherwise(0)).cast("long").as("kept_tokens"),
        sum(when(col("rm") === 1, 1).otherwise(0)).cast("long").as("removed_tokens"))
    keyed.select(col("doc_id"), col("__tk"))
      .join(perStream, "__tk")
      .select("doc_id", "clean_text", "kept_tokens", "removed_tokens")
  }

  /** 16-bit SimHash over the token multiset, using the first 4 hex chars
    * of md5(token) as the per-token hash. bit_j(doc) = sign of
    * Σ_tokens (±1). Engine-portable (md5 + arithmetic only). */
  def simHash(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(TextStats.tokens(col(textCol))).as("tok"))
      .withColumn("h16", conv(substring(md5(to_binary(col("tok"), lit("utf-8"))), 1, 4), 16, 10)
        .cast("int"))
    val bitSums = (0 until 16).map { j =>
      sum(when(shiftright(col("h16"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j => when(col(s"s$j") > 0, lit(1 << j)).otherwise(lit(0)))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** Split each document into dedup segments: lines when the corpus has
    * line structure (`delim = Some("\n")`), else fixed non-overlapping
    * `wordsPerSegment`-word windows (flat text, as the synthetic corpus).
    * Output: (doc_id, seg_pos, segment). Scan-local generate — no
    * shuffle. */
  def segments(docs: DataFrame, wordsPerSegment: Int = 10,
               delim: Option[String] = None, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val segArray = delim match {
      // Column-API split: the pattern string goes to the regex engine
      // verbatim (an expr() SQL literal would re-interpret backslashes)
      case Some(d) => split(col(textCol), java.util.regex.Pattern.quote(d))
      case None => expr(
        s"""transform(
              sequence(0, CAST(ceil(size(split($textCol, ' ')) / $wordsPerSegment.0) AS INT) - 1),
              i -> concat_ws(' ', slice(split($textCol, ' '), i * $wordsPerSegment + 1, $wordsPerSegment)))""")
    }
    docs.select(col(idCol), posexplode(segArray).as(Seq("seg_pos", "segment")))
  }

  /** Corpus-level segment (line/paragraph) dedup, CCNet-style: a segment
    * occurring in >= minDocFreq distinct documents is boilerplate and is
    * removed from EVERY document; survivors are reassembled in original
    * order. Output: (doc_id, clean_text, kept_segments, removed_segments)
    * — one row per input document, clean_text = "" when everything was
    * boilerplate.
    *
    * Scale design: the doc-frequency pass shuffles 8-byte xxhash64 keys,
    * never segment strings; the flag join is a plain equi-join on that
    * digest (NOT a broadcast — on a web crawl the duplicated-segment set
    * is itself huge, ~30% of all text, so AQE decides; pass a high
    * minDocFreq for boilerplate-only removal if you want a broadcastable
    * right side). Reassembly is one shuffle keyed on doc_id with the
    * boilerplate flag folded into the aggregate (collect_list skips the
    * NULLed-out duplicate rows), so no second pass over the corpus.
    *
    * The exploded segment relation feeds BOTH the doc-frequency
    * aggregate and the flag join — it is structurally materialized
    * once (the spanDedup `pt` treatment; r18: the un-materialized form
    * re-ran the split/slice/posexplode chain over the whole corpus per
    * reference, 2 scans + 2 Generates in the q60 plan). At the default
    * `minDocFreq = 2` the doc-frequency test "appears in ≥ 2 distinct
    * documents" collapses to min(doc) ≠ max(doc) on ONE map-side
    * combined aggregate — no (h, doc) distinct pre-pass, one exchange
    * instead of two (null ids are counted separately so the fast path
    * stays exactly the distinct-count semantics: DataFrame.distinct
    * treats all-null keys as one value). */
  def segmentDedup(docs: DataFrame, minDocFreq: Int = 2,
                   wordsPerSegment: Int = 10, delim: Option[String] = None,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val seg = Checkpoints.materialize(
      segments(docs, wordsPerSegment, delim, idCol, textCol)
        .withColumn("h", xxhash64(col("segment"))))
    val common =
      if (minDocFreq == 2)
        seg.groupBy("h")
          .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"),
            count(when(col(idCol).isNull, 1)).as("__nn"))
          .where(col("__mn") =!= col("__mx") ||
            (col("__nn") > 0 && col("__mn").isNotNull))
          .select(col("h"), lit(true).as("dup"))
      else
        seg.select(col("h"), col(idCol)).distinct()
          .groupBy("h").agg(count(lit(1)).as("df"))
          .where(col("df") >= minDocFreq)
          .select(col("h"), lit(true).as("dup"))
    seg.join(common, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(
        concat_ws(delim.getOrElse(" "), expr(
          """transform(
               array_sort(collect_list(CASE WHEN dup IS NULL THEN struct(seg_pos, segment) END)),
               s -> s.segment)""")).as("clean_text"),
        count(when(col("dup").isNull, 1)).as("kept_segments"),
        count(col("dup")).as("removed_segments"))
  }

  /** Fuzzy canonical-name pairs (entity resolution): Levenshtein-close
    * pairs over the DISTINCT values of a string column, gated by a
    * blocking key so the quadratic never sees the whole relation.
    * Output: (name_a, name_b, dist), name_a < name_b.
    *
    * Scale design: edit distance can't be hashed, so every fuzzy matcher
    * is blocking + in-block comparison. The comparison runs on the
    * distinct-VALUE relation (≪ row count — names repeat), the self-join
    * keys on the block, and `maxBlock` drops degenerate blocks outright
    * (an oversized block means the blocking key, not the engine, needs
    * work — same contract as the LSH bucket cap). */
  def fuzzyNamePairs(df: DataFrame, nameCol: String,
                     blockKey: Column => Column = substring_index(_, " ", -1),
                     maxDist: Int = 2, maxBlock: Int = 1000): DataFrame = {
    val names = df.select(col(nameCol).as("nm")).where(col("nm").isNotNull)
      .distinct()
      .withColumn("blk", blockKey(col("nm")))
    val fits = names.groupBy("blk").agg(count(lit(1)).as("bn"))
      .where(col("bn") <= maxBlock).select("blk")
    val b = names.join(fits, "blk")
    b.select(col("blk"), col("nm").as("name_a"))
      .join(b.select(col("blk"), col("nm").as("name_b")), "blk")
      .where(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
  }

  /** Per-document duplicate-n-gram mass (RefinedWeb-style): the fraction
    * of a doc's distinct word n-grams that also occur in some OTHER
    * document. High fractions mark boilerplate/template docs that
    * survive exact and near dedup. Output: (doc_id, n_grams, dup_grams,
    * dup_ppm) with dup_ppm = ⌊10⁶·dup/n⌋; gram-free docs are absent (as
    * in every token-derived relation here).
    *
    * Scale design: grams live in 64-bit md5 hash space from the scan on
    * (ShingleHashes — never gram strings); cross-doc occurrence is
    * min(doc)≠max(doc) on one digest-keyed aggregation (the spanDedup
    * trick — no count-distinct); the flag joins back on the same digest
    * key and the per-doc reduce is a map-side-combining count.
    *
    * EAGER: building the DataFrame runs the job that materializes the
    * exploded gram relation ([[Checkpoints.materialize]]), so build it
    * only to run it. */
  def dupGramStats(docs: DataFrame, shingleSize: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the exploded gram relation feeds BOTH the cross-doc aggregate and
    // the flag join — materialized once (r18; the segmentDedup lesson:
    // two references re-ran the tokenize + shingle-md5 corpus pass,
    // 2 text scans in the q79 plan)
    val grams = Checkpoints.materialize(
      docs.select(col(idCol),
        explode(graft.functions.TextExpressions.shingle_hashes(
          TextStats.tokens(col(textCol)), shingleSize)).as("g")))
    val cross = grams.groupBy("g")
      .agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx"))
      .where(col("mn") =!= col("mx"))
      .select(col("g"), lit(true).as("dup"))
    grams.join(cross, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("dup")).as("dup_grams"))
      .select(col(idCol), col("n_grams"), col("dup_grams"),
        expr("(1000000 * dup_grams) div n_grams").as("dup_ppm"))
  }
}
