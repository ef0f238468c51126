package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.io.Io

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design:
  *  - `bruteForceTopK` broadcasts the (small) query set against the corpus
  *    — one pass over the corpus, no shuffle of the big side; per-partition
  *    top-k via the rank window is bounded by |queries| × k rows out;
  *  - `lshTopK` is the scale path: sign-random-projection (SRP) bucket
  *    keys shrink the candidate set from |corpus| to the colliding bucket,
  *    trading recall for a |corpus|/2^planes-fold reduction in distance
  *    computations — the standard Charikar construction;
  *  - all vector math (dot, cosine, SRP buckets, cell argmax) runs in
  *    native Catalyst expressions — one primitive loop per row, no
  *    UDFs, no higher-order-function interpretation; accumulation is in
  *    index order (deterministic, oracle-portable).
  */
object Similarity {

  /** Deterministic "random" hyperplane component for (plane, dim):
    * md5-derived value in [-0.5, 0.5). Reproducible across runs/engines.
    * Exposed so oracle SQL can embed the identical constants. */
  private[graft] def planeComponent(plane: Int, dim: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"srp|$plane|$dim".getBytes("UTF-8"))
    val v = java.nio.ByteBuffer.wrap(h).getLong(0)
    (v.toDouble / Long.MaxValue.toDouble) / 2.0
  }

  /** Dot product of two array<float/double> columns, double accumulator.
    * Backed by a native codegen'd Expression — the higher-order
    * `aggregate(zip_with(...))` formulation is CodegenFallback and ~40×
    * slower on all-pairs joins. */
  def dot(a: Column, b: Column): Column = VectorExpressions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused one-pass cosine; same fold order as three separate dot
    * products, so results are bit-identical to the naive form. */
  def cosine(a: Column, b: Column): Column =
    VectorExpressions.cosine_similarity(a, b)

  /** Rank scored (query_id, neighbor_id, cos_sim) candidates to each
    * query's top k via the bounded-heap aggregate: partial aggregation
    * reduces every input partition to ≤ k rows per query BEFORE the
    * exchange, where the equivalent rank-window formulation shuffles and
    * sorts every candidate row. Ordering contract is identical:
    * (cos_sim desc, neighbor_id asc), ranks 1-based. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.AggExpressions.top_k_by_score(
        col("cos_sim"), col("neighbor_id").cast("long"), k).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("nb"))
      .select(col("query_id"), col("nb.rnk").as("rnk"),
        col("nb.id").as("neighbor_id"),
        round(col("nb.score"), 4).as("cos_sim"))

  /** Exact top-k cosine neighbors for each query vector (baseline).
    * `queries` and `corpus` must both have (idCol, vecCol). Broadcasts
    * the QUERY side — for a bounded query set against an unbounded
    * corpus. For the mirrored shape (corpus-scale queries against a
    * bounded reference set) use [[bruteForceTopKSmallCorpus]], which
    * produces bit-identical results with the broadcast flipped. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Exact top-k with the broadcast on the CORPUS side: one scan over an
    * arbitrarily large query relation, each row scored against the
    * broadcast (bounded) corpus. Same scoring, same (cos_sim desc, id
    * asc) ranking, same bounded-heap partial aggregation as
    * [[bruteForceTopK]] — results are bit-identical; only the physical
    * build side differs. The exchange still carries ≤ k rows per query
    * (map-side heap), so the plan is linear in |queries| with no
    * unbounded broadcast — the label-propagation shape, where the
    * labeled reference set is small and the unlabeled corpus is not. */
  def bruteForceTopKSmallCorpus(queries: DataFrame, corpus: DataFrame, k: Int,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = broadcast(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** SRP-LSH bucket key: `planes` sign bits of deterministic hyperplane
    * dot products, packed into an int. Callers must validate vector
    * length ≥ dim first (the dimGuard filter) — a short vector buckets
    * to 0, which would silently collapse the LSH gate into a full
    * cross product.
    *
    * Backed by the native [[VectorExpressions.SrpBucket]]: the composed
    * `element_at · lit` column tree is planes×dim nodes (576 at the
    * corpus-scaled 9 planes) that janino compiles and evaluates per
    * corpus row — the measured dominant cost of the ANN corpus side.
    * The native loop is bit-identical (same left-associative
    * d-ascending accumulation, same ≥ 0 bit rule, same short-vector
    * zero — spec-asserted against the composed form), so the DuckDB
    * oracles that replicate the composed arithmetic still match. */
  def srpBucket(vec: Column, dim: Int, planes: Int): Column =
    VectorExpressions.srp_bucket(vec, dim, planes,
      (0 until planes).map(p => (0 until dim).map(d => planeComponent(p, d))))

  /** The composed-column formulation [[srpBucket]] replaced — retained
    * as the spec's equality reference (it is the arithmetic the DuckDB
    * oracles embed). */
  private[graft] def srpBucketComposed(vec: Column, dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { pIdx =>
      val proj = (0 until dim).map { d =>
        element_at(vec, d + 1).cast("double") * lit(planeComponent(pIdx, d))
      }.reduce(_ + _)
      when(proj >= 0, lit(1 << pIdx)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** Per-row width guard as a standalone filter predicate: true for
    * valid rows, raises for short vectors — the row fails at scan time
    * instead of silently mapping to bucket 0 (which would collapse the
    * LSH gate into a full cross product), and unlike a sampled
    * driver-side check it catches a mixed-width corpus on every row.
    * Kept OUT of the bucket projection — attaching the guard to the
    * bucket expression itself (as an added CASE) measured 2× on
    * q21/q38, while a small separate filter is free. */
  private def dimGuard(vec: Column, dim: Int): Column =
    when(size(vec) >= dim, lit(true))
      .otherwise(raise_error(concat(
        lit("srpBucket: vector has "), size(vec).cast("string"),
        lit(s" dims, need >= $dim"))).cast("boolean"))

  /** ANN via SRP-LSH: candidates = same-bucket rows (plus queries join on
    * bucket key — a hash join, not a cross join), then exact re-rank.
    * Recall < 1.0 by construction; bucket count 2^planes tunes the
    * candidates-per-query ratio at scale. `planes = 0` (default) scales
    * with the corpus via [[srpPlanesFor]] — at a fixed plane count,
    * candidates per query grow ∝ corpus (the 100× probe measured q21
    * at 4× wall); auto-scaling holds expected bucket occupancy (and so
    * per-query candidate count) ~constant, trading recall on BORDERLINE
    * neighbors, the trade [[annRecall]] exists to measure. The floor
    * keeps sub-8k-vector corpora on the published fixed-4 behavior.
    *
    * When auto-scaling raises the plane count ABOVE the floor, the
    * query side switches to Hamming-1 multi-probe
    * ([[multiProbeTopK]]): the round-9 recall harness measured
    * single-probe recall collapsing as planes scale on cluster-free
    * corpora (13.6% → 1.2% at 4 → 9 planes on uniform vectors) while
    * multi-probe held ~4× higher — so the scaled default keeps the
    * occupancy bound AND most of the recall, at (p+1)× candidates per
    * query (still occupancy-bounded per probe). An EXPLICIT `planes`
    * value keeps the published single-probe behavior — callers who
    * pin the hash own the recall trade. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int = 64,
              planes: Int = 0, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    // top-k cost is occupancy × |queries| (not occupancy² as in the
    // pair join), and each extra plane costs dim multiplies per corpus
    // row — so the occupancy target is coarser here than
    // cosineNearDuplicatesLsh's 500
    val p = if (planes > 0) planes else srpPlanesFor(corpus.count(), targetBucket = 4096)
    if (planes == 0 && p > 4)   // auto-scaled past the floor: multi-probe
      return multiProbeTopK(queries, corpus, k, dim, p, idCol, vecCol)
    val q = broadcast(
      queries.where(dimGuard(col(vecCol), dim))
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          srpBucket(col(vecCol), dim, p).as("bucket")))
    val c = corpus.where(dimGuard(col(vecCol), dim))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        srpBucket(col(vecCol), dim, p).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Recall@k of an approximate neighbor result against exact truth —
    * the evaluation harness every ANN deployment runs before trading
    * recall for speed. Both inputs are (query_id, rnk, neighbor_id,
    * cos_sim) relations ([[bruteForceTopK]] / [[lshTopK]] /
    * [[multiProbeTopK]] / [[ivfTopK]] shapes); output one row per
    * TRUTH query: (query_id, n_true, n_hit, recall_ppm) with
    * recall_ppm = ⌊10⁶·|approx ∩ truth|/|truth|⌋. Queries the approx
    * side missed entirely (empty bucket) score 0, never drop out.
    *
    * Scale: one equi-join on (query_id, neighbor_id) over two ≤ k·|Q|
    * relations — the evaluator costs nothing next to the pipelines it
    * measures. The approx side always broadcasts, which assumes a
    * BOUNDED query set: approx is ≤ k·|Q| rows by construction, so for
    * the harness's intended shape (thousands of queries) the broadcast
    * is MBs. */
  def annRecall(truth: DataFrame, approx: DataFrame): DataFrame = {
    // approx ends in an aggregate+generate whose output size the
    // planner can't estimate — without the hint the bounded case fell
    // back to a sort-merge join of two tiny relations
    val hits = approx.select(col("query_id"), col("neighbor_id"),
      lit(1L).as("__hit"))
    truth.select(col("query_id"), col("neighbor_id"))
      .join(broadcast(hits), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_true"),
        coalesce(sum("__hit"), lit(0L)).cast("long").as("n_hit"))
      .select(col("query_id"), col("n_true"), col("n_hit"),
        expr("(1000000 * n_hit) div n_true").as("recall_ppm"))
  }

  /** [[annRecall]] of the SRP-LSH path (as [[lshTopK]] would run it:
    * single-probe at the floor or an explicit plane count, Hamming-1
    * multi-probe when auto-scaled past it) against brute-force truth
    * on the same query/corpus split — the recall number that justifies
    * (or rejects) the LSH gate for a given corpus. */
  def lshRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                dim: Int = 64, planes: Int = 0, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    annRecall(bruteForceTopK(queries, corpus, k, idCol, vecCol),
      lshTopK(queries, corpus, k, dim, planes, idCol, vecCol))

  /** Multi-probe SRP-LSH ANN: each query probes its own bucket PLUS the
    * `planes` buckets at Hamming distance 1 (one sign bit flipped) —
    * the standard multi-probe trade (Lv et al., VLDB'07): near-miss
    * neighbors sit just across one hyperplane, so probing adjacent
    * buckets recovers most of single-probe's lost recall without adding
    * hash tables or re-bucketing the corpus.
    *
    * Scale: the CORPUS is still bucketed exactly once (the expensive
    * side at 100 TB); only the broadcast query side fans out ×(planes+1)
    * via a literal probe-offset array — the join stays a hash join on
    * the bucket key, candidates grow ~(planes+1)× per query, and the
    * bounded-heap top-k still caps the exchange at k rows per query.
    * A candidate reached through two probes is deduplicated by
    * max-over-pair before ranking (same score either way — max is just
    * the cheapest dedup that keeps the partial-agg pipeline). */
  def multiProbeTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     dim: Int = 64, planes: Int = 0,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // planes = 0 → corpus-scaled (see lshTopK); the Hamming-1 probe
    // set grows with the plane count, recovering part of the recall
    // the finer bucketing gives up
    val p = if (planes > 0) planes
            else srpPlanesFor(corpus.count(), targetBucket = 4096)
    // probe offsets: 0 (home bucket) and each single-bit flip
    val offsets = array((0L +: (0 until p).map(1L << _).map(_.toLong))
      .map(lit): _*)
    val q = broadcast(
      queries.where(dimGuard(col(vecCol), dim))
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          srpBucket(col(vecCol), dim, p).cast("long").as("home"))
        .select(col("query_id"), col("qv"), col("home"),
          explode(offsets).as("flip"))
        .withColumn("bucket",
          col("home").bitwiseXOR(col("flip")).cast("int"))
        .select("query_id", "qv", "bucket"))
    val c = corpus.where(dimGuard(col(vecCol), dim))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        srpBucket(col(vecCol), dim, p).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(max(cosine(col("qv"), col("cv"))).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Driver-side spherical k-means (Lloyd's, cosine assignment) over a
    * bounded training sample. Deterministic: first-`nlist` init over the
    * lowest-id sample, ties to the lowest cell. Centroids are plain
    * component means — cosine is scale-invariant in the centroid, so
    * normalizing them would not change any assignment. */
  private def trainCentroids(train: Array[Array[Double]], nlist: Int,
                             maxIter: Int): Array[Array[Double]] = {
    val dim = train.head.length
    var cent = train.take(nlist).map(_.clone)
    var iter = 0
    while (iter < maxIter) {
      val norms = cent.map(c => math.sqrt(c.map(x => x * x).sum))
      val sums = Array.ofDim[Double](cent.length, dim)
      val cnts = new Array[Long](cent.length)
      train.foreach { v =>
        val c = nearestCell(cent, norms, v)
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
        cnts(c) += 1
      }
      cent = cent.indices.map { i =>
        if (cnts(i) == 0) cent(i)             // empty cell keeps its centroid
        else sums(i).map(_ / cnts(i))
      }.toArray
      iter += 1
    }
    cent
  }

  /** argmax of cosine(v, centroid), ties to the lowest cell. Zero-norm
    * pairs score 0.0 and the sqrt form is sqrt(nc)·sqrt(nv) — the SAME
    * arithmetic as [[VectorExpressions.NearestCell]], so training
    * assigns every vector to the cell the distributed expression will
    * later put it in. */
  private[ops] def nearestCell(cent: Array[Array[Double]], norms: Array[Double],
                               v: Array[Double]): Int = {
    var nv = 0.0
    var d = 0
    while (d < v.length) { nv += v(d) * v(d); d += 1 }
    val normV = math.sqrt(nv)
    var best = 0; var bestCos = java.lang.Double.NEGATIVE_INFINITY
    var i = 0
    while (i < cent.length) {
      val c = cent(i)
      val m = math.min(c.length, v.length)
      var dotCv = 0.0
      d = 0
      while (d < m) { dotCv += c(d) * v(d); d += 1 }
      val cos = if (norms(i) == 0.0 || normV == 0.0) 0.0
                else dotCv / (norms(i) * normV)
      if (cos > bestCos) { bestCos = cos; best = i }
      i += 1
    }
    best
  }

  /** IVF (inverted-file) ANN: k-means centroids partition the corpus
    * into `nlist` cells; a query probes only its `nprobe` nearest cells
    * and re-ranks exactly. The scale path when SRP buckets are too
    * coarse: |corpus|/nlist·nprobe distance computations per query, and
    * the cell assignment is a plain hash join on cluster id.
    *
    * Training follows the standard IVF recipe: a bounded sample
    * (lowest `maxTrain` ids — one TakeOrdered pass, deterministic) is
    * collected to the driver, spherical k-means runs locally, and the
    * tiny centroid set is broadcast back as literals. The corpus itself
    * is never shuffled for training, so the 100 TB path is one scan for
    * assignment + one hash join — no MLlib iteration jobs.
    *
    * Sizing at scale: candidates per query ≈ n · nprobe / nlist, so at
    * a FIXED nlist candidate work grows linearly with the corpus (the
    * 100× probe measured the fixed-16 default at 0.95 s for 200k
    * vectors — benign there, but linear). `nlist = 0` (the default
    * since round 10) derives the cluster count from the corpus via
    * [[ivfNlistFor]] — the faiss √n guidance, capped by the training
    * sample exactly like [[semDedupNlist]] — which keeps candidates
    * per query ~√n instead of ∝ n. Shrinking the probe FRACTION
    * nprobe/nlist is a direct recall cut, so `nprobe` stays
    * caller-owned: grow it with nlist when recall matters, and pick
    * the pair with [[annRecall]] against [[bruteForceTopK]] truth on a
    * sample — the measured recall-vs-nprobe curve for the 100× replica
    * is in SCALE.md. Explicit `nlist > 0` keeps the published
    * fixed-count behavior. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 0, nprobe: Int = 4, idCol: String = "vec_id",
              vecCol: String = "embedding", maxIter: Int = 5,
              maxTrain: Int = 4096, corpusSize: Long = 0L): DataFrame = {
    // corpusSize > 0: the caller already knows the corpus cardinality
    // (a catalog stat, a prior count, a session memo) — skip the
    // auto-sizing count() job, the one per-call fixed cost this
    // operator otherwise pays (the r10 +0.15 s on q29). The value only
    // feeds nlist derivation, so a stale-but-close figure degrades
    // sizing, never correctness.
    val nl = if (nlist > 0) nlist
             else ivfNlistFor(if (corpusSize > 0) corpusSize else corpus.count(),
               maxTrain = maxTrain)
    val cent = trainedCentroids(corpus, nl, maxIter, maxTrain, idCol, vecCol)

    // distributed cell assignment: a native argmax expression holding the
    // centroid matrix — ties to the lowest cell, one scan, no shuffle
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      VectorExpressions.nearest_cell(col(vecCol), cent.map(_.toSeq).toSeq).as("cell"))

    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = cent.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val wCell = Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("dist", -cosine(col("qv"), col("centroid")))
      .withColumn("cell_rnk", row_number().over(wCell))
      .where(col("cell_rnk") <= nprobe)
      .select("query_id", "qv", "cell")
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** [[ivfTopK]]'s corpus-scaled cluster count: the faiss guidance
    * (nlist ≈ √n, so per-query candidate work n·nprobe/nlist grows
    * ~√n instead of ∝ n), floored at `base` = 16 — the pre-round-10
    * fixed default, so it also pins the oracle floor — and capped at
    * `maxTrain / minTrainPerCell` exactly like [[semDedupNlist]]: the
    * cluster count must not outgrow the bounded driver training
    * sample, and raising `maxTrain` raises the cap in lockstep (the
    * one-knob 100 TB move). Exposed so the Verify-time q29 oracle
    * generator computes the IDENTICAL count from the same corpus. */
  def ivfNlistFor(corpusSize: Long, base: Int = 16,
                  maxTrain: Int = 4096, minTrainPerCell: Int = 16): Int = {
    val cap = math.max(base.toLong, maxTrain.toLong / minTrainPerCell)
    val want = math.round(math.sqrt(math.max(0L, corpusSize).toDouble))
    math.min(cap, math.max(base.toLong, want)).toInt
  }

  /** The centroids [[ivfTopK]] trains for a given corpus — same bounded
    * lowest-id sample, same Lloyd iterations, fully deterministic.
    * Exposed so the q29 oracle can embed them as SQL literals (the q38
    * constant-embedding trick applied to learned constants). */
  def trainedCentroids(corpus: DataFrame, nlist: Int = 16, maxIter: Int = 5,
                       maxTrain: Int = 4096, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Array[Array[Double]] =
    trainedCentroidsFromSample(
      collectTrainSample(corpus, maxTrain, idCol, vecCol), nlist, maxIter)

  /** DISTRIBUTED Lloyd's over the WHOLE corpus — the trainer that
    * removes the driver-sample cap on nlist: [[trainedCentroids]]
    * trains on ≤ maxTrain collected rows, so nlist ≤ 4096 and cluster
    * quality is the sample's; at 100 TB an IVF index wants
    * nlist ~ √n ≈ 10⁵, trained on everything. Per iteration: one
    * corpus scan assigning via the codegen'd broadcast-centroid
    * [[graft.functions.VectorExpressions.NearestCell]] (the SAME
    * cosine-argmax arithmetic as every serve/build path), one
    * cell-keyed exchange of per-cell ELEMENT-WISE INTEGER sums, one
    * nlist-row collect (bounded: nlist·dim longs — the output's own
    * size, which must broadcast anyway).
    *
    * Determinism is the design constraint a naive distributed Lloyd's
    * violates: floating-point partial sums arrive in partition order,
    * which is not stable, so double-summed centroids differ run to
    * run and no oracle can re-derive them. Here each component is
    * rounded ONCE to integer micros
    * (`CAST(round(x·1e6) AS BIGINT)` — the engine's standard
    * one-rounding-then-integer-sums trick) and summed with the
    * order-independent [[graft.functions.AggExpressions
    * .VectorSumLong]]; the update is
    * `(sum.toDouble / count) / 1e6` in exactly that association, so
    * centroids are BIT-IDENTICAL across runs, partitionings, and
    * engines (oracle q134 re-derives two full iterations in DuckDB).
    * The ~1e-6 component quantization is noise against k-means'
    * own convergence tolerance. Init = the lowest `nlist` ids (the
    * driver trainer's rule, unbounded); empty cells keep their
    * centroid. Feed the result to [[buildIvfIndex]] /
    * [[Pq.buildIvfPqIndex]] via their `trainedCent` hook. */
  def trainCentroidsDistributed(corpus: DataFrame, nlist: Int,
                                maxIter: Int = 5,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): Array[Array[Double]] = {
    require(nlist > 0, s"nlist ($nlist) must be positive")
    var cent = collectTrainSample(corpus, nlist, idCol, vecCol)
    require(cent.nonEmpty, "trainCentroidsDistributed: empty corpus")
    val micros = expr(
      s"transform($vecCol, x -> cast(round(cast(x as double) * 1000000.0) as bigint))")
    var iter = 0
    while (iter < maxIter) {
      val centSeq = cent.map(_.toSeq).toSeq
      val rows = corpus
        .select(graft.functions.VectorExpressions
            .nearest_cell(col(vecCol), centSeq).as("cell"),
          micros.as("m"))
        .groupBy("cell")
        .agg(graft.functions.AggExpressions.vector_sum_long(col("m")).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val upd = cent.map(_.clone)
      rows.foreach { r =>
        val cell = r.getInt(0)
        val s = r.getSeq[Long](1)
        val cnt = r.getLong(2)
        upd(cell) = s.map(v => (v.toDouble / cnt) / 1e6).toArray
      }
      cent = upd
      iter += 1
    }
    cent
  }

  /** DISTRIBUTED per-half (product) k-means — the trainer that fixes
    * [[trainCentroidsDistributed]]'s flat-assignment wall at the
    * huge-nlist regime it exists for (the r14 verdict's one demerit):
    * each flat iteration assigns every corpus row via the broadcast
    * NearestCell over ALL nlist centroids — O(nlist·d) per row,
    * measured at 42–55 s per 1M×64 rows at nlist=16,384 (SCALE.md r14
    * addendum 3) and extrapolating to ~340 s/1M rows at the
    * nlist ~ 10⁵ a 100 TB router wants, times maxIter, times 10⁹
    * rows. Here the coarse quantizer is the IMI PRODUCT of two
    * half-space quantizers ([[buildImiIndex]]'s structure): train the
    * two kPerHalf-centroid sets as INDEPENDENT k-means problems over
    * the half-vectors, so per-row assignment is O(kPerHalf·d) total —
    * the √nlist win (kPerHalf = √nlist for equal cell count), the
    * same 121× the serve-side routing already measured.
    *
    * Per iteration: ONE corpus scan (not one per half — the two
    * half-assignments are two struct branches of the same projection,
    * exploded to (half, cell, half-micros) rows), one exchange keyed
    * (half, cell) of the order-independent integer-micro
    * [[graft.functions.AggExpressions.VectorSumLong]] partials, one
    * 2·kPerHalf-row collect (the output's own size). Both halves
    * advance in lockstep from the same scan, so training two halves
    * costs the same corpus passes as training one.
    *
    * Determinism is [[trainCentroidsDistributed]]'s contract verbatim
    * — per component ONE rounding to integer micros, order-independent
    * long sums, update = (sum.toDouble/count)/1e6 in that exact
    * association — and the fused scan is PURE OPTIMIZATION: the result
    * is bit-identical to running the flat distributed trainer on each
    * half-sliced corpus separately (spec-asserted), and the q144
    * oracle re-derives both half trainings end-to-end in DuckDB with
    * no embedded constants. Init = the lowest kPerHalf ids' half
    * slices (the house init rule); empty cells keep their centroid;
    * first half = components [0, d/2), second = [d/2, d), exactly
    * [[trainedImiCentroids]]'s split. Feed the result to
    * [[buildImiIndex]] / [[Pq.buildImiPqIndex]] via `trainedCent`. */
  def trainImiCentroidsDistributed(corpus: DataFrame, kPerHalf: Int,
                                   maxIter: Int = 5,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding")
      : (Array[Array[Double]], Array[Array[Double]]) = {
    require(kPerHalf > 0, s"kPerHalf ($kPerHalf) must be positive")
    val init = collectTrainSample(corpus, kPerHalf, idCol, vecCol)
    require(init.nonEmpty, "trainImiCentroidsDistributed: empty corpus")
    val d = init.head.length
    require(d >= 2, s"IMI needs dim >= 2 to split, got $d")
    val h = d / 2
    var c1 = init.map(_.take(h))
    var c2 = init.map(_.drop(h))
    val slice1 = s"slice($vecCol, 1, $h)"
    val slice2 = s"slice($vecCol, ${h + 1}, ${d - h})"
    def micros(slice: String) = expr(
      s"transform($slice, x -> cast(round(cast(x as double) * 1000000.0) as bigint))")
    var iter = 0
    while (iter < maxIter) {
      val rows = corpus
        .select(explode(array(
          struct(lit(0).as("half"),
            graft.functions.VectorExpressions
              .nearest_cell(expr(slice1), c1.map(_.toSeq).toSeq).as("cell"),
            micros(slice1).as("m")),
          struct(lit(1).as("half"),
            graft.functions.VectorExpressions
              .nearest_cell(expr(slice2), c2.map(_.toSeq).toSeq).as("cell"),
            micros(slice2).as("m")))).as("a"))
        .select(col("a.half").as("half"), col("a.cell").as("cell"),
          col("a.m").as("m"))
        .groupBy("half", "cell")
        .agg(graft.functions.AggExpressions.vector_sum_long(col("m")).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val u1 = c1.map(_.clone)
      val u2 = c2.map(_.clone)
      rows.foreach { r =>
        val half = r.getInt(0)
        val cell = r.getInt(1)
        val s = r.getSeq[Long](2)
        val cnt = r.getLong(3)
        val upd = s.map(v => (v.toDouble / cnt) / 1e6).toArray
        if (half == 0) u1(cell) = upd else u2(cell) = upd
      }
      c1 = u1
      c2 = u2
      iter += 1
    }
    (c1, c2)
  }

  /** The deterministic bounded training sample every driver-side
    * trainer here uses: the lowest `maxTrain` ids, one TakeOrdered
    * pass. Exposed package-private so a build that trains BOTH an IVF
    * router and PQ codebooks ([[Pq.buildIvfPqIndex]]) collects it
    * once instead of running the identical corpus job twice. */
  private[ops] def collectTrainSample(corpus: DataFrame, maxTrain: Int,
                                      idCol: String,
                                      vecCol: String): Array[Array[Double]] = {
    val train = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy("id").limit(maxTrain)
      .collect().map(_.getSeq[Double](1).toArray)
    require(train.nonEmpty, "collectTrainSample: empty corpus")
    train
  }

  /** [[trainedCentroids]] over an already-collected sample. */
  private[ops] def trainedCentroidsFromSample(train: Array[Array[Double]],
                                              nlist: Int,
                                              maxIter: Int): Array[Array[Double]] =
    trainCentroids(train, math.min(nlist, train.length), maxIter)

  /** Train-once / serve-many IVF index: persists what [[ivfTopK]]
    * recomputes per call — the trained centroids and the cell-assigned
    * corpus — so repeated query batches pay neither the training
    * collect nor the corpus-wide [[VectorExpressions.nearest_cell]]
    * scan. This is the serving shape a 100 TB corpus actually uses:
    * the index build is the one corpus-sized job, run once per corpus
    * version; each batch after it touches only the probed cells.
    *
    * Layout (in the next generation `dir/gen-<n>`, [[Generations]]):
    * `centroids` (cell, centroid) — nlist rows — and
    * `corpus` written `partitionBy(cell)`. Hive-partitioning on the
    * cell id (rather than bucketing) is deliberate: the serving join
    * broadcasts the tiny probed set, so there is no shuffle for
    * bucketing to save, while partition PRUNING means a batch reads
    * ~nprobe/nlist of the corpus bytes instead of all of them —
    * dynamic partition pruning fires on the broadcast cell join, and
    * nlist (~√n, bounded by [[ivfNlistFor]]'s cap) keeps the directory
    * fan-out far below any object-store listing limit.
    *
    * Determinism: the same bounded lowest-id training sample as
    * [[ivfTopK]]; centroids round-trip parquet as exact doubles, so
    * [[ivfTopKIndexed]] is bit-identical to an [[ivfTopK]] call with
    * the same sizing (spec-asserted).
    *
    * Layout: each ingest unit owns `corpus/shard=<id>/cell=<n>/` (the
    * build is `shard=base`) — same per-shard overwrite/replay contract
    * as [[LshIndex]], and cell pruning is unaffected (partition
    * filters prune on any partition column). */
  def buildIvfIndex(corpus: DataFrame, dir: String, nlist: Int = 0,
                    maxIter: Int = 5, maxTrain: Int = 4096,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    corpusSize: Long = 0L,
                    trainedCent: Option[Array[Array[Double]]] = None): Unit = {
    // trainedCent: pre-trained centroids (e.g.
    // [[trainCentroidsDistributed]] at nlist beyond the sample cap) —
    // the build then skips its own training and just assigns/persists
    val cent = trainedCent.getOrElse {
      val nl = if (nlist > 0) nlist
               else ivfNlistFor(if (corpusSize > 0) corpusSize else corpus.count(),
                 maxTrain = maxTrain)
      trainedCentroids(corpus, nl, maxIter, maxTrain, idCol, vecCol)
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    Generations.writeNext(spark, dir) { gen =>
      cent.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/centroids")
      writeIvfShard(corpus, gen, cent.map(_.toSeq).toSeq, "base", idCol, vecCol)
    }
  }

  /** Append a vector shard to a [[buildIvfIndex]] directory — the
    * standard IVF add: new vectors are assigned to the FROZEN persisted
    * centroids (one scan-local NearestCell pass over the shard, no
    * retraining, no corpus touch) and land in their cells under
    * `shard=<id>`. Re-running the same shardId replaces that shard
    * (idempotent — the ingest-replay contract). Frozen centroids mean
    * recall for appended vectors depends on how well the build-time
    * cells cover them; scoring stays exact (the probe re-ranks by true
    * cosine), so a full probe (nprobe = nlist) remains exact over the
    * union (spec-asserted). Rebuild when drift accumulates — the same
    * trade faiss's add() makes. `shardId` is required, not
    * random-defaulted, for the same reason as [[LshIndex.append]]: a
    * retried append must overwrite the crashed attempt's shard, not
    * orphan a partial one whose rows would duplicate probe output. */
  def appendToIvfIndex(shard: DataFrame, dir: String, shardId: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    require(shardId.nonEmpty && shardId != "base" &&
      shardId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"shardId '$shardId' must be a non-'base' [A-Za-z0-9_-]+ token")
    val spark = shard.sparkSession
    val root = Generations.root(spark, dir)
    val cent = Io.readParquet(spark, s"$root/centroids")
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](1))
    writeIvfShard(shard, root, cent.toSeq, shardId, idCol, vecCol)
  }

  /** In-place IVF compaction — [[LshIndex.compactInPlace]]'s twin:
    * accreted append shards rewrite into one `shard=base` under the
    * next generation, with the same `keepShards` replay contract for
    * the streaming cadence (the in-flight batch's shard survives under
    * its own id so a post-compaction replay can still exclude its own
    * rows). Centroids copy verbatim; served results are identical
    * (spec-asserted). */
  def compactIvfIndexInPlace(spark: SparkSession, dir: String,
                             keepShards: Seq[String] = Nil): Unit = {
    val root = Generations.root(spark, dir)
    Generations.writeNext(spark, dir) { gen =>
      Io.readParquet(spark, s"$root/centroids")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/centroids")
      val all = Io.readParquet(spark, s"$root/corpus")
      all.where(!col("shard").isin(keepShards: _*)).drop("shard")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$gen/corpus/shard=base")
      keepShards.foreach { ks =>
        all.where(col("shard") === ks).drop("shard")
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$gen/corpus/shard=$ks")
      }
    }
  }

  // ------------------------------------------------------------------
  // IMI — the inverted multi-index (Babenko & Lempitsky, CVPR 2012):
  // the coarse quantizer is a PRODUCT of two half-space quantizers
  // with kPerHalf centroids each. Cell count = kPerHalf², per-row
  // assignment cost O(kPerHalf·d) instead of the flat O(nlist·d) —
  // measured on the 1M×64 replica (SCALE.md round-14 addendum 3): at
  // nlist=16384 the flat NearestCell scan costs 42 s where the two half-space
  // NearestCells cost 0.4–0.6 s (111×), and the gap grows as √nlist.
  // This is the routing structure a 100 TB corpus needs once nlist
  // crosses ~10⁴ (nlist ~ √n wants ~10⁵ there), where the flat
  // assignment scan — paid once per corpus row at build AND per
  // appended row forever — becomes the dominant index cost.
  // ------------------------------------------------------------------

  /** The two half-space centroid sets an IMI index trains: ONE bounded
    * lowest-id sample (the [[trainedCentroids]] recipe), each half
    * trained independently on its slice of the sampled vectors —
    * deterministic, so the q138 oracle embeds the identical arrays as
    * SQL literals (the q29 trick). First half = components [0, d/2),
    * second = [d/2, d). */
  def trainedImiCentroids(corpus: DataFrame, kPerHalf: Int,
                          maxIter: Int = 5, maxTrain: Int = 4096,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding")
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val sample = collectTrainSample(corpus, maxTrain, idCol, vecCol)
    val d = sample.head.length
    require(d >= 2, s"IMI needs dim >= 2 to split, got $d")
    val h = d / 2
    (trainedCentroidsFromSample(sample.map(_.take(h)), kPerHalf, maxIter),
     trainedCentroidsFromSample(sample.map(_.drop(h)), kPerHalf, maxIter))
  }

  /** Build an IMI-routed ANN index: [[buildIvfIndex]]'s layout with
    * the product coarse quantizer. `dir/centroids_h1`/`_h2` hold the
    * half-space centroid tables; the corpus lands cell-assigned under
    * `corpus/shard=base` with cell = c1·kPerHalf + c2, each half
    * assigned by the SAME codegen'd [[VectorExpressions.nearest_cell]]
    * the flat family uses — on its slice, which is the whole cost
    * story. The write repartitions by cell first: kPerHalf² is
    * thousands of hive dirs where flat nlist was dozens, and an
    * unrepartitioned partitionBy writes tasks×cells files (the r14
    * hive fan-out lesson); one exchange bounds it at one file per
    * cell. Scoring stays exact (true cosine over probed cells), so a
    * full probe (nprobe = kPerHalf²) is exact over any shard set —
    * spec-asserted, the same contract as the flat IVF index. */
  def buildImiIndex(corpus: DataFrame, dir: String, kPerHalf: Int,
                    maxIter: Int = 5, maxTrain: Int = 4096,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    trainedCent: Option[(Array[Array[Double]],
                      Array[Array[Double]])] = None,
                    pointLayout: Boolean = false,
                    pointLayoutFiles: Int = 64): Unit = {
    val (c1, c2) = trainedCent.getOrElse(
      trainedImiCentroids(corpus, kPerHalf, maxIter, maxTrain, idCol, vecCol))
    require(c1.nonEmpty && c2.nonEmpty && c1.length == c2.length,
      s"IMI half-centroid sets must be non-empty and equal-sized, " +
        s"got ${c1.length} and ${c2.length}")
    val spark = corpus.sparkSession
    import spark.implicits._
    Generations.writeNext(spark, dir) { gen =>
      c1.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/centroids_h1")
      c2.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/centroids_h2")
      // the layout is a property of the STORE (appends must match it —
      // a mixed corpus dir would read cell as a partition column in one
      // shard and a data column in another), so it persists in params
      Seq(Tuple1(if (pointLayout) pointLayoutFiles else 0))
        .toDF("point_layout_files")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/params")
      writeImiShard(corpus, gen, c1.map(_.toSeq).toSeq, c2.map(_.toSeq).toSeq,
        "base", idCol, vecCol, if (pointLayout) pointLayoutFiles else 0)
    }
  }

  /** Append a vector shard to a [[buildImiIndex]] directory — the
    * frozen-centroid add, [[appendToIvfIndex]]'s contract verbatim
    * (required shardId, overwrite-replay idempotence, exactness of
    * the full probe over the union). The IMI point: each appended row
    * pays O(kPerHalf·d), not O(kPerHalf²·d) — at streaming-ingest
    * rates the flat assignment would be the pipeline's hot loop. */
  def appendToImiIndex(shard: DataFrame, dir: String, shardId: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    require(shardId.nonEmpty && shardId != "base" &&
      shardId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"shardId '$shardId' must be a non-'base' [A-Za-z0-9_-]+ token")
    val spark = shard.sparkSession
    val root = Generations.root(spark, dir)
    // read through the dense-numbering check (r14 advice): writeImiShard
    // indexes these arrays BY cell id, so a sparse or renumbered
    // centroid relation must refuse loudly, not assign against the
    // wrong centroids — the same guard appendToImiPqIndex already gets
    // via Pq.collectCentroidTable
    def half(p: String): Array[Seq[Double]] =
      Pq.collectCentroidTable(Io.readParquet(spark, s"$root/$p")).map(_.toSeq)
    // the shard must land in the store's layout (persisted at build)
    val plf = Io.readParquet(spark, s"$root/params")
      .select("point_layout_files").head().getInt(0)
    writeImiShard(shard, root, half("centroids_h1").toSeq,
      half("centroids_h2").toSeq, shardId, idCol, vecCol, plf)
  }

  private def writeImiShard(vectors: DataFrame, root: String,
                            c1: Seq[Seq[Double]], c2: Seq[Seq[Double]],
                            shardId: String, idCol: String,
                            vecCol: String, pointLayoutFiles: Int): Unit = {
    val kk = c1.length
    val h = c1.head.length
    val d = h + c2.head.length
    val rows = vectors.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      (VectorExpressions.nearest_cell(
          expr(s"slice($vecCol, 1, $h)"), c1) * kk +
        VectorExpressions.nearest_cell(
          expr(s"slice($vecCol, ${h + 1}, ${d - h})"), c2)).as("cell"))
    val path = s"$root/corpus/shard=$shardId"
    // pointLayoutFiles > 0 = cell-sorted rows in a BOUNDED file count
    // (the Pq.writeShardRows treatment — the layout for kPerHalf²
    // past ~16k cells, where even one-file-per-cell is a file-count
    // wall); 0 = cell=<n>/ hive partitions, one file per cell via the
    // cell-keyed repartition
    if (pointLayoutFiles > 0)
      rows.repartitionByRange(pointLayoutFiles, col("cell"))
        .sortWithinPartitions("cell", "neighbor_id")
        .write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(path)
    else
      rows.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** Embedding near-duplicates of a probe batch against a
    * [[buildImiIndex]] directory — [[cosineNearDuplicatesIndexed]]
    * with the product router: every (probe, index) pair with cosine
    * >= `threshold`, searched in the probe's `nprobe` IMI-routed
    * cells ([[imiRoutedCells]], the q138 routing). Same output
    * contract ((vec_id, index_vec_id, cos_sim·1e-4-rounded)), same
    * recall caveats (a near-dup in an unprobed cell is missed;
    * nprobe = kPerHalf² is exact, spec-asserted), same id-space
    * semantics (collisions are NOT filtered — see the flat sibling's
    * scaladoc), same `excludeShards` ingest-replay filter. */
  def imiNearDuplicates(probe: DataFrame, dir: String, threshold: Double,
                        nprobe: Int = 4, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        excludeShards: Seq[String] = Nil): DataFrame = {
    val spark = probe.sparkSession
    val root = Generations.root(spark, dir)
    val c1 = Io.readParquet(spark, s"$root/centroids_h1")
    val c2 = Io.readParquet(spark, s"$root/centroids_h2")
    val assigned0 = Io.readParquet(spark, s"$root/corpus")
    val assigned =
      if (excludeShards.isEmpty) assigned0
      else assigned0.where(!col("shard").isin(excludeShards: _*))
    val q = probe.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    assigned.join(broadcast(imiRoutedCells(q, c1, c2, nprobe)), Seq("cell"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
      .where(col("cos_sim") >= threshold)
      .select(col("query_id").as(idCol),
        col("neighbor_id").as("index_vec_id"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Serve top-k ANN from a [[buildImiIndex]] directory. Routing is
    * the IMI win's second half: a query scores kPerHalf centroids per
    * half (2·kPerHalf rows through the broadcast, not kPerHalf²),
    * takes each half's top min(nprobe, kPerHalf), and ranks only the
    * ≤ nprobe² combined pairs by summed half-cosines — lossless,
    * because a pair outside some half's top-nprobe is dominated by
    * nprobe strictly-better pairs sharing its other half (strictly by
    * the (dist, cell) tie order), so it can never make the global
    * top-nprobe. One floating-point caveat (r14 advice): the dominance
    * is strict on the REAL sums; if fl(s1(a')+s2(b)) rounds equal to
    * fl(s1(a)+s2(b)) despite s1(a') > s1(a), the cell-asc tiebreak can
    * rank the pruned pair above its dominator, so the pruning is
    * almost-surely (not provably) identical to all-pairs routing on
    * adversarial inputs. The DuckDB oracles prune with the identical
    * rounded sums, so cross-engine verification is unaffected either
    * way. Probed cells then score exactly, [[ivfTopKIndexed]]'s
    * tail verbatim: same cosine, same (cos_sim desc, id) ranks. */
  def imiTopKIndexed(queries: DataFrame, dir: String, k: Int,
                     nprobe: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val root = Generations.root(spark, dir)
    val c1 = Io.readParquet(spark, s"$root/centroids_h1")
    val c2 = Io.readParquet(spark, s"$root/centroids_h2")
    val assigned = Io.readParquet(spark, s"$root/corpus")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probed = imiRoutedCells(q, c1, c2, nprobe)
    val joined = assigned.join(broadcast(probed), Seq("cell"))
    val scored =
      (if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
       else joined)
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** The IMI routing stage shared by [[imiTopKIndexed]] and
    * [[graft.ops.Pq.imiPqTopK]]: per-half top-min(nprobe, kPerHalf)
    * half-cells by cosine on the slice, then the ≤ nprobe² combined
    * pairs ranked by summed half-cosines, top nprobe kept — lossless
    * (the dominance argument on [[imiTopKIndexed]]). Returns
    * (query_id, qv, cell). One shared body so the two serves route
    * bit-identically. */
  private[ops] def imiRoutedCells(q: DataFrame, c1: DataFrame,
                                  c2: DataFrame, nprobe: Int): DataFrame = {
    val kk = c1.count().toInt
    val h = c1.select(size(col("centroid"))).head().getInt(0)
    val h2 = c2.select(size(col("centroid"))).head().getInt(0)
    val np = math.min(nprobe, kk)
    val w = Window.partitionBy("query_id")
    val top1 = q.crossJoin(broadcast(
        c1.select(col("cell").as("c1"), col("centroid").as("cent1"))))
      .withColumn("d1", -cosine(expr(s"slice(qv, 1, $h)"), col("cent1")))
      .withColumn("rn", row_number().over(w.orderBy(asc("d1"), asc("c1"))))
      .where(col("rn") <= np)
      .select("query_id", "qv", "c1", "d1")
    val top2 = q.crossJoin(broadcast(
        c2.select(col("cell").as("c2"), col("centroid").as("cent2"))))
      .withColumn("d2", -cosine(expr(s"slice(qv, ${h + 1}, $h2)"), col("cent2")))
      .withColumn("rn", row_number().over(w.orderBy(asc("d2"), asc("c2"))))
      .where(col("rn") <= np)
      .select("query_id", "c2", "d2")
    top1.join(top2, Seq("query_id"))
      .withColumn("cell", col("c1") * kk + col("c2"))
      .withColumn("rn", row_number().over(
        w.orderBy((col("d1") + col("d2")).asc, col("cell").asc)))
      .where(col("rn") <= nprobe)
      .select("query_id", "qv", "cell")
  }

  private def writeIvfShard(vectors: DataFrame, root: String,
                            cent: Seq[Seq[Double]], shardId: String,
                            idCol: String, vecCol: String): Unit =
    vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        VectorExpressions.nearest_cell(col(vecCol), cent).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/corpus/shard=$shardId")

  /** Serve top-k ANN from a [[buildIvfIndex]] directory: probe the
    * nprobe closest cells per query against the persisted centroids,
    * then score only those cells' corpus rows. No training, no
    * corpus-wide assignment — the plan over `dir/corpus` is a pruned
    * scan + broadcast join (spec asserts no NearestCell anywhere).
    * Same scoring, ranking, and tie-breaks as [[ivfTopK]]; results are
    * bit-identical to a fresh call with the index's sizing.
    *
    * `excludeSelf` (default true, the ANN-family convention) filters
    * the trivial self pair when queries ARE corpus rows; pass false
    * when query ids live in a DIFFERENT namespace than the index (the
    * enrichment shape, [[graft.streaming.IngestStream.annEnrich]]) —
    * an id collision there is not a self pair, and dropping it would
    * silently hide a true neighbor. Same knob as
    * [[graft.ops.Pq.ivfPqTopKIndexed]]. */
  def ivfTopKIndexed(queries: DataFrame, dir: String, k: Int,
                     nprobe: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val root = Generations.root(spark, dir)
    val centroids = Io.readParquet(spark, s"$root/centroids")
    val assigned = Io.readParquet(spark, s"$root/corpus")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val wCell = Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("dist", -cosine(col("qv"), col("centroid")))
      .withColumn("cell_rnk", row_number().over(wCell))
      .where(col("cell_rnk") <= nprobe)
      .select("query_id", "qv", "cell")
    val joined = assigned.join(broadcast(probed), Seq("cell"))
    val scored =
      (if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
       else joined)
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Embedding near-duplicates of a probe batch against a
    * [[buildIvfIndex]] directory: every (probe vector, index vector)
    * pair with cosine >= `threshold`, searched in each probe vector's
    * `nprobe` closest cells — the thresholded sibling of
    * [[ivfTopKIndexed]] and the history-side primitive of semantic
    * ingest dedup ([[graft.streaming.IngestStream]]). Output
    * (vec_id, index_vec_id, cos_sim·1e-4-rounded).
    *
    * Recall: a near-dup in an unprobed cell is missed (the IVF family
    * contract); for dedup thresholds the duplicate is by definition
    * close to the probe, so the nearest cells capture it far more
    * reliably than generic top-k probes — and `nprobe = nlist` is
    * EXACT (spec-asserted against the brute-force pair listing).
    *
    * `excludeShards` is the ingest-replay filter, partition-pruned
    * exactly as in [[LshIndex.nearDuplicates]].
    *
    * Id spaces are NOT assumed disjoint: a probe row whose vec_id
    * equals an index row's is still compared (same as
    * [[LshIndex.nearDuplicates]] — an id-collision guard here would
    * silently drop true cross-source duplicates whenever two sources
    * number from 0). Probing an index that literally contains the
    * probe rows therefore returns their trivial self pairs; self-check
    * flows filter `vec_id =!= index_vec_id` themselves. */
  def cosineNearDuplicatesIndexed(probe: DataFrame, dir: String,
                                  threshold: Double, nprobe: Int = 4,
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding",
                                  excludeShards: Seq[String] = Nil): DataFrame = {
    val spark = probe.sparkSession
    val root = Generations.root(spark, dir)
    val centroids = Io.readParquet(spark, s"$root/centroids")
    val assigned0 = Io.readParquet(spark, s"$root/corpus")
    val assigned =
      if (excludeShards.isEmpty) assigned0
      else assigned0.where(!col("shard").isin(excludeShards: _*))
    val q = probe.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val wCell = Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("dist", -cosine(col("qv"), col("centroid")))
      .withColumn("cell_rnk", row_number().over(wCell))
      .where(col("cell_rnk") <= nprobe)
      .select("query_id", "qv", "cell")
    assigned.join(broadcast(probed), Seq("cell"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
      .where(col("cos_sim") >= threshold)
      .select(col("query_id").as(idCol),
        col("neighbor_id").as("index_vec_id"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Int8 quantization of an embedding column: per-vector max-abs scale,
    * component -> floor(x / scale * 127 + 0.5) in [-127, 127] (floor+0.5
    * instead of round(): identical half-up semantics in every engine,
    * where round() is half-even in some). The compact storage format of
    * an ANN serving layer — 4x smaller than float32, cosine-rank
    * preserved to ~1% for unit-norm vectors.
    *
    * Scale: pure scan-local projection (one dot_product for the norm,
    * one linear transform); zero vectors quantize to zeros with scale 0. */
  def quantizeInt8(vectors: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    vectors
      .select(col(idCol), col(vecCol).as("v"),
        expr(s"aggregate($vecCol, CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))").as("scale"))
      .select(
        col(idCol),
        round(col("scale"), 6).as("scale"),
        when(col("scale") === 0.0, expr("transform(v, x -> 0)"))
          .otherwise(expr(
            "transform(v, x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS INT))"))
          .as("q"))

  /** Embedding-cosine near-duplicate pairs above a similarity threshold.
    * Brute-force form for correctness; at scale, feed `candidatePairs`
    * from an SRP bucketing instead of the full cross product. */
  def cosineNearDuplicates(vectors: DataFrame, threshold: Double,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val a = vectors.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Scale path for near-dup pairs: SRP buckets gate the self-join
    * (equi-join on bucket, not a cross product), then exact cosine
    * verification. Recall < 1 by construction — near-identical vectors
    * share all sign bits with high probability.
    *
    * `planes = 0` (the default) scales the hyperplane count WITH the
    * corpus via [[srpPlanesFor]] — the round-9 100× probe measured the
    * fixed-4-planes regime at 65× wall for 100× vectors (16 buckets ⇒
    * bucket occupancy ∝ n ⇒ the pair join is quadratic in n; the same
    * defect class semDedup's fixed nlist had). Auto-scaling keeps
    * expected occupancy ~constant, making candidates ∝ n. Costs one
    * count() job; the floor keeps small-corpus output bit-identical to
    * the old fixed 4. More planes lower recall for BORDERLINE pairs
    * (exact/near-exact duplicates still collide — all sign bits
    * agree); when borderline recall matters at scale, the multi-probe
    * expansion ([[multiProbeTopK]]'s Hamming-1 trick) composes with
    * this bucketing. */
  def cosineNearDuplicatesLsh(vectors: DataFrame, threshold: Double,
                              dim: Int = 64, planes: Int = 0,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val p = if (planes > 0) planes else srpPlanesFor(vectors.count())
    // NOTE: no repartition(bucket) barrier here — with only 2^planes
    // distinct buckets that would collapse the corpus into ≤2^planes
    // partitions and serialize the join at scale. The join's own
    // exchange handles co-location; the bucket expression evaluates once
    // per side, which is cheap relative to the pair verification.
    val withBucket = vectors.where(dimGuard(col(vecCol), dim))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        srpBucket(col(vecCol), dim, p).as("bucket"))
    val a = withBucket.select(col("id").as("id_a"), col("v").as("va"), col("bucket"))
    val b = withBucket.select(col("id").as("id_b"), col("v").as("vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** [[cosineNearDuplicatesLsh]]'s corpus-scaled hyperplane count:
    * enough sign bits that the EXPECTED bucket occupancy is
    * ~`targetBucket` under a uniform spread — ceil(log2(n/target)) —
    * floored at 4 (tiny corpora keep the published fixed-planes
    * behavior bit-identically, which also keeps the sf0.01 oracle
    * static) and capped at 24 (16.7M buckets — at the default target
    * that binds only past ~8.4B vectors, i.e. past any single-table
    * corpus this engine partitions one job over; the hard limit is 30,
    * the sign-bit budget of the packed Int bucket key). The cap is NOT
    * sample-bound like [[semDedupNlist]]'s — SRP trains nothing; each
    * extra plane costs `dim` multiplies per corpus row and one more
    * Hamming-1 probe on the query side, and past the cap bucket
    * occupancy resumes growing ∝ n (the regime the round-10 cap probe
    * measures as a plane-count↔occupancy sweep in SCALE.md). Exposed
    * so callers sizing a probe sequence can compute the same count. */
  def srpPlanesFor(corpusSize: Long, targetBucket: Int = 500,
                   floor: Int = 4, cap: Int = 24): Int = {
    require(cap <= 30, s"srpPlanesFor: cap $cap exceeds the Int bucket's 30-bit budget")
    val needed = math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(cap, math.max(floor, needed))
  }

  /** SemDedup (Abbas et al., arXiv:2303.09540): embedding-level semantic
    * dedup with k-means cells bounding the pairwise search. Vectors in
    * the SAME cell with cosine >= threshold are semantic duplicates;
    * duplicate groups are closed transitively (large-star/small-star
    * components, the q42 machinery) and only the lowest-id member of
    * each group is kept. Output: (vec_id, cell) for every kept vector.
    *
    * Scale shape, as the paper intends: centroids train on a bounded
    * driver-side sample and broadcast as literals (ivfTopK recipe), cell
    * assignment is one scan-local argmax, and the quadratic pair search
    * is confined to each cell (~n/nlist rows) via an equi-join on cell —
    * never a corpus-wide cross product. Cross-cell near-dups are missed
    * by construction; that recall loss is the published tradeoff.
    *
    * `nlist = 0` (the default) scales the cluster count WITH the corpus
    * via [[semDedupNlist]] — the paper trains more clusters on bigger
    * corpora precisely because a fixed cell count makes the per-cell
    * pair search quadratic in data size (the 10× stress measured q62 at
    * 4.7× wall for 10× vectors under fixed nlist=16). Costs one
    * count() job over the corpus before training. */
  def semDedup(corpus: DataFrame, threshold: Double = 0.4, nlist: Int = 0,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxIter: Int = 5, maxTrain: Int = 4096): DataFrame = {
    val k = if (nlist > 0) nlist
            else semDedupNlist(corpus.count(), maxTrain = maxTrain)
    val cent = trainedCentroids(corpus, k, maxIter, maxTrain, idCol, vecCol)
    // the cell assignment (corpus scan + a k·dim argmax per row) feeds
    // THREE consumers — both pair-join sides and the final keep
    // anti-join — so it materializes once (see [[Checkpoints]]) instead
    // of re-scanning and re-scoring the corpus per consumer
    val assigned = Checkpoints.materialize(corpus.select(col(idCol),
      col(vecCol).as("v"),
      VectorExpressions.nearest_cell(col(vecCol), cent.map(_.toSeq).toSeq).as("cell")))
    val losers = cellPairLosers(assigned, idCol, threshold)
      .select(col("doc_id").as(idCol))
    assigned.join(losers, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell").cast("long").as("cell"))
  }

  /** [[semDedup]]'s in-cell search under the FROZEN centroids of a
    * [[buildIvfIndex]] directory: the non-representative members
    * (column `doc_id`) of the batch's within-batch semantic-dup
    * components, cells assigned by the index's centroids rather than
    * batch-trained ones — so an ingest flow ([[graft.streaming
    * .IngestStream]]) bounds its within-batch pair search with the
    * SAME cell geometry its history probe uses. One scan-local
    * assignment pass over the batch; no corpus touch. */
  def semDedupLosersIndexed(batch: DataFrame, dir: String,
                            threshold: Double, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val cent = Io.readParquet(batch.sparkSession,
      s"${Generations.root(batch.sparkSession, dir)}/centroids")
      .orderBy("cell").collect().map(r => r.getSeq[Double](1))
    // materialized once, same as semDedup's own assignment: the
    // relation feeds both pair-join sides, and betting on ReuseExchange
    // to dedupe the twin scan+argmax subtrees is planner-mood-dependent
    val assigned = Checkpoints.materialize(
      batch.select(col(idCol), col(vecCol).as("v"),
        VectorExpressions.nearest_cell(col(vecCol), cent.toSeq).as("cell")))
    cellPairLosers(assigned, idCol, threshold)
  }

  /** In-cell cosine pair search + component closure over an `assigned`
    * (id, v, cell) relation; returns the non-representative members
    * (doc_id ≠ component_id) — shared by [[semDedup]] and
    * [[semDedupLosersIndexed]]. */
  private def cellPairLosers(assigned: DataFrame, idCol: String,
                             threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col(idCol).as("doc_a"), col("v").as("va"))
    val b = assigned.select(col("cell"), col(idCol).as("doc_b"), col("v").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .where(col("doc_a") < col("doc_b"))
      .where(cosine(col("va"), col("vb")) >= threshold)
      .select("doc_a", "doc_b")
    Dedup.connectedComponents(pairs)
      .where(col("doc_id") =!= col("component_id"))
      .select("doc_id")
  }

  /** [[semDedup]]'s corpus-scaled cluster count: one cluster per
    * `targetCell` vectors, floored at `base` so tiny corpora keep the
    * paper's published behavior, capped at `maxTrain /
    * minTrainPerCell` so the cluster count never outgrows the bounded
    * driver-side training sample (the defaults give 4096/16 = 256 —
    * the pre-round-10 constant, so defaulted callers are unchanged).
    * Exposed so the Verify-time oracle generator computes the
    * IDENTICAL count from the same corpus — cells are part of q62's
    * declared output.
    *
    * The cap is DERIVED, not a constant: beyond cap·targetCell
    * distinct vectors (~65k at defaults) per-cell cost grows linearly
    * again, and the 100 TB move is raising `maxTrain` — the cap rises
    * with it automatically, trading a larger (still bounded,
    * maxTrain·dim doubles) driver sample and an O(maxTrain·nlist·dim)
    * driver training loop for cells that stay ~targetCell-sized.
    * [[semDedup]] threads its own `maxTrain` through, so one knob
    * moves sample and cap together; the capped-vs-raised regimes are
    * measured in SCALE.md (round-10 cap probe). */
  def semDedupNlist(corpusSize: Long, base: Int = 16, targetCell: Int = 256,
                    maxTrain: Int = 4096, minTrainPerCell: Int = 16): Int = {
    val cap = math.max(base.toLong, maxTrain.toLong / minTrainPerCell)
    math.min(cap, math.max(base.toLong,
      (corpusSize + targetCell - 1) / targetCell)).toInt
  }

  /** Per-label embedding pooling: class centroid (as exact micro-unit
    * component sums — consumers divide by n) plus the mean cosine of
    * members to their centroid (the class-coherence score used to rank
    * label quality / find mislabeled strata).
    *
    * One corpus scan, one shuffle: both the raw-vector sum and the
    * unit-normalized sum ride the native `vector_sum_long` aggregate
    * (map-side partial vectors — the posexplode formulation would
    * shuffle n·dim scalar rows). The mean cosine needs NO second pass:
    * mean_i cos(x_i, c) = dot(Σ x_i/|x_i|, Σ x_i) / (n·|Σ x_i|), so it
    * is a projection over the two pooled vectors.
    *
    * Cross-engine determinism: components are fixed to integer
    * micro-units per row (floor(x·1e6 + 0.5), the q59 recipe) BEFORE
    * aggregation, so the sums are exact integers in any partition
    * order; the final cosine is one float expression over identical
    * integers on both engines (left-assoc dot products). */
  def labelCentroids(vectors: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    import graft.functions.AggExpressions
    val base = vectors
      .select(col(labelCol), expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("vd"))
      .withColumn("nrm", sqrt(VectorExpressions.dot_product(col("vd"), col("vd"))))
      .select(col(labelCol),
        expr("transform(vd, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))").as("s"),
        when(col("nrm") === 0.0, expr("transform(vd, x -> CAST(0 AS BIGINT))"))
          .otherwise(expr("transform(vd, x -> CAST(floor(x / nrm * 1e6 + 0.5) AS BIGINT))"))
          .as("u"))
    val pooled = base.groupBy(labelCol)
      .agg(count(lit(1)).as("n"),
        AggExpressions.vector_sum_long(col("s")).as("sv"),
        AggExpressions.vector_sum_long(col("u")).as("uv"))
    val svd = expr("transform(sv, x -> CAST(x AS DOUBLE))")
    val uvd = expr("transform(uv, x -> CAST(x AS DOUBLE))")
    val ss = VectorExpressions.dot_product(svd, svd)
    val su = VectorExpressions.dot_product(uvd, svd)
    // su is (1e6·unit)·(1e6·raw)-scaled and sqrt(ss) only 1e6-scaled —
    // one residual 1e6 divides out to land on the true cosine
    pooled.select(col(labelCol), col("n"),
      expr("concat_ws(',', transform(sv, x -> CAST(x AS STRING)))").as("centroid_sum_csv"),
      round(when(ss === 0.0, lit(0.0))
        .otherwise(su / (col("n") * sqrt(ss) * lit(1e6))), 6).as("mean_cos"))
  }

  /** Top principal component of the (mean-centered) embedding corpus,
    * trained from ONE aggregate pass: per-row micro-int quantized
    * vectors (floor(x·1e6 + 0.5), the labelCentroids recipe) and their
    * upper-triangle outer products fold through `vector_sum_long`, so
    * the exchange carries one d- and one d(d+1)/2-length vector per
    * partition and the driver sees only those exact-integer sums —
    * n·S2 − S·Sᵀ is the covariance up to scale, formed in BigInt then
    * taken to double. Power iteration (fixed 50 rounds, deterministic
    * 1/√d start, sign canon: largest-|component| positive, lowest index
    * on ties) runs driver-side on the d×d matrix — bounded work, like
    * the IVF k-means. Returns (mean, unit eigenvector).
    *
    * Used by [[pcaProject]] and by the Verify-time oracle generator
    * (same call = same doubles = bit-identical literals on both
    * engines, the q29 trained-centroid pattern). */
  def trainedPc(corpus: DataFrame, vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    import graft.functions.AggExpressions
    val agg = corpus
      .select(expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))")
        .as("qv"))
      .select(col("qv"), expr(
        "flatten(transform(sequence(0, size(qv) - 1), " +
          "i -> transform(sequence(i, size(qv) - 1), j -> qv[i] * qv[j])))").as("pv"))
      .agg(count(lit(1)).as("n"),
        AggExpressions.vector_sum_long(col("qv")).as("s"),
        AggExpressions.vector_sum_long(col("pv")).as("p"))
      .head()
    val n = BigInt(agg.getAs[Long]("n"))
    require(n > 0, "trainedPc: empty corpus")
    val s = agg.getSeq[Long](1).toArray
    val p = agg.getSeq[Long](2).toArray
    val d = s.length
    val cov = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      val c = (n * BigInt(p(idx)) - BigInt(s(i)) * BigInt(s(j))).toDouble
      cov(i)(j) = c; cov(j)(i) = c
      idx += 1
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < 50) {
      val w = new Array[Double](d)
      for (i <- 0 until d) {
        var acc = 0.0
        for (j <- 0 until d) acc += cov(i)(j) * v(j)
        w(i) = acc
      }
      val nw = math.sqrt(w.map(x => x * x).sum)
      if (nw > 0) v = w.map(_ / nw)   // zero-variance corpus: keep start
      it += 1
    }
    val k = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(k) < 0) v = v.map(-_)
    val mean = s.map(_.toDouble / 1e6 / n.toDouble)
    (mean, v)
  }

  /** PCA projection onto the corpus's own top principal component —
    * the dimensionality-reduction primitive (cluster/visualize/binning
    * before curation). Output: (vec_id, pc1), pc1 = (x − μ)·v rounded
    * to 6 dp. The projection itself is a scan-local left-associated
    * expression with μ/v baked in as literals — no second shuffle. */
  def pcaProject(corpus: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val (mu, v) = trainedPc(corpus, vecCol)
    val vd = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    val proj = v.indices.map { i =>
      (element_at(vd, i + 1) - lit(mu(i))) * lit(v(i))
    }.reduce(_ + _)
    corpus.select(col(idCol), round(proj, 6).as("pc1"))
  }

  /** kNN label propagation (weak supervision): each query vector takes
    * the majority label of its k exact nearest labeled neighbors; ties
    * break to more votes, then the smaller label. Output:
    * (query_id, pred_label, votes).
    *
    * Scale shape: rides [[bruteForceTopKSmallCorpus]] — the LABELED
    * reference set is the bounded side (labels are expensive; the
    * unlabeled corpus is not), so it is the broadcast build side and the
    * query relation streams through one scan with a bounded-heap top-k
    * (exchange carries ≤ k rows per query). Nothing corpus-scale is
    * ever broadcast, so the plan is linear in |queries|. The label join
    * broadcasts the same bounded (neighbor_id, label) set; the argmax
    * is two same-partitioned aggregates on query_id, never a window
    * sort. If BOTH sides are corpus-scale, gate candidate generation
    * with [[lshTopK]]/[[ivfTopK]] instead. */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val nn = bruteForceTopKSmallCorpus(queries, corpus, k, idCol, vecCol)
    val lbl = broadcast(corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).cast("long").as("lbl")))
    val votes = nn.join(lbl, "neighbor_id")
      .groupBy("query_id", "lbl").agg(count(lit(1)).as("votes"))
    val best = votes.groupBy("query_id").agg(max(col("votes")).as("votes"))
    votes.join(best, Seq("query_id", "votes"))
      .groupBy("query_id", "votes").agg(min(col("lbl")).as("pred_label"))
      .select(col("query_id"), col("pred_label"), col("votes"))
  }
}
