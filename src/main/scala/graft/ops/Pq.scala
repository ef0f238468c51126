package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PqExpressions
import graft.io.Io

/** Product quantization (Jégou, Douze, Schmid — TPAMI 2011): the lossy
  * vector compression an ANN serving layer runs on once the corpus no
  * longer fits in memory as floats. The d-dim space splits into `m`
  * subspaces of d/m dims; each subspace gets its own `ks`-entry
  * codebook (bounded driver Lloyd's, L2); a vector is stored as its m
  * per-subspace nearest-code ids. Search is asymmetric distance
  * computation (ADC): the query builds one m·ks lookup table of exact
  * per-subspace squared-L2 values, then every candidate costs m array
  * adds over its codes — the raw floats are never touched.
  *
  * Why this matters at 100 TB: a 768-dim float corpus is 3 KB/vector;
  * PQ at m=96, ks=256 is 96 bytes — 32× less to scan, and the serve
  * path below ([[ivfPqTopKIndexed]]) reads ONLY (id, codes) from the
  * index (column pruning drops everything else at the parquet scan,
  * spec-asserted), so the per-batch bytes are nprobe/nlist of the
  * CODE bytes, not the vector bytes.
  *
  * Accuracy contract: PQ distances are approximations (each subspace
  * quantizes the corpus side); ranking quality is measured, not
  * assumed — [[graft.ops.Similarity.annRecall]] takes this operator's
  * output directly, and the PqSpec publishes recall vs the exact
  * ranking. Everything is deterministic: lowest-id training sample,
  * first-ks init, argmin ties to the lowest code — so results are
  * reproducible run-to-run and the DuckDB oracle re-derives codes and
  * ADC sums bit-identically from the same embedded codebooks.
  *
  * The reference has no vector operators at all (its six UDFs are
  * string/date parsers, `data_preparation.py:16-96`); this extends the
  * engine's LLM-pipeline surface alongside [[Similarity]].
  */
object Pq {

  /** Per-subspace L2 Lloyd's over a bounded driver sample — the
    * [[Similarity.trainedCentroids]] recipe (lowest `maxTrain` ids,
    * first-`ks` init, empty cells keep their centroid) applied
    * independently to each of the `m` subspaces. Deterministic.
    * Returns cube[m][ks][d/m]. */
  def trainCodebooks(corpus: DataFrame, m: Int, ks: Int = 16,
                     maxIter: Int = 5, maxTrain: Int = 4096,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Array[Array[Array[Double]]] =
    trainCodebooksFromSample(
      Similarity.collectTrainSample(corpus, maxTrain, idCol, vecCol),
      m, ks, maxIter)

  /** [[trainCodebooks]] over an already-collected sample — shared with
    * the IVF router training in [[buildIvfPqIndex]] so the build pays
    * ONE sampling job. Validates every sampled vector's width: a
    * ragged (short) vector would otherwise surface as a bare
    * ArrayIndexOutOfBoundsException mid-Lloyd, unlike the distributed
    * encode whose short-vector contract is documented all-zero codes. */
  private[ops] def trainCodebooksFromSample(train: Array[Array[Double]],
                                            m: Int, ks: Int,
                                            maxIter: Int): Array[Array[Array[Double]]] = {
    require(train.nonEmpty, "Pq.trainCodebooks: empty corpus")
    val dim = train.head.length
    require(m > 0 && dim % m == 0,
      s"Pq.trainCodebooks: dim $dim not divisible by m=$m")
    train.indices.foreach { i =>
      require(train(i).length == dim,
        s"Pq.trainCodebooks: training vector $i has ${train(i).length} " +
          s"dims, expected $dim (ragged embedding column)")
    }
    val ds = dim / m
    Array.tabulate(m) { s =>
      val sub = train.map(_.slice(s * ds, s * ds + ds))
      trainSubspace(sub, math.min(ks, sub.length), maxIter)
    }
  }

  /** Standard (non-spherical) Lloyd's: argmin squared-L2 assignment,
    * ties to the lowest code, component-mean update. */
  private def trainSubspace(train: Array[Array[Double]], ks: Int,
                            maxIter: Int): Array[Array[Double]] = {
    val ds = train.head.length
    var cent = train.take(ks).map(_.clone)
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.ofDim[Double](cent.length, ds)
      val cnts = new Array[Long](cent.length)
      train.foreach { v =>
        val c = nearestCode(cent, v)
        var d = 0
        while (d < ds) { sums(c)(d) += v(d); d += 1 }
        cnts(c) += 1
      }
      cent = cent.indices.map { i =>
        if (cnts(i) == 0) cent(i) else sums(i).map(_ / cnts(i))
      }.toArray
      iter += 1
    }
    cent
  }

  /** argmin_j Σ_d (v[d]−cent[j][d])², ties to the lowest j — the SAME
    * arithmetic order as [[PqExpressions.PqEncode]], so training
    * assigns exactly as the distributed encode will. */
  private def nearestCode(cent: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestDist = java.lang.Double.POSITIVE_INFINITY
    var j = 0
    while (j < cent.length) {
      val c = cent(j)
      var dist = 0.0
      var d = 0
      while (d < c.length) { val t = v(d) - c(d); dist += t * t; d += 1 }
      if (dist < bestDist) { bestDist = dist; best = j }
      j += 1
    }
    best
  }

  private def asSeq(cube: Array[Array[Array[Double]]]): Seq[Seq[Seq[Double]]] =
    cube.map(_.map(_.toSeq).toSeq).toSeq

  /** Per-row width guard (the [[Similarity]] dimGuard convention): a
    * corpus/query vector shorter than the codebooks' m·ds dims RAISES
    * at scan time instead of silently encoding to all-zero codes — an
    * all-zero code row's ADC distance is a sum of code-0 LUT entries,
    * which can surface the ragged row as a false top-k neighbor with
    * no error anywhere. Only the bounded training sample was
    * width-checked before this; the guard covers every encoded and
    * LUT'd row. A SEPARATE filter, not a CASE wrapped around the
    * encode expression — the LSH family measured the wrapped form at
    * 2× while a standalone predicate is free. Longer vectors
    * prefix-encode over their first m·ds dims (documented in
    * [[graft.functions.PqExpressions]]). */
  private def widthGuarded(df: DataFrame, vecCol: String,
                           cube: Array[Array[Array[Double]]]): DataFrame = {
    val dim = cube.length * cube(0)(0).length
    df.where(
      when(size(col(vecCol)) >= dim, lit(true))
        .otherwise(raise_error(concat(
          lit("Pq: vector has "), size(col(vecCol)).cast("string"),
          lit(s" dims, need >= $dim (m*ds)"))).cast("boolean")))
  }

  /** Scan-local encode: (idCol, codes array<int>). One corpus pass, no
    * shuffle — the output is the index-resident representation. */
  def encode(vectors: DataFrame, codebooks: Array[Array[Array[Double]]],
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    widthGuarded(vectors, vecCol, codebooks).select(col(idCol),
      PqExpressions.pq_encode(col(vecCol), asSeq(codebooks)).as("codes"))

  /** Rank PQ candidates to each query's top k by ascending ADC
    * distance, ties to the lowest neighbor id — the bounded-heap
    * partial aggregation of [[Similarity]]'s rankTopK (the exchange
    * carries ≤ k rows per query), on score = −adc. Output
    * (query_id, rnk, neighbor_id, adc_dist·1e-4-rounded). */
  private def adcRank(queries: DataFrame, codes: DataFrame,
                      codebooks: Array[Array[Array[Double]]], k: Int,
                      idCol: String, vecCol: String,
                      packed: Boolean = false,
                      excludeSelf: Boolean = true): DataFrame = {
    val ks = codebooks(0).length
    val q = broadcast(widthGuarded(queries, vecCol, codebooks)
      .select(col(idCol).as("query_id"),
        PqExpressions.pq_lut(col(vecCol), asSeq(codebooks)).as("lut")))
    def adc = if (packed) PqExpressions.pq_adc_bytes(col("lut"), col("codes"), ks)
              else PqExpressions.pq_adc(col("lut"), col("codes"), ks)
    val cand = codes.select(col(idCol).as("neighbor_id"), col("codes"))
    val scored =
      (if (excludeSelf) cand.join(q, col("query_id") =!= col("neighbor_id"))
       else cand.crossJoin(q))
      .withColumn("score", negate(adc))
    rankAsc(scored, k)
  }

  /** score = −adc heap rank → (rnk, neighbor_id, adc_dist). Negating
    * −0.0 restores +0.0, so exact-duplicate distances print as 0. */
  private def rankAsc(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.AggExpressions.top_k_by_score(
        col("score"), col("neighbor_id").cast("long"), k).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("nb"))
      .select(col("query_id"), col("nb.rnk").as("rnk"),
        col("nb.id").as("neighbor_id"),
        round(negate(col("nb.score")), 4).as("adc_dist"))

  /** Brute-force PQ top-k: train on the corpus, encode it (scan-local),
    * ADC-rank every code row against the broadcast query LUTs. The
    * flat-scan PQ baseline — linear in |corpus| like
    * [[Similarity.bruteForceTopK]], but the scan side is m codes per
    * row, and each candidate costs m adds instead of d multiplies. */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           m: Int, ks: Int = 16, maxIter: Int = 5, maxTrain: Int = 4096,
           idCol: String = "vec_id", vecCol: String = "embedding",
           excludeSelf: Boolean = true): DataFrame = {
    val cb = trainCodebooks(corpus, m, ks, maxIter, maxTrain, idCol, vecCol)
    adcRank(queries, encode(corpus, cb, idCol, vecCol), cb, k, idCol, vecCol,
      excludeSelf = excludeSelf)
  }

  /** Train-once / serve-many PQ index: `codebooks` (s, j, centroid)
    * and `codes` (id, codes) in the next generation of `dir`
    * ([[Generations]]) — the raw vectors are NOT persisted;
    * the index is the m-codes-per-vector relation PQ exists to serve
    * from. Codebook doubles round-trip parquet exactly, so
    * [[pqTopKIndexed]] is bit-identical to [[topK]] with the same
    * sizing (spec-asserted). */
  def buildPqIndex(corpus: DataFrame, dir: String, m: Int, ks: Int = 16,
                   maxIter: Int = 5, maxTrain: Int = 4096,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    val cb = trainCodebooks(corpus, m, ks, maxIter, maxTrain, idCol, vecCol)
    Generations.writeNext(corpus.sparkSession, dir) { gen =>
      writeCodebooks(corpus.sparkSession, cb, gen)
      widthGuarded(corpus, vecCol, cb).select(col(idCol).as("id"),
          PqExpressions.pq_encode_bytes(col(vecCol), asSeq(cb)).as("codes"))
        .write.mode("overwrite").parquet(s"$gen/codes/shard=base")
    }
  }

  private def writeCodebooks(spark: SparkSession,
                             cb: Array[Array[Array[Double]]],
                             gen: String): Unit = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("s", "j", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/codebooks")
  }

  /** Read a generation's persisted codebook cube back as exact doubles. */
  private[ops] def readCodebooks(spark: SparkSession,
                                 root: String): Array[Array[Array[Double]]] = {
    val rows = Io.readParquet(spark, s"$root/codebooks")
      .orderBy("s", "j").collect()
    val m = rows.map(_.getInt(0)).max + 1
    Array.tabulate(m) { s =>
      rows.filter(_.getInt(0) == s).map(_.getSeq[Double](2).toArray)
    }
  }

  /** Serve top-k from a [[buildPqIndex]] directory: the plan over
    * `dir/codes` is a pruned (id, codes) scan + broadcast LUT join —
    * no training collect, no PqEncode over the corpus. */
  def pqTopKIndexed(queries: DataFrame, dir: String, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val root = Generations.root(spark, dir)
    val cb = readCodebooks(spark, root)
    adcRank(queries, Io.readParquet(spark, s"$root/codes")
      .select(col("id").as(idCol), col("codes")), cb, k, idCol, vecCol,
      packed = true, excludeSelf = excludeSelf)
  }

  /** PQ shortlist + exact re-rank (the faiss refine stage): ADC ranks
    * every candidate to a per-query shortlist of `refine`·k ids, then
    * ONLY those rows' raw vectors are fetched (an id equi-join against
    * the source relation — k·refine rows per query, never a corpus
    * scan) and re-ranked by exact cosine. This is how PQ recovers
    * recall lost to quantization while still doing ~all its work over
    * code bytes: on the uniform synthetic fixture (the ANN worst case)
    * pure ADC@5 recall is ~0.22-0.36 and refine=4 lifts it to ~0.8+
    * (SCALE.md round-11 addendum 3 records the curve; PqSpec pins the
    * floor). When the shortlist saturates the corpus the result is
    * EXACTLY [[Similarity.bruteForceTopK]] (spec-asserted), because the final
    * ranking is exact cosine over a superset of the true top k.
    * Output is the cosine-ANN family schema
    * (query_id, rnk, neighbor_id, cos_sim·1e-4-rounded). */
  def topKRefined(queries: DataFrame, corpus: DataFrame, k: Int,
                  m: Int, ks: Int = 16, refine: Int = 4,
                  maxIter: Int = 5, maxTrain: Int = 4096,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(refine > 0, s"Pq.topKRefined: refine must be positive, got $refine")
    val cb = trainCodebooks(corpus, m, ks, maxIter, maxTrain, idCol, vecCol)
    val shortlist = adcRank(queries,
      encode(corpus, cb, idCol, vecCol), cb, k * refine, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(shortlist, queries, corpus, k, idCol, vecCol)
  }

  /** Exact-cosine re-rank of a (query_id, neighbor_id) shortlist: both
    * vector fetches are id equi-joins (queries broadcast — bounded by
    * the ANN-batch contract; corpus side joined on id, so at 100 TB
    * the fetch is index-lookup-shaped, not scan-shaped). */
  private def rerankExact(shortlist: DataFrame, queries: DataFrame,
                          corpus: DataFrame, k: Int,
                          idCol: String, vecCol: String): DataFrame =
    rerankFetched(
      shortlist.join(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        Seq("neighbor_id")),
      queries, k, idCol, vecCol)

  /** The scoring tail of the refine stage over already-fetched
    * (query_id, neighbor_id, cv) rows — shared by [[rerankExact]] and
    * the stored-refine path (which defers its fp16 decode to AFTER
    * the shortlist join, so it lands here with cv in hand). */
  private def rerankFetched(pairs: DataFrame, queries: DataFrame, k: Int,
                            idCol: String, vecCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val scored = pairs.join(q, Seq("query_id"))
      .withColumn("score", Similarity.cosine(col("qv"), col("cv")))
    scored.groupBy("query_id")
      .agg(graft.functions.AggExpressions.top_k_by_score(
        col("score"), col("neighbor_id").cast("long"), k).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("nb"))
      .select(col("query_id"), col("nb.rnk").as("rnk"),
        col("nb.id").as("neighbor_id"),
        round(col("nb.score"), 4).as("cos_sim"))
  }

  /** IVF-PQ index (the faiss IVFADC layout): IVF centroids route a
    * query to `nprobe` cells; within the probed cells candidates are
    * ADC-ranked over PQ codes. The persisted corpus relation carries
    * ONLY (id, codes) under `cell=<n>/` partitions — at serve time
    * partition pruning drops unprobed cells and column pruning reads
    * code bytes, never floats: the two prunings multiply into the
    * 100 TB serving cost shape (nprobe/nlist of m-byte rows).
    *
    * `residual = true` is TRUE IVFADC (faiss `by_residual`): each
    * vector PQ-encodes its displacement from its cell's centroid,
    * v − centroid(cell(v)), and the codebooks train on the SAMPLE's
    * residuals — the codebooks then only cover the within-cell
    * displacement distribution instead of the whole space, the
    * standard recall lever at small nprobe (SCALE.md's round-12
    * addendum records the measured delta vs raw encoding at equal
    * nprobe). The serve-time cost shape is unchanged except the query
    * LUT: it is computed per
    * PROBED CELL from q − centroid (nprobe · m·ks doubles per query —
    * still broadcast-sized; see [[ivfPqTopKIndexed]]). The mode is
    * persisted in `params` and every reader honors it.
    *
    * `opq = true` additionally trains an orthogonal rotation of the
    * encode space ([[trainOpq]] — faiss's `OPQ..` prefix) and encodes
    * R·v (or R·(v − centroid)): rotation balances variance across the
    * PQ subspaces, the standard accuracy lever when embedding
    * dimensions are correlated. One extra codegen'd matrix multiply
    * per encoded row and per query LUT; candidate-scan cost unchanged
    * (codes-only either way). Opt-in like residual: measured on the
    * synthetic fixtures it helps correlated/clustered corpora and is
    * ~neutral on uniform ones (SCALE.md's round-13 OPQ addendum records
    * the deltas).
    *
    * Layout, in the next generation of `dir` ([[Generations]]):
    * `centroids` (cell, centroid — the IVF router),
    * `codebooks` (s, j, centroid — the PQ cube),
    * `params` (m, ks, residual, opq, refine_half, point layout),
    * `rotation` (r, vec — the OPQ matrix, present iff opq),
    * `corpus/shard=<id>/cell=<n>/` (id, codes) with the same
    * per-shard overwrite/replay contract as [[Similarity
    * .buildIvfIndex]]. */
  def buildIvfPqIndex(corpus: DataFrame, dir: String, m: Int, ks: Int = 16,
                      nlist: Int = 0, maxIter: Int = 5, maxTrain: Int = 4096,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      corpusSize: Long = 0L, residual: Boolean = false,
                      opq: Boolean = false,
                      refineHalf: Boolean = false,
                      pointLayout: Boolean = false,
                      pointLayoutFiles: Int = 64,
                      trainedCent: Option[Array[Array[Double]]] = None): Unit = {
    // ONE sampling job feeds both trainers — the router and the
    // codebooks use the identical deterministic sample anyway.
    // trainedCent: a pre-trained router (e.g. [[Similarity
    // .trainCentroidsDistributed]] at nlist beyond the sample cap) —
    // the codebooks still train on the bounded sample (they quantize
    // d/m-dim subspaces; the sample covers that), only the cell
    // geometry comes from outside.
    val sample = Similarity.collectTrainSample(corpus, maxTrain, idCol, vecCol)
    val cent = trainedCent.getOrElse {
      val nl = if (nlist > 0) nlist
               else Similarity.ivfNlistFor(
                 if (corpusSize > 0) corpusSize else corpus.count(),
                 maxTrain = maxTrain)
      Similarity.trainedCentroidsFromSample(sample, nl, maxIter)
    }
    // residual mode trains the codebooks on the sample's residuals —
    // assignment uses the SAME cosine-argmax arithmetic as the
    // distributed NearestCell, so a sample vector's training residual
    // is exactly the residual the shard write will encode for it.
    // opq additionally trains a rotation OF that space (raw or
    // residual) and the codebooks over the rotated sample.
    val cbTrain =
      if (residual) residualsOf(sample, cent) else sample
    val (rot, cb) =
      if (opq) { val (r, c) = trainOpq(cbTrain, m, ks, maxIter); (Some(r), c) }
      else (None, trainCodebooksFromSample(cbTrain, m, ks, maxIter))
    val spark = corpus.sparkSession
    import spark.implicits._
    Generations.writeNext(spark, dir) { gen =>
      cent.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/centroids")
      writeCodebooks(spark, cb, gen)
      rot.foreach(writeRotation(spark, _, gen))
      writeParams(spark, gen, m, cb(0).length, residual, opq, refineHalf,
        pointLayout, pointLayoutFiles)
      writeIvfPqShard(corpus, gen, cent, cb, "base", idCol, vecCol, residual,
        rot, refineHalf, if (pointLayout) pointLayoutFiles else 0)
    }
  }

  /** The residual-trained codebook cube [[buildIvfPqIndex]] trains
    * with `residual = true` under an already-trained router — exposed
    * for Verify-time oracle generation, which must embed the IDENTICAL
    * doubles as literals. */
  private[graft] def trainedResidualCodebooks(corpus: DataFrame,
                                              cent: Array[Array[Double]],
                                              m: Int, ks: Int = 16,
                                              maxIter: Int = 5,
                                              maxTrain: Int = 4096,
                                              idCol: String = "vec_id",
                                              vecCol: String = "embedding"): Array[Array[Array[Double]]] =
    trainCodebooksFromSample(
      residualsOf(Similarity.collectTrainSample(corpus, maxTrain, idCol, vecCol),
        cent), m, ks, maxIter)

  /** Sample residuals under the trained router, driver-side — the
    * [[Similarity.nearestCell]] assignment (cosine argmax, ties to the
    * lowest cell), identical to the distributed encode's. */
  private def residualsOf(sample: Array[Array[Double]],
                          cent: Array[Array[Double]]): Array[Array[Double]] = {
    val norms = cent.map(c => math.sqrt(c.map(x => x * x).sum))
    sample.map { v =>
      val c = cent(Similarity.nearestCell(cent, norms, v))
      Array.tabulate(v.length)(d => v(d) - c(d))
    }
  }

  /** OPQ rotation training (Ge, He, Ke, Sun — CVPR 2013; the
    * non-parametric alternating solver faiss's OPQMatrix runs):
    * alternate (a) train PQ codebooks on the rotated sample and
    * (b) solve the orthogonal Procrustes problem — R = U·Vᵀ from
    * SVD(Ŷ·Xᵀ), Ŷ the sample's quantization under the current
    * codebooks — so the rotation turns the space until PQ's
    * independent-subspace assumption fits it best. Deterministic:
    * deterministic training sample, the deterministic Lloyd's above,
    * init R = I, fixed iteration count, LAPACK SVD on the same d×d
    * input. Driver-side by construction (the sample is ≤ maxTrain
    * rows, the SVD is d×d — 64×64 here).
    *
    * Returns (R with rows = output dims, the codebooks trained on
    * R·sample in the FINAL iteration) as ONE unit: build and
    * Verify-time oracle generation call this same function on the
    * same sample, so both embed identical doubles — the
    * [[trainedResidualCodebooks]] contract. */
  private[graft] def trainOpq(train: Array[Array[Double]], m: Int, ks: Int,
                              maxIter: Int, opqIters: Int = 8)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val d = train.head.length
    var r = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var cb: Array[Array[Array[Double]]] = null
    var it = 0
    while (it < opqIters) {
      val rot = train.map(x => matVec(r, x))
      cb = trainCodebooksFromSample(rot, m, ks, maxIter)
      if (it < opqIters - 1) {
        val recon = rot.map(y => reconstruct(y, cb))
        // M = Σᵢ ŷᵢ·xᵢᵀ (d×d): Procrustes argmin_R ||R·X − Ŷ||_F
        // over orthogonal R is U·Vᵀ of SVD(M) (reflections allowed —
        // fine for quantization)
        val mm = breeze.linalg.DenseMatrix.zeros[Double](d, d)
        var i = 0
        while (i < train.length) {
          val x = train(i); val y = recon(i)
          var a = 0
          while (a < d) {
            var b = 0
            while (b < d) { mm(a, b) += y(a) * x(b); b += 1 }
            a += 1
          }
          i += 1
        }
        val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(mm)
        val rm = u * vt
        r = Array.tabulate(d, d)((a, b) => rm(a, b))
      }
      it += 1
    }
    (r, cb)
  }

  /** Driver-side R·x with EXACTLY [[graft.functions.VectorExpressions
    * .Rotate]]'s loop (ascending-d multiply-accumulate): codebooks are
    * trained on driver-rotated samples while the shard write rotates
    * distributed — code assignment stays consistent only if the two
    * rotations are bit-identical. */
  private[graft] def matVec(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val out = new Array[Double](r.length)
    var a = 0
    while (a < r.length) {
      val row = r(a)
      var acc = 0.0
      var dd = 0
      while (dd < row.length) { acc += row(dd) * x(dd); dd += 1 }
      out(a) = acc
      a += 1
    }
    out
  }

  /** Encode-then-decode under the codebooks — the quantization Ŷ the
    * Procrustes step aligns the rotation against. */
  private def reconstruct(v: Array[Double],
                          cb: Array[Array[Array[Double]]]): Array[Double] = {
    val m = cb.length; val ds = cb(0)(0).length
    val out = new Array[Double](m * ds)
    var s = 0
    while (s < m) {
      val sub = java.util.Arrays.copyOfRange(v, s * ds, s * ds + ds)
      System.arraycopy(cb(s)(nearestCode(cb(s), sub)), 0, out, s * ds, ds)
      s += 1
    }
    out
  }

  /** The (rotation, residual codebooks) pair [[buildIvfPqIndex]]
    * trains with `residual = true, opq = true` under an
    * already-trained router — exposed for Verify-time oracle
    * generation ([[trainedResidualCodebooks]]'s twin). */
  private[graft] def trainedOpqResidual(corpus: DataFrame,
                                        cent: Array[Array[Double]],
                                        m: Int, ks: Int = 16,
                                        maxIter: Int = 5, maxTrain: Int = 4096,
                                        idCol: String = "vec_id",
                                        vecCol: String = "embedding")
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    trainOpq(
      residualsOf(Similarity.collectTrainSample(corpus, maxTrain, idCol, vecCol),
        cent), m, ks, maxIter)

  private def writeRotation(spark: SparkSession, r: Array[Array[Double]],
                            gen: String): Unit = {
    import spark.implicits._
    r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("r", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/rotation")
  }

  /** The persisted OPQ rotation, if this index has one. By-name
    * columns + dense-row-id refusal — [[collectCentroidTable]]'s
    * reasoning: [[graft.functions.VectorExpressions.Rotate]] indexes
    * the matrix positionally. */
  private[ops] def readRotation(spark: SparkSession,
                                root: String): Option[Array[Array[Double]]] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/rotation")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else {
      val rows = Io.readParquet(spark, s"$root/rotation")
        .select(col("r").cast("int").as("r"), col("vec"))
        .orderBy("r").collect()
      rows.zipWithIndex.foreach { case (row, i) =>
        require(row.getInt(0) == i,
          s"rotation relation is not densely numbered 0..${rows.length - 1}: " +
            s"expected row $i, found ${row.getInt(0)}")
      }
      Some(rows.map(_.getSeq[Double](1).toArray))
    }
  }

  /** `params` (m, ks, residual, opq, refine_half, point_layout,
    * point_layout_files): the sizing/mode facts a reader must not have
    * to guess. Every IVF-PQ and IMI-PQ build writes it. */
  private def writeParams(spark: SparkSession, gen: String,
                          m: Int, ks: Int, residual: Boolean,
                          opq: Boolean = false,
                          refineHalf: Boolean = false,
                          pointLayout: Boolean = false,
                          pointLayoutFiles: Int = 64): Unit = {
    import spark.implicits._
    Seq((m, ks, residual, opq, refineHalf, pointLayout, pointLayoutFiles))
      .toDF("m", "ks", "residual", "opq", "refine_half",
        "point_layout", "point_layout_files")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/params")
  }

  /** Collect the persisted (cell, centroid) router relation into a
    * positionally-indexable table: columns selected BY NAME, cell ids
    * required to be exactly 0 until n. [[writeIvfPqShard]] and the
    * residual-serve [[graft.functions.VectorExpressions.CellResidual]]
    * index this array BY cell id — a sparse or renumbered relation
    * would silently subtract the wrong centroid, so refuse it loudly
    * instead. */
  private[ops] def collectCentroidTable(centroids: DataFrame): Array[Array[Double]] = {
    val rows = centroids.select(col("cell").cast("int").as("cell"),
      col("centroid")).orderBy("cell").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"centroid relation is not densely numbered 0..${rows.length - 1}: " +
          s"expected cell $i at position $i, found ${r.getInt(0)}")
    }
    rows.map(_.getSeq[Double](1).toArray)
  }

  private[ops] def readResidualFlag(spark: SparkSession, root: String): Boolean =
    readBoolParam(spark, root, "residual")

  /** One boolean mode flag from the generation's `params`. */
  private def readBoolParam(spark: SparkSession, root: String,
                            colName: String): Boolean =
    Io.readParquet(spark, s"$root/params").select(colName).head().getBoolean(0)

  /** Whether this index stores [[graft.functions.VectorExpressions
    * .Fp16Pack]]ed refine vectors beside its codes. */
  private[ops] def readRefineHalfFlag(spark: SparkSession, root: String): Boolean =
    readBoolParam(spark, root, "refine_half")

  /** Whether this index's corpus shards are cell-sorted bounded files
    * (the point-serving layout) instead of `cell=<n>/` hive
    * partitions; (flag, files-per-shard). */
  private[ops] def readPointLayout(spark: SparkSession, root: String): (Boolean, Int) = {
    val r = Io.readParquet(spark, s"$root/params")
      .select("point_layout", "point_layout_files").head()
    (r.getBoolean(0), r.getInt(1))
  }

  /** Append a shard to a [[buildIvfPqIndex]] directory under the frozen
    * centroids AND frozen codebooks — one scan-local NearestCell +
    * PqEncode pass, no retraining. Same required-shardId replay
    * contract as [[Similarity.appendToIvfIndex]] (a retried append
    * must overwrite its crashed attempt, not orphan it). Frozen
    * quantizers mean appended vectors inherit build-time coverage —
    * rebuild when drift accumulates, the faiss add() trade. */
  def appendToIvfPqIndex(shard: DataFrame, dir: String, shardId: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    require(shardId.nonEmpty && shardId != "base" &&
      shardId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"shardId '$shardId' must be a non-'base' [A-Za-z0-9_-]+ token")
    val spark = shard.sparkSession
    val root = Generations.root(spark, dir)
    val cent = collectCentroidTable(Io.readParquet(spark, s"$root/centroids"))
    val (pl, plFiles) = readPointLayout(spark, root)
    writeIvfPqShard(shard, root, cent, readCodebooks(spark, root), shardId,
      idCol, vecCol, readResidualFlag(spark, root), readRotation(spark, root),
      readRefineHalfFlag(spark, root), if (pl) plFiles else 0)
  }

  /** One scan-local pass: cell = NearestCell(v); codes = PqEncode of
    * either v (raw) or v − centroid(cell) (residual), optionally
    * rotated ([[graft.functions.VectorExpressions.Rotate]], the OPQ
    * space). The subtraction/rotation compose under the byte encode —
    * still a single projection, no shuffle, no second pass. */
  private def writeIvfPqShard(vectors: DataFrame, root: String,
                              cent: Array[Array[Double]],
                              cb: Array[Array[Array[Double]]],
                              shardId: String,
                              idCol: String, vecCol: String,
                              residual: Boolean,
                              rot: Option[Array[Array[Double]]] = None,
                              refineHalf: Boolean = false,
                              pointLayoutFiles: Int = 0): Unit = {
    val centSeq = cent.map(_.toSeq).toSeq
    def cellOf(v: Column) =
      graft.functions.VectorExpressions.nearest_cell(v, centSeq)
    val base: Column =
      if (residual)
        graft.functions.VectorExpressions.cell_residual(
          col(vecCol), cellOf(col(vecCol)), centSeq)
      else col(vecCol)
    val encodeInput: Column = rot.map(rm =>
      graft.functions.VectorExpressions.rotate(base, rm.map(_.toSeq).toSeq))
      .getOrElse(base)
    // refineHalf: the RAW vector rides beside the codes as packed
    // binary16 (2 bytes/dim) — never the residual/rotated form (the
    // refine stage re-ranks by exact cosine in the ORIGINAL space).
    // Still one scan-local projection; serve-time column pruning keeps
    // the ADC scan codes-only (spec-asserted), so the extra column
    // costs bytes at rest, nothing per probe.
    val cols = Seq(col(idCol).as("neighbor_id"),
        PqExpressions.pq_encode_bytes(encodeInput, asSeq(cb)).as("codes"),
        cellOf(col(vecCol)).as("cell")) ++
      (if (refineHalf)
         Seq(graft.functions.VectorExpressions.fp16_pack(col(vecCol)).as("vec16"))
       else Nil)
    writeShardRows(widthGuarded(vectors, vecCol, cb).select(cols: _*),
      s"$root/corpus/shard=$shardId", pointLayoutFiles)
  }

  /** The ONE corpus-shard writer (build, append, and compaction all
    * land here, so the two layouts cannot drift). `pointLayoutFiles`
    * > 0 = the point-serving layout (the LshIndex pointLayout
    * treatment): cell-SORTED rows in a BOUNDED file count with 8 MB
    * row groups, NOT one directory per cell — at huge nlist the hive
    * fan-out is nlist×shards tiny files (measured 32,768 files /
    * 17× serve wall at nlist=1024, SCALE.md r14 addendum 2), while
    * here a pushed `cell IN (...)` skips row groups inside
    * ≤ pointLayoutFiles files; `cell` stays a data column (the batch
    * serve joins on it either way). 0 = `cell=<n>/` hive partitions
    * (partition pruning serves the point filter instead). */
  private def writeShardRows(rows: DataFrame, path: String,
                             pointLayoutFiles: Int): Unit =
    if (pointLayoutFiles > 0)
      rows.repartitionByRange(pointLayoutFiles, col("cell"))
        .sortWithinPartitions("cell", "neighbor_id")
        .write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(path)
    else
      rows.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Serve top-k ANN from a [[buildIvfPqIndex]] directory: probe the
    * `nprobe` closest cells against the persisted IVF centroids, then
    * ADC-rank ONLY those cells' code rows against the broadcast query
    * LUTs. The candidate scan never touches a float vector — the spec
    * asserts the corpus scan's ReadSchema is exactly
    * (neighbor_id, codes) and the plan has no NearestCell/PqEncode.
    * `excludeShards` is the ingest-replay filter ([[Similarity
    * .cosineNearDuplicatesIndexed]]'s contract). */
  /** `filter`: optional allowed-id relation (first column = candidate
    * ids) for FILTERED serving — the RAG shape `top-k WHERE lang = …`.
    * Semantics are PRE-FILTER: the predicate gates the candidate scan
    * BEFORE ranking, so all k results satisfy it and recall within the
    * filtered set is governed by nprobe exactly as unfiltered recall
    * is (a post-filter — predicate applied to an unfiltered top-k —
    * returns fewer than k rows whenever the filter is selective; that
    * variant is just `.join(filter, "semi")` on this method's default
    * output, so only pre-filter needs engine support). The filter
    * joins the CELL-PRUNED codes-only candidates as a semi-join —
    * at a selective predicate AQE broadcasts the id side; the scan
    * stays partition-pruned and codes-only either way. */
  def ivfPqTopKIndexed(queries: DataFrame, dir: String, k: Int,
                       nprobe: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       excludeShards: Seq[String] = Nil,
                       excludeSelf: Boolean = true,
                       filter: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    val root = Generations.root(spark, dir)
    val cb = readCodebooks(spark, root)
    val centroids = Io.readParquet(spark, s"$root/centroids")
    val corpus = shardFiltered(spark, root, excludeShards)
    val q = widthGuarded(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "qv", cb)
    adcOverCells(spark, root, cb, centroids, q,
      routedCells(q, centroids, nprobe), corpus, k, excludeSelf,
      filterIds = filter)
  }

  private def shardFiltered(spark: SparkSession, root: String,
                            excludeShards: Seq[String]): DataFrame = {
    val corpus0 = Io.readParquet(spark, s"$root/corpus")
    if (excludeShards.isEmpty) corpus0
    else corpus0.where(!col("shard").isin(excludeShards: _*))
  }

  /** IVF routing: each query's `nprobe` closest cells by cosine
    * against the broadcast centroid relation, ties to the lowest cell
    * — (query_id, qv, cell). */
  private def routedCells(q: DataFrame, centroids: DataFrame,
                          nprobe: Int): DataFrame = {
    val wCell = Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))
    q.crossJoin(broadcast(centroids))
      .withColumn("dist", negate(Similarity.cosine(col("qv"), col("centroid"))))
      .withColumn("cell_rnk", row_number().over(wCell))
      .where(col("cell_rnk") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
  }

  /** The post-routing ADC body shared by the batch and point serves:
    * LUTs from the probed (query, cell) pairs, candidate join against
    * the (possibly cell-pruned) corpus, bounded-heap rank. The two
    * callers differ ONLY in where `probedCells` comes from (lazy plan
    * vs collected literal relation) and whether `corpus` carries a
    * pushed cell filter — arithmetic, tie order, and join shapes are
    * this one body, which is what makes the point serve bit-identical
    * to the batch serve (spec-asserted). */
  private def adcOverCells(spark: SparkSession, root: String,
                           cb: Array[Array[Array[Double]]],
                           centroids: DataFrame, q: DataFrame,
                           probedCells: DataFrame, corpus: DataFrame,
                           k: Int, excludeSelf: Boolean,
                           residualOrigin: Option[Column] = None,
                           filterIds: Option[DataFrame] = None): DataFrame = {
    // residualOrigin: how residual mode derives q − centroid(cell)
    // over the (qv, cell) columns. Default = index the collected flat
    // centroid table by cell. The IMI callers pass the DECOMPOSED form
    // (concat of per-half CellResiduals over the two kPerHalf-row
    // tables) — a product router's full table is kPerHalf² rows, which
    // must never be collected. Ignored in raw mode.
    val ks = cb(0).length
    val residual = readResidualFlag(spark, root)
    // OPQ: the LUT must measure in the SAME rotated space the codes
    // were assigned in — rotate the query (or its per-cell residual)
    // before the LUT; the candidate scan stays codes-only either way
    val rotOpt = readRotation(spark, root)
    def rotated(c: Column): Column = rotOpt.map(rm =>
      graft.functions.VectorExpressions.rotate(c, rm.map(_.toSeq).toSeq))
      .getOrElse(c)
    // routing and LUTs broadcast SEPARATELY: the (query, cell) pairs
    // are nprobe tiny rows each, while the m·ks-double LUT rides its
    // own query-keyed relation — computed and shipped once per query,
    // not once per probed cell (at real sizing m·ks doubles is ~100s
    // of KB per query; duplicating it nprobe× in the routing
    // broadcast was the expensive part).
    // raw mode: ONE m·ks LUT per query (the LUT key is query_id).
    // residual mode (IVFADC): the candidate codes are residuals
    // against THEIR cell's centroid, so the query side must measure
    // from the same origin — one LUT per (query, probed cell) over
    // q − centroid(cell), nprobe · m·ks doubles per query, still
    // broadcast-sized, joined on (query_id, cell) so the candidate
    // scan cost is unchanged
    val (luts, lutKeys) =
      if (residual) {
        val origin = residualOrigin.getOrElse {
          val centArr = collectCentroidTable(centroids).map(_.toSeq).toSeq
          graft.functions.VectorExpressions.cell_residual(
            col("qv"), col("cell"), centArr)
        }
        (probedCells.select(col("query_id"), col("cell"),
          PqExpressions.pq_lut(rotated(origin), asSeq(cb)).as("lut")),
          Seq("query_id", "cell"))
      } else
        (q.select(col("query_id"),
          PqExpressions.pq_lut(rotated(col("qv")), asSeq(cb)).as("lut")),
          Seq("query_id"))
    // excludeSelf: the ANN-family default filters the trivial self
    // pair when queries ARE corpus rows; pass false when query ids
    // live in a DIFFERENT namespace than the index (the enrichment
    // shape) — an id collision there is not a self pair, and dropping
    // it would silently hide a true neighbor
    val candidates = corpus.select(col("neighbor_id"), col("codes"), col("cell"))
    // pre-filter (see ivfPqTopKIndexed): gate the codes-only candidate
    // relation on the allowed-id set BEFORE routing/ranking — a
    // semi-join, so filter duplicates can never duplicate candidates
    val gated = filterIds.map { f =>
      candidates.join(
        f.select(col(f.columns.head).as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
    }.getOrElse(candidates)
    val joined = gated
      .join(broadcast(probedCells.select("query_id", "cell")), Seq("cell"))
    val scored =
      (if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
       else joined)
      .join(broadcast(luts), lutKeys)
      .withColumn("score",
        negate(PqExpressions.pq_adc_bytes(col("lut"), col("codes"), ks)))
    rankAsc(scored, k)
  }

  /** The POINT-SERVING form of [[ivfPqTopKIndexed]] — the last scan of
    * the PQ family still reading corpus-shaped bytes per probe: the
    * batch serve's candidate stage scans every probed cell's codes
    * through a broadcast join (right when thousands of queries
    * amortize it), but a request/response probe touches nprobe cells
    * out of nlist, and under a [[buildIvfPqIndex]]
    * `pointLayout = true` index (cell-sorted bounded files, 8 MB row
    * groups — not the hive fan-out, which at huge nlist is
    * nlist×shards tiny files) those cells are a ROW-GROUP RANGE a
    * pushed filter can skip to. Two phases, driver-synchronized (the
    * [[LshIndex.pointNearDuplicates]] trade):
    *
    *  1. run the routing plan (queries × broadcast centroids — no
    *     corpus scan) and COLLECT the probed (query, cell) pairs,
    *     bounded by `maxProbedPairs` (= |queries|·nprobe);
    *  2. re-enter the SHARED ADC body ([[adcOverCells]]) with the
    *     collected pairs as a literal relation and the corpus scan
    *     filtered by a [[Pushdown.pushedIsin]] `cell IN (...)` the
    *     parquet reader acts on.
    *
    * Results are bit-identical to [[ivfPqTopKIndexed]] (same routing
    * rows by construction, same arithmetic body — spec-asserted);
    * probes beyond `maxProbedPairs` fall back to the batch plan.
    * Works on any layout (on the hive layout the pushed filter prunes
    * `cell=<n>/` partitions instead of row groups). */
  def ivfPqTopKPoint(queries: DataFrame, dir: String, k: Int,
                     nprobe: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     excludeShards: Seq[String] = Nil,
                     excludeSelf: Boolean = true,
                     maxProbedPairs: Int = 1024): DataFrame = {
    val spark = queries.sparkSession
    val root = Generations.root(spark, dir)
    val cb = readCodebooks(spark, root)
    val centroids = Io.readParquet(spark, s"$root/centroids")
    val q = widthGuarded(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "qv", cb)
    val routing = routedCells(q, centroids, nprobe).select("query_id", "cell")
    val pairs = routing.limit(maxProbedPairs + 1).collect()
    if (pairs.length > maxProbedPairs || pairs.isEmpty)
      return ivfPqTopKIndexed(queries, dir, k, nprobe, idCol, vecCol,
        excludeShards, excludeSelf)
    val litRouting = spark.createDataFrame(
      java.util.Arrays.asList(pairs: _*), routing.schema)
    val probedCells = litRouting.join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("qv"), col("cell"))
    val cells = pairs.map(_.getInt(1): Any).distinct.toSeq
    val corpus = shardFiltered(spark, root, excludeShards)
      .where(Pushdown.pushedIsin(col("cell"), cells))
    adcOverCells(spark, root, cb, centroids, q, probedCells, corpus, k,
      excludeSelf)
  }

  /** Build a Multi-D-ADC index (Babenko & Lempitsky CVPR'12 §5):
    * [[buildIvfPqIndex]]'s bytes-at-rest — m-byte PQ codes, never a
    * float — routed by [[Similarity.buildImiIndex]]'s PRODUCT coarse
    * quantizer instead of the flat one. kPerHalf² cells at
    * O(kPerHalf·d) assignment per corpus row; the 121×-measured
    * routing-wall fix (SCALE.md r14 addendum 3) applied to the code
    * family, which is where a 100 TB corpus actually serves from.
    * Layout (in the next generation of `dir`): `centroids_h1`/`_h2` +
    * `codebooks` + `params` + `corpus/shard=base` with
    * cell = c1·kPerHalf + c2; the hive write
    * repartitions by cell (one file per cell — kPerHalf² dirs where
    * flat nlist was dozens); `pointLayout = true` writes cell-sorted
    * bounded files instead (the addendum-2 treatment, the right form
    * past kPerHalf ~ 128). Codes quantize the RAW space: residual/OPQ
    * under a product router (origin = concat(c1(a), c2(b))) is the
    * recorded next step, not built — raw ADC is the paper's §5 system
    * and the accuracy levers (residual, OPQ, fp16 refine) remain
    * available on the flat-routed family. */
  def buildImiPqIndex(corpus: DataFrame, dir: String, m: Int, ks: Int = 16,
                      kPerHalf: Int = 16, maxIter: Int = 5,
                      maxTrain: Int = 4096,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      residual: Boolean = false,
                      opq: Boolean = false,
                      pointLayout: Boolean = false,
                      pointLayoutFiles: Int = 64,
                      trainedCent: Option[(Array[Array[Double]],
                        Array[Array[Double]])] = None): Unit = {
    // trainedCent: pre-trained half-centroid sets (e.g.
    // [[Similarity.trainImiCentroidsDistributed]] — whole-corpus
    // routing quality at kPerHalf beyond what the bounded sample can
    // train; SCALE r15 addendum 1). The PQ codebooks still train on
    // the bounded sample: they quantize a d/m-dim SUBSPACE each, a
    // far easier estimation problem than kPerHalf² routing cells, and
    // their training must stay a driver-side collect (ks·m rows of
    // k-means over sample residuals, not a corpus-wide job per stage).
    val sample = Similarity.collectTrainSample(corpus, maxTrain, idCol, vecCol)
    val d = sample.head.length
    require(d >= 2, s"IMI needs dim >= 2 to split, got $d")
    val h = d / 2
    val (c1, c2) = trainedCent.getOrElse(
      (Similarity.trainedCentroidsFromSample(
          sample.map(_.take(h)), kPerHalf, maxIter),
        Similarity.trainedCentroidsFromSample(
          sample.map(_.drop(h)), kPerHalf, maxIter)))
    require(c1.nonEmpty && c1.length == c2.length,
      s"IMI half-centroid sets must be non-empty and equal-sized, " +
        s"got ${c1.length} and ${c2.length}")
    require(c1.head.length == h && c2.head.length == d - h,
      s"trainedCent half dims (${c1.head.length}, ${c2.head.length}) " +
        s"do not match the corpus split ($h, ${d - h})")
    val kk = c1.length
    // residual (IVFADC under the product router): the codebooks train
    // on sample residuals against the PRODUCT centroid — which
    // decomposes, v − concat(c1(a), c2(b)) = (v1 − c1(a); v2 − c2(b)),
    // so neither training nor the encode ever materializes a kPerHalf²
    // centroid table. opq additionally trains a rotation OF that space
    // (raw or residual — the flat family's composition verbatim);
    // serving needs no IMI-specific work, adcOverCells rotates the
    // (possibly decomposed) LUT origin from the persisted rotation.
    val cbTrain = if (residual) residualsOfImi(sample, c1, c2) else sample
    val (rot, cb) =
      if (opq) { val (r, c) = trainOpq(cbTrain, m, ks, maxIter); (Some(r), c) }
      else (None, trainCodebooksFromSample(cbTrain, m, ks, maxIter))
    val spark = corpus.sparkSession
    import spark.implicits._
    Generations.writeNext(spark, dir) { gen =>
      def writeHalf(c: Array[Array[Double]], p: String): Unit =
        c.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
          .toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$gen/$p")
      writeHalf(c1, "centroids_h1")
      writeHalf(c2, "centroids_h2")
      writeCodebooks(spark, cb, gen)
      rot.foreach(writeRotation(spark, _, gen))
      writeParams(spark, gen, m, cb(0).length, residual = residual,
        opq = opq, refineHalf = false, pointLayout = pointLayout,
        pointLayoutFiles = pointLayoutFiles)
      writeImiPqShard(corpus, gen, c1, c2, cb, "base", idCol, vecCol,
        residual, rot, if (pointLayout) pointLayoutFiles else 0)
    }
  }

  /** Append a shard to a [[buildImiPqIndex]] directory under the
    * frozen half-centroid sets AND frozen codebooks (and rotation, if
    * any) — [[appendToIvfPqIndex]]'s contract on the product family.
    * THE streaming-ingest case for IMI: each appended row pays
    * O(kPerHalf·d) routing instead of O(kPerHalf²·d), which at a
    * continuous-ingest cadence is the difference between the encode
    * being a projection and being the pipeline's hot loop. */
  def appendToImiPqIndex(shard: DataFrame, dir: String, shardId: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    require(shardId.nonEmpty && shardId != "base" &&
      shardId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"shardId '$shardId' must be a non-'base' [A-Za-z0-9_-]+ token")
    val spark = shard.sparkSession
    val root = Generations.root(spark, dir)
    def half(p: String) =
      collectCentroidTable(Io.readParquet(spark, s"$root/$p"))
    val (pl, plFiles) = readPointLayout(spark, root)
    writeImiPqShard(shard, root, half("centroids_h1"), half("centroids_h2"),
      readCodebooks(spark, root), shardId, idCol, vecCol,
      readResidualFlag(spark, root), readRotation(spark, root),
      if (pl) plFiles else 0)
  }

  /** The ONE IMI-PQ corpus-shard writer (build and append land here,
    * so the two paths cannot drift): product cell from the two
    * half-space NearestCells, codes from the (optionally decomposed
    * residual, optionally rotated) encode input — a single scan-local
    * projection either way. */
  private def writeImiPqShard(vectors: DataFrame, root: String,
                              c1: Array[Array[Double]],
                              c2: Array[Array[Double]],
                              cb: Array[Array[Array[Double]]],
                              shardId: String, idCol: String,
                              vecCol: String, residual: Boolean,
                              rot: Option[Array[Array[Double]]],
                              pointLayoutFiles: Int): Unit = {
    val kk = c1.length
    val h = c1(0).length
    val d = h + c2(0).length
    val c1seq = c1.map(_.toSeq).toSeq
    val c2seq = c2.map(_.toSeq).toSeq
    val cell1 = graft.functions.VectorExpressions.nearest_cell(
      expr(s"slice($vecCol, 1, $h)"), c1seq)
    val cell2 = graft.functions.VectorExpressions.nearest_cell(
      expr(s"slice($vecCol, ${h + 1}, ${d - h})"), c2seq)
    val base: Column =
      if (residual) concat(
        graft.functions.VectorExpressions.cell_residual(
          expr(s"slice($vecCol, 1, $h)"), cell1, c1seq),
        graft.functions.VectorExpressions.cell_residual(
          expr(s"slice($vecCol, ${h + 1}, ${d - h})"), cell2, c2seq))
      else col(vecCol)
    val encodeInput: Column = rot.map(rm =>
      graft.functions.VectorExpressions.rotate(base, rm.map(_.toSeq).toSeq))
      .getOrElse(base)
    val rows = widthGuarded(vectors, vecCol, cb).select(
      col(idCol).as("neighbor_id"),
      PqExpressions.pq_encode_bytes(encodeInput, asSeq(cb)).as("codes"),
      (cell1 * kk + cell2).as("cell"))
    writeShardRows(
      if (pointLayoutFiles > 0) rows else rows.repartition(col("cell")),
      s"$root/corpus/shard=$shardId", pointLayoutFiles)
  }

  /** Sample residuals under the PRODUCT router, driver-side — the
    * IMI twin of [[residualsOf]]: per-half cosine-argmax assignment
    * (the same [[Similarity.nearestCell]] arithmetic the distributed
    * encode runs on each slice), per-component subtraction against
    * the matched half-centroid. */
  private def residualsOfImi(sample: Array[Array[Double]],
                             c1: Array[Array[Double]],
                             c2: Array[Array[Double]]): Array[Array[Double]] = {
    val h = c1(0).length
    val n1 = c1.map(c => math.sqrt(c.map(x => x * x).sum))
    val n2 = c2.map(c => math.sqrt(c.map(x => x * x).sum))
    sample.map { v =>
      val ca = c1(Similarity.nearestCell(c1, n1, v.take(h)))
      val cbv = c2(Similarity.nearestCell(c2, n2, v.drop(h)))
      Array.tabulate(v.length)(d =>
        if (d < h) v(d) - ca(d) else v(d) - cbv(d - h))
    }
  }

  /** The (rotation, codebooks) pair [[buildImiPqIndex]] trains with
    * `residual = true, opq = true` — exposed for Verify-time oracle
    * generation (the [[trainedOpqResidual]] convention). */
  private[graft] def trainedImiOpqResidual(corpus: DataFrame,
                                           c1: Array[Array[Double]],
                                           c2: Array[Array[Double]],
                                           m: Int, ks: Int = 16,
                                           maxIter: Int = 5,
                                           maxTrain: Int = 4096,
                                           idCol: String = "vec_id",
                                           vecCol: String = "embedding")
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    trainOpq(
      residualsOfImi(
        Similarity.collectTrainSample(corpus, maxTrain, idCol, vecCol),
        c1, c2), m, ks, maxIter)

  /** The residual-trained codebook cube [[buildImiPqIndex]] trains
    * with `residual = true` — exposed for Verify-time oracle
    * generation (the [[trainedResidualCodebooks]] convention). */
  private[graft] def trainedImiResidualCodebooks(corpus: DataFrame,
                                                 c1: Array[Array[Double]],
                                                 c2: Array[Array[Double]],
                                                 m: Int, ks: Int = 16,
                                                 maxIter: Int = 5,
                                                 maxTrain: Int = 4096,
                                                 idCol: String = "vec_id",
                                                 vecCol: String = "embedding"): Array[Array[Array[Double]]] =
    trainCodebooksFromSample(
      residualsOfImi(
        Similarity.collectTrainSample(corpus, maxTrain, idCol, vecCol),
        c1, c2), m, ks, maxIter)

  /** Serve top-k ANN from a [[buildImiPqIndex]] directory: the
    * [[Similarity.imiRoutedCells]] per-half routing (2·kPerHalf
    * broadcast rows per query, lossless pair pruning) feeding the
    * SHARED post-routing ADC body ([[adcOverCells]] — the same LUT
    * arithmetic, candidate join, and tie order as
    * [[ivfPqTopKIndexed]], so the only difference between the flat
    * and product families is WHICH cells route; the candidate scan
    * stays codes-only either way). */
  /** `filter`: allowed-id relation for filtered serving — the q154
    * pre-filter contract ([[ivfPqTopKIndexed]]) on the product-router
    * family: the semi-join gates the cell-pruned codes-only
    * candidates BEFORE ranking. */
  def imiPqTopK(queries: DataFrame, dir: String, k: Int,
                nprobe: Int = 4, idCol: String = "vec_id",
                vecCol: String = "embedding",
                excludeShards: Seq[String] = Nil,
                excludeSelf: Boolean = true,
                filter: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    val root = Generations.root(spark, dir)
    val cb = readCodebooks(spark, root)
    val c1 = Io.readParquet(spark, s"$root/centroids_h1")
    val c2 = Io.readParquet(spark, s"$root/centroids_h2")
    val q = widthGuarded(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")), "qv", cb)
    val probed = Similarity.imiRoutedCells(q, c1, c2, nprobe)
    val corpus = shardFiltered(spark, root, excludeShards)
    adcOverCells(spark, root, cb, c1, q, probed, corpus, k, excludeSelf,
      residualOrigin = imiResidualOrigin(spark, root, c1, c2),
      filterIds = filter)
  }

  /** The decomposed LUT origin of a residual [[buildImiPqIndex]]
    * serve: q − centroid(cell) = concat(q1 − c1(cell div K),
    * q2 − c2(cell mod K)) over the two kPerHalf-row half tables —
    * never the kPerHalf²-row product table. None when the index is
    * raw (adcOverCells ignores the origin there anyway). */
  private def imiResidualOrigin(spark: SparkSession, root: String,
                                c1: DataFrame,
                                c2: DataFrame): Option[Column] = {
    if (!readResidualFlag(spark, root)) return None
    val c1seq = collectCentroidTable(c1).map(_.toSeq).toSeq
    val c2seq = collectCentroidTable(c2).map(_.toSeq).toSeq
    val kk = c1seq.length
    val h = c1seq.head.length
    val h2 = c2seq.head.length
    Some(concat(
      graft.functions.VectorExpressions.cell_residual(
        expr(s"slice(qv, 1, $h)"),
        expr(s"CAST(cell div $kk AS INT)"), c1seq),
      graft.functions.VectorExpressions.cell_residual(
        expr(s"slice(qv, ${h + 1}, $h2)"),
        expr(s"CAST(cell % $kk AS INT)"), c2seq)))
  }

  /** The POINT-SERVING form of [[imiPqTopK]] — [[ivfPqTopKPoint]]'s
    * two-phase protocol on the product family: run the per-half
    * routing (2·kPerHalf broadcast rows — no corpus scan), COLLECT
    * the bounded probed (query, cell) pairs, re-enter the SHARED ADC
    * body with a pushed `cell IN (...)` the parquet reader acts on
    * (row-group skipping under `pointLayout`, partition pruning under
    * hive). Bit-identical to [[imiPqTopK]] (same routing rows, same
    * arithmetic body — spec-asserted); probes beyond `maxProbedPairs`
    * fall back to the batch plan. */
  def imiPqTopKPoint(queries: DataFrame, dir: String, k: Int,
                     nprobe: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     excludeShards: Seq[String] = Nil,
                     excludeSelf: Boolean = true,
                     maxProbedPairs: Int = 1024): DataFrame = {
    val spark = queries.sparkSession
    val root = Generations.root(spark, dir)
    val cb = readCodebooks(spark, root)
    val c1 = Io.readParquet(spark, s"$root/centroids_h1")
    val c2 = Io.readParquet(spark, s"$root/centroids_h2")
    val q = widthGuarded(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")), "qv", cb)
    val routing = Similarity.imiRoutedCells(q, c1, c2, nprobe)
      .select("query_id", "cell")
    val pairs = routing.limit(maxProbedPairs + 1).collect()
    if (pairs.length > maxProbedPairs || pairs.isEmpty)
      return imiPqTopK(queries, dir, k, nprobe, idCol, vecCol,
        excludeShards, excludeSelf)
    val litRouting = spark.createDataFrame(
      java.util.Arrays.asList(pairs: _*), routing.schema)
    val probedCells = litRouting.join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("qv"), col("cell"))
    val cells = pairs.map(_.getInt(1): Any).distinct.toSeq
    val corpus = shardFiltered(spark, root, excludeShards)
      .where(Pushdown.pushedIsin(col("cell"), cells))
    adcOverCells(spark, root, cb, c1, q, probedCells, corpus, k, excludeSelf,
      residualOrigin = imiResidualOrigin(spark, root, c1, c2))
  }

  /** In-place IVF-PQ compaction — [[Similarity.compactIvfIndexInPlace]]
    * with the codebook relation carried along: accreted append shards
    * rewrite into a single `shard=base` under generation n+1, the
    * CURRENT pointer swaps atomically, and `keepShards` (the in-flight
    * ingest batch) survive under their own ids so a post-compaction
    * replay can still exclude its own rows. Centroids and codebooks
    * copy verbatim — codes were assigned under frozen quantizers, so
    * rewriting shard layout cannot change any served result
    * (spec-asserted). */
  def compactIvfPqIndexInPlace(spark: SparkSession, dir: String,
                               keepShards: Seq[String] = Nil): Unit = {
    val root = Generations.root(spark, dir)
    // the layout travels with the index: a point-layout index compacts
    // back into cell-sorted bounded files, a hive index into cell=<n>/
    // — the shared writeShardRows keeps the two recipes from drifting
    val (pl, plFiles) = readPointLayout(spark, root)
    val files = if (pl) plFiles else 0
    Generations.writeNext(spark, dir) { gen =>
      // params (the residual/opq flags) and the rotation travel with the
      // quantizers — codes in the rewritten shards were assigned under
      // them; the rotation exists only when the build set opq
      val rels = Seq("centroids", "codebooks", "params") ++
        readRotation(spark, root).map(_ => "rotation")
      rels.foreach { rel =>
        Io.readParquet(spark, s"$root/$rel")
          .coalesce(1).write.mode("overwrite").parquet(s"$gen/$rel")
      }
      val all = Io.readParquet(spark, s"$root/corpus")
      writeShardRows(all.where(!col("shard").isin(keepShards: _*)).drop("shard"),
        s"$gen/corpus/shard=base", files)
      keepShards.foreach { ks =>
        writeShardRows(all.where(col("shard") === ks).drop("shard"),
          s"$gen/corpus/shard=$ks", files)
      }
    }
  }

  /** [[ivfPqTopKIndexed]] + the [[topKRefined]] refine stage: the
    * index supplies the `refine`·k ADC shortlist (codes-only scan);
    * `source` is the raw vector relation the exact re-rank fetches
    * from by id — the index deliberately stores no floats, so
    * refinement reads the source of truth, shortlist-sized. */
  def ivfPqTopKRefined(queries: DataFrame, dir: String, k: Int,
                       source: DataFrame, nprobe: Int = 4, refine: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       excludeShards: Seq[String] = Nil,
                       excludeSelf: Boolean = true): DataFrame = {
    require(refine > 0, s"Pq.ivfPqTopKRefined: refine must be positive, got $refine")
    val shortlist = ivfPqTopKIndexed(queries, dir, k * refine, nprobe,
      idCol, vecCol, excludeShards, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(shortlist, queries, source, k, idCol, vecCol)
  }

  /** [[ivfPqTopKRefined]] re-ranking from the index's OWN stored
    * refine vectors instead of an external source relation — the
    * faiss `IVFPQR`-shaped trade, built on a `refineHalf = true`
    * index: [[buildIvfPqIndex]] packed each raw vector to IEEE
    * binary16 beside its codes (2 bytes/dim), and the refine stage
    * decodes EXACTLY those halves ([[graft.functions.VectorExpressions
    * .Fp16Unpack]] is lossless) and re-ranks by exact cosine of
    * (full-precision query, half-precision neighbor) — the standard
    * asymmetric refine. Why it matters at 100 TB: [[ivfPqTopKRefined]]
    * must reach back to the full-precision SOURCE relation (a second
    * storage system at serving time); this path serves shortlist
    * re-ranks entirely from the index at 2 bytes/dim, trading ~2⁻¹¹
    * relative rounding on the corpus side — SCALE.md's round-14 fp16
    * addendum records the recall delta vs source-refine (≈0 on the
    * synthetic fixtures; a half carries 11 significant bits, ADC codes
    * carry 4).
    * The ADC shortlist stage is byte-identical to
    * [[ivfPqTopKRefined]]'s (same index, same codes — spec-asserted
    * its scan stays codes-only: vec16 is pruned); only the fetch
    * relation differs. Refuses an index built without
    * `refineHalf = true`. Output (query_id, rnk, neighbor_id,
    * cos_sim·1e-4-rounded). */
  def ivfPqTopKRefinedHalf(queries: DataFrame, dir: String, k: Int,
                           nprobe: Int = 4, refine: Int = 4,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           excludeShards: Seq[String] = Nil,
                           excludeSelf: Boolean = true): DataFrame = {
    require(refine > 0,
      s"Pq.ivfPqTopKRefinedHalf: refine must be positive, got $refine")
    val spark = queries.sparkSession
    val root = Generations.root(spark, dir)
    require(readRefineHalfFlag(spark, root),
      s"Pq.ivfPqTopKRefinedHalf: index at $dir was built without " +
        "refineHalf = true (no stored refine vectors) — rebuild with " +
        "refineHalf, or re-rank from the source relation with " +
        "ivfPqTopKRefined")
    val shortlist = ivfPqTopKIndexed(queries, dir, k * refine, nprobe,
      idCol, vecCol, excludeShards, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    // join FIRST, decode AFTER: the fp16 unpack must run on the
    // shortlist-sized matched rows, not under the join on every corpus
    // row (a projection below the join evaluates per streamed row)
    val fetched = shortlist
      .join(shardFiltered(spark, root, excludeShards)
        .select(col("neighbor_id"), col("vec16")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions.fp16_unpack(col("vec16")).as("cv"))
    rerankFetched(fetched, queries, k, idCol, vecCol)
  }

  /** The POINT-SERVING form of [[ivfPqTopKRefined]] — the vector twin
    * of [[LshIndex.pointNearDuplicates]]: [[rerankExact]]'s vector
    * fetch is an id equi-join whose PLAN is still a full `source`
    * scan streamed through a broadcast join — right for batch serving
    * (thousands of queries amortize the scan), wrong for a
    * request/response probe where the shortlist is the whole working
    * set. Here the ADC shortlist is COLLECTED (bounded: |queries| ·
    * k·refine rows, capped by `maxFetchIds`) and the re-rank plan
    * fetches ONLY those ids through a [[Pushdown.pushedIsin]] filter
    * the parquet reader can act on — over an id-sorted vectors
    * relation (ours are written in id order) the scan reads a few row
    * groups instead of the corpus. Results are bit-identical to
    * [[ivfPqTopKRefined]] (same exact-cosine arithmetic, same tie
    * order — spec-asserted); shortlists beyond `maxFetchIds` fall
    * back to the batch plan. */
  def ivfPqTopKRefinedPoint(queries: DataFrame, dir: String, k: Int,
                            source: DataFrame, nprobe: Int = 4,
                            refine: Int = 4,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            excludeShards: Seq[String] = Nil,
                            excludeSelf: Boolean = true,
                            maxFetchIds: Int = 4096): DataFrame = {
    require(refine > 0,
      s"Pq.ivfPqTopKRefinedPoint: refine must be positive, got $refine")
    val spark = queries.sparkSession
    val shortRows = ivfPqTopKIndexed(queries, dir, k * refine, nprobe,
      idCol, vecCol, excludeShards, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
      .limit(maxFetchIds + 1).collect()
    if (shortRows.length > maxFetchIds)
      return ivfPqTopKRefined(queries, dir, k, source, nprobe, refine,
        idCol, vecCol, excludeShards, excludeSelf)
    import spark.implicits._
    val shortlist = shortRows.map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.toDF("query_id", "neighbor_id")
    val ids = shortRows.map(_.getLong(1)).distinct.toSeq
    rerankExact(shortlist, queries,
      source.where(Pushdown.pushedIsin(col(idCol), ids)), k, idCol, vecCol)
  }
}
