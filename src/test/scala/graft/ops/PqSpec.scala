package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.PqExpressions

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val em =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** The live generation of an index dir. */
  private def live(dir: String) = Generations.root(spark, dir)

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toSet

  /** Driver reference: encode + ADC + rank in plain Scala, same
    * arithmetic order as the expressions. */
  private def reference(cb: Array[Array[Array[Double]]],
                        vecs: Map[Long, Array[Double]],
                        queryIds: Seq[Long], k: Int): Set[(Long, Long, Long, Double)] = {
    val m = cb.length; val ds = cb(0)(0).length; val ks = cb(0).length
    def codesOf(v: Array[Double]): Array[Int] = Array.tabulate(m) { s =>
      var best = 0; var bd = Double.PositiveInfinity
      for (j <- 0 until ks) {
        var dist = 0.0
        for (d <- 0 until ds) {
          val t = v(s * ds + d) - cb(s)(j)(d); dist += t * t
        }
        if (dist < bd) { bd = dist; best = j }
      }
      best
    }
    val codes = vecs.map { case (id, v) => id -> codesOf(v) }
    queryIds.flatMap { q =>
      val lut = Array.tabulate(m, ks) { (s, j) =>
        var dist = 0.0
        for (d <- 0 until ds) {
          val t = vecs(q)(s * ds + d) - cb(s)(j)(d); dist += t * t
        }
        dist
      }
      val scored = codes.toSeq.filter(_._1 != q).map { case (id, c) =>
        var acc = 0.0
        for (s <- 0 until m) acc += lut(s)(c(s))
        (id, acc)
      }
      scored.sortBy { case (id, dist) => (dist, id) }.take(k).zipWithIndex
        .map { case ((id, dist), r) =>
          (q, (r + 1).toLong, id,
            BigDecimal(dist).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }.toSet
  }

  test("pq encode/lut/adc: codegen compiles and matches interpreted eval bit-for-bit") {
    val cb = Pq.trainCodebooks(em, m = 8, ks = 8)
    val ks = cb(0).length
    val q = em.where(col("vec_id") < 5)
      .select(col("vec_id"), PqExpressions.pq_lut(col("embedding"),
        cb.map(_.map(_.toSeq).toSeq).toSeq).as("lut"))
    def run(): Set[(Long, Long, Double)] = Pq.encode(em, cb)
      .crossJoin(broadcast(q.select(col("vec_id").as("qid"), col("lut"))))
      .select(col("qid"), col("vec_id"),
        PqExpressions.pq_adc(col("lut"), col("codes"), ks).as("adc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def withMode(mode: String)(f: => Set[(Long, Long, Double)]) = {
      val saved = spark.conf.getOption("spark.sql.codegen.factoryMode")
      try { spark.conf.set("spark.sql.codegen.factoryMode", mode); f }
      finally saved match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(withMode("CODEGEN_ONLY")(run()) === withMode("NO_CODEGEN")(run()))
    // the packed byte form is the same quantizer: byte codes unpack to
    // the int codes, and byte-ADC sums the same LUT entries
    val both = em.select(col("vec_id"),
        PqExpressions.pq_encode(col("embedding"),
          cb.map(_.map(_.toSeq).toSeq).toSeq).as("ci"),
        PqExpressions.pq_encode_bytes(col("embedding"),
          cb.map(_.map(_.toSeq).toSeq).toSeq).as("cbts"))
      .collect()
    both.foreach { r =>
      assert(r.getAs[Array[Byte]]("cbts").map(_ & 0xFF).toSeq ===
        r.getSeq[Int](1))
    }
  }

  test("pq topK matches the driver-side reference ADC ranking exactly") {
    val cb = Pq.trainCodebooks(em, m = 8, ks = 8)
    val vecs = em.select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = em.where(col("vec_id") < 5)
    val got = rows(Pq.topK(q, em, k = 3, m = 8, ks = 8))
    assert(got === reference(cb, vecs, Seq(0L, 1L, 2L, 3L, 4L), 3))
  }

  test("short vectors RAISE through the operators; raw expression keeps zero codes") {
    val cb = Array.fill(2)(Array.fill(2)(Array(0.5, 0.5)))
    val mixed = Seq((0L, Array(9.0f)), (1L, Array(0.6f, 0.6f, 0.4f, 0.4f)))
      .toDF("vec_id", "embedding")
    // operator path: the per-row width guard fails the ragged row
    // loudly (the LSH dimGuard convention) instead of zero-coding it
    // into the index as a false ADC neighbor
    val e = intercept[Exception] { Pq.encode(mixed, cb).collect() }
    assert(e.getMessage.contains("need >= 4") ||
      Option(e.getCause).exists(_.getMessage.contains("need >= 4")))
    // well-formed rows still encode through the operator
    val ok = Pq.encode(mixed.where(col("vec_id") === 1L), cb).collect()
    assert(ok.length === 1 && ok.head.getSeq[Int](1).length === 2)
    // the raw expression's own short-vector contract is unchanged
    // (all-zero codes, no raise) for direct expression use
    val raw = mixed.select(col("vec_id"),
      graft.functions.PqExpressions.pq_encode(col("embedding"),
        cb.map(_.map(_.toSeq).toSeq).toSeq).as("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(raw(0L) === Seq(0, 0))
  }

  test("pq index round-trip: pqTopKIndexed bit-equal to topK; codes-only layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Pq.buildPqIndex(em, dir, m = 8, ks = 8)
    val q = em.where(col("vec_id") < 5)
    val served = Pq.pqTopKIndexed(q, dir, k = 3)
    assert(rows(served) === rows(Pq.topK(q, em, k = 3, m = 8, ks = 8)))
    // the persisted codes relation has no float vectors to read
    assert(spark.read.parquet(s"${live(dir)}/codes").columns.sorted
      === Array("codes", "id", "shard"))
  }

  test("ivf-pq: full probe equals flat pq topK; serve plan reads codes only, no encode/assign") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 8, nlist = 4)
    val q = em.where(col("vec_id") < 5)
    // nprobe = nlist probes every cell: the candidate set is the whole
    // corpus, so ranking must equal the flat PQ scan bit-for-bit
    val served = Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4)
    assert(rows(served) === rows(Pq.topK(q, em, k = 3, m = 8, ks = 8)))
    val plan = served.queryExecution.executedPlan.toString
    // serve never re-encodes or re-assigns the corpus...
    assert(!plan.contains("PqEncode") && !plan.contains("NearestCell"))
    // ...and the corpus scan reads code bytes, never float vectors:
    // the one FileScan over dir/corpus projects exactly (neighbor_id,
    // codes) + the cell partition column
    val corpusScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("corpus"))
      .mkString("\n")
    assert(corpusScan.contains("neighbor_id") && corpusScan.contains("codes"))
    assert(!corpusScan.contains("cv") && !corpusScan.contains("embedding"))
  }

  test("filtered ivf-pq serve: pre-filter gates candidates before ranking; codes-only scan unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-filt").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 8, nlist = 4)
    val q = em.where(col("vec_id") < 5)
    val allowed = em.where(col("label") === 7).select(col("vec_id"))
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    val served = Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4,
      filter = Some(allowed))
    val got = rows(served)
    // every result satisfies the predicate, and pre-filter FILLS k
    // (with nprobe = nlist every allowed candidate is probed) — the
    // defining property a post-filter of an unfiltered top-k lacks
    assert(got.forall { case (_, _, nb, _) => allowedIds.contains(nb) })
    assert(served.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 3L))
    // pre-filter ≡ rank the SAME index's unfiltered candidates over
    // the allowed set only: take an unfiltered full-probe serve wide
    // enough to hold every candidate, keep allowed neighbors, re-rank
    val base = rows(Pq.ivfPqTopKIndexed(q, dir, k = 600, nprobe = 4))
    val want = base.toSeq.filter(t => allowedIds.contains(t._3))
      .groupBy(_._1).flatMap { case (qid, ts) =>
        ts.sortBy(t => (t._4, t._3)).take(3).zipWithIndex
          .map { case (t, i) => (qid, (i + 1).toLong, t._3, t._4) }
      }.toSet
    assert(got === want)
    // post-filtering the unfiltered top-3 under-fills whenever the
    // filter is selective — confirm the distinction is real here
    val post = rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4))
      .filter(t => allowedIds.contains(t._3))
    assert(post.size < got.size)
    // the candidate scan stays codes-only with the filter applied
    val plan = served.queryExecution.executedPlan.toString
    val corpusScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("corpus"))
      .mkString("\n")
    assert(corpusScan.contains("codes") && !corpusScan.contains("embedding"))
  }

  test("ivf-pq restricted probe: candidates only from probed cells; recall floor vs exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-probe").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 16, nlist = 8)
    val q = em.where(col("vec_id") < 20)
    val approx = Pq.ivfPqTopKIndexed(q, dir, k = 5, nprobe = 2)
    // the probed-cell broadcast join must partition-prune the corpus
    // scan (dynamic pruning on the cell dir) — without it the serve
    // reads every cell's bytes and the nprobe/nlist cost story is gone
    assert(approx.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"))
    val truth = Similarity.bruteForceTopK(q, em, k = 5)
    val recall = Similarity.annRecall(truth, approx)
      .agg(avg("recall_ppm")).head().getDouble(0)
    // measured 0.26 on this fixture (SCALE.md round-11 addendum 3:
    // uniform random unit vectors — the quantization worst case; real
    // embedding corpora cluster). The floor pins against silent
    // ranking/probing regressions, not against noise
    assert(recall > 150000, s"ivf-pq recall@5 collapsed: $recall ppm")
  }

  test("ivf-pq append: frozen quantizers, replay-idempotent shard, excludeShards filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString
    val (base, shard) =
      (em.where(col("vec_id") < 400), em.where(col("vec_id") >= 400))
    Pq.buildIvfPqIndex(base, dir, m = 8, ks = 8, nlist = 4)
    Pq.appendToIvfPqIndex(shard, dir, shardId = "day-1")
    val q = em.where(col("vec_id") < 5)
    val got = Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4)
    // appended vectors compete: full probe over the union must equal
    // a from-scratch flat ranking under the SAME (base-trained)
    // codebooks — encode the union with the frozen cube and rank
    val cb = Pq.readCodebooks(spark, live(dir))
    val ks = cb(0).length
    val lut = broadcast(q.select(col("vec_id").as("query_id"),
      PqExpressions.pq_lut(col("embedding"),
        cb.map(_.map(_.toSeq).toSeq).toSeq).as("lut")))
    val flat = Pq.encode(em, cb)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
      .join(lut, col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        negate(PqExpressions.pq_adc(col("lut"), col("codes"), ks)))
      .groupBy("query_id")
      .agg(graft.functions.AggExpressions.top_k_by_score(
        col("score"), col("neighbor_id").cast("long"), 3).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("nb"))
      .select(col("query_id"), col("nb.rnk").as("rnk"),
        col("nb.id").as("neighbor_id"),
        round(negate(col("nb.score")), 4).as("adc_dist"))
    assert(rows(got) === rows(flat))
    // replaying the same shard id replaces, not duplicates
    Pq.appendToIvfPqIndex(shard, dir, shardId = "day-1")
    assert(rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4)) === rows(got))
    // excluding the shard restores a base-only candidate set
    val baseOnly = Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4,
      excludeShards = Seq("day-1"))
    val baseIds = base.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(baseOnly.collect().map(_.getAs[Long]("neighbor_id"))
      .forall(baseIds.contains))
  }

  test("versioned ivf-pq: serve equals flat; in-place compaction keeps the replay shard") {
    val (base, shard) =
      (em.where(col("vec_id") < 400), em.where(col("vec_id") >= 400))
    val q = em.where(col("vec_id") < 5)
    // build over base only, append a shard, compact keeping it
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-v").toString
    Pq.buildIvfPqIndex(base, dir, m = 8, ks = 8, nlist = 4)
    Pq.appendToIvfPqIndex(shard, dir, shardId = "b7")
    val before = rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4))
    Pq.compactIvfPqIndexInPlace(spark, dir, keepShards = Seq("b7"))
    assert(rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4)) === before)
    // the kept shard survives under its own id for replay exclusion
    assert(live(dir) === s"$dir/gen-1")
    val shards = spark.read.parquet(s"${live(dir)}/corpus")
      .select("shard").distinct().collect().map(_.getString(0)).toSet
    assert(shards === Set("base", "b7"))
    assert(rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4,
        excludeShards = Seq("b7"))).nonEmpty)
  }

  test("fp16 pack/unpack: numpy-pinned RNE edges; lossless decode; byte-determinism") {
    import graft.functions.VectorExpressions.{fp16_pack, fp16_unpack}
    // (float input → exact binary16 value), validated against numpy
    // float16 (RNE): normals, ties, binade carry, max half,
    // subnormals, and the 2^-25 round-to-even-zero tie
    val cases: Seq[(Float, Double)] = Seq(
      0.0f -> 0.0,
      65504.0f -> 65504.0,
      6.1e-5f -> 6.097555160522461e-5,
      5.96e-8f -> 5.960464477539063e-8,
      2.9802322387695312e-8f -> 0.0,
      -0.1f -> -0.0999755859375,
      0.1000061f -> 0.0999755859375,
      2.0f -> 2.0,
      1.9999999f -> 2.0,
      -6.0e-5f -> -6.002187728881836e-5,
      3.0517578125e-5f -> 3.0517578125e-5)
    val df = cases.zipWithIndex.map { case ((f, _), i) => (i.toLong, Seq(f)) }
      .toDF("id", "v")
    val got = df.select(col("id"), fp16_unpack(fp16_pack(col("v"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).head).toMap
    cases.zipWithIndex.foreach { case ((f, exp), i) =>
      assert(got(i.toLong) === exp, s"half($f)")
    }
    // halves are FIXED POINTS of the rounding: re-packing a decoded
    // vector reproduces the bytes exactly — the at-rest representation
    // is deterministic and idempotent under round-trips
    val once = em.select(col("vec_id"), fp16_pack(col("embedding")).as("b"))
    val twice = once.select(col("vec_id"), col("b"),
      fp16_pack(fp16_unpack(col("b"))).as("b2"))
    assert(twice.where(col("b") =!= col("b2")).count() === 0)
    // rounding bound on the real corpus: an 11-bit significand keeps
    // |x − half(x)| ≤ 2⁻¹¹·|x| for normals, and ≤ 2⁻¹¹·2⁻¹⁴ absolute
    // in the subnormal range — one uniform relative bound after
    // clamping the denominator at the subnormal threshold
    val maxRel = em
      .withColumn("_h", fp16_unpack(fp16_pack(col("embedding"))))
      .select(expr(
        """aggregate(zip_with(embedding, _h, (x, h) ->
             abs(x - h) / greatest(abs(cast(x as double)), 0.00006103515625)),
           cast(0 as double), (a, e) -> greatest(a, e))""").as("m"))
      .agg(max("m")).head().getDouble(0)
    assert(maxRel <= 4.8828125e-4, s"fp16 relative error $maxRel beyond 2^-11")
  }

  test("half-refined serve: saturation equals brute force over the halved corpus; codes-only ADC; refusal") {
    import graft.functions.VectorExpressions.{fp16_pack, fp16_unpack}
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-half").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 8, nlist = 4,
      residual = true, refineHalf = true)
    val q = em.where(col("vec_id") < 5)
    def cosRows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    // saturated probe: every cell probed, shortlist ⊇ corpus — the
    // half-refined ranking must equal exact brute force over the
    // HALF-ROUNDED corpus (full-precision queries: asymmetric refine)
    val emHalved = em.select(col("vec_id"),
      fp16_unpack(fp16_pack(col("embedding"))).as("embedding"))
    val sat = Pq.ivfPqTopKRefinedHalf(q, dir, k = 3, nprobe = 4, refine = 200)
    assert(cosRows(sat) === cosRows(Similarity.bruteForceTopK(q, emHalved, k = 3)))
    // plan shape: the ADC shortlist scan stays codes-only (vec16 is
    // PRUNED — storing refine vectors costs the probe nothing), the
    // refine fetch reads vec16 and never codes; no encode/assign
    val plan = Pq.ivfPqTopKRefinedHalf(q, dir, k = 3, nprobe = 2, refine = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("PqEncode") && !plan.contains("NearestCell"))
    val corpusScans = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("corpus")).toSeq
    assert(corpusScans.exists(l => l.contains("codes") && !l.contains("vec16")),
      s"ADC scan must stay codes-only:\n${corpusScans.mkString("\n")}")
    assert(corpusScans.exists(l => l.contains("vec16") && !l.contains("codes")),
      s"refine fetch must read vec16 only:\n${corpusScans.mkString("\n")}")
    // an index built WITHOUT stored refine vectors refuses loudly
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivfpq-nohalf").toString
    Pq.buildIvfPqIndex(em, dir2, m = 8, ks = 8, nlist = 4)
    val e = intercept[IllegalArgumentException] {
      Pq.ivfPqTopKRefinedHalf(q, dir2, k = 3)
    }
    assert(e.getMessage.contains("refineHalf"))
  }

  test("refine vectors survive append + versioned compaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-halfv").toString
    val base = em.where(col("vec_id") % 2 === 0)
    val inc = em.where(col("vec_id") % 2 === 1)
    Pq.buildIvfPqIndex(base, dir, m = 8, ks = 8, nlist = 4,
      residual = true, refineHalf = true)
    // append inherits the refine-half mode from params: appended rows
    // carry vec16 and serve through the half re-rank
    Pq.appendToIvfPqIndex(inc, dir, "inc-1")
    val q = em.where(col("vec_id") < 5)
    def cosRows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val before = cosRows(Pq.ivfPqTopKRefinedHalf(q, dir, k = 3,
      nprobe = 2, refine = 2))
    // appended rows are reachable (odd ids can win shortlist slots)
    assert(Pq.ivfPqTopKRefinedHalf(q, dir, k = 3, nprobe = 4, refine = 200)
      .where(col("neighbor_id") % 2 === 1).count() > 0)
    // compaction rewrites shard layout under frozen quantizers — the
    // refine vectors travel with their rows; served results unchanged
    Pq.compactIvfPqIndexInPlace(spark, dir)
    assert(cosRows(Pq.ivfPqTopKRefinedHalf(q, dir, k = 3,
      nprobe = 2, refine = 2)) === before)
  }

  test("refined pq: saturated shortlist equals exact brute force; shortlist stage stays PQ") {
    val q = em.where(col("vec_id") < 5)
    // refine·k ≥ |corpus| ⇒ the shortlist is every candidate and the
    // exact-cosine re-rank must reproduce bruteForceTopK bit-for-bit
    val sat = Pq.topKRefined(q, em, k = 3, m = 8, ks = 8, refine = 200)
    def cosRows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    assert(cosRows(sat) === cosRows(Similarity.bruteForceTopK(q, em, k = 3)))
    // a bounded refine improves on pure ADC recall (measured 0.22 ADC
    // → 0.8+ refined on this fixture; floor pins the mechanism works)
    val truth = Similarity.bruteForceTopK(q, em, k = 5)
    val refined = Pq.topKRefined(q, em, k = 5, m = 8, ks = 16, refine = 8)
    val r = Similarity.annRecall(truth, refined)
      .agg(avg("recall_ppm")).head().getDouble(0)
    assert(r > 500000, s"refined recall collapsed: $r ppm")
  }

  test("indexed refined pq: index shortlist + source re-rank; full probe + saturation is exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-ref").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 8, nlist = 4)
    val q = em.where(col("vec_id") < 5)
    val sat = Pq.ivfPqTopKRefined(q, dir, k = 3, source = em,
      nprobe = 4, refine = 200)
    def cosRows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    assert(cosRows(sat) === cosRows(Similarity.bruteForceTopK(q, em, k = 3)))
  }

  /** Full driver re-derivation of the RESIDUAL (IVFADC) serve: cell
    * routing by cosine (ties to the lowest cell), residual against the
    * assigned/probed cell's centroid, per-(query, cell) LUTs, ADC over
    * residual codes — the same independent-arithmetic check the q122
    * oracle runs in DuckDB. */
  private def residualReference(root: String, queryIds: Seq[Long],
                                k: Int, nprobe: Int): Set[(Long, Long, Long, Double)] = {
    val cent = spark.read.parquet(s"$root/centroids").orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray)
    val norms = cent.map(c => math.sqrt(c.map(x => x * x).sum))
    val cb = Pq.readCodebooks(spark, root)
    val m = cb.length; val ds = cb(0)(0).length; val ks = cb(0).length
    val vecs = em.select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosTo(v: Array[Double], i: Int): Double = {
      var nv = 0.0; var d = 0
      while (d < v.length) { nv += v(d) * v(d); d += 1 }
      val normV = math.sqrt(nv)
      var dot = 0.0; d = 0
      while (d < cent(i).length) { dot += cent(i)(d) * v(d); d += 1 }
      if (norms(i) == 0.0 || normV == 0.0) 0.0 else dot / (norms(i) * normV)
    }
    def residual(v: Array[Double], cell: Int): Array[Double] =
      Array.tabulate(v.length)(d => v(d) - cent(cell)(d))
    def codesOf(r: Array[Double]): Array[Int] = Array.tabulate(m) { s =>
      var best = 0; var bd = Double.PositiveInfinity
      for (j <- 0 until ks) {
        var dist = 0.0
        for (d <- 0 until ds) { val t = r(s * ds + d) - cb(s)(j)(d); dist += t * t }
        if (dist < bd) { bd = dist; best = j }
      }
      best
    }
    // corpus side: each vector's cell (cos argmax, lowest-cell ties)
    // and its residual codes
    val assigned = vecs.map { case (id, v) =>
      val cell = cent.indices.maxBy(i => (cosTo(v, i), -i))
      (id, cell, codesOf(residual(v, cell)))
    }.toSeq
    queryIds.flatMap { qid =>
      val qv = vecs(qid)
      val probed = cent.indices
        .sortBy(i => (-cosTo(qv, i), i)).take(nprobe).toSet
      val scored = assigned
        .filter { case (id, cell, _) => id != qid && probed(cell) }
        .map { case (id, cell, codes) =>
          val qr = residual(qv, cell)
          var acc = 0.0
          for (s <- 0 until m) {
            // ADC term: squared-L2 of the query residual's subvector
            // to the CANDIDATE's code centroid (the LUT entry)
            var lutEntry = 0.0
            for (d <- 0 until ds) {
              val t = qr(s * ds + d) - cb(s)(codes(s))(d); lutEntry += t * t
            }
            acc += lutEntry
          }
          (id, acc)
        }
      scored.sortBy { case (id, dist) => (dist, id) }.take(k).zipWithIndex
        .map { case ((id, dist), r) =>
          (qid, (r + 1).toLong, id,
            BigDecimal(dist).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }.toSet
  }

  test("residual ivf-pq (IVFADC): driver re-derivation matches; corpus scan stays codes-only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-res").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 8, nlist = 4, residual = true)
    val q = em.where(col("vec_id") < 5)
    val served = Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 2)
    assert(rows(served) === residualReference(live(dir), 0L until 5L, k = 3, nprobe = 2))
    val plan = served.queryExecution.executedPlan.toString
    // the candidate side never re-encodes/re-assigns; the residual
    // work (CellResidual under PqLut) lives ONLY on the tiny query side
    assert(!plan.contains("PqEncode") && !plan.contains("NearestCell"))
    val corpusScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("corpus"))
      .mkString("\n")
    assert(corpusScan.contains("neighbor_id") && corpusScan.contains("codes"))
    assert(!corpusScan.contains("embedding"))
  }

  test("residual ivf-pq: saturated probe + refine is exact; beats raw recall on clustered data") {
    val dirRes = java.nio.file.Files.createTempDirectory("graft-ivfpq-res2").toString
    Pq.buildIvfPqIndex(em, dirRes, m = 8, ks = 8, nlist = 4, residual = true)
    val q = em.where(col("vec_id") < 5)
    // full probe + saturating refine re-ranks a corpus-sized shortlist
    // by exact cosine — must equal brute force regardless of encoding
    def cosRows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val sat = Pq.ivfPqTopKRefined(q, dirRes, k = 3, source = em,
      nprobe = 4, refine = 200)
    assert(cosRows(sat) === cosRows(Similarity.bruteForceTopK(q, em, k = 3)))
    // the recall LEVER, pinned where it exists: on a CLUSTERED corpus
    // (the real embedding regime — the uniform `em` fixture has no
    // cell structure for residuals to exploit, measured ±1 neighbor
    // there) residual ADC at equal (m, ks, nprobe) must beat raw.
    // Deterministic fixture: 4 well-separated centers in 16 dims,
    // small sinusoidal displacement per vector.
    val clustered = (0L until 256L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16) { d =>
        val center = if (d / 4 == c) 1.0 else 0.0
        (center + 0.2 * math.sin(i * 13.0 + d * 7.0)).toFloat
      })
    }.toDF("vec_id", "embedding")
    val dirResC = java.nio.file.Files.createTempDirectory("graft-ivfpq-resc").toString
    val dirRawC = java.nio.file.Files.createTempDirectory("graft-ivfpq-rawc").toString
    Pq.buildIvfPqIndex(clustered, dirResC, m = 8, ks = 8, nlist = 4, residual = true)
    Pq.buildIvfPqIndex(clustered, dirRawC, m = 8, ks = 8, nlist = 4, residual = false)
    val qs = clustered.where(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(qs, clustered, k = 5)
    def recallOf(dir: String) = Similarity.annRecall(truth,
        Pq.ivfPqTopKIndexed(qs, dir, k = 5, nprobe = 2))
      .agg(avg("recall_ppm")).head().getDouble(0)
    val (rRes, rRaw) = (recallOf(dirResC), recallOf(dirRawC))
    assert(rRes > rRaw,
      s"residual recall $rRes ppm not above raw $rRaw ppm at equal nprobe " +
        "on the clustered fixture")
  }

  test("refined residual serve: shortlist stage stays codes-only; bounded probe output sane") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-resref").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 8, nlist = 4, residual = true)
    val q = em.where(col("vec_id") < 5)
    val refined = Pq.ivfPqTopKRefined(q, dir, k = 3, source = em,
      nprobe = 2, refine = 2)
    val plan = refined.queryExecution.executedPlan.toString
    // the ADC shortlist never re-encodes/re-assigns; floats enter the
    // plan ONLY through the shortlist-sized id-join re-rank (the
    // source relation), never the index corpus scan
    assert(!plan.contains("PqEncode") && !plan.contains("NearestCell"))
    val corpusScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("corpus"))
      .mkString("\n")
    assert(corpusScan.contains("codes") && !corpusScan.contains("embedding"))
    // output contract: k rows per query, exact-cosine scores in [-1, 1]
    val rows = refined.collect()
    assert(rows.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 3))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos_sim")) <= 1.0))
  }

  test("residual flag survives append + in-place compaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-resv").toString
    val (base, shard) =
      (em.where(col("vec_id") < 400), em.where(col("vec_id") >= 400))
    Pq.buildIvfPqIndex(base, dir, m = 8, ks = 8, nlist = 4,
      residual = true)
    Pq.appendToIvfPqIndex(shard, dir, shardId = "day-1")
    val q = em.where(col("vec_id") < 5)
    val before = rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4))
    // the appended rows must rank exactly as the driver re-derivation
    // says (i.e. the shard was RESIDUAL-encoded under the frozen
    // quantizers, not raw-encoded)
    assert(before === residualReference(live(dir),
      0L until 5L, k = 3, nprobe = 4))
    // replay idempotent; compaction carries params to the new gen
    Pq.appendToIvfPqIndex(shard, dir, shardId = "day-1")
    assert(rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4)) === before)
    Pq.compactIvfPqIndexInPlace(spark, dir, keepShards = Seq("day-1"))
    assert(rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4)) === before)
  }

  /** [[residualReference]] extended with the OPQ rotation: codes from
    * R·(v − centroid), query LUTs from R·(q − centroid) — the same
    * independent re-derivation the q125 oracle runs in DuckDB. The
    * rotation is read back from the index dir (exact doubles) and
    * applied with an ascending-d multiply-accumulate, matching
    * [[graft.functions.VectorExpressions.Rotate]] bit-for-bit. */
  private def opqResidualReference(root: String, queryIds: Seq[Long],
                                   k: Int, nprobe: Int): Set[(Long, Long, Long, Double)] = {
    val rot = Pq.readRotation(spark, root).get
    def rotate(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](rot.length)
      var r = 0
      while (r < rot.length) {
        var acc = 0.0; var d = 0
        while (d < rot(r).length) { acc += rot(r)(d) * v(d); d += 1 }
        out(r) = acc; r += 1
      }
      out
    }
    val cent = spark.read.parquet(s"$root/centroids").orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray)
    val norms = cent.map(c => math.sqrt(c.map(x => x * x).sum))
    val cb = Pq.readCodebooks(spark, root)
    val m = cb.length; val ds = cb(0)(0).length; val ks = cb(0).length
    val vecs = em.select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosTo(v: Array[Double], i: Int): Double = {
      var nv = 0.0; var d = 0
      while (d < v.length) { nv += v(d) * v(d); d += 1 }
      val normV = math.sqrt(nv)
      var dot = 0.0; d = 0
      while (d < cent(i).length) { dot += cent(i)(d) * v(d); d += 1 }
      if (norms(i) == 0.0 || normV == 0.0) 0.0 else dot / (norms(i) * normV)
    }
    def residual(v: Array[Double], cell: Int): Array[Double] =
      Array.tabulate(v.length)(d => v(d) - cent(cell)(d))
    def codesOf(r: Array[Double]): Array[Int] = Array.tabulate(m) { s =>
      var best = 0; var bd = Double.PositiveInfinity
      for (j <- 0 until ks) {
        var dist = 0.0
        for (d <- 0 until ds) { val t = r(s * ds + d) - cb(s)(j)(d); dist += t * t }
        if (dist < bd) { bd = dist; best = j }
      }
      best
    }
    val assigned = vecs.map { case (id, v) =>
      val cell = cent.indices.maxBy(i => (cosTo(v, i), -i))
      (id, cell, codesOf(rotate(residual(v, cell))))
    }.toSeq
    queryIds.flatMap { qid =>
      val qv = vecs(qid)
      val probed = cent.indices
        .sortBy(i => (-cosTo(qv, i), i)).take(nprobe).toSet
      val scored = assigned
        .filter { case (id, cell, _) => id != qid && probed(cell) }
        .map { case (id, cell, codes) =>
          val qr = rotate(residual(qv, cell))
          var acc = 0.0
          for (s <- 0 until m) {
            var lutEntry = 0.0
            for (d <- 0 until ds) {
              val t = qr(s * ds + d) - cb(s)(codes(s))(d); lutEntry += t * t
            }
            acc += lutEntry
          }
          (id, acc)
        }
      scored.sortBy { case (id, dist) => (dist, id) }.take(k).zipWithIndex
        .map { case ((id, dist), r) =>
          (qid, (r + 1).toLong, id,
            BigDecimal(dist).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }.toSet
  }

  test("opq ivf-pq: driver re-derivation matches; codes-only scan; artifacts survive append+compaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-opq").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 8, nlist = 4,
      residual = true, opq = true)
    val q = em.where(col("vec_id") < 5)
    val served = Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 2)
    val expect = opqResidualReference(live(dir),
      0L until 5L, k = 3, nprobe = 2)
    assert(rows(served) === expect)
    // rotation is REAL (not identity) and orthogonal to ~1e-9
    val rot = Pq.readRotation(spark, live(dir)).get
    assert(rot.zipWithIndex.exists { case (row, i) =>
      row.zipWithIndex.exists { case (x, j) =>
        math.abs(x - (if (i == j) 1.0 else 0.0)) > 1e-6 } },
      "trained rotation is the identity — OPQ training did nothing")
    for (i <- rot.indices; j <- rot.indices) {
      val dot = rot.indices.map(d => rot(i)(d) * rot(j)(d)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"rotation rows $i,$j not orthonormal (dot $dot)")
    }
    // the candidate side never re-encodes/re-assigns/re-rotates: the
    // corpus scan stays (neighbor_id, codes); Rotate lives only on
    // the tiny query side
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("PqEncode") && !plan.contains("NearestCell"))
    val corpusScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("corpus"))
      .mkString("\n")
    assert(corpusScan.contains("neighbor_id") && corpusScan.contains("codes"))
    assert(!corpusScan.contains("embedding"))
    // append under the frozen rotation, then compact: served results
    // unchanged (rotation + params carried to the new generation)
    val shard = em.withColumn("vec_id", col("vec_id") + 10000)
      .where(col("vec_id") < 10003)
    Pq.appendToIvfPqIndex(shard, dir, shardId = "day-1")
    val withShard = rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4))
    Pq.compactIvfPqIndexInPlace(spark, dir, keepShards = Seq("day-1"))
    assert(rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 4)) === withShard)
    assert(Pq.readRotation(spark, live(dir)).isDefined,
      "compaction dropped the rotation relation")
  }

  test("opq recall: rotation recovers subspace-straddling structure a plain PQ cannot see") {
    import spark.implicits._
    // the clustered fixture MIXED by a fixed 45-degree rotation between
    // dims (d, d+8): cluster structure now straddles every (2d, 2d+1)
    // PQ subspace pair, the exact failure OPQ exists to undo
    val mixed = (0L until 256L).map { i =>
      val c = (i % 4).toInt
      val x = Array.tabulate(16) { d =>
        val center = if (d / 4 == c) 1.0 else 0.0
        center + 0.2 * math.sin(i * 13.0 + d * 7.0)
      }
      val y = Array.tabulate(16) { d =>
        if (d < 8) (x(d) - x(d + 8)) / math.sqrt(2.0)
        else (x(d - 8) + x(d)) / math.sqrt(2.0)
      }
      (i, y.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val dirPlain = java.nio.file.Files.createTempDirectory("graft-opq-plain").toString
    val dirOpq = java.nio.file.Files.createTempDirectory("graft-opq-rot").toString
    Pq.buildIvfPqIndex(mixed, dirPlain, m = 8, ks = 8, nlist = 4, residual = true)
    Pq.buildIvfPqIndex(mixed, dirOpq, m = 8, ks = 8, nlist = 4,
      residual = true, opq = true)
    val qs = mixed.where(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(qs, mixed, k = 5)
    def recallOf(dir: String) = Similarity.annRecall(truth,
        Pq.ivfPqTopKIndexed(qs, dir, k = 5, nprobe = 2))
      .agg(avg("recall_ppm")).head().getDouble(0)
    val (rOpq, rPlain) = (recallOf(dirOpq), recallOf(dirPlain))
    assert(rOpq > rPlain,
      s"opq recall $rOpq ppm not above plain $rPlain ppm at equal sizing " +
        "on the mixed-subspace fixture")
  }

  test("point-refined serve: bit-identical to batch refine; pushed In(vec_id) reaches the source scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-point").toString
    Pq.buildIvfPqIndex(em, dir, m = 8, ks = 8, nlist = 4, residual = true)
    val q = em.where(col("vec_id") < 5)
    def cosRows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val batch = cosRows(Pq.ivfPqTopKRefined(q, dir, k = 3, source = em,
      nprobe = 2, refine = 2))
    val point = Pq.ivfPqTopKRefinedPoint(q, dir, k = 3, source = em,
      nprobe = 2, refine = 2)
    assert(cosRows(point) === batch)
    // the re-rank vector fetch must be a POINT read: pushed In(vec_id)
    // on the source scan, not a full-scan join
    val srcScans = point.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("embeddings"))
      .mkString("\n")
    assert(srcScans.contains("In(vec_id"),
      s"no pushed In(vec_id) on the source scan:\n$srcScans")
    // over-cap shortlist: silent fallback to the batch plan, identical
    assert(cosRows(Pq.ivfPqTopKRefinedPoint(q, dir, k = 3, source = em,
      nprobe = 2, refine = 2, maxFetchIds = 3)) === batch)
    // saturation through the point path is exact too
    assert(cosRows(Pq.ivfPqTopKRefinedPoint(q, dir, k = 3, source = em,
        nprobe = 4, refine = 200, maxFetchIds = 100000)) ===
      cosRows(Similarity.bruteForceTopK(q, em, k = 3)))
  }

  test("point ADC serve: bit-identical to batch on both layouts; pushed In(cell); fallback") {
    val q = em.where(col("vec_id") < 5)
    // hive-layout index (cell=<n>/ partitions): the pushed cell filter
    // prunes partitions; results must equal the batch serve exactly
    val dirHive = java.nio.file.Files.createTempDirectory("graft-ivfpq-pth").toString
    Pq.buildIvfPqIndex(em, dirHive, m = 8, ks = 8, nlist = 4)
    assert(rows(Pq.ivfPqTopKPoint(q, dirHive, k = 3, nprobe = 2)) ===
      rows(Pq.ivfPqTopKIndexed(q, dirHive, k = 3, nprobe = 2)))
    // point-layout index (cell-sorted bounded files), hardest mode
    // combination: residual + opq — the literal routing must reproduce
    // the per-(query, cell) residual LUTs bit-for-bit
    val dirPt = java.nio.file.Files.createTempDirectory("graft-ivfpq-ptp").toString
    Pq.buildIvfPqIndex(em, dirPt, m = 8, ks = 8, nlist = 4,
      residual = true, opq = true, pointLayout = true, pointLayoutFiles = 8)
    val batch = rows(Pq.ivfPqTopKIndexed(q, dirPt, k = 3, nprobe = 2))
    assert(rows(Pq.ivfPqTopKPoint(q, dirPt, k = 3, nprobe = 2)) === batch)
    // ... and the batch serve works identically over either layout
    val hiveRes = java.nio.file.Files.createTempDirectory("graft-ivfpq-pthr").toString
    Pq.buildIvfPqIndex(em, hiveRes, m = 8, ks = 8, nlist = 4,
      residual = true, opq = true)
    assert(rows(Pq.ivfPqTopKIndexed(q, hiveRes, k = 3, nprobe = 2)) === batch)
    // bounded file count: ≤ pointLayoutFiles parquet files, no cell=
    // directory fan-out
    val shardDir = new java.io.File(s"${live(dirPt)}/corpus/shard=base")
    val files = shardDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.length <= 8,
      s"expected ≤8 cell-sorted files, found ${files.length}")
    assert(!shardDir.listFiles().exists(_.getName.startsWith("cell=")))
    // the cell filter REACHES the parquet reader (row-group skipping)
    val plan = Pq.ivfPqTopKPoint(q, dirPt, k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(cell"),
      s"pushed cell filter missing from:\n${plan.take(2000)}")
    // over-cap probes fall back to the batch plan, same results
    assert(rows(Pq.ivfPqTopKPoint(q, dirPt, k = 3, nprobe = 2,
      maxProbedPairs = 1)) === batch)
  }

  test("centroid table collect: by-name columns; sparse or renumbered cells refused") {
    import spark.implicits._
    val dense = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell", "centroid")
    // column order must not matter (by-name select)
    val swapped = dense.select("centroid", "cell")
    assert(Pq.collectCentroidTable(swapped).map(_.toSeq).toSeq ===
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    // a sparse relation (cell 1 missing) would positionally index the
    // wrong centroid — must refuse loudly
    val sparse = Seq((0, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0)))
      .toDF("cell", "centroid")
    val e = intercept[IllegalArgumentException] {
      Pq.collectCentroidTable(sparse)
    }
    assert(e.getMessage.contains("densely"))
  }

  test("imi-pq (Multi-D-ADC): full probe equals flat pq topK; codes-only scan; layouts agree") {
    val dir = java.nio.file.Files.createTempDirectory("graft-imipq").toString
    Pq.buildImiPqIndex(em, dir, m = 8, ks = 8, kPerHalf = 3)
    val q = em.where(col("vec_id") < 5)
    // nprobe = kPerHalf² probes every product cell: the candidate set
    // is the whole corpus, so ranking must equal the flat PQ scan
    // bit-for-bit (same bounded sample → identical codebooks)
    val served = Pq.imiPqTopK(q, dir, k = 3, nprobe = 9)
    assert(rows(served) === rows(Pq.topK(q, em, k = 3, m = 8, ks = 8)))
    // stored cells are the PRODUCT of the per-half assignments
    val (c1, c2) = Similarity.trainedImiCentroids(em, kPerHalf = 3)
    val kk = c1.length
    val h = c1.head.length
    val viaExpr = em.select(col("vec_id"),
        (graft.functions.VectorExpressions.nearest_cell(
            expr(s"slice(embedding, 1, $h)"), c1.map(_.toSeq).toSeq) * kk +
          graft.functions.VectorExpressions.nearest_cell(
            expr(s"slice(embedding, ${h + 1}, $h)"),
            c2.map(_.toSeq).toSeq)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val stored = spark.read.parquet(s"${live(dir)}/corpus")
      .select("neighbor_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored === viaExpr)
    // serve never re-encodes or re-assigns; the candidate scan reads
    // code bytes + the cell partition column, never a float vector
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("PqEncode") && !plan.contains("NearestCell"))
    val corpusScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("corpus"))
      .mkString("\n")
    assert(corpusScan.contains("neighbor_id") && corpusScan.contains("codes"))
    assert(!corpusScan.contains("embedding"))
    // restricted probe: deterministic
    val approx = Pq.imiPqTopK(q, dir, k = 3, nprobe = 2)
    assert(rows(approx) === rows(Pq.imiPqTopK(q, dir, k = 3, nprobe = 2)))
    // the pointLayout build (cell-sorted bounded files) serves
    // identically to the hive build at every nprobe
    val pdir = java.nio.file.Files.createTempDirectory("graft-imipq-pl").toString
    Pq.buildImiPqIndex(em, pdir, m = 8, ks = 8, kPerHalf = 3,
      pointLayout = true, pointLayoutFiles = 8)
    assert(rows(Pq.imiPqTopK(q, pdir, k = 3, nprobe = 9)) === rows(served))
    assert(rows(Pq.imiPqTopK(q, pdir, k = 3, nprobe = 2)) === rows(approx))
    // the trainedCent hook (r15): corpus-trained halves persist
    // verbatim and route; raw-mode codes are routing-independent, so
    // the full probe still equals the flat PQ scan bit-for-bit
    val tc = Similarity.trainImiCentroidsDistributed(em, kPerHalf = 3,
      maxIter = 2)
    val tdir = java.nio.file.Files.createTempDirectory("graft-imipq-tc").toString
    Pq.buildImiPqIndex(em, tdir, m = 8, ks = 8, kPerHalf = 3,
      trainedCent = Some(tc))
    def persisted(p: String) = spark.read.parquet(s"${live(tdir)}/$p")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    assert(persisted("centroids_h1") === tc._1.map(_.toSeq).toSeq)
    assert(persisted("centroids_h2") === tc._2.map(_.toSeq).toSeq)
    assert(rows(Pq.imiPqTopK(q, tdir, k = 3, nprobe = 9)) ===
      rows(Pq.topK(q, em, k = 3, m = 8, ks = 8)))
    // mismatched half dims refuse loudly
    val bad = (tc._1.map(_.take(1)), tc._2)
    val err = intercept[IllegalArgumentException] {
      Pq.buildImiPqIndex(em, tdir, m = 8, ks = 8, kPerHalf = 3,
        trainedCent = Some(bad))
    }
    assert(err.getMessage.contains("do not match the corpus split"))
    // the hook composes with the full accuracy stack: residual + OPQ
    // codebooks train on residuals against the PROVIDED product
    // centroids, and the two-phase point serve stays bit-identical to
    // batch on the corpus-trained index
    val rdir = java.nio.file.Files.createTempDirectory("graft-imipq-tcres").toString
    Pq.buildImiPqIndex(em, rdir, m = 8, ks = 8, kPerHalf = 3,
      trainedCent = Some(tc), residual = true, opq = true,
      pointLayout = true, pointLayoutFiles = 8)
    assert(spark.read.parquet(s"${live(rdir)}/centroids_h1")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
      === tc._1.map(_.toSeq).toSeq)
    val batchR = Pq.imiPqTopK(q, rdir, k = 3, nprobe = 2)
    assert(rows(Pq.imiPqTopKPoint(q, rdir, k = 3, nprobe = 2)) ===
      rows(batchR))
    assert(rows(batchR) === rows(Pq.imiPqTopK(q, rdir, k = 3, nprobe = 2)))
  }

  test("imi-pq point serve: bit-identical to batch on both layouts; pushed In(cell); fallback") {
    val q = em.where(col("vec_id") < 5)
    val dirHive = java.nio.file.Files.createTempDirectory("graft-imipq-pth").toString
    Pq.buildImiPqIndex(em, dirHive, m = 8, ks = 8, kPerHalf = 3)
    assert(rows(Pq.imiPqTopKPoint(q, dirHive, k = 3, nprobe = 2)) ===
      rows(Pq.imiPqTopK(q, dirHive, k = 3, nprobe = 2)))
    val dirPt = java.nio.file.Files.createTempDirectory("graft-imipq-ptp").toString
    Pq.buildImiPqIndex(em, dirPt, m = 8, ks = 8, kPerHalf = 3,
      pointLayout = true, pointLayoutFiles = 8)
    val batch = rows(Pq.imiPqTopK(q, dirPt, k = 3, nprobe = 2))
    assert(rows(Pq.imiPqTopKPoint(q, dirPt, k = 3, nprobe = 2)) === batch)
    // bounded file count, no cell= fan-out on the point layout
    val shardDir = new java.io.File(s"${live(dirPt)}/corpus/shard=base")
    val files = shardDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.length <= 8)
    assert(!shardDir.listFiles().exists(_.getName.startsWith("cell=")))
    // the cell filter REACHES the parquet reader
    val plan = Pq.imiPqTopKPoint(q, dirPt, k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(cell"),
      s"pushed cell filter missing from:\n${plan.take(2000)}")
    // over-cap probes fall back to the batch plan, same results
    assert(rows(Pq.imiPqTopKPoint(q, dirPt, k = 3, nprobe = 2,
      maxProbedPairs = 1)) === batch)
  }

  test("imi-pq residual (decomposed IVFADC): point ≡ batch; codes-only scan; residual codes differ") {
    val dir = java.nio.file.Files.createTempDirectory("graft-imipq-res").toString
    Pq.buildImiPqIndex(em, dir, m = 8, ks = 8, kPerHalf = 3, residual = true)
    val q = em.where(col("vec_id") < 5)
    val batch = rows(Pq.imiPqTopK(q, dir, k = 3, nprobe = 2))
    // the decomposed per-half LUT origin flows identically through the
    // batch and point paths (shared adcOverCells body)
    assert(rows(Pq.imiPqTopKPoint(q, dir, k = 3, nprobe = 2)) === batch)
    assert(rows(Pq.imiPqTopK(q, dir, k = 3, nprobe = 2)) === batch)
    // candidate scan stays codes-only; no re-encode/re-assign in serve
    val plan = Pq.imiPqTopK(q, dir, k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("PqEncode") && !plan.contains("NearestCell"))
    val corpusScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("corpus"))
      .mkString("\n")
    assert(corpusScan.contains("codes") && !corpusScan.contains("embedding"))
    // residual encoding measures from the per-half centroid origin —
    // the stored codes must differ from the raw build's (same sample,
    // same kPerHalf, different quantized space)
    val rawDir = java.nio.file.Files.createTempDirectory("graft-imipq-raw").toString
    Pq.buildImiPqIndex(em, rawDir, m = 8, ks = 8, kPerHalf = 3)
    def codes(d: String) = spark.read.parquet(s"${live(d)}/corpus")
      .select("neighbor_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codes(dir) !== codes(rawDir))
    // cells are routing, not encoding: identical across the two modes
    def cells(d: String) = spark.read.parquet(s"${live(d)}/corpus")
      .select("neighbor_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(dir) === cells(rawDir))

    // ---- opq layer on top: rotation persists, codes move again,
    // routing still identical, point ≡ batch through the rotated
    // decomposed origin ----
    val opqDir = java.nio.file.Files.createTempDirectory("graft-imipq-opq").toString
    Pq.buildImiPqIndex(em, opqDir, m = 8, ks = 8, kPerHalf = 3,
      residual = true, opq = true)
    assert(new java.io.File(s"${live(opqDir)}/rotation").exists())
    assert(codes(opqDir) !== codes(dir))
    assert(cells(opqDir) === cells(dir))
    val ob = rows(Pq.imiPqTopK(q, opqDir, k = 3, nprobe = 2))
    assert(rows(Pq.imiPqTopKPoint(q, opqDir, k = 3, nprobe = 2)) === ob)
    assert(rows(Pq.imiPqTopK(q, opqDir, k = 3, nprobe = 2)) === ob)
  }

  test("imi-pq append: frozen quantizers; full-probe union equals frozen flat ranking; replay; excludeShards") {
    val dir = java.nio.file.Files.createTempDirectory("graft-imipq-app").toString
    val (base, shard) =
      (em.where(col("vec_id") < 400), em.where(col("vec_id") >= 400))
    Pq.buildImiPqIndex(base, dir, m = 8, ks = 8, kPerHalf = 3)
    Pq.appendToImiPqIndex(shard, dir, shardId = "day-1")
    val q = em.where(col("vec_id") < 5)
    val got = Pq.imiPqTopK(q, dir, k = 3, nprobe = 9)
    // appended vectors compete: a full probe over the union must equal
    // a from-scratch flat ranking under the SAME (base-trained) cube
    val cb = Pq.readCodebooks(spark, live(dir))
    val ks = cb(0).length
    val lut = broadcast(q.select(col("vec_id").as("query_id"),
      PqExpressions.pq_lut(col("embedding"),
        cb.map(_.map(_.toSeq).toSeq).toSeq).as("lut")))
    val flat = Pq.encode(em, cb)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
      .join(lut, col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        negate(PqExpressions.pq_adc(col("lut"), col("codes"), ks)))
      .groupBy("query_id")
      .agg(graft.functions.AggExpressions.top_k_by_score(
        col("score"), col("neighbor_id").cast("long"), 3).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("nb"))
      .select(col("query_id"), col("nb.rnk").as("rnk"),
        col("nb.id").as("neighbor_id"),
        round(negate(col("nb.score")), 4).as("adc_dist"))
    assert(rows(got) === rows(flat))
    // replay replaces, never duplicates
    Pq.appendToImiPqIndex(shard, dir, shardId = "day-1")
    assert(rows(Pq.imiPqTopK(q, dir, k = 3, nprobe = 9)) === rows(got))
    // excluding the shard restores a base-only candidate set
    val baseIds = base.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Pq.imiPqTopK(q, dir, k = 3, nprobe = 9,
        excludeShards = Seq("day-1")).collect()
      .map(_.getAs[Long]("neighbor_id")).forall(baseIds.contains))
    // residual append: the decomposed encode runs under the frozen
    // half-centroids too; point ≡ batch over the appended union
    val rdir = java.nio.file.Files.createTempDirectory("graft-imipq-rapp").toString
    Pq.buildImiPqIndex(base, rdir, m = 8, ks = 8, kPerHalf = 3,
      residual = true)
    Pq.appendToImiPqIndex(shard, rdir, shardId = "day-1")
    val rb = rows(Pq.imiPqTopK(q, rdir, k = 3, nprobe = 9))
    assert(rows(Pq.imiPqTopKPoint(q, rdir, k = 3, nprobe = 9)) === rb)
    val shardIds = shard.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Pq.imiPqTopK(q, rdir, k = 400, nprobe = 9).collect()
      .map(_.getAs[Long]("neighbor_id")).exists(shardIds.contains),
      "appended vectors must be servable")
  }
}
