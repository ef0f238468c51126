package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.5f, 0.5f, 0.5f, 0.5f))
  ).toDF("vec_id", "embedding")

  test("cosine expression: known geometry") {
    val a = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
                (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
                (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
                // zero vector → 0, not NaN (NaN would outrank everything)
                (Array(0.0f, 0.0f), Array(1.0f, 0.0f), 0.0))
      .toDF("x", "y", "expected")
      .select(Similarity.cosine(col("x"), col("y")).as("c"), col("expected"))
      .collect()
    a.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("brute-force top-k: nearest neighbor ordering and exclusion of self") {
    val topk = Similarity.bruteForceTopK(
      vecs.where(col("vec_id") === 0), vecs, k = 4).cache()
    val rows = topk.orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("neighbor_id")))
    assert(rows.head === (1L, 1L))         // closest is the 0.9/0.1 vector
    assert(rows.last._2 === 3L)            // farthest is the opposite vector
    assert(!rows.exists(_._2 == 0L))       // self excluded
  }

  test("srp-lsh: bucket key is deterministic; identical vectors collide") {
    val b = vecs.select(col("vec_id"),
      Similarity.srpBucket(col("embedding"), dim = 4, planes = 4).as("bucket"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getInt(1)).toMap
    val b2 = vecs.select(col("vec_id"),
      Similarity.srpBucket(col("embedding"), dim = 4, planes = 4).as("bucket"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getInt(1)).toMap
    assert(b === b2)
    assert(b(0) != b(3))                   // opposite vectors cannot share all sign bits
  }

  test("ivf ann: probing all cells reproduces the brute-force top-k") {
    val q = vecs.where(col("vec_id") === 0)
    val ivf = Similarity.ivfTopK(q, vecs, k = 3, nlist = 2, nprobe = 2)
      .orderBy("rnk").collect().map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("neighbor_id")))
    val brute = Similarity.bruteForceTopK(q, vecs, k = 3)
      .orderBy("rnk").collect().map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("neighbor_id")))
    assert(ivf.toSeq === brute.toSeq)
  }

  test("ivf index: served batch bit-equal to ivfTopK; serving plan has no assignment scan") {
    val em = (0L until 64L).map(i =>
        (i, Array.tabulate(4)(d => math.sin(i * 7.0 + d * 3.0).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    Similarity.buildIvfIndex(em, dir, nlist = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val q = em.where(col("vec_id") < 5)
    val served = Similarity.ivfTopKIndexed(q, dir, k = 3, nprobe = 2)
    // bit-equal to a fresh train+assign call with the index's sizing
    assert(rows(served) === rows(
      Similarity.ivfTopK(q, em, k = 3, nlist = 4, nprobe = 2)))
    // the serving plan touches neither training (no collect over the
    // corpus happens in ivfTopKIndexed at all) nor the corpus-wide
    // cell assignment — NearestCell appears nowhere; a second batch
    // reuses the same persisted index dir unchanged
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("NearestCell") && !plan.contains("nearest_cell"))
    assert(rows(Similarity.ivfTopKIndexed(q, dir, k = 3, nprobe = 2)) ===
      rows(served))
    // excludeSelf = false (the enrichment-namespace contract, uniform
    // with Pq.ivfPqTopKIndexed): an id collision is NOT a self pair —
    // a full probe must surface the identical-vector row at rank 1
    // instead of silently dropping it
    val kept = Similarity.ivfTopKIndexed(q, dir, k = 1, nprobe = 4,
        excludeSelf = false).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
    assert(kept.nonEmpty && kept.forall { case (qid, nid) => qid == nid })
  }

  test("ivf index append: frozen-centroid add; full probe exact over the union; replay idempotent") {
    val all = (0L until 96L).map(i =>
        (i, Array.tabulate(4)(d => math.cos(i * 5.0 + d * 2.0).toFloat)))
      .toDF("vec_id", "embedding")
    val (base, shard) =
      (all.where(col("vec_id") < 64), all.where(col("vec_id") >= 64))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    Similarity.buildIvfIndex(base, dir, nlist = 4)
    Similarity.appendToIvfIndex(shard, dir, shardId = "day-1")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val q = all.where(col("vec_id") % 31 === 0)
    // centroids are frozen at build, but scoring is exact cosine — a
    // full probe over every cell must equal brute force over the UNION,
    // appended vectors included
    assert(rows(Similarity.ivfTopKIndexed(q, dir, k = 3, nprobe = 4)) ===
      rows(Similarity.bruteForceTopK(q, all, k = 3)))
    // appended rows live in their own shard partitions; replaying the
    // same shard id replaces them instead of duplicating
    val spark2 = base.sparkSession
    val counts = () => spark2.read.parquet(s"${Generations.root(spark2, dir)}/corpus")
      .groupBy("shard").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = counts()
    assert(first === Map("base" -> 64L, "day-1" -> 32L))
    Similarity.appendToIvfIndex(shard, dir, shardId = "day-1")   // replay
    assert(counts() === first)
    // compaction: one shard in the next generation, served results
    // identical, the previous generation untouched
    val served = rows(Similarity.ivfTopKIndexed(q, dir, k = 3, nprobe = 4))
    Similarity.compactIvfIndexInPlace(spark2, dir)
    assert(rows(Similarity.ivfTopKIndexed(q, dir, k = 3, nprobe = 4)) === served)
    assert(spark2.read.parquet(s"$dir/gen-1/corpus")
      .select("shard").distinct().collect().map(_.getString(0)).toSeq
      === Seq("base"))
    assert(spark2.read.parquet(s"$dir/gen-0/corpus")
      .groupBy("shard").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === first)
  }

  test("versioned ivf index: serve equals flat; in-place compaction keeps the replay shard") {
    val all = (0L until 96L).map(i =>
        (i, Array.tabulate(4)(d => math.cos(i * 5.0 + d * 2.0).toFloat)))
      .toDF("vec_id", "embedding")
    val (base, shard) =
      (all.where(col("vec_id") < 64), all.where(col("vec_id") >= 64))
    val flat = java.nio.file.Files.createTempDirectory("graft-ivf-flat").toString
    Similarity.buildIvfIndex(base, flat, nlist = 4)
    Similarity.appendToIvfIndex(shard, flat, shardId = "batch-0")
    val vdir = java.nio.file.Files.createTempDirectory("graft-ivf-gen").toString
    Similarity.buildIvfIndex(base, vdir, nlist = 4)
    Similarity.appendToIvfIndex(shard, vdir, shardId = "batch-0")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val q = all.where(col("vec_id") % 31 === 0)
    val want = rows(Similarity.ivfTopKIndexed(q, flat, k = 3, nprobe = 4))
    assert(rows(Similarity.ivfTopKIndexed(q, vdir, k = 3, nprobe = 4)) === want)
    Similarity.compactIvfIndexInPlace(spark, vdir, keepShards = Seq("batch-0"))
    assert(rows(Similarity.ivfTopKIndexed(q, vdir, k = 3, nprobe = 4)) === want)
    assert(scala.io.Source.fromFile(s"$vdir/CURRENT").mkString.trim === "gen-1")
    assert(spark.read.parquet(s"$vdir/gen-1/corpus")
      .select("shard").distinct().collect().map(_.getString(0)).toSet
      === Set("base", "batch-0"))
  }

  test("cosineNearDuplicatesIndexed at nprobe=nlist equals the brute cross pair listing") {
    val corpus = (0L until 64L).map(i =>
        (i, Array.tabulate(4)(d => math.sin(i * 7.0 + d * 3.0).toFloat)))
      .toDF("vec_id", "embedding")
    val probe = (100L until 108L).map(i =>
        (i, Array.tabulate(4)(d => math.cos(i * 11.0 + d * 5.0).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-neardup").toString
    Similarity.buildIvfIndex(corpus, dir, nlist = 4)
    val got = Similarity.cosineNearDuplicatesIndexed(probe, dir,
        threshold = 0.5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute: every cross pair through the same cosine expression
    val want = probe.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus.select(col("vec_id").as("xid"), col("embedding").as("xv")))
      .withColumn("cos_sim", Similarity.cosine(col("qv"), col("xv")))
      .where(col("cos_sim") >= 0.5)
      .select(col("qid"), col("xid"), round(col("cos_sim"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(want.nonEmpty, "threshold chose no pairs — test is vacuous")
    // overlapping id spaces: a probe vec_id that also exists in the
    // index is still compared — an id-collision guard here would
    // silently drop true cross-source duplicates (two sources each
    // numbering from 0). Probe with corpus row 7 under its own id: the
    // trivial self pair must come back at cos 1.0.
    val overlap = corpus.where(col("vec_id") === 7)
    val self = Similarity.cosineNearDuplicatesIndexed(overlap, dir,
        threshold = 0.999, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(self.contains((7L, 7L)))
  }

  test("distributed k-means: matches a driver reference; partition-invariant; feeds the builders") {
    val rnd = new scala.util.Random(20260821L)
    val n = 300
    val dim = 8
    val data = (0L until n.toLong)
      .map(i => (i, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val corpus = data.toDF("vec_id", "embedding")
    val got = Similarity.trainCentroidsDistributed(corpus, nlist = 6,
      maxIter = 3)
    // driver reference: the SAME integer-micro update over collected
    // data — assignment via the shared nearestCell arithmetic, one
    // rounding per component, Long sums, (sum/count)/1e6
    var ref: Array[Array[Double]] =
      data.take(6).map(_._2.map(_.toDouble)).toArray
    for (_ <- 0 until 3) {
      val norms = ref.map(c => math.sqrt(c.map(x => x * x).sum))
      val sums = Array.ofDim[Long](ref.length, dim)
      val cnts = new Array[Long](ref.length)
      data.foreach { case (_, v) =>
        val c = Similarity.nearestCell(ref, norms, v.map(_.toDouble))
        for (d <- 0 until dim)
          sums(c)(d) += math.round(v(d).toDouble * 1000000.0)
        cnts(c) += 1
      }
      ref = ref.indices.map { i =>
        if (cnts(i) == 0) ref(i)
        else sums(i).map(s => (s.toDouble / cnts(i)) / 1e6)
      }.toArray
    }
    assert(got.length === 6)
    got.zip(ref).zipWithIndex.foreach { case ((g, r), i) =>
      assert(g.toSeq === r.toSeq, s"centroid $i")
    }
    // determinism under repartitioning: integer sums are
    // order-independent BY CONSTRUCTION — verify it anyway
    val repart = Similarity.trainCentroidsDistributed(
      corpus.repartition(7), nlist = 6, maxIter = 3)
    assert(repart.map(_.toSeq).toSeq === got.map(_.toSeq).toSeq)
    // nlist beyond the driver-sample cap is the operator's reason to
    // exist: train more cells than maxTrain would ever allow relative
    // to corpus size (here: more than half the corpus as centers)
    assert(Similarity.trainCentroidsDistributed(corpus, nlist = 200,
      maxIter = 1).length === 200)
    // the builder hook: an index built from these centroids persists
    // them verbatim and serves (full probe == brute force)
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans-ivf").toString
    Similarity.buildIvfIndex(corpus, dir, trainedCent = Some(got))
    val persisted = spark.read.parquet(s"${Generations.root(spark, dir)}/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq)
    assert(persisted.toSeq === got.map(_.toSeq).toSeq)
    val q = corpus.where(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(Similarity.ivfTopKIndexed(q, dir, k = 3, nprobe = 6)
        .select(col("query_id"), col("rnk"), col("neighbor_id"))) ===
      rows(Similarity.bruteForceTopK(q, corpus, k = 3)
        .select(col("query_id"), col("rnk"), col("neighbor_id"))))
  }

  test("distributed per-half k-means: fused scan == flat trainer per half; partition-invariant; feeds the IMI builder") {
    val rnd = new scala.util.Random(20260816L)
    val n = 240
    val dim = 8
    val data = (0L until n.toLong)
      .map(i => (i, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val corpus = data.toDF("vec_id", "embedding")
    val (c1, c2) = Similarity.trainImiCentroidsDistributed(corpus,
      kPerHalf = 5, maxIter = 3)
    // the fused one-scan-per-iteration design is PURE OPTIMIZATION:
    // bit-identical to the flat distributed trainer run on each
    // half-sliced corpus separately (same init rule, same assignment
    // arithmetic, same integer-micro update)
    val h = dim / 2
    val half1 = corpus.select(col("vec_id"),
      expr(s"slice(embedding, 1, $h)").as("embedding"))
    val half2 = corpus.select(col("vec_id"),
      expr(s"slice(embedding, ${h + 1}, ${dim - h})").as("embedding"))
    val f1 = Similarity.trainCentroidsDistributed(half1, nlist = 5, maxIter = 3)
    val f2 = Similarity.trainCentroidsDistributed(half2, nlist = 5, maxIter = 3)
    assert(c1.map(_.toSeq).toSeq === f1.map(_.toSeq).toSeq)
    assert(c2.map(_.toSeq).toSeq === f2.map(_.toSeq).toSeq)
    // determinism under repartitioning: integer-micro sums are
    // order-independent by construction — verify it anyway
    val repart = Similarity.trainImiCentroidsDistributed(
      corpus.repartition(7), kPerHalf = 5, maxIter = 3)
    assert(repart._1.map(_.toSeq).toSeq === c1.map(_.toSeq).toSeq)
    assert(repart._2.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    // kPerHalf beyond the driver-sample regime is the operator's
    // reason to exist (kPerHalf^2 = 22,500 product cells here — far
    // past what a 4096-row sample could train per-cell)
    assert(Similarity.trainImiCentroidsDistributed(corpus, kPerHalf = 150,
      maxIter = 1)._1.length === 150)
    // the builder hook: an IMI index built from these halves persists
    // them verbatim and serves exactly (full probe == brute force)
    val dir = java.nio.file.Files.createTempDirectory("graft-imi-kmeans").toString
    Similarity.buildImiIndex(corpus, dir, kPerHalf = 5,
      trainedCent = Some((c1, c2)))
    def persisted(p: String) = spark.read.parquet(s"${Generations.root(spark, dir)}/$p")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    assert(persisted("centroids_h1") === c1.map(_.toSeq).toSeq)
    assert(persisted("centroids_h2") === c2.map(_.toSeq).toSeq)
    val q = corpus.where(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(rows(Similarity.imiTopKIndexed(q, dir, k = 3, nprobe = 25)) ===
      rows(Similarity.bruteForceTopK(q, corpus, k = 3)))
  }

  test("pca: recovers the dominant direction; projections are centered") {
    // points on the (1,1) diagonal with slight orthogonal noise: the top
    // component must be ~(0.707, 0.707) with positive sign canon
    val em = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f)),
      (2L, Array(2.0f, 2.0f)),
      (3L, Array(3.0f, 3.0f)),
      (4L, Array(1.6f, 1.4f))
    ).toDF("vec_id", "embedding")
    val (mu, v) = Similarity.trainedPc(em)
    assert(math.abs(v(0) - math.sqrt(0.5)) < 0.02)
    assert(math.abs(v(1) - math.sqrt(0.5)) < 0.02)
    assert(math.abs(mu(0) - 1.52) < 1e-9 && math.abs(mu(1) - 1.48) < 1e-9)
    val proj = Similarity.pcaProject(em).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pc1")).toMap
    // centered: projections sum to ~0; ordered along the diagonal
    assert(math.abs(proj.values.sum) < 1e-3)
    assert(proj(0L) < proj(1L) && proj(1L) < proj(2L) && proj(2L) < proj(3L))
    assert(math.abs(proj(3L) - (3.0 - 1.52) * v(0) - (3.0 - 1.48) * v(1)) < 1e-4)
  }

  test("pca: partition count does not change the trained component") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (_, v1) = Similarity.trainedPc(em.repartition(13))
    val (_, v2) = Similarity.trainedPc(em.coalesce(1))
    assert(v1.toSeq === v2.toSeq)   // exact-integer sums: bit-identical
  }

  test("knnClassify: majority label wins; vote ties break to the smaller label") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 0),
      (11L, Array(0.95f, 0.05f), 0),
      (12L, Array(0.0f, 1.0f), 1),
      (13L, Array(0.05f, 0.95f), 1)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (100L, Array(0.9f, 0.1f)),    // firmly in the label-0 cluster
      (101L, Array(0.1f, 0.9f))     // firmly in the label-1 cluster
    ).toDF("vec_id", "embedding")
    val out = Similarity.knnClassify(queries, corpus, k = 3).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("pred_label"), r.getAs[Long]("votes")))).toMap
    assert(out(100L) === ((0L, 2L)))   // 2 of 3 neighbors are label 0
    assert(out(101L) === ((1L, 2L)))
    // k=2 on the diagonal: one neighbor per cluster → 1-1 tie → label 0
    val diag = Seq((200L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val tied = Similarity.knnClassify(diag, corpus, k = 2).head()
    assert(tied.getAs[Long]("pred_label") === 0L)
    assert(tied.getAs[Long]("votes") === 1L)
  }

  test("lsh near-duplicates: subset of brute-force pairs; catches identical-direction pair") {
    val pairs = Similarity.cosineNearDuplicatesLsh(vecs, threshold = 0.9, dim = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val brute = Similarity.cosineNearDuplicates(vecs, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.subsetOf(brute))
  }

  test("native srp bucket is bit-identical to the composed column form") {
    import spark.implicits._
    // the composed element_at·lit tree is the arithmetic the DuckDB
    // oracles embed — the native loop must agree on every row,
    // including sign boundaries and exact zeros
    val rnd = new scala.util.Random(97)
    val vecs = (0 until 500).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextInt(2001) - 1000) / 250.0f))
    } ++ Seq(
      (9000L, Array.fill(8)(0.0f)),             // all-zero → proj 0 ≥ 0
      (9001L, Array.fill(8)(1.0f)),
      (9002L, Array.fill(8)(-1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    for (planes <- Seq(4, 9, 16)) {
      val both = df.select(col("vec_id"),
          Similarity.srpBucket(col("embedding"), 8, planes).as("native"),
          Similarity.srpBucketComposed(col("embedding"), 8, planes).as("composed"))
        .where(col("native") =!= col("composed"))
      assert(both.isEmpty, s"bucket mismatch at planes=$planes: " +
        both.limit(3).collect().mkString(", "))
    }
    // short vector: composed nulls every plane sum → 0; native matches
    val short = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
      .select(Similarity.srpBucket(col("embedding"), 8, 4).as("b"))
      .head().getInt(0)
    assert(short === 0)
    // array<double> inputs take the getDouble path — must agree with
    // the float rendition of the same values
    val asF = Seq((1L, Array(0.5f, -0.25f, 1.0f, -1.0f))).toDF("vec_id", "embedding")
      .select(Similarity.srpBucket(col("embedding"), 4, 9).as("b")).head().getInt(0)
    val asD = Seq((1L, Array(0.5d, -0.25d, 1.0d, -1.0d))).toDF("vec_id", "embedding")
      .select(Similarity.srpBucket(col("embedding"), 4, 9).as("b")).head().getInt(0)
    assert(asF === asD)
  }

  test("srpPlanesFor scales bucket count with corpus, floored and capped") {
    // floor: tiny corpora keep the published fixed-4 behavior (which
    // also keeps the static sf0.01 oracle valid)
    assert(Similarity.srpPlanesFor(0L) === 4)
    assert(Similarity.srpPlanesFor(200L) === 4)
    assert(Similarity.srpPlanesFor(8000L) === 4)
    // scaling: ~constant expected occupancy (target 500/bucket)
    assert(Similarity.srpPlanesFor(200000L) === 9)    // 512 buckets
    assert(Similarity.srpPlanesFor(2000000L) === 12)  // 4096 buckets
    // cap: 24 planes (16.7M buckets) — binds past ~8.4B vectors at the
    // default target; the Int bucket's sign-bit budget hard-limits at 30
    assert(Similarity.srpPlanesFor(20_000_000L) === 16)   // pre-r10 cap value, now derived
    assert(Similarity.srpPlanesFor(Long.MaxValue) === 24)
    assert(Similarity.srpPlanesFor(Long.MaxValue, cap = 30) === 30)
    intercept[IllegalArgumentException] {
      Similarity.srpPlanesFor(100L, cap = 31)
    }
    // identical-direction pairs survive ANY plane count (all sign bits
    // agree), so auto-planes never loses exact near-dups
    val dup = (0 until 32).map(i => (i.toLong, Array(0.5f, 0.5f, 0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDuplicatesLsh(dup, threshold = 0.99, dim = 4,
      planes = 14)
    assert(got.count() === 32L * 31 / 2)
  }

  test("lsh paths fail on vectors shorter than dim") {
    val e = intercept[Exception](
      Similarity.cosineNearDuplicatesLsh(vecs, threshold = 0.5, dim = 64).collect())
    assert(e.getMessage.contains("dims"))
  }

  test("lsh width guard is per-row: a short vector hiding behind a valid first row throws") {
    // the old sampled (head-row) check would pass this corpus; the
    // in-job raise_error guard must not
    val mixed = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array(1.0f, 0.0f))              // short — would land in bucket 0
    ).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Similarity.cosineNearDuplicatesLsh(mixed, threshold = 0.5, dim = 8).collect())
    assert(e.getMessage.contains("dims"))
  }

  test("int8 quantization: max-abs scale, half-up components, zero-vector safe") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, -1.0f, 0.5f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(-2.0f, 1.0f, 0.25f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(vs).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getAs[Seq[Int]]("q"))).toMap
    assert(got(0L) === ((1.0, Seq(127, 0, -127, 64))))     // 63.5+0.5 floors to 64
    assert(got(1L) === ((0.0, Seq(0, 0, 0, 0))))           // no divide-by-zero
    assert(got(2L) === ((2.0, Seq(-127, 64, 16, 0))))      // 15.875+0.5 floors to 16
  }

  test("cosine near-duplicates: only the planted close pair passes 0.9") {
    val pairs = Similarity.cosineNearDuplicates(vecs, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("semDedup keeps the lowest id per transitive duplicate group, others untouched") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)),       // dup group A (chain 0~1~2)
      (1L, Array(0.999f, 0.001f)),
      (2L, Array(0.998f, 0.002f)),
      (10L, Array(0.0f, 1.0f)),      // dup group B
      (11L, Array(0.001f, 0.999f)),
      (20L, Array(-1.0f, 0.5f))      // unique
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(corpus, threshold = 0.99, nlist = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(kept === Set(0L, 10L, 20L))
  }

  test("semDedup with no duplicates returns the full corpus") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    assert(Similarity.semDedup(corpus, threshold = 0.99, nlist = 2).count() === 3)
  }

  test("annRecall: per-query hit ratio; missed queries score 0, never drop") {
    val truth = Seq(
      (0L, 1L, 10L), (0L, 2L, 11L), (0L, 3L, 12L),   // query 0: 3 true
      (1L, 1L, 20L), (1L, 2L, 21L)                   // query 1: 2 true
    ).toDF("query_id", "rnk", "neighbor_id")
    val approx = Seq(
      (0L, 1L, 10L), (0L, 2L, 99L),   // query 0: 1 of 3 hit
      (2L, 1L, 5L)                    // query 2: not in truth — ignored
    ).toDF("query_id", "rnk", "neighbor_id")
    val got = Similarity.annRecall(truth, approx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      0L -> ((3L, 1L, 333333L)),   // floor(1e6/3)
      1L -> ((2L, 0L, 0L))))       // approx empty for q1 → recall 0
  }

  test("lshRecall: identical-bucket planted corpus reaches full recall") {
    // all vectors share sign pattern → one bucket → LSH sees everything,
    // so recall@k must be 10^6 for every query
    val em = (0L until 30L).map { i =>
      (i, Array.tabulate(64)(d => 1.0f + 0.001f * ((i + d) % 7)))
    }.toDF("vec_id", "embedding")
    val rec = Similarity.lshRecall(em.where($"vec_id" < 3), em, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(rec.length === 3 && rec.forall(_._2 === 1000000L))
  }

  test("annRecall composes with any neighbor shape (IVF vs brute force)") {
    val em = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val q = em.where($"vec_id" < 4)
    val rec = Similarity.annRecall(
      Similarity.bruteForceTopK(q, em, k = 3, vecCol = "embedding"),
      Similarity.ivfTopK(q, em, k = 3, nlist = 4, nprobe = 4))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    // nprobe = nlist probes every cell → IVF sees the whole corpus and
    // must reproduce brute force exactly: full recall for every query
    assert(rec.keySet === Set(0L, 1L, 2L, 3L))
    assert(rec.values.forall { case (n, ppm) => n == 3L && ppm == 1000000L })
  }

  test("semDedup: zero-vector copies survive at t > 0, lose at t = 0") {
    // cos(0, 0) is defined 0, so identical zero vectors are duplicates
    // only at thresholds ≤ 0; both sit in cell 0 (nearest_cell breaks
    // the all-zero tie to the lowest cell)
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),        // exact copy of 0
      (7L, Array(1.0f, 0.0f)),        // exact copy of 0
      (2L, Array(0.999f, 0.001f)),    // near-dup of 0
      (3L, Array(0.999f, 0.001f)),    // exact copy of 2
      (10L, Array(0.0f, 1.0f)),
      (11L, Array(0.0f, 1.0f)),       // exact copy of 10
      (30L, Array(0.0f, 0.0f)),       // zero vector
      (31L, Array(0.0f, 0.0f)),       // identical zero
      (20L, Array(-1.0f, 0.5f))       // singleton
    ).toDF("vec_id", "embedding")
    def kept(t: Double): Set[Long] =
      Similarity.semDedup(corpus, threshold = t, nlist = 2)
        .collect().map(_.getLong(0)).toSet
    for (t <- Seq(0.99, 0.4))
      assert(kept(t).intersect(Set(30L, 31L)) === Set(30L, 31L),
        s"zero vectors must all survive at threshold $t")
    assert(!kept(0.0).contains(31L), "at t = 0 the zero copy is a duplicate")
  }

  test("semDedup: a null-element copy loses, its null-dropped twin survives") {
    // cosine reads a null slot as 0.0: [1,null,2] matches its copy
    // exactly, but [1,null,2]·[1,2] ≈ 0.447 — NOT a duplicate at 0.99.
    // maxTrain = 3 keeps the null-free low ids as the training sample
    // (trainedCentroids collects the sample driver-side and cannot
    // unbox null elements), matching how a crawl corpus trains on a
    // bounded clean sample while the full scan sees dirty rows.
    val rows: Seq[(Long, Seq[java.lang.Float])] = Seq(
      (0L, Seq[java.lang.Float](1.0f, 0.0f, 0.0f)),
      (1L, Seq[java.lang.Float](0.0f, 1.0f, 0.0f)),
      (2L, Seq[java.lang.Float](0.0f, 0.0f, 1.0f)),
      (10L, Seq[java.lang.Float](1.0f, null, 2.0f)),  // null-element vector
      (11L, Seq[java.lang.Float](1.0f, null, 2.0f)),  // identical copy — must lose to 10
      (12L, Seq[java.lang.Float](1.0f, 2.0f))         // null-DROPPED twin — must survive
    )
    val corpus = rows.toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(corpus, threshold = 0.99, nlist = 2, maxTrain = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(10L) && kept.contains(12L) && !kept.contains(11L))
  }

  test("semDedupNlist scales with corpus size between its floor and cap") {
    assert(Similarity.semDedupNlist(0L) === 16)        // floor holds on empty
    assert(Similarity.semDedupNlist(2000L) === 16)     // sf0.1-sized: floor
    assert(Similarity.semDedupNlist(4096L) === 16)     // exactly at the knee
    assert(Similarity.semDedupNlist(4097L) === 17)     // first step past it
    assert(Similarity.semDedupNlist(20000L) === 79)    // 10x stress corpus
    assert(Similarity.semDedupNlist(10_000_000L) === 256) // default-derived cap
    // the cap derives from the training-sample budget (maxTrain /
    // minTrainPerCell), so raising maxTrain raises the cap in lockstep
    assert(Similarity.semDedupNlist(10_000_000L, maxTrain = 16384) === 1024)
    assert(Similarity.semDedupNlist(300_000L, maxTrain = 16384) === 1024)
    // between the old and new caps the count is corpus-driven again
    assert(Similarity.semDedupNlist(100_000L, maxTrain = 16384) === 391)
    // a maxTrain below base·minTrainPerCell never caps under the floor
    assert(Similarity.semDedupNlist(10_000_000L, maxTrain = 64) === 16)
  }

  test("ivfNlistFor follows sqrt(n) between the floor and the maxTrain-derived cap") {
    assert(Similarity.ivfNlistFor(0L) === 16)              // floor on empty
    assert(Similarity.ivfNlistFor(256L) === 16)            // sqrt = floor
    assert(Similarity.ivfNlistFor(1000L) === 32)           // sf0.01-sized: sqrt
    assert(Similarity.ivfNlistFor(10000L) === 100)
    assert(Similarity.ivfNlistFor(65536L) === 256)         // sqrt hits the cap
    assert(Similarity.ivfNlistFor(200000L) === 256)        // capped (100x replica)
    // raising maxTrain raises the cap in lockstep, sqrt resumes
    assert(Similarity.ivfNlistFor(200000L, maxTrain = 16384) === 447)
    assert(Similarity.ivfNlistFor(1000000L, maxTrain = 16384) === 1000)
  }

  test("lshTopK auto-scaled past the floor equals multiProbeTopK at the same plane count") {
    // 64-dim uniform vectors, enough that srpPlanesFor(target 4096)
    // derives planes > 4 — the auto path must take the multi-probe
    // branch and match the explicit multi-probe call row-for-row
    val n = 70000L
    val p = Similarity.srpPlanesFor(n, targetBucket = 4096)
    assert(p > 4, s"corpus too small to leave the floor (p=$p)")
    val corpus = spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(0, 63), d -> CAST((pmod(hash(id, d), 2001) - 1000) / 1000.0 AS FLOAT)) AS embedding")
    val queries = corpus.where(col("vec_id") < 5)
    val auto = Similarity.lshTopK(queries, corpus, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val explicit = Similarity.multiProbeTopK(queries, corpus, k = 3, planes = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto === explicit)
    // and an explicit planes value keeps single-probe: its candidate
    // set (home bucket only) is a subset of the multi-probe run's
    val single = Similarity.lshTopK(queries, corpus, k = 3, planes = p)
    assert(single.collect().nonEmpty)
  }

  test("labelCentroids: hand-computed pooled sums and mean cosine to centroid") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // label 0: orthogonal pair
      (1L, Array(0.0f, 1.0f), 0),
      (2L, Array(3.0f, 4.0f), 1),   // label 1: single member → cos 1.0
      (3L, Array(0.0f, 0.0f), 2)    // label 2: zero vector → cos 0.0
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(vecs).collect()
      .map(r => r.getInt(0) -> ((r.getAs[Long]("n"),
        r.getAs[String]("centroid_sum_csv"), r.getAs[Double]("mean_cos")))).toMap
    // label 0: sums (1e6, 1e6); mean cos to the diagonal centroid = cos 45° = 0.707107
    assert(out(0) === ((2L, "1000000,1000000", 0.707107)))
    // label 1: unit (0.6, 0.8) against sum (3e6, 4e6) → exactly 1
    assert(out(1) === ((1L, "3000000,4000000", 1.0)))
    // label 2: all-zero sum guard
    assert(out(2) === ((1L, "0,0", 0.0)))
  }

  test("multi-probe ann: superset of single-probe candidates, subset of brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 400L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val single = pairs(Similarity.lshTopK(queries, corpus, k = 5))
    val multi = pairs(Similarity.multiProbeTopK(queries, corpus, k = 5))
    val brute = Similarity.bruteForceTopK(queries, corpus, k = 400)
    // multi-probe recall against the true top-5 is >= single-probe's
    val truth = pairs(Similarity.bruteForceTopK(queries, corpus, k = 5))
    val rSingle = (single & truth).size.toDouble / truth.size
    val rMulti = (multi & truth).size.toDouble / truth.size
    assert(rMulti >= rSingle)
    // and every multi-probe hit is a genuine corpus vector pair
    assert(multi.subsetOf(pairs(brute)))
    // scores agree with brute force on the common pairs (dedup by max
    // keeps the same cosine either probe path)
    val bScore = brute.select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, s) => (q, n) -> s }.toMap
    Similarity.multiProbeTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .foreach { case (q, n, s) => assert(math.abs(s - bScore((q, n))) < 1e-9) }
  }

  test("imi index: product cells, lossless per-half routing, full probe exact, plan guard") {
    val em = (0L until 128L).map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 7.0 + d * 3.0).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-imi").toString
    Similarity.buildImiIndex(em, dir, kPerHalf = 3)
    val (c1, c2) = Similarity.trainedImiCentroids(em, kPerHalf = 3)
    val kk = c1.length
    assert(kk === 3)
    // stored cells ARE the product of the per-half assignments
    val viaExpr = em.select(col("vec_id"),
        (graft.functions.VectorExpressions.nearest_cell(
            expr("slice(embedding, 1, 4)"), c1.map(_.toSeq).toSeq) * kk +
          graft.functions.VectorExpressions.nearest_cell(
            expr("slice(embedding, 5, 4)"), c2.map(_.toSeq).toSeq)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val stored = spark.read.parquet(s"${Generations.root(spark, dir)}/corpus")
      .select("neighbor_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored === viaExpr)
    // bounded write: the cell-keyed repartition leaves one file per cell
    stored.values.toSet.foreach { (c: Int) =>
      val files = new java.io.File(s"${Generations.root(spark, dir)}/corpus/shard=base/cell=$c")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"cell $c has $files files, want 1")
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val q = em.where(col("vec_id") < 5)
    // a full probe (nprobe = K²) is exact
    assert(rows(Similarity.imiTopKIndexed(q, dir, k = 3, nprobe = kk * kk)) ===
      rows(Similarity.bruteForceTopK(q, em, k = 3)))
    // deterministic; the serving plan has no corpus assignment scan
    val served = Similarity.imiTopKIndexed(q, dir, k = 3, nprobe = 2)
    assert(rows(served) ===
      rows(Similarity.imiTopKIndexed(q, dir, k = 3, nprobe = 2)))
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("NearestCell") && !plan.contains("nearest_cell"))
    // the per-half top-np pruning is LOSSLESS: re-derive each query's
    // top-nprobe cells over ALL K² pairs (same cosine arithmetic,
    // ascending-index accumulation; ties by cell id) and serve through
    // the same exact tail — must match the pruned routing's output
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val qv = q.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val expectedProbe = qv.flatMap { case (qid, v) =>
      val s1 = c1.map(c => cos(v.take(4), c))
      val s2 = c2.map(c => cos(v.drop(4), c))
      val pairs = for (a <- 0 until kk; b <- 0 until kk)
        yield (a * kk + b, s1(a) + s2(b))
      pairs.sortBy { case (cell, s) => (-s, cell) }.take(2)
        .map { case (cell, _) => (qid, cell) }
    }.toSeq
    val probedRef = expectedProbe.toDF("query_id", "cell")
      .join(em.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), Seq("query_id"))
    val refServed = spark.read.parquet(s"${Generations.root(spark, dir)}/corpus")
      .join(broadcast(probedRef), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", Similarity.cosine(col("qv"), col("cv")))
    val wq = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(desc("cos_sim"), asc("neighbor_id"))
    val refRows = refServed
      .withColumn("rnk", row_number().over(wq).cast("long"))
      .where(col("rnk") <= 3)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cos_sim"), 4).as("cos_sim"))
    assert(rows(served) === rows(refRows),
      "per-half pruned routing must equal the all-pairs routing")
  }

  test("imi index append: frozen-centroid add; full probe exact over the union; replay idempotent") {
    val all = (0L until 96L).map(i =>
        (i, Array.tabulate(8)(d => math.cos(i * 5.0 + d * 2.0).toFloat)))
      .toDF("vec_id", "embedding")
    val (base, shard) =
      (all.where(col("vec_id") < 64), all.where(col("vec_id") >= 64))
    val dir = java.nio.file.Files.createTempDirectory("graft-imi-app").toString
    Similarity.buildImiIndex(base, dir, kPerHalf = 3)
    Similarity.appendToImiIndex(shard, dir, shardId = "day-1")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val q = all.where(col("vec_id") < 4)
    val want = rows(Similarity.bruteForceTopK(q, all, k = 3))
    assert(rows(Similarity.imiTopKIndexed(q, dir, k = 3, nprobe = 9)) === want)
    // replay: re-running the same shard overwrites, never duplicates
    Similarity.appendToImiIndex(shard, dir, shardId = "day-1")
    assert(rows(Similarity.imiTopKIndexed(q, dir, k = 3, nprobe = 9)) === want)
    // shardId refusals match the family convention
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToImiIndex(shard, dir, shardId = "base")
    }
    assert(e.getMessage.contains("base"))
  }

  test("imi near-duplicates + point layout: full probe exact; layouts agree; append matches layout") {
    val em2 = (0L until 96L).map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 11.0 + d * 5.0).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-imi-nd").toString
    Similarity.buildImiIndex(em2, dir, kPerHalf = 3)
    val probe = em2.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full probe (nprobe = kPerHalf²) = the brute-force thresholded
    // pair listing, self pairs included (the family's id-space rule)
    val brute = probe
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(em2.select(col("vec_id").as("index_vec_id"),
        col("embedding").as("cv")))
      .withColumn("c", Similarity.cosine(col("qv"), col("cv")))
      .where(col("c") >= 0.3)
      .select(col("query_id").as("vec_id"), col("index_vec_id"),
        round(col("c"), 4).as("cos_sim"))
    assert(pairs(Similarity.imiNearDuplicates(probe, dir, 0.3, nprobe = 9))
      === pairs(brute))
    // restricted probe: deterministic subset
    val nd = Similarity.imiNearDuplicates(probe, dir, 0.3, nprobe = 2)
    assert(pairs(nd).subsetOf(pairs(brute)))
    assert(pairs(Similarity.imiNearDuplicates(probe, dir, 0.3, nprobe = 2))
      === pairs(nd))
    // pointLayout store: bounded cell-sorted files, appends land in
    // the SAME layout (persisted in params), serves stay exact
    val pdir = java.nio.file.Files.createTempDirectory("graft-imi-pl").toString
    Similarity.buildImiIndex(em2.where(col("vec_id") < 64), pdir,
      kPerHalf = 3, pointLayout = true, pointLayoutFiles = 4)
    Similarity.appendToImiIndex(em2.where(col("vec_id") >= 64), pdir, "day-1")
    Seq("base", "day-1").foreach { s =>
      val sd = new java.io.File(s"${Generations.root(spark, pdir)}/corpus/shard=$s")
      assert(!sd.listFiles().exists(_.getName.startsWith("cell=")),
        s"shard $s must not hive-partition under pointLayout")
      assert(sd.listFiles().count(_.getName.endsWith(".parquet")) <= 4)
    }
    assert(pairs(Similarity.imiNearDuplicates(probe, pdir, 0.3, nprobe = 9))
      === pairs(brute))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val q = em2.where(col("vec_id") < 4)
    assert(rows(Similarity.imiTopKIndexed(q, pdir, k = 3, nprobe = 9)) ===
      rows(Similarity.imiTopKIndexed(q, dir, k = 3, nprobe = 9)))
  }
}
