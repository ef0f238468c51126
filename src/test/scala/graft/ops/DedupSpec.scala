package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 0
    (2L, "The quick brown fox jumps over the lazy dog!"),   // dup after normalize
    (3L, "the quick brown fox jumps over a sleepy dog"),    // near-dup
    (4L, "completely different words entirely here now ok yes"),
    (5L, "ab"),                                             // < 2 tokens
    (6L, "")                                                // empty
  ).toDF("doc_id", "text")

  test("reliable checkpoint dir yields identical span-dedup and keep-best output") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ck-dd").toString
    val localSpan = Dedup.spanDedup(docs, k = 3).collect().map(_.toSeq).toSet
    val reliableSpan = withCheckpointDir(dir) {
      Dedup.spanDedup(docs, k = 3).collect().map(_.toSeq).toSet
    }
    assert(reliableSpan === localSpan)
    val localKb = Dedup.keepBestDedup(docs, shingleSize = 2, threshold = 0.35)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val reliableKb = withCheckpointDir(dir) {
      Dedup.keepBestDedup(docs, shingleSize = 2, threshold = 0.35)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    }
    assert(reliableKb === localKb)
  }

  test("wordShingles: distinct n-grams from raw text; [] when too short") {
    val out = Seq((0L, "a b c b a b c"), (1L, "x"), (2L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.wordShingles(col("text"), 2).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(0L).toSet === Set("a b", "b c", "c b", "b a")) // distinct
    assert(out(0L).length === 4)
    assert(out(1L).isEmpty && out(2L).isEmpty)
  }

  test("exact dedup groups normalized-identical docs") {
    val dups = Dedup.exactDuplicates(docs).cache()
    val big = dups.where(col("dup_cnt") === 3).head()
    assert(big.getAs[Long]("keep_doc_id") === 0L)
    // 0,1,2 collapse; 3,4,5,6 distinct → 5 fingerprints
    assert(dups.count() === 5)
  }

  test("minhash signatures: identical docs share full signature; empty docs dropped") {
    val sigs = Dedup.minHashSignatures(docs, shingleSize = 2).cache()
    val s0 = sigs.where(col("doc_id") === 0).head().toSeq.tail
    val s1 = sigs.where(col("doc_id") === 1).head().toSeq.tail
    assert(s0 === s1)
    // doc 5 (1 token) and 6 (empty) have no bigram shingles → absent
    assert(sigs.where(col("doc_id").isin(5, 6)).count() === 0)
  }

  test("near-dup pipeline finds the planted pairs with exact jaccard") {
    val pairs = Dedup.nearDuplicates(docs, shingleSize = 2, threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                           r.getAs[Double]("jaccard"))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)))     // identical → jaccard 1.0
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 === 1.0)
    // unrelated doc 4 never pairs
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("candidatePairs bucket cap: oversized buckets emit star pairs, small buckets all pairs") {
    // band rows: bucket X has 4 docs (over cap 3 → star from min), bucket Y has 2
    val bands = Seq(
      (10L, 0, "X"), (11L, 0, "X"), (12L, 0, "X"), (13L, 0, "X"),
      (20L, 0, "Y"), (21L, 0, "Y"))
      .toDF("doc_id", "band_id", "band_hash")
    val capped = Dedup.candidatePairs(bands, maxBucketSize = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L)))
    val uncapped = Dedup.candidatePairs(bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size === 6 + 1)   // C(4,2) + C(2,2)
    // every doc in the big bucket still reaches the representative
    assert(capped.filter(p => p._1 == 10L).map(_._2) === Set(11L, 12L, 13L))
  }

  test("crossNearDuplicates flags corpus docs that near-match the benchmark only") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "totally unrelated benchmark question text here")
    ).toDF("doc_id", "text")
    val out = Dedup.crossNearDuplicates(docs, bench, shingleSize = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byPair = out.map(p => (p._1, p._2) -> p._3).toMap
    // exact copy of bench 100 → jaccard 1.0; near-dup doc 3 also flagged
    assert(byPair((0L, 100L)) === 1.0)
    assert(byPair.contains((3L, 100L)))
    // doc 4 (unrelated) never pairs, and bench 101 matches nothing
    assert(!out.exists(p => p._1 == 4L))
    assert(!out.exists(p => p._2 == 101L))
    // output never pairs corpus docs with each other
    assert(out.forall(p => p._2 >= 100L))
  }

  test("tokenStreamCollapse tiny escape: non-materialized path is output-identical; estimate gate") {
    // the materialize=false shape duplicates the scan instead of
    // betting on ReuseExchange — output must be identical either way
    // a null-text rep (-1) groups with the empty-text doc 6: both
    // tokenize to the empty stream
    val withNull = docs.union(Seq[(Long, String)]((-1L, null)).toDF("doc_id", "text"))
    val (mT, rT, ntT) = Dedup.tokenStreamCollapse(withNull, "text", materialize = true)
    val (mF, rF, ntF) = Dedup.tokenStreamCollapse(withNull, "text", materialize = false)
    assert(mT.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      mF.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(rT.select("doc_id").collect().map(_.getLong(0)).toSet ===
      rF.select("doc_id").collect().map(_.getLong(0)).toSet)
    // the eligibility relation (rep, token count) matches both ways,
    // and the count agrees with a direct per-rep tokenization
    val ntSet = ntT.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(ntSet === ntF.collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    val direct = rT.select(col("doc_id"),
        size(graft.ops.TextStats.tokens(col("text"))).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(ntSet === direct)
    assert(ntSet.contains((-1L, -1)) && mT.where(col("doc_id") === 6L)
      .collect().map(_.getLong(1)).toSeq === Seq(-1L))
    // the gate follows the planner's broadcast standard: a local tiny
    // relation qualifies; with broadcasts disabled nothing does
    assert(Dedup.tinyByEstimate(docs))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(!Dedup.tinyByEstimate(docs))
      // and crossNearDuplicates under the forced-materialize regime
      // matches the tiny-path default on the same input
      val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      val forced = Dedup.crossNearDuplicates(docs, bench, shingleSize = 2,
          threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      val tiny = Dedup.crossNearDuplicates(docs, bench, shingleSize = 2,
          threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(forced === tiny)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // the estimate alone is not trusted: a side whose sizeInBytes
    // estimate underestimates reality (compressed parquet of dup text,
    // CBO selectivity guesses) must still fail the bounded row probe —
    // modeled by an over-cap relation under an inflated threshold
    val saved2 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1L << 40).toString)
      assert(!Dedup.tinyByEstimate(
        spark.range(Dedup.TinyMaxRows + 1).toDF("doc_id")))
      assert(Dedup.tinyByEstimate(spark.range(100).toDF("doc_id")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved2)
  }

  test("crossNearDuplicates collapse is row-identical to the uncollapsed formulation (seeded fuzz)") {
    // the r9 both-side exact-collapse must reproduce the raw pipeline
    // EXACTLY: candidates from shared LSH bands, exact jaccard >= t,
    // every (corpus copy, bench copy) pair listed with the rep pair's
    // jaccard. Reference = the pre-collapse algorithm, re-built here
    // from the same public pieces over the RAW relations.
    val rnd = new scala.util.Random(46)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def text() = Seq.fill(4 + rnd.nextInt(6))(words(rnd.nextInt(words.size)))
      .mkString(" ")
    // ~25 base texts, each duplicated 1-4x across both sides
    val base = Seq.fill(25)(text())
    var id = 0L
    val rows = base.flatMap { t =>
      Seq.fill(1 + rnd.nextInt(4)) { id += 1; (id, t) }
    }
    val all = rows.toDF("doc_id", "text")
    val corpus = all.where(col("doc_id") % 3 =!= 0)
    val bench = all.where(col("doc_id") % 3 === 0)
    val (nh, rpb, ss, t) = (8, 2, 2, 0.35)
    val got = Dedup.crossNearDuplicates(corpus, bench, numHashes = nh,
        rowsPerBand = rpb, shingleSize = ss, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // uncollapsed reference: raw bands join + exact verify on raw docs
    val bandsC = Dedup.lshBands(
      Dedup.minHashSignatures(corpus, shingleSize = ss, numHashes = nh), nh, rpb)
    val bandsB = Dedup.lshBands(
      Dedup.minHashSignatures(bench, shingleSize = ss, numHashes = nh), nh, rpb)
    def sh(d: org.apache.spark.sql.DataFrame, as: String, setName: String) =
      d.select(col("doc_id").as(as),
        graft.functions.TextExpressions.shingle_hashes(
          graft.ops.TextStats.tokens(col("text")), ss).as(setName))
    val want = bandsC.alias("c").join(bandsB.alias("b"),
        col("c.band_id") === col("b.band_id") &&
        col("c.band_hash") === col("b.band_hash"))
      .select(col("c.doc_id").as("doc_id"), col("b.doc_id").as("bench_doc_id"))
      .distinct()
      .join(sh(corpus, "doc_id", "sh_a"), "doc_id")
      .join(sh(bench, "bench_doc_id", "sh_b"), "bench_doc_id")
      .withColumn("jaccard",
        graft.functions.TextExpressions.array_jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= t)
      .select(col("doc_id"), col("bench_doc_id"), round(col("jaccard"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "fuzz corpus produced no cross pairs — weak test")
    assert(got === want)
  }

  test("connectedComponents labels chains, cliques, and long paths with the component min") {
    // two components: a 12-node path (worst-case diameter for naive
    // propagation — exercises multiple star rounds) and a triangle
    val path = (0L until 11L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (path ++ tri).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 15)
    (0L to 11L).foreach(i => assert(comp(i) === 0L, s"node $i"))
    (100L to 102L).foreach(i => assert(comp(i) === 100L, s"node $i"))
  }

  test("connectedComponents handles reversed/duplicate/self edges and empty input") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(messy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() === 0)
  }

  test("distributed star loop (cutoff 0) agrees with the union-find fast path") {
    val path = (0L until 11L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (path ++ tri).toDF("doc_a", "doc_b")
    val viaLoop = Dedup.connectedComponents(pairs, smallCutoff = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaUf = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLoop === viaUf)
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty, smallCutoff = 0L).count() === 0)
  }

  test("star loop costs one driver action per round beyond materialization") {
    // a star graph is already at fixpoint: the loop runs exactly one
    // round and must spend exactly 4 SQL executions — initial edge
    // materialize, initial |edges| count, round materialize, and the
    // round's SINGLE convergence aggregate. The count-plus-anti-join
    // formulation spent 3 executions per round (two counts + isEmpty)
    // instead of 1; each extra execution is a driver round-trip at
    // cluster job-latency prices, every round. SQL execution starts
    // count driver actions exactly; raw job counts would also include
    // broadcast-exchange jobs, which are pipeline internals.
    val pairs = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("doc_a", "doc_b")
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            actions.incrementAndGet()
          case _ =>
        }
    }
    // drain events from any earlier test on the shared session BEFORE
    // registering, so the count covers exactly the executions between
    // registration and the post-construction drain — a fixed sleep is
    // both racy (events still in flight on a loaded host) and
    // over-scoped (counts stragglers from prior SQL)
    import org.apache.spark.grafttest.ListenerBusHelper.waitUntilListenerBusEmpty
    waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Dedup.connectedComponents(pairs, smallCutoff = 0L)
      waitUntilListenerBusEmpty(spark.sparkContext)
      val inLoop = actions.get()
      assert(inLoop === 4,
        s"expected 4 SQL executions for a 1-round converge, got $inLoop")
      assert(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("star loop with a reliable checkpoint dir agrees with local default") {
    val path = (0L until 11L).map(i => (i, i + 1))
    val pairs = path.toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ck").toString
    val viaReliable = withCheckpointDir(dir) {
      Dedup.connectedComponents(pairs, smallCutoff = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val viaLocal = Dedup.connectedComponents(pairs, smallCutoff = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaReliable === viaLocal)
  }

  test("nearDedupedCorpus keeps one representative per transitive cluster") {
    // docs 0,1,2,3 chain into one cluster at threshold 0.3 (0≈1≈2≈3);
    // component min 0 survives, 4 is unrelated, 5/6 have no shingles
    val kept = Dedup.nearDedupedCorpus(docs, shingleSize = 2, threshold = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L) && kept.contains(4L))
    assert(!kept.contains(1L) && !kept.contains(2L))
    // every doc not in any pair passes through untouched
    assert(kept.contains(5L) && kept.contains(6L))
  }

  test("spanDedup cuts cross-doc k-token spans at any alignment, keeps within-doc repeats") {
    val corpus = Seq(
      // docs 0/1 share the 5-gram "a b c d e" at DIFFERENT offsets
      (0L, "a b c d e f g h"),
      (1L, "x a b c d e y z"),
      (2L, "totally unrelated words kept intact here"),
      // within-doc repeat only — cross-doc rule must NOT fire
      (3L, "p q r s t u p q r s t u"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getAs[Long]("kept_tokens"),
        r.getAs[Long]("removed_tokens")))).toMap
    assert(out(0L) === (("f g h", 3L, 5L)))
    assert(out(1L) === (("x y z", 3L, 5L)))
    assert(out(2L) === (("totally unrelated words kept intact here", 6L, 0L)))
    assert(out(3L)._3 === 0L)
    assert(!out.contains(4L))   // empty doc absent, as in every token relation
  }

  test("clusterSizeReport histograms component sizes") {
    // components: {0,1,2,3} (chain), {10,11} → sizes 4 and 2
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val hist = Dedup.clusterSizeReport(Dedup.connectedComponents(pairs)).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"))).toMap
    assert(hist === Map(4L -> ((1L, 4L)), 2L -> ((1L, 2L))))
  }

  test("nearDupComponents ≡ components over the expanded pair list") {
    // planted shapes: an exact-dup group bridged to a near-dup (cross
    // edge), an exact-dup group with NO cross edges (own component), a
    // pure near-dup pair of distinct texts, shingle-less docs (1 token),
    // and an untouched singleton
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),          // exact dup of 1
      (7L, "alpha beta gamma delta"),          // exact dup of 1
      (3L, "alpha beta gamma delta epsilon"),  // near-dup of the group
      (20L, "zeta eta theta iota"),
      (21L, "zeta eta theta iota"),            // exact group, no cross edge
      (30L, "one two three four five"),
      (31L, "one two three four five six"),    // near-dup pair, distinct texts
      (40L, "solo"), (41L, "solo"),            // 1 token → no bigram shingles
      (50L, "completely different text here")  // singleton
    ).toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = key(Dedup.nearDupComponents(corpus, shingleSize = 2, threshold = 0.3))
    val ref = key(Dedup.connectedComponents(Dedup.nearDuplicates(
      corpus, shingleSize = 2, threshold = 0.3)))
    assert(fast === ref)
    assert(fast === Set((1L, 1L), (2L, 1L), (7L, 1L), (3L, 1L),
      (20L, 20L), (21L, 20L), (30L, 30L), (31L, 30L)))
  }

  test("keepBestDedup keeps the longest cluster member, min doc_id on ties") {
    // planted: 11 is a superset of 10 (bigram jaccard 3/4) and longer —
    // the higher doc_id must win the cluster
    val corpus = docs.union(Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text"))
    val kept = Dedup.keepBestDedup(corpus, shingleSize = 2, threshold = 0.3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kept.contains(11L) && !kept.contains(10L))
    assert(kept(11L) === 5)
    // 0..3 all have 9 tokens → tie → min doc_id 0 survives
    assert(kept.contains(0L) && Seq(1L, 2L, 3L).forall(!kept.contains(_)))
    // untouched docs pass through with their counts
    assert(kept.contains(4L) && kept.contains(5L) && kept.contains(6L))
    assert(kept(6L) === 0)
  }

  test("spanDedup: exact copies of a doc duplicate every gram of both copies") {
    // two identical docs: every 3-gram is cross-doc duplicated, so both
    // are fully cut; the distinct doc is untouched
    val corpus = Seq(
      (1L, "aa bb cc dd ee"),
      (2L, "aa bb cc dd ee"),
      (3L, "vv ww xx yy zz")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("", 0L, 5L)))
    assert(out(2L) === (("", 0L, 5L)))
    assert(out(3L) === (("vv ww xx yy zz", 5L, 0L)))
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = Dedup.simHash(docs).cache()
    def h(id: Long) = sh.where(col("doc_id") === id).head().getAs[Long]("simhash")
    assert(h(0) === h(1))
    val hamming = java.lang.Long.bitCount(h(0) ^ h(3))
    assert(hamming <= 6, s"near-dup hamming distance $hamming too large")
    assert(sh.where(col("doc_id") === 6).count() === 0)  // empty doc dropped
  }

  test("segmentDedup removes cross-doc boilerplate segments, keeps order, empties all-boilerplate docs") {
    val corpus = Seq(
      (0L, "a b c d e f g h i"),   // segs: [a b c][d e f][g h i]
      (1L, "a b c x y z p q r"),   // shares [a b c] with doc 0
      (2L, "a b c a b c"),         // within-doc repeat of a cross-doc dup
      (3L, "a b c"),               // all boilerplate → clean_text ""
      (4L, "u v w xx")             // unique, ragged last segment
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, minDocFreq = 2, wordsPerSegment = 3).cache()
    def row(id: Long) = out.where(col("doc_id") === id).head()
    assert(out.count() === 5)                              // one row per input doc
    assert(row(0).getAs[String]("clean_text") === "d e f g h i")
    assert(row(0).getAs[Long]("removed_segments") === 1L)
    assert(row(1).getAs[String]("clean_text") === "x y z p q r")
    assert(row(2).getAs[String]("clean_text") === "")      // both copies removed
    assert(row(2).getAs[Long]("removed_segments") === 2L)
    assert(row(3).getAs[String]("clean_text") === "")
    assert(row(4).getAs[String]("clean_text") === "u v w xx")
    assert(row(4).getAs[Long]("kept_segments") === 2L)
  }

  test("segmentDedup delim mode dedups whole lines and reassembles with the delimiter") {
    val corpus = Seq(
      (10L, "hello\nworld\nfoo"),
      (11L, "world\nbar")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, minDocFreq = 2, delim = Some("\n")).cache()
    def row(id: Long) = out.where(col("doc_id") === id).head()
    assert(row(10).getAs[String]("clean_text") === "hello\nfoo")
    assert(row(11).getAs[String]("clean_text") === "bar")
    assert(row(10).getAs[Long]("removed_segments") === 1L)
  }

  test("segmentDedup fast doc-frequency path: null ids, null-only groups, and " +
    "within-doc repeats keep the distinct-count semantics; explode runs once") {
    // the r18 fast path replaces distinct(h, id) + count >= 2 with one
    // min/max aggregate — these rows pin exactly the cases where the
    // two could diverge (DataFrame.distinct treats all-null ids as ONE
    // value; min/max skip nulls)
    val corpus = Seq(
      (java.lang.Long.valueOf(0L), "s1 s1 s1 s2 s2 s2"),  // within-doc repeat? no: segs [s1 s1 s1][s2 s2 s2]
      (java.lang.Long.valueOf(1L), "r r r r r r"),        // segs [r r r][r r r]: repeat within ONE doc only
      (null.asInstanceOf[java.lang.Long], "s1 s1 s1 x y z"), // shares [s1 s1 s1] with doc 0 → df 2
      (null.asInstanceOf[java.lang.Long], "n n n a b c"),  // null-id pair below
      (null.asInstanceOf[java.lang.Long], "n n n d e f")   // [n n n] in two null-id rows = ONE distinct id
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, minDocFreq = 2, wordsPerSegment = 3)
    // within-doc-only repeat survives (df counts DISTINCT docs)
    val r1 = out.where(col("doc_id") === 1L).head()
    assert(r1.getAs[String]("clean_text") === "r r r r r r")
    // cross-doc (real id + null id) segment is cut from both
    assert(out.where(col("doc_id") === 0L).head()
      .getAs[String]("clean_text") === "s2 s2 s2")
    // two null-id rows count as one distinct id: [n n n] survives, and
    // the null-id group aggregates to ONE output row (groupBy null key)
    val nullRows = out.where(col("doc_id").isNull)
      .collect().map(_.getAs[String]("clean_text"))
    assert(nullRows.length === 1)
    assert(nullRows.head.contains("n n n"))
    assert(!nullRows.head.contains("s1"))
    // both consumers read the materialized segment relation: the
    // executed plan holds ZERO Generate nodes (the explode ran once,
    // inside the construction-time checkpoint)
    val gens = out.queryExecution.executedPlan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.isEmpty, s"segment explode re-executed: $gens")
    // the fast path serves ONLY minDocFreq = 2: on a corpus with a df=2
    // segment, threshold 3 (general branch) must keep what threshold 2
    // cuts (guards against the fast path hijacking the general branch)
    val two = Seq((0L, "c c c u u u"), (1L, "c c c v v v"))
      .toDF("doc_id", "text")
    val cut2 = Dedup.segmentDedup(two, minDocFreq = 2, wordsPerSegment = 3)
      .where(col("doc_id") === 0L).head().getAs[String]("clean_text")
    val cut3 = Dedup.segmentDedup(two, minDocFreq = 3, wordsPerSegment = 3)
      .where(col("doc_id") === 0L).head().getAs[String]("clean_text")
    assert(cut2 === "u u u")
    assert(cut3 === "c c c u u u")
  }

  test("fuzzyNamePairs: blocking gates comparisons, threshold gates pairs") {
    val df = Seq("red bolt", "ted bolt", "red bolt", "green bolt", "red gear")
      .toDF("name")
    val pairs = Dedup.fuzzyNamePairs(df, "name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // distinct names; "red bolt"~"ted bolt" dist 1 within block "bolt";
    // "green bolt" is 4+ edits from both; "red gear" is another block
    assert(pairs === Set(("red bolt", "ted bolt", 1)))
  }

  test("fuzzyNamePairs: maxBlock drops degenerate blocks entirely") {
    val df = (1 to 30).map(i => s"name$i common").toDF("name")
    assert(Dedup.fuzzyNamePairs(df, "name", maxDist = 9, maxBlock = 10).count() === 0)
    assert(Dedup.fuzzyNamePairs(df, "name", maxDist = 9, maxBlock = 100).count() > 0)
  }

  test("dupGramStats: shared trigram counted, unique doc fully novel") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),   // grams: 3; "the quick brown" shared
      (2L, "the quick brown cat sleeps"),  // grams: 3; shares 1 with doc 1
      (3L, "entirely different words here")// grams: 2; none shared
    ).toDF("doc_id", "text")
    val out = Dedup.dupGramStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_grams"),
        r.getAs[Long]("dup_grams"), r.getAs[Long]("dup_ppm")))).toMap
    assert(out(1L) === ((3L, 1L, 333333L)))
    assert(out(2L) === ((3L, 1L, 333333L)))
    assert(out(3L) === ((2L, 0L, 0L)))
  }

  test("incremental dedup drops known content, dedups the batch, keeps the new") {
    import spark.implicits._
    val history = Seq(
      (1L, "the quick brown fox"),
      (2L, "already seen text")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "The quick  brown FOX!"),  // dup of history (normalization)
      (11L, "fresh content one"),
      (12L, "fresh content one"),      // batch-internal dup — keep 11 only
      (13L, "fresh content two")).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(history, incoming)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 13L))
  }

  test("incremental dedup with empty history keeps one per content") {
    import spark.implicits._
    val incoming = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(incoming.where(lit(false)), incoming)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
  }
}
