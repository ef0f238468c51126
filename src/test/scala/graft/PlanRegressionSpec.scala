package graft

import org.apache.spark.sql.functions._

import graft.ops.{Graph, Similarity}

/** Physical-plan regression guards for the known-shape queries: the
  * round-3 verdict's q89 regression (a checkpointed loop silently losing
  * its broadcast and paying a full shuffle join per iteration) is the
  * class of bug these catch — a future edit that drops a hint or
  * re-routes a join fails HERE, not in a 10× bench regression.
  *
  * Assertions read the executed (AQE-final) plan string, the
  * BucketedJoinSpec convention: "SortMergeJoin" must not appear where a
  * broadcast is the contract, and shuffle ("Exchange hashpartitioning")
  * counts are bounded by the aggregates that legitimately need them.
  */
class PlanRegressionSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  test("PageRank iteration broadcast-joins ranks — even with stats-free inputs") {
    // replicate the loop's exact state: every input is a localCheckpoint
    // (LogicalRDD, UNKNOWN size stats) — the round-3 failure mode where
    // Catalyst would never auto-broadcast and fell back to shuffling the
    // edge relation every iteration
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val raw = (und ++ und.map(_.swap)).toDF("src", "dst").localCheckpoint(true)
    val outdeg = raw.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val nodes0 = raw.select(col("src").as("node")).distinct()
    val nodesDeg = nodes0
      .join(outdeg, nodes0("node") === outdeg("src"), "left")
      .select(col("node"), col("outdeg")).localCheckpoint(true)
    val ranks = nodesDeg
      .select(col("node"), col("outdeg"), lit(1000000L).as("rank"))
      .localCheckpoint(true)
    val plan = executedPlan(Graph.iterate(raw, nodesDeg, ranks, 0L))
    assert(!plan.contains("SortMergeJoin"),
      s"ranks join degraded to a shuffle join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // exactly one legitimate shuffle: the dst contribution aggregate
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 1, s"expected <=1 shuffle (dst agg), got $shuffles:\n$plan")
  }

  test("star-schema query joins all dims without a sort-merge join") {
    // nation/region are hinted; customer is AQE's call and must resolve
    // to a broadcast at this scale, not a fact-side shuffle join
    val df = graft.analytics.StarAnalytics.visitsByRegion(spark, dir)
    val plan = executedPlan(df)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("LSH ANN gates candidates through one broadcast bucket join") {
    val em = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = Similarity.lshTopK(em.where(col("vec_id") < 20), em, k = 5)
    val plan = executedPlan(df)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("stream-collapsed ops never shuffle raw document text") {
    // the collapse contract: corpus text is scanned, never exchanged —
    // only ids, digests, and distinct-stream derivatives may shuffle. A
    // future edit that routes text through an exchange fails here.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cases = Seq(
      "nearDuplicates" -> graft.ops.Dedup.nearDuplicates(docs, shingleSize = 2, threshold = 0.35),
      "nearDupComponents" -> graft.ops.Dedup.nearDupComponents(docs, shingleSize = 2, threshold = 0.35),
      "spanDedup" -> graft.ops.Dedup.spanDedup(docs),
      "naiveBayes" -> graft.ops.LangModel.naiveBayes(docs),
      "unigramScore" -> graft.ops.LangModel.unigramScore(docs),
      "setSimilarityJoin" ->
        graft.ops.SetSimilarity.setSimilarityJoin(docs, thresholdPct = 70),
      "containmentJoin" ->
        graft.ops.SetSimilarity.containmentJoin(docs, thresholdPct = 80))
    for ((name, df) <- cases) {
      val cols = shuffledColumns(df)
      assert(!cols.contains("text"),
        s"$name shuffles raw text; exchange outputs: ${cols.distinct.sorted}")
    }
  }

  test("naiveBayes scans its one materialized token pass — no inline explode") {
    // the structural-sharing contract (round 8): the per-(doc, token)
    // tf relation is checkpointed once, so the scoring query must
    // contain ZERO GenerateExec — every downstream statistic (vocab,
    // class totals, matrix, scoring join) scans the materialized
    // blocks. An edit that drops the truncator re-inlines the corpus
    // token explode into N subtrees and fails here. Also guards the
    // single-aggregate argmax: the old max-then-rejoin self-join
    // doubled the scoring pipeline (two Generates pre-fix).
    //
    // A STATIC plan check on purpose: the Generate absence is decided
    // at planning (the checkpoint happened at construction), so no
    // execution is needed — an earlier version paid a full NB run via
    // a noop write and then walked this same initial plan anyway.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    var generates = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case g: org.apache.spark.sql.execution.GenerateExec =>
        generates += 1; g.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(graft.ops.LangModel.naiveBayes(docs).queryExecution.executedPlan)
    assert(generates == 0,
      s"naiveBayes: $generates inline token explode(s) — the tf " +
        "pass is no longer structurally materialized")
  }

  test("spanDedup plans no window and no interpreted array lambda") {
    // the span kernels' contract: gram digests (SpanGrams) and the
    // cover + reassembly (SpanCover) are one native pass each, so no
    // plan of the operator holds a Window, an ArrayTransform lambda or
    // an ArraySort. Static on the final plan; the materialized gram
    // pass is read off the eager materializations the construction runs
    // anyway (an edit that re-inlines the per-position lambda there
    // fails too).
    import scala.jdk.CollectionConverters._
    import org.apache.spark.grafttest.ListenerBusHelper.waitUntilListenerBusEmpty
    import org.apache.spark.sql.catalyst.expressions.{ArraySort, ArrayTransform}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val built = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = built.add(qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = try {
      val d = graft.ops.Dedup.spanDedup(docs)
      waitUntilListenerBusEmpty(spark.sparkContext)
      d
    } finally spark.listenerManager.unregister(listener)
    assert(built.size >= 2, s"expected the two materializations, saw ${built.size}")
    for (p <- built.asScala.toSeq :+ df.queryExecution.optimizedPlan) {
      assert(p.collect { case w: Window => w }.isEmpty, s"spanDedup plans a Window:\n$p")
      val hofs = p.flatMap(_.expressions).filter(_.exists {
        case _: ArrayTransform | _: ArraySort => true
        case _ => false
      })
      assert(hofs.isEmpty, s"spanDedup plans an interpreted array HOF: $hofs")
    }
  }

  test("crossUnigramScore scans each corpus side exactly once") {
    // round-9 contract: the train-side (tok, cnt) relation is
    // structurally materialized at construction, so its parquet
    // subtree is REPLACED by the checkpointed-blocks scan — the scoring
    // plan holds exactly ONE parquet scan (eval). Pre-fix it held
    // three: eval, train-for-counts, and the corpus total's subtree
    // re-running the train explode. An edit that drops the truncator
    // re-grows the train scans and fails here. Static check, same
    // rationale as the naiveBayes guard.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.LangModel.crossUnigramScore(
      docs.where(col("doc_id") % 5 =!= 0),
      docs.where(col("doc_id") % 5 === 0))
    val scans = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1,
      s"crossUnigramScore: $scans parquet scans — the train tf is no " +
        "longer structurally materialized (expect 1: eval only; train " +
        "serves from checkpointed blocks)")
  }

  test("semDedup assigns cells once — no inline nearest_cell per consumer") {
    // round-9 contract: the cell assignment (corpus scan + k-centroid
    // argmax) is materialized once; its three consumers (both pair-join
    // sides, the keep anti-join) scan the checkpointed blocks. The
    // argmax expression re-inlining into the plan means the truncator
    // was dropped.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Similarity.semDedup(emb, nlist = 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("nearest_cell"),
      "semDedup: nearest_cell re-inlined — the cell assignment is no " +
        "longer structurally materialized")
  }

  test("set-similarity join computes the prefix pipeline once at corpus scale") {
    // with broadcasts off (the 100 TB shape — no side fits), the
    // candidate self-join must feed both sides from ONE materialized
    // prefix relation: the explode → doc-frequency → rank window
    // pipeline runs once (inside the eager checkpoint) and the join
    // query itself contains NO window at all — a future edit that
    // re-derives either side inline re-introduces a WindowExec into the
    // main query and fails here. The earlier ReuseExchange-based
    // contract proved planner-mood-dependent (AQE stage-cache misses
    // under full-suite JVM state ran the pipeline twice), which is
    // exactly why the sharing is now structural.
    // (Counted by walking the AQE-FINAL tree of the df's own execution:
    // the noop-write trick plans a separate QueryExecution whose
    // adaptive plan never finalizes, and toString on an adaptive plan
    // prints initial+final sections — both would miscount.)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
             "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = graft.ops.SetSimilarity.setSimilarityJoin(docs, thresholdPct = 70)
      df.collect()
      var windows = 0
      var rddScans = 0
      var reused = 0
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _: org.apache.spark.sql.execution.RDDScanExec =>
          rddScans += 1
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          reused += 1
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          windows += 1; w.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      assert(windows == 0,
        s"prefix pipeline re-derived inline: $windows WindowExec in the join query")
      // both sides consume the one materialized prefix: either two
      // direct scans of the checkpointed blocks, or one scan plus a
      // ReusedExchange of its shuffle (planner's pick — both are
      // compute-once)
      assert(rddScans + reused >= 2,
        s"expected both self-join sides to feed from the checkpointed prefix, " +
          s"got $rddScans scans + $reused reused exchanges")
    }
  }

  private def withConf(entries: (String, String)*)(body: => Unit): Unit = {
    val saved = entries.map { case (k, _) => k -> spark.conf.getOption(k) }
    entries.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every column name appearing in the output of any ShuffleExchange of
    * the executed (AQE-final) plan, across query stages. */
  private def shuffledColumns(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.write.format("noop").mode("overwrite").save()
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          seen ++= s.output.map(_.name)
          s.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    seen.toSeq
  }

  test("perplexityBuckets: no partition-less window over the full histogram") {
    // the r16 verdict's one perf-weak item: the tercile cutoffs must
    // never run a running-count window over the raw distinct-score
    // histogram (bounded by the score DOMAIN — up to tens of millions
    // of rows in one task). Phase 1 coarsens to `score div 2^16`
    // buckets first; the exact resolution partitions by bucket. Guard:
    // every partition-less WindowExec in the global-mode plan must sit
    // above an aggregate grouped by the coarse-bucket column `cb` — a
    // future edit that windows the raw histogram (or the corpus)
    // fails here.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val scored = graft.ops.LangModel.bigramInterpolatedScore(docs)
      .localCheckpoint(true)
    val df = graft.ops.LangModel.perplexityBuckets(scored)
    df.collect()
    def groupsByCoarseBucket(p: SparkPlan): Boolean = {
      var found = false
      def walk(q: SparkPlan): Unit = q match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case ag: BaseAggregateExec =>
          if (ag.groupingExpressions.exists(_.name == "cb")) found = true
          ag.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(p); found
    }
    var partitionless = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case w: WindowExec =>
        if (w.partitionSpec.isEmpty) {
          partitionless += 1
          assert(groupsByCoarseBucket(w.child),
            "partition-less window whose input is NOT the coarse-bucket " +
              s"histogram:\n${w.toString}")
        }
        w.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    // the coarse running-count window IS partition-less in global mode
    // (over ≤ domain/2^16 rows) — its presence proves the guard walked
    // the right plan
    assert(partitionless >= 1,
      "expected the coarse cumulative window in the global-mode plan")
  }

  test("corpus-side-broadcast top-k is bit-identical to the query-side form") {
    // the q81 contract: flipping the build side changes the physical
    // plan only — scores, ranks, and tie-breaks are unchanged
    val em = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = em.where(col("vec_id") >= 400)
    val c = em.where(col("vec_id") < 400)
    val a = Similarity.bruteForceTopK(q, c, 5).orderBy("query_id", "rnk").collect()
    val b = Similarity.bruteForceTopKSmallCorpus(q, c, 5).orderBy("query_id", "rnk").collect()
    assert(a.toSeq === b.toSeq)
  }
}
