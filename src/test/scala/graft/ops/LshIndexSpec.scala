package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.grafttest.ListenerBusHelper.waitUntilListenerBusEmpty
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Build-once / probe-many LSH near-dup index: probing must be
  * bit-identical to the one-shot [[Dedup.crossNearDuplicates]] over the
  * same two corpora, appending a shard must equal rebuilding over the
  * union, and the probe plan must never re-shingle the indexed corpus. */
class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over a sleepy dog"),
    (2L, "completely different words entirely here now ok yes"),
    (3L, "pack my box with five dozen liquor jugs today"),
    (4L, "ab"),                                             // < 2 tokens
    (5L, "")                                                // empty
  ).toDF("doc_id", "text")

  private lazy val probe = Seq(
    (100L, "the quick brown fox jumps over the lazy dog"),  // exact of 0
    (101L, "the quick brown fox leaps over the lazy dog"),  // near of 0
    (102L, "totally unrelated content with no overlap at all"),
    (103L, "")                                              // empty
  ).toDF("doc_id", "text")

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet

  test("probe results are bit-identical to one-shot crossNearDuplicates") {
    val dir = tmpDir("graft-lsh-idx")
    LshIndex.build(corpus, dir, shingleSize = 2)
    val indexed = asSet(LshIndex.nearDuplicates(probe, dir, threshold = 0.3))
    // crossNearDuplicates(corpus=probe, bench=corpus) lists the same
    // pairs with the probe side first — the contract LshIndex mirrors
    val oneShot = asSet(Dedup.crossNearDuplicates(probe, corpus,
      shingleSize = 2, threshold = 0.3))
    assert(indexed === oneShot)
    assert(indexed.exists { case (q, x, j) => q == 100L && x == 0L && j == 1.0 })
    // NOTE: no assertion that 101 (the one-word edit) is found — LSH
    // recall is < 1 by construction and whether its bands collide is a
    // hash accident; the contract under test is identity with the
    // one-shot path, not recall
    assert(!indexed.exists { case (q, _, _) => q == 102L || q == 103L })
  }

  test("append a shard == rebuild over the union; params survive the roundtrip") {
    val (half1, half2) =
      (corpus.where(col("doc_id") < 3), corpus.where(col("doc_id") >= 3))
    val appended = tmpDir("graft-lsh-app")
    LshIndex.build(half1, appended, numHashes = 8, rowsPerBand = 4,
      shingleSize = 2)
    LshIndex.append(half2, appended, shardId = "day-1")
    val rebuilt = tmpDir("graft-lsh-reb")
    LshIndex.build(corpus, rebuilt, numHashes = 8, rowsPerBand = 4,
      shingleSize = 2)
    assert(asSet(LshIndex.nearDuplicates(probe, appended, threshold = 0.3))
      === asSet(LshIndex.nearDuplicates(probe, rebuilt, threshold = 0.3)))
    assert(LshIndex.params(spark, appended)
      === LshIndex.Params(8, 4, 2))
  }

  test("probe plan never re-shingles the indexed corpus") {
    val dir = tmpDir("graft-lsh-plan")
    LshIndex.build(corpus, dir, shingleSize = 2)
    val plan = LshIndex.nearDuplicates(probe, dir, threshold = 0.3)
      .queryExecution.optimizedPlan.toString.toLowerCase
    // the probe batch computes one minhash signature and one shingle
    // set; the index sides must come from the persisted parquet scans
    // (the expression prints as "shingleminhash" in optimized plans)
    assert(plan.split("shingleminhash", -1).length - 1 === 1,
      s"expected exactly one ShingleMinHash (probe side only):\n$plan")
    assert(plan.contains("parquet"), "index sides must be parquet scans")
  }

  test("compact rewrites many shards into one; probe results identical") {
    val (half1, half2) =
      (corpus.where(col("doc_id") < 3), corpus.where(col("doc_id") >= 3))
    val dir = tmpDir("graft-lsh-precompact")
    LshIndex.build(half1, dir, shingleSize = 2)
    LshIndex.append(half2, dir, shardId = "day-1")
    val before = asSet(LshIndex.nearDuplicates(probe, dir, threshold = 0.3))
    val params = LshIndex.params(spark, dir)
    LshIndex.compactInPlace(spark, dir)
    assert(asSet(LshIndex.nearDuplicates(probe, dir, threshold = 0.3))
      === before)
    assert(Generations.root(spark, dir) === s"$dir/gen-1")
    assert(spark.read.parquet(s"$dir/gen-1/bands")
      .select("shard").distinct().collect().map(_.getString(0)).toSeq
      === Seq("base"))
    assert(LshIndex.params(spark, dir) === params)
    // the previous generation was never touched: it still holds both
    // shards for in-flight readers
    assert(spark.read.parquet(s"$dir/gen-0/bands")
      .select("shard").distinct().collect().map(_.getString(0)).toSet
      === Set("base", "day-1"))
  }

  test("versioned layout: build/append/probe identical to flat; compactInPlace swaps atomically") {
    val (half1, half2) =
      (corpus.where(col("doc_id") < 3), corpus.where(col("doc_id") >= 3))
    val flat = tmpDir("graft-lsh-flat")
    LshIndex.build(half1, flat, shingleSize = 2)
    LshIndex.append(half2, flat, shardId = "day-1")
    val vdir = tmpDir("graft-lsh-versioned")
    LshIndex.build(half1, vdir, shingleSize = 2)
    LshIndex.append(half2, vdir, shardId = "day-1")
    val want = asSet(LshIndex.nearDuplicates(probe, flat, threshold = 0.3))
    assert(asSet(LshIndex.nearDuplicates(probe, vdir, threshold = 0.3)) === want)
    assert(LshIndex.params(spark, vdir) === LshIndex.params(spark, flat))
    // in-place compaction: results identical, CURRENT advanced to a
    // single-base generation, kept shard survives under its own id
    LshIndex.compactInPlace(spark, vdir, keepShards = Seq("day-1"))
    assert(asSet(LshIndex.nearDuplicates(probe, vdir, threshold = 0.3)) === want)
    val cur = scala.io.Source.fromFile(s"$vdir/CURRENT").mkString.trim
    assert(cur === "gen-1")
    val shards = spark.read.parquet(s"$vdir/gen-1/bands")
      .select("shard").distinct().collect().map(_.getString(0)).toSet
    assert(shards === Set("base", "day-1"))
    // a second compaction folds the kept shard too
    LshIndex.compactInPlace(spark, vdir)
    assert(asSet(LshIndex.nearDuplicates(probe, vdir, threshold = 0.3)) === want)
    assert(spark.read.parquet(s"$vdir/gen-2/bands")
      .select("shard").distinct().collect().map(_.getString(0)).toSeq
      === Seq("base"))
  }

  test("ingestVerdicts equals the two-operator formulation, verdict for verdict") {
    val dir = tmpDir("graft-lsh-verdicts")
    LshIndex.build(corpus, dir, shingleSize = 2)
    // a batch exercising both reasons at once: exact + fuzzy history
    // dups, an intra-batch exact pair, an intra-batch component via a
    // shared near-dup, and clean docs
    val batch = Seq(
      (200L, "the quick brown fox jumps over the lazy dog"),   // exact of idx 0
      (201L, "pack my box with five dozen liquor jugs now"),   // fuzzy of idx 3
      (202L, "a totally novel sentence with original words"),
      (203L, "a totally novel sentence with original words"),  // intra exact of 202
      (204L, "a totally novel sentence with original words ok"), // intra fuzzy of 202/203
      (205L, "nothing here resembles anything else at all"),
      (206L, "")
    ).toDF("doc_id", "text")
    val fused = LshIndex.ingestVerdicts(batch, dir, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val hist = LshIndex.nearDuplicates(batch, dir, threshold = 0.3)
      .select("doc_id").distinct().collect().map(_.getLong(0))
      .map(_ -> "history").toSet
    val dem = Dedup.nearDupComponents(batch, shingleSize = 2, threshold = 0.3)
      .where(col("doc_id") =!= col("component_id"))
      .select("doc_id").collect().map(_.getLong(0))
      .map(_ -> "batch").toSet
    assert(fused === (hist ++ dem))
    // both reasons genuinely occurred, or the equality is vacuous
    assert(hist.exists(_._1 == 200L) && dem.nonEmpty)
  }

  test("a threshold of 1.0 keeps only exact-token-stream matches") {
    val dir = tmpDir("graft-lsh-exact")
    LshIndex.build(corpus, dir, shingleSize = 2)
    val out = asSet(LshIndex.nearDuplicates(probe, dir, threshold = 1.0))
    assert(out === Set((100L, 0L, 1.0)))
  }

  test("point probe with pushed band filter: identical results; In filter reaches the bands scan") {
    val dir = tmpDir("graft-lsh-sorted")
    LshIndex.build(corpus, dir, shingleSize = 2, pointLayout = true,
      sortedFiles = 2)
    // sorted layout serves every probe identically (layout-only change)
    assert(asSet(LshIndex.nearDuplicates(probe, dir, threshold = 0.3)) ===
      asSet(Dedup.crossNearDuplicates(probe, corpus,
        shingleSize = 2, threshold = 0.3)))
    // ONE-doc probe (the point-lookup shape): the point path must not
    // change results, and the In predicate must reach the parquet scan
    // of the bands relation. That scan runs in pointNearDuplicates'
    // collected phase 1, not in the returned plan, so it is captured
    // from the session's executed queries.
    val one = probe.where(col("doc_id") === 100L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val pointed = try {
      val out = asSet(LshIndex.pointNearDuplicates(one, dir, threshold = 0.3))
      waitUntilListenerBusEmpty(spark.sparkContext)
      out
    } finally spark.listenerManager.unregister(listener)
    assert(pointed === asSet(LshIndex.nearDuplicates(one, dir, threshold = 0.3)))
    val scans = plans.asScala.flatMap(_.linesIterator)
      .filter(l => l.contains("Scan parquet") && l.contains("bands"))
      .mkString("\n")
    assert(scans.contains("PushedFilters: [In(band_hash"),
      s"no pushed In(band_hash) on the bands scan:\n$scans")
  }

  test("sorted compaction: results identical; sorted layout survives the rewrite") {
    val dir = tmpDir("graft-lsh-sortcomp")
    val (half1, half2) =
      (corpus.where(col("doc_id") < 3), corpus.where(col("doc_id") >= 3))
    // point-layout build; the appended shard lands unsorted
    LshIndex.build(half1, dir, shingleSize = 2, pointLayout = true,
      sortedFiles = 2)
    LshIndex.append(half2, dir, shardId = "day-1")
    val before = asSet(LshIndex.nearDuplicates(probe, dir, threshold = 0.3))
    LshIndex.compactInPlace(spark, dir)
    assert(Generations.root(spark, dir) === s"$dir/gen-1")
    assert(asSet(LshIndex.nearDuplicates(probe, dir,
      threshold = 0.3)) === before)
    assert(asSet(LshIndex.pointNearDuplicates(probe.where(col("doc_id") === 100L),
        dir, threshold = 0.3)) ===
      before.filter(_._1 == 100L))
    // the compacted base is range-sorted again: each file of each
    // relation covers a key range disjoint from every other file's
    def disjoint[T](rel: String, key: String)(implicit ord: Ordering[T]): Unit = {
      val files = new java.io.File(s"$dir/gen-1/$rel/shard=base").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      assert(files.nonEmpty && files.size <= 2, s"$rel: ${files.size} files")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f).agg(min(col(key)), max(col(key))).head()
        (r.getAs[T](0), r.getAs[T](1))
      }.sortBy(_._1)
      ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
        assert(ord.lt(hi, lo), s"$rel files overlap: $ranges")
      }
    }
    disjoint[String]("bands", "band_hash")
    disjoint[Long]("shingles", "rep")
    disjoint[Long]("members", "rep")
    assert(new java.io.File(s"$dir/gen-1/bands/shard=base").listFiles()
      .count(_.getName.endsWith(".parquet")) === 2,
      "bands must span both sorted files, or disjointness is vacuous")
  }

  test("pointNearDuplicates: bit-identical to the batch path on every probe shape; point filters reach all three scans") {
    val dir = tmpDir("graft-lsh-pnd")
    LshIndex.build(corpus, dir, shingleSize = 2, pointLayout = true,
      sortedFiles = 2)
    val batch = asSet(LshIndex.nearDuplicates(probe, dir, threshold = 0.3))
    // whole-batch probe (may or may not exceed the hash cap — either
    // path must agree with the batch plan)
    assert(asSet(LshIndex.pointNearDuplicates(probe, dir,
      threshold = 0.3)) === batch)
    // one-doc probes, incl. the no-match and the empty doc
    for (id <- Seq(100L, 101L, 102L, 103L)) {
      val one = probe.where(col("doc_id") === id)
      assert(asSet(LshIndex.pointNearDuplicates(one, dir, threshold = 0.3)) ===
        batch.filter(_._1 == id), s"point probe $id diverged")
    }
    // the point filters must reach the shingles AND members scans
    val pnd = LshIndex.pointNearDuplicates(
      probe.where(col("doc_id") === 100L), dir, threshold = 0.3)
    val plan = pnd.queryExecution.executedPlan.toString
    for (rel <- Seq("shingles", "members")) {
      val scan = plan.linesIterator
        .filter(l => l.contains("Scan parquet") && l.contains(rel))
        .mkString("\n")
      assert(scan.contains("PushedFilters: [In(rep") ||
        scan.contains("In(rep"),
        s"no pushed In(rep) on the $rel scan:\n$scan")
    }
    // hash-cap fallback (maxPushedBandHashes = 1): still identical
    assert(asSet(LshIndex.pointNearDuplicates(probe, dir, threshold = 0.3,
      maxPushedBandHashes = 1)) === batch)
    // candidate-cap fallback: still identical
    assert(asSet(LshIndex.pointNearDuplicates(probe, dir, threshold = 0.3,
      maxCandidatePairs = 1)) === batch)
  }
}
