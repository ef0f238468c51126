package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Io

/** Build-once / probe-many MinHash-LSH near-duplicate index — the text
  * analogue of [[Similarity.buildIvfIndex]], and the serving shape a
  * 100 TB corpus actually uses for ingest dedup and decontamination.
  *
  * [[Dedup.crossNearDuplicates]] re-shingles, re-hashes, and re-bands
  * BOTH corpora on every call; fine when each side is seen once, wrong
  * for the recurring flows — "does today's shard duplicate three years
  * of history?" (ingest dedup) and "does this corpus overlap the frozen
  * eval suite?" (decontamination) — where one side is immutable across
  * thousands of calls. The index persists that side's derived relations
  * once, EXACT-COLLAPSED to one representative per distinct token
  * stream (the RefinedWeb/Gopher ordering every near-dup operator here
  * uses): a web-scale crawl is dominated by exact copies, and an
  * uncollapsed index both stores bands per copy and re-opens the
  * copy×copy verification quadratic at probe time (measured: on the
  * 100× dup-density replica a per-doc index probed at 4.01 s/probe vs
  * 4.61 one-shot — the collapse is what restores the serving win).
  *
  * The relations live in the live generation `dir/gen-<n>`
  * ([[Generations]]):
  *
  *  - `members`  — (doc_id, rep): every doc's representative (the
  *    min doc_id of its token-stream group);
  *  - `bands`    — (rep, band_id, band_hash): LSH bucket keys, one
  *    set per DISTINCT stream;
  *  - `shingles` — (rep, sh): the 64-bit shingle-hash sets exact
  *    Jaccard verification needs (longs, never strings — the
  *    [[Dedup.jaccardVerify]] reasoning);
  *  - `meta`     — one row of LSH parameters, validated on every
  *    probe/append so an index can never be served with mismatched
  *    hashing (silently-zero recall otherwise), plus the base
  *    relations' sorted-file count (0 = unsorted) so compaction keeps
  *    the build's layout.
  *
  * Each ingest unit owns a `shard=<id>` partition subdirectory (the
  * build is `shard=base`), so appends are per-shard OVERWRITES —
  * deterministic shard ids make re-running a failed append (or a
  * replayed streaming batch, [[graft.streaming.IngestStream]])
  * idempotent instead of row-duplicating. Reps are shard-local minima;
  * identical streams indexed under two shards keep two rep rows whose
  * identical signatures still bucket together, so pairs spanning
  * shards are found without any cross-shard rep reconciliation.
  *
  * A probe batch exact-collapses itself the same way (scan-local
  * signatures over its reps — no corpus work), joins the persisted
  * band relation for rep-level candidates, verifies rep pairs once,
  * and expands to (probe doc, index doc) pairs through the two member
  * relations by pure id joins — quadratic only in the OUTPUT listing,
  * which is the contract. Probe cost is ∝ batch + matched index rows,
  * never ∝ corpus; every shuffle keys on a digest or an id.
  *
  * Results are bit-identical to [[Dedup.crossNearDuplicates]] over the
  * same two corpora (same collapse, same candidate generation, same
  * verification payloads, same rep-level rounding) — the index changes
  * WHERE the corpus-side work happens (once, at build), not what is
  * computed.
  */
object LshIndex {

  /** LSH parameters pinned at build time. */
  final case class Params(numHashes: Int, rowsPerBand: Int, shingleSize: Int)

  /** Compact an index that has accreted many append shards: write the
    * relations as generation n+1 with every shard folded into `base`,
    * then atomically swap `CURRENT` ([[Generations.writeNext]]). The
    * previous generation stays on disk for in-flight readers (and is
    * the operator's to reap). A year of daily batches is ~365 shard
    * directories per relation, and at object-store scale the listing
    * fan-out eventually dominates probe startup. Compaction is a
    * straight row rewrite (reps are already per-shard, and cross-shard
    * duplicate reps are benign by the shard contract), so probe
    * results are identical (spec-asserted). The base relations keep
    * the build's layout: a `pointLayout` index is rewritten
    * range-sorted into the same file count (read from `meta`).
    *
    * `keepShards`: shard ids copied through AS THEIR OWN SHARD instead
    * of folding into `base`. The load-bearing use is the streaming
    * cadence: the in-flight batch's shard must survive compaction
    * under its own id, or a post-compaction REPLAY of that batch could
    * not exclude its own rows and would see the batch duplicating
    * itself (the [[nearDuplicates]] excludeShards contract). Batches
    * older than the in-flight one need no such protection — Structured
    * Streaming replays at most the current batch. */
  def compactInPlace(spark: SparkSession, dir: String,
                     keepShards: Seq[String] = Nil): Unit = {
    val root = Generations.root(spark, dir)
    val p = params(spark, dir)
    val files = readSortedFiles(spark, root)
    Generations.writeNext(spark, dir) { gen =>
      writeMeta(spark, gen, p, files)
      def rewrite(rel: String): Unit = {
        val all = Io.readParquet(spark, s"$root/$rel")
        writeRel(all.where(!col("shard").isin(keepShards: _*)).drop("shard"),
          rel, s"$gen/$rel/shard=base", files)
        keepShards.foreach { ks =>
          writeRel(all.where(col("shard") === ks).drop("shard"),
            rel, s"$gen/$rel/shard=$ks", 0)
        }
      }
      rewrite("members"); rewrite("bands"); rewrite("shingles")
    }
  }

  private def bandsOf(repDocs: DataFrame, textCol: String, p: Params): DataFrame =
    Dedup.lshBands(
      Dedup.minHashSignatures(repDocs, textCol, p.numHashes, p.shingleSize),
      p.numHashes, p.rowsPerBand)
      .withColumnRenamed("doc_id", "rep")

  /** Rewrite a serve relation RANGE-SORTED by its point-lookup key
    * (`bands` by band_hash, `shingles`/`members` by rep): each output
    * file covers a disjoint key range and small parquet row groups
    * carry tight min/max stats, so a point probe's pushed
    * `key IN (...)` filter reads only the row groups that can contain
    * its handful of keys instead of scanning the corpus-sized
    * relation. This is the row-group-skipping shape the r12 addendum
    * left open after hive-partitioning by band-hash bucket was built,
    * measured, and REJECTED (57× build / 6× serve from file fan-out):
    * here the file count stays BOUNDED (`sortedFiles`, default 64)
    * and the skipping granularity comes from row-group stats inside
    * few large sorted files — exactly the fan-out-free mechanism that
    * experiment pointed to. Layout-only: same schema, same rows;
    * every existing reader works unchanged (batch probes just don't
    * benefit — thousands of uniform probe hashes touch every row
    * group, see [[pointNearDuplicates]]'s fallback). */
  private def rangeSorted(rel: DataFrame, key: String,
                          sortedFiles: Int): DataFrame =
    rel.repartitionByRange(sortedFiles, col(key)).sortWithinPartitions(key)

  /** 8 MB row groups for point-layout files: the skip unit a point
    * probe reads — small enough that one probed key costs ~MBs, big
    * enough that parquet metadata stays negligible. */
  private val PointLayoutBlockBytes = (8 * 1024 * 1024).toString

  /** The point-lookup sort key of each serve relation. */
  private val PointLayoutKeys =
    Map("bands" -> "band_hash", "shingles" -> "rep", "members" -> "rep")

  private def pushedIsin(c: Column, values: Seq[Any],
                         chunk: Int = 10): Column =
    Pushdown.pushedIsin(c, values, chunk)

  private def shinglesOf(repDocs: DataFrame, textCol: String, p: Params): DataFrame =
    repDocs.select(col("doc_id").as("rep"),
      graft.functions.TextExpressions.shingle_hashes(
        TextStats.tokens(col(textCol)), p.shingleSize).as("sh"))

  /** Shard-local exact collapse — [[Dedup.tokenStreamCollapse]] with
    * the usual tiny-side materialization gate. */
  private def collapsed(docs: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val (members, repDocs, _) = Dedup.tokenStreamCollapse(docs, textCol,
      materialize = !Dedup.tinyByEstimate(docs))
    (members, repDocs)
  }

  /** Write one serve relation; `sortedFiles` > 0 writes it
    * [[rangeSorted]] into that many files with point-layout row
    * groups, 0 writes it as it comes. */
  private def writeRel(df: DataFrame, rel: String, path: String,
                       sortedFiles: Int): Unit =
    if (sortedFiles > 0)
      rangeSorted(df, PointLayoutKeys(rel), sortedFiles).write
        .option("parquet.block.size", PointLayoutBlockBytes)
        .mode("overwrite").parquet(path)
    else df.write.mode("overwrite").parquet(path)

  private def writeShard(docs: DataFrame, root: String, textCol: String,
                         p: Params, shardId: String,
                         sortedFiles: Int = 0): Unit = {
    val (members, repDocs) = collapsed(docs, textCol)
    def write(rel: String, df: DataFrame): Unit =
      writeRel(df, rel, s"$root/$rel/shard=$shardId", sortedFiles)
    write("members", members.select(col("doc_id"), col("__rep").as("rep")))
    write("bands", bandsOf(repDocs, textCol, p))
    write("shingles", shinglesOf(repDocs, textCol, p))
  }

  private def writeMeta(spark: SparkSession, root: String, p: Params,
                        sortedFiles: Int): Unit = {
    import spark.implicits._
    Seq((p.numHashes, p.rowsPerBand, p.shingleSize, sortedFiles))
      .toDF("num_hashes", "rows_per_band", "shingle_size", "sorted_files")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
  }

  /** The base relations' sorted-file count (0 = unsorted). */
  private def readSortedFiles(spark: SparkSession, root: String): Int =
    Io.readParquet(spark, s"$root/meta").select("sorted_files").head().getInt(0)

  /** The parameters an index was built with. */
  def params(spark: SparkSession, dir: String): Params = {
    val r = Io.readParquet(spark, s"${Generations.root(spark, dir)}/meta").head()
    Params(r.getAs[Int]("num_hashes"), r.getAs[Int]("rows_per_band"),
      r.getAs[Int]("shingle_size"))
  }

  /** Build the index: one collapse pass over the corpus writing the
    * three derived relations (as `shard=base`) plus the parameter row
    * into the next generation of `dir` (`gen-0` in a fresh dir; a
    * rebuild into a live dir swaps to a new generation and leaves the
    * old one on disk).
    * `pointLayout = true` writes each base relation range-sorted by
    * its point-lookup key ([[rangeSorted]]: bands by band_hash,
    * shingles/members by rep) — the point-probe serving layout;
    * appended shards stay unsorted until the next
    * [[compactInPlace]], which re-sorts them into the base (a point
    * probe still prunes the base, which dominates). */
  def build(corpus: DataFrame, dir: String, textCol: String = "text",
            numHashes: Int = 8, rowsPerBand: Int = 2,
            shingleSize: Int = 3, pointLayout: Boolean = false,
            sortedFiles: Int = 64): Unit = {
    val p = Params(numHashes, rowsPerBand, shingleSize)
    val files = if (pointLayout) sortedFiles else 0
    Generations.writeNext(corpus.sparkSession, dir) { gen =>
      writeMeta(corpus.sparkSession, gen, p, files)
      writeShard(corpus, gen, textCol, p, "base", files)
    }
  }

  /** Append a new corpus shard — the daily-ingest maintenance step.
    * The derived relations are functions of each shard alone (reps are
    * shard-local), so appending shard rows equals rebuilding over the
    * union (spec-asserted); only the shard is scanned. Parameters must
    * match the build (an index probed with different hashing has
    * silently-zero recall — refuse loudly instead). Re-running the
    * SAME shardId replaces that shard (idempotent); distinct ingest
    * units must use distinct ids, and the caller owns doc_id
    * uniqueness across shards, as everywhere in the dedup family.
    * `shardId` is deliberately REQUIRED, not defaulted to a random
    * token: a random id turns a retried append into a new shard, and
    * the crashed attempt's partial directories would then duplicate
    * every affected doc's rows in probe output — naming the ingest
    * unit is what makes the retry an overwrite. */
  def append(shard: DataFrame, dir: String, shardId: String,
             textCol: String = "text"): Unit = {
    require(shardId.nonEmpty && shardId != "base" &&
      shardId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"shardId '$shardId' must be a non-'base' [A-Za-z0-9_-]+ token")
    writeShard(shard, Generations.root(shard.sparkSession, dir), textCol,
      params(shard.sparkSession, dir), shardId)
  }

  /** The fused ingest probe: every batch doc that must NOT survive an
    * ingest cycle, with why — `reason = "history"` (a near-dup at or
    * above `threshold` exists among the indexed corpus, minus
    * `excludeShards`) or `reason = "batch"` (the doc is a
    * non-minimum member of a within-batch near-dup component, closed
    * with [[Dedup]]'s own component semantics). A doc can carry both
    * rows; callers dropping docs dedup the ids.
    *
    * This exists because running [[nearDuplicates]] and
    * [[Dedup.nearDupComponents]] separately — the obvious two-operator
    * formulation — derives the batch's collapse, signatures, and
    * shingle sets TWICE per micro-batch. Here one collapse feeds one
    * signature pass (truncated once, consumed by the intra self-join's
    * two sides, the history band join, and the eligibility gate) and
    * one shingle-set pass (consumed by all three verifications); the
    * component tail is [[Dedup.componentsFromCollapsed]], the same
    * code `nearDupComponents` runs, so the semantics cannot drift
    * (spec asserts verdict-for-verdict equality with the two-operator
    * formulation). */
  def ingestVerdicts(batch: DataFrame, dir: String, threshold: Double = 0.5,
                     textCol: String = "text",
                     excludeShards: Seq[String] = Nil): DataFrame = {
    val spark = batch.sparkSession
    val root = Generations.root(spark, dir)
    val p = params(spark, dir)
    def shardFilter(df: DataFrame): DataFrame =
      if (excludeShards.isEmpty) df
      else df.where(!col("shard").isin(excludeShards: _*))
    val xBands = shardFilter(Io.readParquet(spark, s"$root/bands"))
    val xSh = shardFilter(Io.readParquet(spark, s"$root/shingles"))
    val (members, repDocs) = collapsed(batch, textCol)
    val sigs = Checkpoints.materialize(Dedup.minHashSignatures(repDocs, textCol,
      p.numHashes, p.shingleSize))
    val qBands = Dedup.lshBands(sigs, p.numHashes, p.rowsPerBand)
      .withColumnRenamed("doc_id", "rep")
    val qSh = Checkpoints.materialize(shinglesOf(repDocs, textCol, p))
    // history: rep-level candidates vs the index, verified once per rep
    val dupReps = qBands.alias("q")
      .join(xBands.alias("x"),
        col("q.band_id") === col("x.band_id") &&
        col("q.band_hash") === col("x.band_hash"))
      .select(col("q.rep").as("__rq"), col("x.rep").as("__rx"))
      .distinct()
      .join(qSh.select(col("rep").as("__rq"), col("sh").as("sh_q")), "__rq")
      .join(xSh.select(col("rep").as("__rx"), col("sh").as("sh_x")), "__rx")
      .where(graft.functions.TextExpressions
        .array_jaccard(col("sh_q"), col("sh_x")) >= threshold)
      .select(col("__rq").as("__rep")).distinct()
    val history = members.join(dupReps, "__rep")
      .select(col("doc_id"), lit("history").as("reason"))
    // within batch: the nearDupComponents pipeline fed from the SAME
    // sigs/shingles (candidate shape matches Dedup.candidatePairs'
    // uncapped default: bucket equi-join, a < b, distinct)
    val candI = qBands.alias("a")
      .join(qBands.alias("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("doc_a"), col("b.rep").as("doc_b"))
      .distinct()
    val repPairs = candI
      .join(qSh.select(col("rep").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(qSh.select(col("rep").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .where(graft.functions.TextExpressions
        .array_jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select("doc_a", "doc_b")
    val mE = members
      .join(sigs.select(col("doc_id").as("__rep")), "__rep")
      .repartition(col("__rep"))
    val demoted = Dedup.componentsFromCollapsed(mE, repPairs)
      .where(col("doc_id") =!= col("component_id"))
      .select(col("doc_id"), lit("batch").as("reason"))
    history.unionByName(demoted)
  }

  /** The POINT-LOOKUP serve path — "is THIS document a near-dup of the
    * indexed corpus?", request/response-shaped: where [[nearDuplicates]]
    * builds one lazy plan whose verification stage scans the
    * corpus-sized shingles and members relations (right for batch
    * probes — the scan amortizes over thousands of candidates), a
    * point probe's candidates are a handful, and the corpus scans ARE
    * the cost (measured at 9.5M distinct streams: 2.1 s/probe floor
    * with the band scan already pruned — all of it shingles/members
    * bytes). This path runs TWO phases with a driver synchronization
    * between them, the standard point-serving trade:
    *
    *  1. derive the probe's bands scan-locally, COLLECT its band
    *     hashes (bounded: numHashes/rowsPerBand per distinct stream in
    *     the probe), and resolve candidate reps through a
    *     [[pushedIsin]]-pruned bands scan — row groups that cannot
    *     contain a probed hash are skipped entirely under a
    *     [[build]] `pointLayout = true` index;
    *  2. with the candidate (probe-rep, index-rep) PAIRS in hand
    *     (collected, capped by `maxCandidatePairs` — the cap counts
    *     pairs, the unit the collect is bounded by, not distinct
    *     index reps), build the verification/expansion plan
    *     with pushed `rep IN (...)` filters on the shingles and
    *     members scans — the same join shapes, the same
    *     [[graft.functions.TextExpressions.array_jaccard]] + 1e-4
    *     rounding as [[nearDuplicates]], so results are bit-identical
    *     (spec-asserted), but every corpus-sized relation is read
    *     through row-group-skipping point filters.
    *
    * Falls back to [[nearDuplicates]] when the probe is not
    * point-shaped (more than `maxPushedBandHashes` distinct band
    * hashes) or the candidate set exceeds `maxCandidatePairs` (a
    * pathological near-dup family — the batch plan is the right one
    * there). Works on any layout; the byte savings need
    * `pointLayout`. */
  def pointNearDuplicates(probe: DataFrame, dir: String,
                          threshold: Double = 0.5,
                          textCol: String = "text",
                          excludeShards: Seq[String] = Nil,
                          maxPushedBandHashes: Int = 64,
                          maxCandidatePairs: Int = 4096): DataFrame = {
    val spark = probe.sparkSession
    val root = Generations.root(spark, dir)
    val p = params(spark, dir)
    def shardFilter(df: DataFrame): DataFrame =
      if (excludeShards.isEmpty) df
      else df.where(!col("shard").isin(excludeShards: _*))
    val (mProbe, repProbe) = collapsed(probe, textCol)
    val qBands = bandsOf(repProbe, textCol, p)
    val hashes = qBands.select("band_hash").distinct()
      .limit(maxPushedBandHashes + 1).collect().map(_.getString(0)).toSeq
    if (hashes.length > maxPushedBandHashes)
      return nearDuplicates(probe, dir, threshold, textCol, excludeShards)
    if (hashes.isEmpty)
      // no band-eligible stream in the probe (empty/short docs): the
      // batch path's result is empty too
      return mProbe.select(col("doc_id"), col("doc_id").as("index_doc_id"),
        lit(0.0).as("jaccard")).where(lit(false))
    // phase 1→2 synchronization: candidate reps, via the pruned scan
    val xBands = shardFilter(Io.readParquet(spark, s"$root/bands"))
      .where(pushedIsin(col("band_hash"), hashes))
    val cand = qBands.alias("q")
      .join(xBands.alias("x"),
        col("q.band_id") === col("x.band_id") &&
        col("q.band_hash") === col("x.band_hash"))
      .select(col("q.rep").as("__rq"), col("x.rep").as("__rx"))
      .distinct()
    val candRows = cand.limit(maxCandidatePairs + 1).collect()
    if (candRows.length > maxCandidatePairs)
      return nearDuplicates(probe, dir, threshold, textCol, excludeShards)
    if (candRows.isEmpty)
      return mProbe.select(col("doc_id"), col("doc_id").as("index_doc_id"),
        lit(0.0).as("jaccard")).where(lit(false))
    val rxs = candRows.map(_.getLong(1)).distinct.toSeq
    import spark.implicits._
    val candDf = candRows.map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.toDF("__rq", "__rx")
    // phase 2: verification + expansion over point-filtered scans —
    // the nearDuplicates join shapes and arithmetic, verbatim
    val xSh = shardFilter(Io.readParquet(spark, s"$root/shingles"))
      .where(pushedIsin(col("rep"), rxs))
    val repPairs = candDf
      .join(shinglesOf(repProbe, textCol, p)
        .select(col("rep").as("__rq"), col("sh").as("sh_q")), "__rq")
      .join(xSh.select(col("rep").as("__rx"), col("sh").as("sh_x")), "__rx")
      .withColumn("jaccard",
        graft.functions.TextExpressions.array_jaccard(col("sh_q"), col("sh_x")))
      .where(col("jaccard") >= threshold)
      .select(col("__rq"), col("__rx"), round(col("jaccard"), 4).as("jaccard"))
    val xMembers = shardFilter(Io.readParquet(spark, s"$root/members"))
      .where(pushedIsin(col("rep"), rxs))
    mProbe.select(col("doc_id"), col("__rep").as("__rq"))
      .join(repPairs, "__rq")
      .join(xMembers.select(col("doc_id").as("index_doc_id"),
        col("rep").as("__rx")), "__rx")
      .select(col("doc_id"), col("index_doc_id"), col("jaccard"))
  }

  /** Probe: every (probe doc, index doc) near-duplicate pair at or above
    * `threshold` exact n-gram Jaccard. Output (doc_id, index_doc_id,
    * jaccard·1e-4-rounded) — the [[Dedup.crossNearDuplicates]] contract
    * with the index side second.
    *
    * Plan shape: the probe batch collapses and signs itself scan-side;
    * the index sides are bare parquet scans. Candidates join on
    * (band_id, band_hash), verification and expansion on rep/doc ids —
    * digest-or-id keys throughout, no text payloads anywhere. The
    * corpus is never re-shingled: the only ShingleMinHash in the plan
    * sits over the probe batch's reps (spec-asserted).
    *
    * `excludeShards`: shard ids whose rows the probe must not see — a
    * PARTITION filter, so excluded shards' files are never even listed.
    * The load-bearing use is replay safety ([[graft.streaming
    * .IngestStream]]): a replayed batch already appended (part of) its
    * own survivors as `batch-<id>`, and probing without excluding that
    * shard would find the batch duplicating ITSELF and drop every row.
    *
    * The point-probe serving path ("is this one document a duplicate
    * of 10M indexed streams?") is [[pointNearDuplicates]], which pushes
    * the probe's band hashes into the bands scan and falls back to this
    * plan for batch probes: a batch's thousands of uniform hashes touch
    * every row group anyway (the r13 SCALE.md measurement), so the
    * full-scan band join is the right plan there. */
  def nearDuplicates(probe: DataFrame, dir: String, threshold: Double = 0.5,
                     textCol: String = "text",
                     excludeShards: Seq[String] = Nil): DataFrame = {
    val spark = probe.sparkSession
    val root = Generations.root(spark, dir)
    val p = params(spark, dir)
    def shardFilter(df: DataFrame): DataFrame =
      if (excludeShards.isEmpty) df
      else df.where(!col("shard").isin(excludeShards: _*))
    val xBands = shardFilter(Io.readParquet(spark, s"$root/bands"))
    val xSh = shardFilter(Io.readParquet(spark, s"$root/shingles"))
    val xMembers = shardFilter(Io.readParquet(spark, s"$root/members"))
    val (mProbe, repProbe) = collapsed(probe, textCol)
    val qBands = bandsOf(repProbe, textCol, p)
    val cand = qBands.alias("q")
      .join(xBands.alias("x"),
        col("q.band_id") === col("x.band_id") &&
        col("q.band_hash") === col("x.band_hash"))
      .select(col("q.rep").as("__rq"), col("x.rep").as("__rx"))
      .distinct()
    val repPairs = cand
      .join(shinglesOf(repProbe, textCol, p)
        .select(col("rep").as("__rq"), col("sh").as("sh_q")), "__rq")
      .join(xSh.select(col("rep").as("__rx"), col("sh").as("sh_x")), "__rx")
      .withColumn("jaccard",
        graft.functions.TextExpressions.array_jaccard(col("sh_q"), col("sh_x")))
      .where(col("jaccard") >= threshold)
      .select(col("__rq"), col("__rx"), round(col("jaccard"), 4).as("jaccard"))
    mProbe.select(col("doc_id"), col("__rep").as("__rq"))
      .join(repPairs, "__rq")
      .join(xMembers.select(col("doc_id").as("index_doc_id"),
        col("rep").as("__rx")), "__rx")
      .select(col("doc_id"), col("index_doc_id"), col("jaccard"))
  }
}
