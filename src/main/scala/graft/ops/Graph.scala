package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relational edges.
  *
  * Companion to the connected-components pass in [[Dedup]]: where CC
  * answers "which rows are the same thing", PageRank answers "which
  * nodes matter" — the authority-weighting signal corpus-curation
  * pipelines use to prioritize link-rich sources (the harmonic-
  * centrality idea behind CommonCrawl-style crawl ranking).
  *
  * Determinism across engines: ranks live in integer MICRO-units and
  * every per-edge contribution is floor-divided BEFORE summation, so
  * each iteration is a sum of longs — order-free, bit-identical on any
  * engine (a float PageRank differs in ulps per summation order and can
  * never hash-match an oracle).
  */
object Graph {

  /** Damped PageRank (d = 0.85) with `iters` fixed iterations over a
    * directed edge list; rank unit = 1e6 micro per node. Output:
    * (node, rank_micro) for EVERY node appearing as src or dst.
    * Dangling nodes (no outgoing edge) are handled: their damped mass
    * is redistributed uniformly each iteration as `(D div N)` micro
    * added to every node's incoming sum — exact integer arithmetic, so
    * still order-free. On a graph with no dangling nodes (any symmetric
    * graph) the redistribution term is identically zero and the loop's
    * arithmetic — and hash — is unchanged; the dangling machinery is
    * detected once at setup and skipped entirely.
    *
    * Scale shape: the raw edges are checkpointed ONCE (outdeg and the
    * node universe derive from them); each iteration is one
    * broadcast-hash join edges ⋈ perSrc on src, where perSrc is a bare
    * PROJECTION of the loop carrier — the carrier carries (node,
    * outdeg, rank), so the per-round ranks ⋈ outdeg join and its
    * node-sized outdeg broadcast build are gone (r18; outdeg is a loop
    * constant — re-joining it every round re-did identical work
    * `iters` times). The edge relation is never annotated,
    * materialized, or shuffled (an explicit degree-annotated edge
    * checkpoint measured ~25% of the whole query at 10×). The
    * `broadcast()` hint is REQUIRED: a checkpointed DataFrame is a
    * LogicalRDD with unknown size stats, so Catalyst would otherwise
    * fall back to shuffling the full edge relation every round. The
    * join is followed by one partial-aggregated exchange on dst
    * (≤ |nodes| rows per partition after map-side combine). The loop
    * carrier (|nodes| rows) is lazily persisted per round with a
    * two-carrier retention window (see the loop) — never eagerly
    * materialized mid-loop.
    *
    * Failure policy: see [[Checkpoints]] — with a session checkpoint
    * dir (HDFS/S3 on a real cluster) a lost executor at round k replays
    * from the checkpoint instead of killing the job; without one,
    * localCheckpoint is the single-node path.
    *
    * `edgesMaterialized`: set true when `edges0` is already a scan of
    * materialized blocks (e.g. [[coPurchaseEdges]]'s checkpointed
    * half-edge union) — the loop then reads it directly instead of
    * copying the whole edge set into a second, redundant checkpoint.
    *
    * `restartDir` (opt-in): commits each round's integer rank carrier
    * as parquet ([[Restart]]) so a run killed at round k — driver and
    * all — resumes at round k+1 in a fresh session. Ranks are exact
    * micro-units, each round a deterministic function of the previous
    * carrier and the (re-derived) edges/outdeg/dangling statics, so
    * the resumed rounds are bit-identical (RestartSpec). Costs one
    * node-sized parquet write per round; the dir is per-(graph,
    * damping) — resuming over a different edge set is operator
    * error. */
  def pageRank(edges0: DataFrame, iters: Int = 5,
               edgesMaterialized: Boolean = false,
               restartDir: Option[String] = None,
               restartEvery: Int = 1): DataFrame = {
    require(restartEvery >= 1, s"restartEvery $restartEvery must be >= 1")
    // WEIGHTED mode rides a `w` column on the edge relation (see
    // [[weightedHostRank]]); the unweighted loop scan stays two
    // columns wide — the weight only widens it when it exists
    val edgeCols =
      if (edges0.columns.contains("w")) Seq("src", "dst", "w")
      else Seq("src", "dst")
    val edges =
      if (edgesMaterialized) edges0.select(edgeCols.map(col): _*)
      else Checkpoints.materialize(edges0.select(edgeCols.map(col): _*))
    // node-sized (≤ |nodes| rows): rides the broadcast side every round
    // — annotating the EDGE relation with outdeg instead costs a second
    // full edge materialization plus a 50% wider loop scan (measured
    // ~25% of the whole query at 10×). In weighted mode `outdeg` is
    // the src's TOTAL outgoing weight (the vote denominator).
    val outdeg = Checkpoints.materialize(
      if (edgeCols.contains("w"))
        edges.groupBy("src").agg(sum("w").cast("long").as("outdeg"))
      else edges.groupBy("src").agg(count(lit(1)).as("outdeg")))
    // node universe annotated with outdeg (null = dangling), src ∪ dst —
    // tiny next to edges, reused every round as BOTH the completion-join
    // base and the per-source contribution's denominator: the carrier
    // CARRIES outdeg (r18), so each round builds two broadcasts (perSrc,
    // contrib) instead of three (outdeg, perSrc, contrib) and skips a
    // node-sized ranks ⋈ outdeg join — outdeg is a loop constant, joining
    // it back in every round re-did the same work `iters` times.
    val nodesDeg = {
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      Checkpoints.materialize(
        nodes.join(outdeg, nodes("node") === outdeg("src"), "left")
          .select(col("node"), col("outdeg")))
    }
    val dangling = nodesDeg.where(col("outdeg").isNull).select("node")
    val danglingExists = !dangling.isEmpty
    val danglingB = if (danglingExists) Checkpoints.materialize(dangling) else dangling
    val nNodes = if (danglingExists) nodesDeg.count() else 0L

    // Loop carrier: per-round LAZY persist, never a mid-loop eager cut.
    // The persist guarantees each round's edges-join executes AT MOST
    // once no matter how many times its carrier is referenced (the next
    // round's broadcast, the dangling share aggregate, a consumer
    // running several actions) — where an eager checkpoint paid a full
    // materialization job per round (measured 3-4× the whole query) and
    // a sparse cadence let round k's broadcast replay the untruncated
    // rounds since the last cut (the r7 in-suite q89 regression). On
    // the no-dangling fast path nothing executes until the consumer's
    // action, which then materializes the chain bottom-up — each
    // round's join exactly once, as one pipelined DAG.
    //
    // Bounded memory: only the last two carriers stay registered
    // (round k-2 is provably consumed once round k exists — its only
    // readers are round k-1's broadcast and the share aggregate, both
    // already issued), so the storage footprint is ≤ 2 node-sized
    // relations regardless of `iters`. A reliable checkpoint every
    // `cutEvery` rounds bounds plan depth for large iteration counts —
    // by then the rounds it materializes are persisted, so the cut
    // re-executes nothing.
    val cutEvery = 8
    // atMost = iters: a rerun with fewer iterations than the dir holds
    // must resume at-or-below its own target (cumulative snapshots), so
    // the output stays that of a fresh iters-round run
    // the restart artifact stays (node, rank) — outdeg is re-attached
    // from the static relation on resume (one node-sized join, once)
    val resumed = restartDir.flatMap(
      Restart.latest(edges0.sparkSession, _, atMost = iters))
    var ranks = resumed
      .map(r => nodesDeg.join(r._2, Seq("node"))
        .select(col("node"), col("outdeg"), col("rank")))
      .getOrElse(nodesDeg.select(col("node"), col("outdeg"),
        lit(1000000L).as("rank")))
    val startRound = resumed.map(_._1).getOrElse(0)
    var keep: List[DataFrame] = Nil
    for (i <- startRound + 1 to iters) {
      // per-node damped share of this round's dangling mass (0 when the
      // graph has none — the fast path never runs these two jobs)
      val share: Long =
        if (!danglingExists) 0L
        else {
          val d = ranks.join(broadcast(danglingB), Seq("node"))
            .agg(coalesce(sum("rank"), lit(0L))).head().getLong(0)
          d / nNodes
        }
      ranks = iterate(edges, nodesDeg, ranks, share).persist()
      keep = ranks :: keep
      keep.drop(2).foreach(_.unpersist(blocking = false))
      keep = keep.take(2)
      if (i % cutEvery == 0 && i < iters) ranks = Checkpoints.materialize(ranks)
      // the save's write action materializes THROUGH the lazy persist,
      // so the next round's broadcast reuses the cached carrier — one
      // extra action per committed round, no recompute. `restartEvery`
      // thins the cadence (≤ restartEvery-1 rounds replay on resume)
      if (i % restartEvery == 0)
        restartDir.foreach(Restart.save(ranks.select("node", "rank"), _, i))
    }
    // ownership handoff: cut the final carrier into standalone
    // materialized blocks, then release every loop persist. Without
    // this, the returned plan would keep the last two Dataset-level
    // cache entries alive in the CacheManager (which the
    // ContextCleaner never reaps) — a long-lived session calling
    // pageRank repeatedly would leak two node-sized cached relations
    // per invocation, plus keep the edge checkpoint reachable. The
    // cut costs one |nodes|-row job and the result references nothing
    // from the loop.
    val out = Checkpoints.materialize(
      ranks.select(col("node"), col("rank").as("rank_micro")))
    keep.foreach(_.unpersist(blocking = false))
    out
  }

  /** One PageRank round over the outdeg-carrying carrier: the
    * per-source contribution `rank div outdeg` is a PROJECTION of the
    * carrier (outdeg rides it — no per-round ranks ⋈ outdeg join, no
    * per-round outdeg broadcast build), broadcast-joined into the bare
    * (src, dst) edges, contributions aggregated on dst, completed over
    * the outdeg-annotated node universe, damped. Exposed
    * (package-private) so the plan-regression spec can assert the
    * executed shape — BroadcastHashJoin on the contribution side, never
    * a SortMergeJoin of the edge relation — which is exactly what the
    * loop executes. Dangling nodes filter out of perSrc on their null
    * outdeg, exactly as they never appear as an edge src; their mass
    * arrives via `share`. */
  private[graft] def iterate(edges: DataFrame, nodesDeg: DataFrame,
                             ranks: DataFrame, share: Long): DataFrame = {
    val weighted = edges.columns.contains("w")
    val contrib =
      if (!weighted) {
        val perSrc = ranks.where(col("outdeg").isNotNull)
          .select(col("node").as("src"), expr("rank div outdeg").as("c"))
        edges.join(broadcast(perSrc), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum("c").as("in_sum"))
      } else {
        // weighted vote: contribution of src to dst =
        // ⌊rank·w / W⌋, decomposed as w·⌊rank/W⌋ + ⌊(rank mod W)·w / W⌋
        // — the EXACT identity (rank = q·W + r) that never overflows a
        // long: rank·w can exceed 2^63 at web scale (rank is bounded by
        // total graph mass), but q·w ≤ rank and r·w ≤ W·w stay small.
        // Each edge term is floor-divided BEFORE summation — the same
        // order-free determinism contract as the unweighted form, and
        // w = 1 reduces to it value-for-value (spec-asserted).
        val perSrc = ranks.where(col("outdeg").isNotNull)
          .select(col("node").as("src"),
            expr("rank div outdeg").as("q"),
            expr("rank % outdeg").as("r"),
            col("outdeg").as("wsum"))
        edges.join(broadcast(perSrc), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("w * q + (w * r) div wsum")).as("in_sum"))
      }
    // completion join: zero-in-degree and dangling nodes keep a rank
    // row (contrib only covers nodes with in-edges). contrib is
    // ≤ |nodes| rows post-aggregate — broadcastable by construction.
    // The result is the next carrier, outdeg riding along.
    nodesDeg.join(broadcast(contrib), Seq("node"), "left")
      .select(col("node"), col("outdeg"),
        (lit(150000L) +
          expr(s"((coalesce(in_sum, 0L) + ${share}L) * 85) div 100")).as("rank"))
  }

  /** Co-purchase graph: distinct symmetric part–part edges for parts
    * appearing in the same order. The pair self-join keys on the order
    * id over one repartitioned relation (single reused exchange); the
    * distinct collapses multi-order repeats before PageRank sees them.
    *
    * One exchange feeds both the dedup and the join: repartition on
    * okey FIRST, then dropDuplicates — hashpartitioning(okey) already
    * clusters every (okey, part) group, so the dedup aggregate is
    * exchange-free and the self-join reuses the same partitioning
    * (where `.distinct().repartition(okey)` paid two shuffles).
    *
    * Orientation halving: the join emits each unordered pair ONCE
    * (`a.part < b.part`) and the symmetric mirror is appended AFTER the
    * distinct — pair instances scale as orders × pairs-per-order (the
    * dominant volume; 10× stress: ~18M instances collapsing to ~1.2M
    * unordered edges), so emitting one orientation halves both the join
    * output and the distinct's shuffle, and the mirror union doubles
    * only the already-deduped edge set, exchange-free. */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    // both `li` (the self-join's two sides) and `half` (the mirror
    // union's two branches) have two consumers; relying on
    // ReuseExchange to dedupe them proved planner-mood-dependent at
    // 10x volume (consecutive identical runs measured 9.4 s vs 18.8 s —
    // the miss re-runs the 18M-pair join + distinct for the mirror), so
    // both are structurally materialized (see [[Checkpoints]]): li is
    // (okey, part) longs, half the deduped unordered edge set.
    val li = Checkpoints.materialize(lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .repartition(col("okey"))
      .dropDuplicates("okey", "part"))
    val half = Checkpoints.materialize(li.alias("a")
      .join(li.alias("b"),
        col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
      .select(col("a.part").as("src"), col("b.part").as("dst"))
      .distinct())
    // disjoint orientations (src < dst vs dst < src): plain UNION ALL,
    // no second dedup pass
    half.union(half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** PageRank over the co-purchase graph: (part_id, rank_micro). The
    * graph is symmetric by construction, so the dangling path is
    * detected as empty and skipped. */
  def partRank(lineitem: DataFrame, iters: Int = 5): DataFrame =
    pageRank(coPurchaseEdges(lineitem), iters,
      edgesMaterialized = true)
      .select(col("node").as("part_id"), col("rank_micro"))

  /** Host-level link graph from crawled pages — the crawl frontier's
    * edge relation: each page's anchor hrefs ([[Extract.links]])
    * resolve to their target domain ([[Urls.domain]] — lowercased,
    * `www.` stripped), self-links and non-hierarchical hrefs drop,
    * parallel links aggregate to a weighted (src, dst, n_links) row.
    * Scan-local until the one (src, dst)-keyed aggregate exchange —
    * at 100 TB this is extraction-speed plus a host-pair-sized
    * shuffle (hosts ≪ pages). */
  def hostLinkEdges(pages: DataFrame, srcDomainCol: String = "src_domain",
                    htmlCol: String = "html"): DataFrame =
    pages
      .select(col(srcDomainCol).as("src"),
        explode(Extract.links(col(htmlCol))).as("href"))
      .select(col("src"), Urls.domain(col("href")).as("dst"))
      .where(col("dst") =!= "" && col("dst") =!= col("src"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n_links"))

  /** Crawl-frontier host ranking — the CommonCrawl-style prioritizer
    * composed end to end: pages → [[hostLinkEdges]] → DISTINCT
    * host→host edges → [[pageRank]] (the classic unweighted form;
    * `n_links` stays available from [[hostLinkEdges]] for weighted
    * variants). Output: (domain, rank_micro), the same integer-micro
    * determinism contract as [[partRank]]. */
  def hostRank(pages: DataFrame, srcDomainCol: String = "src_domain",
               htmlCol: String = "html", iters: Int = 5): DataFrame =
    pageRank(hostLinkEdges(pages, srcDomainCol, htmlCol)
        .select("src", "dst"), iters)
      .select(col("node").as("domain"), col("rank_micro"))

  /** [[hostRank]] with link MULTIPLICITY as the vote weight (a host
    * linking another 100 times endorses it more than once — the
    * weighted-PageRank refinement real crawl rankers apply): each
    * src's rank splits across its out-links proportionally to
    * `n_links`, in the overflow-safe exact integer decomposition
    * documented at the iterate() site. Output: (domain, rank_micro). */
  def weightedHostRank(pages: DataFrame,
                       srcDomainCol: String = "src_domain",
                       htmlCol: String = "html", iters: Int = 5): DataFrame =
    pageRank(hostLinkEdges(pages, srcDomainCol, htmlCol)
        .select(col("src"), col("dst"), col("n_links").as("w")),
      iters)
      .select(col("node").as("domain"), col("rank_micro"))
}
