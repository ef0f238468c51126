package graft.ops

import org.apache.spark.sql.DataFrame

/** The one way a graft operator materializes a stage: iterative loop
  * carriers (PageRank, connected components, BPE training) truncate
  * their lineage each round, and multi-consumer operators compute a
  * shared relation once instead of re-scanning the corpus per consumer.
  *
  * Iterative loops MUST truncate lineage each round — without it round k
  * replans rounds 1..k-1 and the plan grows quadratically. The two ways
  * to materialize differ in failure semantics, not in results:
  *
  *  - `localCheckpoint` stores blocks on the executors that computed
  *    them. Fast (no DFS write), but blocks die with their executor — on
  *    a real cluster a single lost executor at round 19 of a 20-round
  *    job kills the whole query. Right for single-node / test runs.
  *  - `checkpoint` writes to the SparkContext's checkpoint directory
  *    (HDFS/S3 on a cluster) and recomputes lost partitions from there.
  *    The 100 TB path.
  *
  * POLICY: the choice is the deployment's, made once. [[materialize]]
  * checkpoints reliably exactly when the SparkContext has a checkpoint
  * directory — `spark.checkpoint.dir` at context start, or
  * `sc.setCheckpointDir` later — and uses `localCheckpoint` otherwise.
  * No operator takes a dir or sets one, so every stage of a run shares
  * one failure policy. Reliable-path housekeeping: checkpoint files are
  * orphaned on DFS unless the ContextCleaner reaps them —
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is read ONCE at
  * SparkContext startup, so [[graft.GraftSession]] sets it in the
  * builder; a session built elsewhere must set it at context-creation
  * time or accept one orphaned directory per checkpointed relation.
  *
  * EAGERNESS CAVEAT for operator callers: any operator built on this
  * (set-similarity/containment joins, span dedup, the LSH collapse,
  * naive Bayes, PageRank, TF-IDF, the quality gate, …) runs its
  * materialization jobs AT DATAFRAME-CONSTRUCTION TIME, not at first
  * action — calling the builder just to `.explain()` or inspect a schema
  * pays the corpus passes and registers blocks. Build these plans when
  * you intend to run them, and release blocks afterwards
  * (`ContextCleaner` reaps them once unreachable;
  * `graft.Bench`/`Verify` unpersist between queries).
  */
object Checkpoints {

  /** Materialize `df` under the session's failure policy (see the object
    * doc): a reliable `checkpoint` when the SparkContext has a checkpoint
    * dir, a `localCheckpoint` otherwise.
    *
    * `eager = true` (the default) runs the materialization job now — the
    * barrier iterative loops want so each round is costed once.
    *
    * `eager = false` truncates the LOGICAL plan immediately (the result
    * is a LogicalRDD over a checkpoint-marked RDD) but runs no job —
    * materialization happens inside the consumer's first action, and
    * later references reuse the stored blocks. This is the form for
    * LOOP CARRIERS whose rounds are cheap but numerous (the distributed
    * BPE schedule: one top-1 action per merge wants to pay one job per
    * merge, not three). A Dataset-level `persist()` is NOT a substitute
    * there: persist leaves the logical plan nested, and any CacheManager
    * operation on a later round (lookup, uncache) normalizes the plan
    * through alias inlining (`AliasHelper.trimAliases`) — a carrier whose
    * per-round projection references its input column c times inlines to
    * a c^k-node expression tree at round k (observed: the BPE vocab map
    * references `s` 3× per merge; 3^64 hung the driver inside
    * `unpersist`). Aggregates/joins between rounds block the inlining,
    * which is why [[graft.ops.Graph.pageRank]] can carry a lazy persist
    * while a projection chain cannot. The reliable flavor re-executes a
    * lazy carrier once more at checkpoint-write time (standard Spark
    * checkpoint behavior), the price of executor-loss recovery. */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
