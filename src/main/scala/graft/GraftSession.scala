package graft

import org.apache.spark.sql.SparkSession

/** The graft engine's one SparkSession factory: Bench, Verify, perfbench,
  * the specs and every dev main build their session with [[builder]], so
  * they all plan under the same confs.
  *
  * Design notes (scale-first):
  *  - `spark.sql.ansi.enabled=false`: the reference pipeline relies on
  *    legacy cast semantics — `INT(admnum)` with admnum ≈ 5.6e10 silently
  *    overflows, `INT(insnum)` on free text yields null
  *    (reference: dags/scripts/spark/data_preparation.py:445-447). Spark 4
  *    defaults ANSI **on**, so we pin it off for parity.
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    are what keep the same plans healthy at 100 TB.
  *  - shuffle partitions sized to cores locally; on a real cluster this is
  *    superseded by AQE's coalescing from
  *    `spark.sql.adaptive.coalescePartitions.initialPartitionNum`.
  *  - `spark.sql.autoBroadcastJoinThreshold` stays at Spark's 10 MB
  *    default: a join is planned as a broadcast only when its estimate
  *    says so, and AQE still switches to one when runtime sizes allow.
  */
object GraftSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Static conf, defaults to 100 entries: a 100+-query session
    * generates far more whole-stage-codegen units than that, so a
    * re-run query finds its compiled classes evicted and recompiles
    * (bench pass 2 runs AFTER all of pass 1 — every stage recompiled;
    * measured 28% of the full suite). 2000 covers the suite twice
    * over. */
  private val CodegenCacheEntries = "2000"

  def builder(appName: String, cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
      // reader rejects; read as epoch-nanos LongType instead.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep catalog-table data (bucketed writes) out of the repo cwd
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // reliable checkpoints (Checkpoints.materialize once the context
      // has a checkpoint dir) are orphaned on DFS unless the
      // ContextCleaner reaps them with their RDDs; read once at context
      // startup, so it must live here
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // see CodegenCacheEntries
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)

  /** Apply graft-required configs to an externally-created session (e.g.
    * one its caller hands to `SparkEntry.entry`). Only runtime-settable
    * confs. Idempotent and cheap on repeat calls:
    * re-setting confs and re-registering functions on every query
    * invalidates analyzer/plan caches (~0.2s per call measured), so tune
    * once per session. */
  private val TunedMarker = "spark.graft.tuned"

  def tune(spark: SparkSession): SparkSession = {
    if (!spark.conf.getOption(TunedMarker).contains("true")) {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      GraftExtensions.register(spark)
      spark.conf.set(TunedMarker, "true")
    }
    spark
  }

  /** Drop what a finished query left in the session, so the next one
    * starts on a clean block manager: cached relations
    * (`InMemoryRelation`), every persistent RDD (the localCheckpoint
    * blocks of iterative carriers — PageRank, CC, BPE — and shared
    * prefix/gram relations) and every broadcast block. Broadcast cleanup
    * is otherwise async (the ContextCleaner reaps a broadcast only after
    * the driver GCs its handle; ~100 MB survived a full bench pass of
    * unpersist + clearCache + gc), so the blocks are dropped
    * synchronously. Only legal between queries: no operator holds a
    * cached frame or broadcast handle across queries. */
  def dropQueryState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    org.apache.spark.graftbridge.BlockResidue
      .dropAllBroadcastBlocks(spark.sparkContext)
  }
}
