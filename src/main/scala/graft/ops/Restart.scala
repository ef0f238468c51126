package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Io

/** Cross-JOB restart state for iterative operators (connected
  * components, PageRank).
  *
  * [[Checkpoints]] covers EXECUTOR loss inside one job: a reliable
  * checkpoint lets Spark recompute lost partitions without replaying
  * the lineage. It does NOT survive the driver — checkpoint files are
  * keyed to the SparkContext that wrote them and are not a supported
  * restore surface for a new application. At 100 TB an iterative job
  * can outlive its driver (spot loss, deploy, OOM), so the loop state
  * itself must be restartable: this helper persists each round's
  * carrier relation as plain parquet under `dir/round=<k>` and lets a
  * FRESH session resume from the newest complete round.
  *
  * Why this is correct to resume from: both loops carry exact-integer
  * or id-valued state (CC: the oriented edge relation; PageRank:
  * micro-unit integer ranks), and each round is a deterministic
  * function of (carrier, static inputs) — so a resumed run computes
  * bit-identical rounds k+1.. regardless of which driver ran 1..k
  * (spec-asserted in RestartSpec).
  *
  * Atomicity: the parquet lands in `dir/.inprogress_round=<k>` first,
  * a RENAME to `dir/round=<k>` follows, and an empty `_GRAFT_COMMITTED`
  * marker written INTO the renamed dir is the commit point — [[latest]]
  * and [[read]] trust only marked rounds. The marker matters beyond
  * HDFS/local: on object stores (S3A) a directory "rename" is a
  * non-atomic client-side copy, so a driver killed mid-rename leaves a
  * PARTIAL `round=<k>` that a name-only check would treat as committed
  * — and a resume would then silently compute from a truncated
  * relation. The marker is a single object created only after the full
  * rename returns, so a partial copy is never trusted. Single-writer
  * per dir (two concurrent drivers on one dir is operator error, as
  * with any checkpoint location).
  *
  * Cost: one carrier-sized parquet write per saved round — the price
  * of driver-loss insurance, opt-in via `restartDir` and OFF by
  * default. Completed runs leave their round files for the caller to
  * reap; rerunning over a finished dir just resumes at the fixpoint.
  */
object Restart {
  private val RoundRe = "^round=(\\d+)$".r
  private[ops] val CommitMarker = "_GRAFT_COMMITTED"

  /** Commit `state` as the round-`k` snapshot under `dir`. */
  def save(state: DataFrame, dir: String, round: Int): Unit = {
    val spark = state.sparkSession
    val tmp = new Path(dir, s".inprogress_round=$round")
    val dst = new Path(dir, s"round=$round")
    state.write.mode("overwrite").parquet(tmp.toString)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      sys.error(s"Restart.save: rename $tmp -> $dst failed")
    // marker AFTER the rename returns — the real commit point (see
    // the object doc on non-atomic object-store renames)
    fs.create(new Path(dst, CommitMarker), true).close()
  }

  /** The newest COMMITTED (round, state) under `dir` with round ≤
    * `atMost`, if any. `atMost` serves the shrunk-rerun contract:
    * a caller asked for fewer rounds than the dir holds must resume
    * from a snapshot no newer than its own target — with a sparse
    * commit cadence ([[Restart]] consumers' `restartEvery`) the exact
    * target round may not exist, so the newest one at-or-below it is
    * the right resume point. */
  def latest(spark: SparkSession, dir: String,
             atMost: Int = Int.MaxValue): Option[(Int, DataFrame)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val named = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case RoundRe(k) => Some(k.toInt)
        case _          => None
      })
    val (marked, unmarked) = named.partition(k => fs.exists(
      new Path(new Path(dir, s"round=$k"), CommitMarker)))
    // loud, not silent: an unmarked round dir is either a partial
    // object-store rename (correctly distrusted) or a dir written by a
    // pre-marker build — in the latter case the operator should rerun
    // the producer once to re-commit, not wonder why insurance vanished
    if (unmarked.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Restart.latest($dir): ignoring round(s) ${unmarked.sorted.mkString(", ")} " +
          s"without the $CommitMarker marker (partial rename, or written " +
          "by a pre-marker build); resuming from the newest MARKED round")
    val rounds = marked.filter(_ <= atMost)
    rounds.maxOption.map(k =>
      (k, Io.readParquet(spark, new Path(dir, s"round=$k").toString)))
  }

  /** The round-`round` snapshot under `dir`, iff committed. Resume code
    * that must pair two relations of the SAME round (e.g. bpeTrain's
    * vocab + merge list) reads the named round directly — `latest()`
    * on the second dir would race the crash window where round k+1 of
    * one relation committed but the other did not. */
  def read(spark: SparkSession, dir: String, round: Int): Option[DataFrame] = {
    val dst = new Path(dir, s"round=$round")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dst, CommitMarker)))
      Some(Io.readParquet(spark, dst.toString))
    else None
  }
}
