package graft.ops

import org.apache.spark.sql.SparkSession

/** The one on-disk layout of the serving indexes ([[LshIndex]],
  * [[Similarity]]'s IVF and IMI indexes, [[Pq]]'s PQ, IVF-PQ and IMI-PQ
  * indexes): relations live under `dir/gen-<n>`, and a one-line
  * `dir/CURRENT` names the live generation. Every build and every
  * in-place compaction writes through [[writeNext]]: generation n+1
  * (`gen-0` in a fresh dir) is written in full, then the pointer swaps
  * atomically — the previous generation stays on disk for in-flight
  * readers. Every reader and appender resolves [[root]] once.
  *
  * The swap is a small-file create + delete + rename; during the brief
  * window with no `CURRENT`, [[root]] serves the newest COMPLETE
  * generation — [[setCurrent]] drops a `_GRAFT_GEN_COMPLETE` marker
  * into the generation before touching the pointer (the
  * [[Restart]] `_GRAFT_COMMITTED` convention), so a reader in the gap
  * merely sees the new generation a moment early, and a generation a
  * writer crashed mid-write (no marker yet) is never served even
  * if a second crash also lost `CURRENT`. Generations from builds
  * predating the marker carry none; with no marked generation the
  * fallback is the newest generation (their writers always completed
  * the swap, so reaching the fallback at all means only the benign
  * delete→rename gap).
  *
  * Single writer per index dir (the ingest loop), as with any
  * checkpoint location. Writer crash recovery is single-step: a crash
  * between the delete and the rename leaves no `CURRENT`; the writer
  * (or operator) re-runs [[setCurrent]] with the generation it was
  * swapping to — the marker is already in place and the swap is
  * idempotent. */
private[graft] object Generations {
  val CurrentFile = "CURRENT"
  val CompleteMarker = "_GRAFT_GEN_COMPLETE"
  private val GenRe = "^gen-(\\d+)$".r

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def numbers(spark: SparkSession, dir: String): Seq[Int] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .flatMap(_.getPath.getName match {
        case GenRe(n) => Some(n.toInt)
        case _        => None
      })
  }

  /** The directory holding the live relations; fails on a dir that
    * holds no generation. */
  def root(spark: SparkSession, dir: String): String = {
    val (fs, _) = fsOf(spark, dir)
    val cur = new org.apache.hadoop.fs.Path(dir, CurrentFile)
    if (fs.exists(cur)) {
      val in = fs.open(cur)
      val name = try scala.io.Source.fromInputStream(in).mkString.trim
                 finally in.close()
      s"$dir/$name"
    } else numbers(spark, dir) match {
      case Nil  =>
        sys.error(s"Generations: $dir holds no index generation " +
          s"(no $CurrentFile, no gen-<n>)")
      case gens =>
        // no CURRENT (the swap gap, or a writer crash inside it):
        // prefer the newest generation whose writer finished it —
        // an unmarked newer generation is a write that crashed
        // mid-write and must not be served. No marked generation at
        // all = a pre-marker layout; newest is then correct (see the
        // object doc).
        val marked = gens.filter(n => fs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/gen-$n", CompleteMarker)))
        s"$dir/gen-${(if (marked.nonEmpty) marked else gens).max}"
    }
  }

  /** Mark `gen` complete, then atomically swap the pointer to it.
    * Idempotent — re-running after a writer crash anywhere inside
    * (marker written / CURRENT deleted / rename lost) converges to the
    * same end state, which IS the documented recovery step. */
  def setCurrent(spark: SparkSession, dir: String, gen: String): Unit = {
    val (fs, _) = fsOf(spark, dir)
    // marker BEFORE the pointer: once CURRENT can name (or fall back
    // to) this generation, it is durably complete
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/$gen", CompleteMarker),
      true).close()
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$CurrentFile.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, CurrentFile)
    val out = fs.create(tmp, true)
    try out.write(gen.getBytes("UTF-8")) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      sys.error(s"Generations: CURRENT swap rename failed for $dir -> $gen")
  }

  /** Write generation n+1 (`gen-0` in a fresh or empty dir) through
    * `write`, which gets the generation's directory, then make it
    * live with [[setCurrent]]. Builds and in-place compactions both
    * land here; a crashed write leaves an unmarked generation that is
    * never served, and the next write skips past it. */
  def writeNext(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val gen = s"gen-${(numbers(spark, dir) :+ -1).max + 1}"
    write(s"$dir/$gen")
    setCurrent(spark, dir, gen)
  }
}
