package graft.ops

import graft.SparkSpec

/** The CURRENT-pointer protocol's crash windows: a generation is
  * served only after its writer finished it (the `_GRAFT_GEN_COMPLETE`
  * marker), the no-CURRENT fallback skips half-written generations,
  * and the documented single-writer recovery — re-run setCurrent — is
  * idempotent. */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A minimal "generation": one tiny parquet relation under gen-n. */
  private def writeGen(dir: String, n: Int): Unit =
    Seq((n, s"gen$n")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/gen-$n/rel")

  private def deleteCurrent(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, Generations.CurrentFile)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  test("root follows CURRENT; a dir with no generation is refused") {
    val dir = tmpDir("graft-gen")
    writeGen(dir, 0); writeGen(dir, 1)
    Generations.setCurrent(spark, dir, "gen-0")
    assert(Generations.root(spark, dir) == s"$dir/gen-0")
    // relations written straight into the dir are not an index
    val flat = tmpDir("graft-gen-flat")
    Seq((0, "flat")).toDF("id", "v").write.parquet(s"$flat/rel")
    val e = intercept[RuntimeException] { Generations.root(spark, flat) }
    assert(e.getMessage.contains(flat))
  }

  test("no CURRENT: fallback serves the newest COMPLETE generation, " +
       "skipping a half-written newer one") {
    val dir = tmpDir("graft-gen")
    writeGen(dir, 0)
    Generations.setCurrent(spark, dir, "gen-0")
    // a compaction wrote gen-1's relations but crashed BEFORE its
    // setCurrent (no marker); a second fault lost CURRENT too
    writeGen(dir, 1)
    deleteCurrent(dir)
    assert(Generations.root(spark, dir) == s"$dir/gen-0",
      "unmarked gen-1 must not be served")
    // once the compaction completes (marker + pointer), gen-1 serves
    Generations.setCurrent(spark, dir, "gen-1")
    deleteCurrent(dir)
    assert(Generations.root(spark, dir) == s"$dir/gen-1",
      "marked newest generation must be served without CURRENT")
  }

  test("no CURRENT, no markers (pre-marker layout): newest generation") {
    val dir = tmpDir("graft-gen")
    writeGen(dir, 0); writeGen(dir, 1)
    assert(Generations.root(spark, dir) == s"$dir/gen-1")
  }

  test("writer crash recovery: re-running setCurrent is idempotent") {
    val dir = tmpDir("graft-gen")
    writeGen(dir, 0)
    Generations.setCurrent(spark, dir, "gen-0")
    // crash window: CURRENT deleted, rename never ran
    deleteCurrent(dir)
    Generations.setCurrent(spark, dir, "gen-0") // the recovery step
    assert(Generations.root(spark, dir) == s"$dir/gen-0")
    Generations.setCurrent(spark, dir, "gen-0") // and again — no-op
    assert(Generations.root(spark, dir) == s"$dir/gen-0")
  }

  test("a versioned LSH index with CURRENT lost still serves correctly") {
    val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "pack my box with five dozen liquor jugs today"))
      .toDF("doc_id", "text")
    val probe = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val dir = tmpDir("graft-gen-lsh")
    LshIndex.build(corpus, dir, shingleSize = 2)
    val withCurrent = LshIndex.nearDuplicates(probe, dir, threshold = 0.3)
      .collect().toSet
    deleteCurrent(dir)
    val withoutCurrent = LshIndex.nearDuplicates(probe, dir, threshold = 0.3)
      .collect().toSet
    assert(withCurrent == withoutCurrent && withCurrent.nonEmpty,
      "the complete newest generation must serve identically in the gap")
  }

  test("a second build into a live index dir serves the new generation and keeps the old one") {
    val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val rebuilt = Seq((1L, "pack my box with five dozen liquor jugs today"))
      .toDF("doc_id", "text")
    val probe = Seq((100L, "pack my box with five dozen liquor jugs today"))
      .toDF("doc_id", "text")
    val dir = tmpDir("graft-gen-rebuild")
    LshIndex.build(corpus, dir, shingleSize = 2)
    assert(LshIndex.nearDuplicates(probe, dir, threshold = 0.3).isEmpty)
    LshIndex.build(rebuilt, dir, shingleSize = 2)
    assert(Generations.root(spark, dir) == s"$dir/gen-1")
    assert(LshIndex.nearDuplicates(probe, dir, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((100L, 1L)))
    // the previous generation is still on disk, untouched, for
    // in-flight readers
    assert(spark.read.parquet(s"$dir/gen-0/members")
      .collect().map(_.getAs[Long]("doc_id")).toSeq === Seq(0L))
  }
}
