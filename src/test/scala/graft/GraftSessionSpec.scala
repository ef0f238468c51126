package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.BlockResidue
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.ops.Checkpoints

/** `GraftSession` is the engine's one session factory: no other source
  * builds a session, the factory plans joins at Spark's default
  * broadcast threshold (the one Bench and Verify runs have always
  * used), and `dropQueryState` leaves the next query a clean block
  * manager. */
class GraftSessionSpec extends SparkSpec {

  test("no source under src/main builds a SparkSession except GraftSession") {
    val sources = Files.walk(LibrarySources.root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50,
      s"scanned only ${sources.size} files from ${LibrarySources.root.toAbsolutePath}")
    val hits = LibrarySources.lineHits(
      sources.filterNot(_.getFileName.toString == "GraftSession.scala"),
      Seq("SparkSession.builder"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("a GraftSession session plans joins at Spark's 10 MB broadcast default") {
    assert(spark.sessionState.conf.autoBroadcastJoinThreshold === (10L << 20))
  }

  test("dropQueryState leaves no persistent RDD, cached relation or broadcast block") {
    import spark.implicits._
    val dims = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val facts = spark.range(0, 1000).select(($"id" % 3).as("k"), $"id")
    val checkpointed = Checkpoints.materialize(facts, eager = true)
    val cached = checkpointed.join(broadcast(dims), "k").cache()
    assert(cached.count() > 0)
    val (bc0, _, rdd0, _, _, _) = BlockResidue.residue(spark.sparkContext)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty && bc0 > 0 && rdd0 > 0,
      s"the query left nothing to drop: $bc0 broadcast, $rdd0 rdd blocks")
    assert(cached.storageLevel !== StorageLevel.NONE)

    GraftSession.dropQueryState(spark)

    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cached.storageLevel === StorageLevel.NONE)
    assert(BlockResidue.residue(spark.sparkContext)._1 === 0)
    // RDD blocks are unpersisted without blocking
    eventually(timeout(10.seconds)) {
      assert(BlockResidue.residue(spark.sparkContext)._3 === 0)
    }
  }
}
