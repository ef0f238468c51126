package graft.ops

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.{LibrarySources, SparkSpec}

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  /** the RDD a materialized plan scans: its LogicalRDD leaf */
  private def stored(df: DataFrame): RDD[_] = {
    val rdds = df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    assert(rdds.size === 1, s"expected one LogicalRDD leaf, got ${rdds.size}")
    rdds.head
  }

  test("materialize checkpoints reliably under the session checkpoint dir") {
    val dir = Files.createTempDirectory("graft-ck-reliable")
    withCheckpointDir(dir.toString) {
      val m = Checkpoints.materialize(Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
      val file = stored(m).getCheckpointFile
      assert(file.isDefined, "no reliable checkpoint file")
      assert(new org.apache.hadoop.fs.Path(file.get).toUri.getPath
        .startsWith(dir.toString + "/"),
        s"checkpoint ${file.get} not under $dir")
      assert(m.as[(Long, String)].collect().toSet === Set((1L, "x"), (2L, "y")))
    }
  }

  test("materialize stores a local checkpoint when the session has no dir") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val m = Checkpoints.materialize(Seq((1L, "x")).toDF("id", "v"))
    val rdd = stored(m)
    assert(rdd.isCheckpointed, "eager materialize left the plan unmaterialized")
    assert(rdd.getCheckpointFile.isEmpty, "local checkpoint wrote a file")
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "local checkpoint blocks not registered with the block manager")
  }

  test("materialize(eager = false) runs no job before the first action") {
    import org.apache.spark.grafttest.ListenerBusHelper.waitUntilListenerBusEmpty
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val df = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 2 AS twice")
    waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = Checkpoints.materialize(df, eager = false)
      waitUntilListenerBusEmpty(spark.sparkContext)
      assert(jobs.get() === 0, "lazy materialize ran a job at construction")
      assert(!stored(m).isCheckpointed)
      assert(m.count() === 1000L)
      waitUntilListenerBusEmpty(spark.sparkContext)
      assert(jobs.get() > 0)
      assert(stored(m).isCheckpointed, "first action did not materialize the stage")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("withCheckpointDir leaves the session dir unset, even when the body throws") {
    val dir = Files.createTempDirectory("graft-ck-scope").toString
    withCheckpointDir(dir) { assert(spark.sparkContext.getCheckpointDir.isDefined) }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    intercept[IllegalStateException] {
      withCheckpointDir(dir) { throw new IllegalStateException("boom") }
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("library code materializes only through Checkpoints.materialize") {
    val files = LibrarySources.files
    assert(files.size > 50,
      s"scanned only ${files.size} files from ${LibrarySources.root.toAbsolutePath}")
    val banned = Seq("localCheckpoint(", ".checkpoint(", "setCheckpointDir")
    val hits = LibrarySources.lineHits(
      files.filter(_.getFileName.toString != "Checkpoints.scala"), banned)
    assert(hits.isEmpty, hits.mkString("direct materialization outside Checkpoints:\n", "\n", ""))
  }
}
