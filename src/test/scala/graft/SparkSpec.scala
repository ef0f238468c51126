package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs (one per suite JVM-wide reuse via
  * getOrCreate; cores kept small so suites stay snappy). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", cores = 4)
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }

  /** Run `body` with `dir` as the SparkContext's checkpoint dir, so
    * every [[graft.ops.Checkpoints.materialize]] inside it checkpoints
    * reliably. The dir is always unset afterwards (`null` stores `None`
    * in local mode): all suites share one context, and a dir left set
    * would switch every later suite to reliable checkpoints. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    spark.sparkContext.setCheckpointDir(dir)
    try body finally spark.sparkContext.setCheckpointDir(null)
  }

  /** `body`'s result and the number of Spark jobs started while it ran
    * (the listener bus is drained on both sides, so jobs of earlier
    * work are not counted and none of `body`'s are missed). */
  def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.grafttest.ListenerBusHelper.waitUntilListenerBusEmpty
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      waitUntilListenerBusEmpty(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
