package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A span the benchmark records around a call into the engine: a pass, a
  * query (with the time its build step ended), or the check phase. */
final case class Span(name: String, start: Long, end: Long, parent: String,
                      query: String, attrs: Map[String, Double]) {
  def json: String = {
    val w = new Json()
    w.obj {
      w.field("name", name); w.field("start", start); w.field("end", end)
      w.field("parent", parent); w.field("query", query)
      attrs.toSeq.sortBy(_._1).foreach { case (k, v) => w.field(k, v) }
    }
    w.toString
  }
}

/** Listener for the traced run: one record per Spark job with its stage,
  * task, shuffle, spill, I/O and materialized-block totals, and the
  * engine frames of its call site (or, for a job Spark starts from its own
  * threads, of the SQL execution it belongs to). Records stay in memory;
  * run.py joins them to the query spans by time and maps call sites to
  * layers. */
class Tracer extends SparkListener {

  private final class Job(val id: Int, val start: Long, val site: String,
                          val frames: Seq[String]) {
    var end = 0L
    var ok = true
    val m = mutable.LinkedHashMap[String, Long](
      "stages" -> 0L, "tasks" -> 0L, "failed_tasks" -> 0L, "failed_stages" -> 0L,
      "task_ms" -> 0L, "shuffle_read_b" -> 0L, "shuffle_write_b" -> 0L,
      "spill_b" -> 0L, "input_b" -> 0L, "output_b" -> 0L, "materialized_b" -> 0L)
    def add(k: String, v: Long): Unit = m(k) += v
  }

  private val jobs = mutable.ArrayBuffer[Job]()
  // SQL execution id -> engine frames of the action that started it: jobs
  // that Spark submits from its own threads (broadcast exchanges, adaptive
  // query stages) carry no engine frame of their own
  private val execFrames = mutable.Map[Long, Seq[String]]()
  private val stageJob = mutable.Map[Int, Job]()
  private val running = mutable.LinkedHashMap[Int, Job]()

  /** Engine frames of a call site's long form (StageInfo.details), innermost
    * first; the benchmark's own frames mark jobs started by its sink. */
  private def engineFrames(details: String): Seq[String] =
    details.split('\n').map(_.trim)
      .filter(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .take(12).toSeq

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized { execFrames(x.executionId) = engineFrames(x.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val own = last.map(s => engineFrames(s.details)).getOrElse(Nil)
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val frames = if (own.nonEmpty) own
                 else exec.flatMap(execFrames.get).getOrElse(Nil)
    val j = new Job(e.jobId, e.time, last.map(_.name).getOrElse(""), frames)
    jobs += j
    running(e.jobId) = j
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.failed)
      stageJob.get(e.stageId).foreach(_.add("failed_tasks", 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageJob.get(s.stageId).foreach { j =>
      j.add("stages", 1)
      j.add("tasks", s.numTasks)
      if (s.failureReason.isDefined) j.add("failed_stages", 1)
      val t = s.taskMetrics
      if (t != null) {
        j.add("task_ms", t.executorRunTime)
        j.add("shuffle_read_b", t.shuffleReadMetrics.totalBytesRead)
        j.add("shuffle_write_b", t.shuffleWriteMetrics.bytesWritten)
        j.add("spill_b", t.memoryBytesSpilled + t.diskBytesSpilled)
        j.add("input_b", t.inputMetrics.bytesRead)
        j.add("output_b", t.outputMetrics.bytesWritten)
      }
    }
  }

  /** RDD blocks stored while a job runs are what it materialized
    * (persist / localCheckpoint); charged to the newest running job. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid && running.nonEmpty)
      running.values.last.add("materialized_b", b.memSize + b.diskSize)
  }

  def jobSpans: Seq[String] = synchronized {
    jobs.toSeq.map { j =>
      val w = new Json()
      w.obj {
        w.field("name", "job"); w.field("start", j.start); w.field("end", j.end)
        w.field("job", j.id); w.field("ok", j.ok); w.field("site", j.site)
        w.strs("frames", j.frames)
        j.m.foreach { case (k, v) => w.field(k, v) }
      }
      w.toString
    }
  }
}
