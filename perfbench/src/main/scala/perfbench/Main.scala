package perfbench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.etl.{CapstoneEtl, EtlQueries}
import graft.quality.DataQuality

/** One benchmark run in one JVM: set up (session, then warm-up passes of
  * the workload's mix, the first of which captures every query's output
  * for the oracle check), then time passes of the mix for the requested
  * seconds. Times, oracle SQL and, when traced, spans go to
  * `<work>/result.json` and `<work>/spans.jsonl`; run.py turns them into
  * metrics.
  *
  * Usage: perfbench.Main <plan.properties>
  */
object Main {

  val EtlRun = "etl_run"

  final case class Exec(name: String, start: Long, buildEnd: Long, end: Long,
                        ok: Boolean, gcMs: Long)

  private def now(): Long = System.currentTimeMillis()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    p.load(new FileInputStream(args(0)))
    val workload = p.getProperty("workload")
    val mix = p.getProperty("queries").split(",").toSeq
    val data = p.getProperty("data")
    val work = p.getProperty("work")
    val seconds = p.getProperty("seconds").toDouble
    val minPasses = p.getProperty("min_passes").toInt
    val warmups = p.getProperty("warmups").toInt
    val trace = p.getProperty("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = new Tracer()
    val spans = ArrayBuffer[Span]()
    val execs = ArrayBuffer[(String, Exec)]()
    val failures = ArrayBuffer[String]()
    val entry = SparkEntry.queries

    def session(): SparkSession = {
      val s = GraftSession.builder("perfbench", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      GraftSession.tune(s)
      if (trace) s.sparkContext.addSparkListener(tracer)
      s
    }

    val etlOut = s"$work/etl-out"

    /** Build (call the public function) then run (noop sink) one query.
      * The `etl_run` query is one CapstoneEtl.run over `<data>/raw` into a
      * fresh output directory, whose last copy the oracle check reads.
      * With `capture` a query's output goes to parquet for the oracle
      * check instead of the noop sink (first warm-up pass only, so the
      * check costs no extra pass). */
    def execute(spark: SparkSession, name: String, capture: Boolean): Exec = {
      if (name == EtlRun) deleteTree(new File(etlOut))
      val g0 = gcMs()
      val t0 = now()
      var tb = t0
      val ok =
        try {
          if (name == EtlRun) { tb = now(); CapstoneEtl.run(spark, s"$data/raw", etlOut) }
          else {
            val df = entry(name)(spark, data)
            tb = now()
            if (capture) df.coalesce(1).write.mode("overwrite").parquet(s"$work/check/$name")
            else df.write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Throwable =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          false
        }
      val t1 = now()
      val g1 = gcMs()
      // untimed per-query cleanup of cached and broadcast blocks, as
      // graft.Bench does between queries (without its forced GC, so that
      // jvm.gc_s measures the collections the queries themselves cause)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      org.apache.spark.graftbridge.BlockResidue.dropAllBroadcastBlocks(spark.sparkContext)
      Exec(name, t0, tb, t1, ok, g1 - g0)
    }

    def pass(spark: SparkSession, tag: String, capture: Boolean = false): Unit = {
      val t0 = now()
      mix.foreach { q =>
        val e = execute(spark, q, capture)
        execs += ((tag, e))
        spans += Span(s"query:$q", e.start, e.end, tag, q,
          Map("build_end" -> e.buildEnd.toDouble, "ok" -> (if (e.ok) 1.0 else 0.0),
            "gc_ms" -> e.gcMs.toDouble))
        if (trace && q == EtlRun) {
          // etl.build_s: the pipeline's pure build step, outside the timed query
          val b0 = now(); CapstoneEtl.build(spark, s"$data/raw"); val b1 = now()
          spans += Span("etl.build", b0, b1, tag, q, Map.empty)
        }
      }
      spans += Span(tag, t0, now(), "", "", Map.empty)
    }

    // ---- set-up: process start -> session -> warm-up passes. The first
    // compiles the mix's code, builds the engine's indexes and stores, and
    // captures every query's output for the oracle check; the rest let the
    // JIT reach steady state before anything is timed ----
    val spark = session()
    pass(spark, "setup", capture = true)
    for (i <- 1 until warmups) pass(spark, s"warmup-$i")
    val setupS = (now() - jvmStart) / 1000.0

    // ---- timed passes ----
    val g0 = gcMs()
    val timedStart = now()
    var k = 0
    while (k < minPasses || (now() - timedStart) / 1000.0 < seconds) {
      pass(spark, s"pass-$k")
      k += 1
    }
    val gcTimed = (gcMs() - g0) / 1000.0
    System.gc()
    val retained = heapMb()

    // ---- untimed: oracle SQL for the captured outputs, ETL key checks ----
    val oracle = scala.collection.mutable.Map[String, String]()
    val t0 = now()
    mix.foreach {
      case EtlRun =>
        etlKeyChecks(spark, etlOut).foreach(failures += _)
        EtlQueries.oracleSql.foreach { case (n, sql) =>
          oracle(n) = sql.replace(EtlQueries.RefRaw, s"$data/raw")
            .replace(EtlQueries.TemperatureFixture, s"$data/raw/GlobalLandTemperaturesByCountry.csv")
        }
      case q =>
        try oracle(q) = OracleSql.forQuery(spark, q, data)
        catch { case e: Throwable =>
          failures += s"$q (oracle): ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
    }
    spans += Span("check", t0, now(), "", "", Map.empty)
    if (trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.stop()

    val w = new Json()
    w.obj {
      w.field("workload", workload); w.field("cores", cores); w.field("passes", k)
      w.field("etl_out", etlOut)
      w.field("setup_s", setupS)
      w.field("gc_timed_s", gcTimed); w.field("retained_heap_mb", retained)
      w.strs("failures", failures.toSeq)
      w.key("execs"); w.list(execs.toSeq) { case (tag, e) =>
        w.obj {
          w.field("phase", tag); w.field("query", e.name); w.field("ok", e.ok)
          w.field("build_s", (e.buildEnd - e.start) / 1000.0)
          w.field("run_s", (e.end - e.buildEnd) / 1000.0)
        }
      }
      w.key("oracle"); w.obj { oracle.toSeq.sortBy(_._1).foreach { case (n, s) => w.field(n, s) } }
    }
    Files.writeString(Paths.get(work, "result.json"), w.toString)
    if (trace) {
      val lines = spans.map(_.json) ++ tracer.jobSpans
      Files.writeString(Paths.get(work, "spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
  }

  /** Key and reference checks on the written ETL tables, beyond the
    * null/empty gates CapstoneEtl.run already applied. */
  private def etlKeyChecks(spark: SparkSession, out: String): Seq[String] = {
    val read = (n: String) => spark.read.parquet(s"$out/$n.parquet")
    val fact = read("fact_immigration")
    val checks: Seq[() => Unit] = Seq(
      () => DataQuality.checkUnique(fact, "fact_immigration", "id"),
      () => DataQuality.checkUnique(read("dim_date"), "dim_date", "date_key"),
      () => DataQuality.checkUnique(read("dim_countries"), "dim_countries", "country_key"),
      () => DataQuality.checkUnique(read("dim_port_of_entry"), "dim_port_of_entry", "port_of_entry_key"),
      () => DataQuality.checkUnique(read("dim_airlines"), "dim_airlines", "airline_key"),
      () => DataQuality.checkForeignKey(fact, "arrival_date_key", read("dim_date"), "date_key",
        "fact_immigration", "dim_date"),
      () => DataQuality.checkForeignKey(fact, "departure_date_key", read("dim_date"), "date_key",
        "fact_immigration", "dim_date"),
      () => DataQuality.checkForeignKey(fact, "country_citizen_key", read("dim_countries"),
        "country_key", "fact_immigration", "dim_countries"),
      () => DataQuality.checkForeignKey(fact, "port_of_entry_key", read("dim_port_of_entry"),
        "port_of_entry_key", "fact_immigration", "dim_port_of_entry"),
      () => DataQuality.checkForeignKey(fact, "visa_category_key", read("dim_visa_categories"),
        "visa_category_key", "fact_immigration", "dim_visa_categories"))
    checks.flatMap { c =>
      try { c(); None } catch { case e: Throwable => Some(s"etl key check: ${e.getMessage}") }
    }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
