package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: headline queries on SPARK_GRAFT_SF_DIR, one JSON line.
  * Uses the noop sink so every operator in the plan actually executes
  * (a bare count() would let Catalyst prune projections). */
object Bench {

  /** Version of the bench HARNESS semantics — what state an in-run
    * probe inherits from the preceding queries — stamped into both
    * JSON lines so dev/benchdiff.py can refuse to normalize across a
    * harness change. History: v1 = per-query cleanup relied on async
    * ContextCleaner broadcast reaping (~100 MB of residue survived
    * each pass; rounds ≤12); v2 = synchronous broadcast-block drop
    * between queries (round 13+ — every probe and query runs on a
    * clean block manager). Bump this whenever a Bench change alters
    * what probes or queries inherit, NOT for suite composition
    * changes (benchdiff handles added/removed queries itself). */
  private[graft] val BenchSemantics = 2

  /** 2-dp rendering with trailing zeros stripped ("0.50"→"0.5",
    * "3.00"→"3") — still valid JSON numbers, lossless for benchdiff's
    * purposes (flags require > 0.2 s absolute movement, where 0.01 s
    * rounding is ≤ 2.5%). */
  private[graft] def fmt2(v: Double): String = {
    val s = f"$v%.2f"
    if (s.contains('.')) s.replaceAll("0+$", "").stripSuffix(".") else s
  }

  /** The driver captures a bounded 2000-byte TAIL of the sbt log;
    * BENCH_r02's "parsed": null was the full-name, full-precision line
    * (~1.9 KB) overflowing that window and losing its head. Budget
    * levers, re-tightened r13 with the suite at 124 queries and
    * growing: qNN keys, trailing-zero-stripped 2-dp values, probe
    * timelines trimmed to PASS STARTS/ENDS only (the mid-pass probes
    * stay in the full-precision file; benchdiff pairs probes by
    * (position, occurrence), so a trimmed line still position-matches
    * an untrimmed one at the shared positions), and no "runs"/
    * "mem_probe_sec" fields (the latter is mem_probes[0]; both remain
    * in the full line). Spec-pinned ≤ 1830 bytes at 140 queries
    * (BenchLineSpec; the bench_semantics stamp costs 21 bytes). */
  private[graft] def shortLine(total: Double, probeSec: Double,
      probes: Seq[(Int, Double)], memProbes: Seq[(Int, Double)],
      shuffleSeed: Option[Long], timed: Seq[(String, Double)],
      failed: Seq[String], sfDir: String, nQueries: Int,
      windowField: String = ""): String = {
    def trim(ps: Seq[(Int, Double)]) =
      ps.filter { case (p, _) => p == 0 || p == nQueries }
        .map { case (p, s) => s"[$p,${fmt2(s)}]" }.mkString("[", ",", "]")
    val qs = timed
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmt2(v) }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val seedField = shuffleSeed.map(s => s""","shuffle_seed":$s""").getOrElse("")
    // last path component only ("sf0.1"): the scale factor is the
    // information; the directory prefix is 15 bytes of budget
    val sf = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","bench_semantics":$BenchSemantics,"probe_sec":${fmt2(probeSec)},"probes":${trim(probes)},"mem_probes":${trim(memProbes)}$seedField$windowField,"queries":$qs,"failed":$fs,"sf":"$sf"}"""
  }

  /** Self-defense against host windows (r15 verdict #2): the shipped
    * BENCH_r14.json carried start probe 1.9 vs the 0.76–0.86 of every
    * clean reading and entered the lineage as a silent regression until
    * benchdiff ruled it INCONCLUSIVE after the fact. Here the run
    * labels ITSELF: compare this run's start probes against the
    * probe lineage of prior records and stamp
    * `"window_suspect":[scanRatio(,memRatio)]` into both JSON lines
    * (plus a loud stderr line) when EITHER family reads > 1.5× its
    * reference. Reference = the MEDIAN of the prior records' start
    * probes (median, not latest: the latest record may itself be the
    * hot artifact — r14 was — and a hot reference would mask a hot
    * run), restricted to records whose sf tail matches this run's
    * (probe time scales with the data). Only inflation fires: hot
    * hosts AND cold page caches both INFLATE probes (the r14 discarded
    * first run read 6–9×); a faster-than-reference run is just a prior
    * record that should have labeled itself. Records parse by regex
    * from raw file text, so both the driver's wrapper format (bench
    * line inside a "tail" field) and a raw full line work. */
  private[graft] def windowStamp(probeSec: Double, memProbeSec: Double,
      sfTail: String, prevTexts: Seq[String]): (String, Option[String]) = {
    // the driver's wrapper format escapes the bench line's quotes
    // inside its "tail" string field (\"probe_sec\":1.9), so every
    // key-quote is optionally backslash-preceded — without this the
    // stamp silently never fires against driver-written records (the
    // r15 cold-window run read probe 5.5 unstamped; that was this bug)
    val probeRe = """"probe_sec\\?":([0-9.eE+-]+)""".r
    val memRe = """"mem_probes\\?":\[\[0,([0-9.eE+-]+)""".r
    val sfRe = """"sf\\?":\\?"([^"\\]+)""".r
    def median(xs: Seq[Double]): Option[Double] =
      if (xs.isEmpty) None
      else Some(xs.sorted.apply((xs.size - 1) / 2))
    val matching = prevTexts.filter(t => sfRe.findFirstMatchIn(t)
      .exists(_.group(1).split('/').filter(_.nonEmpty).last == sfTail))
    val refScan = median(matching.flatMap(t =>
      probeRe.findFirstMatchIn(t).map(_.group(1).toDouble)).filter(_ > 0))
    val refMem = median(matching.flatMap(t =>
      memRe.findFirstMatchIn(t).map(_.group(1).toDouble)).filter(_ > 0))
    val rScan = refScan.map(probeSec / _)
    val rMem = refMem.map(memProbeSec / _)
    if (rScan.exists(_ > 1.5) || rMem.exists(_ > 1.5)) {
      val ratios = (rScan.toSeq ++ rMem.toSeq).map(fmt2).mkString(",")
      (s""","window_suspect":[$ratios]""",
        Some(s"[bench] WINDOW-SUSPECT: start probes displaced vs the " +
          s"record lineage (scan ${rScan.map(fmt2).getOrElse("n/a")}x of " +
          s"median ${refScan.map(fmt2).getOrElse("n/a")}" +
          rMem.map(r => s"; mem ${fmt2(r)}x of median ${fmt2(refMem.get)}")
            .getOrElse("") +
          ") -- this run likely sits in a hot/cold host window; " +
          "do not record it without a re-run"))
    } else ("", None)
  }

  /** Prior bench records for [[windowStamp]]: an explicit `--prev
    * <path>` arg or SPARK_GRAFT_BENCH_PREV pins ONE reference file;
    * otherwise every BENCH_r*.json in the working directory (where the
    * driver runs) joins the median. Unreadable files are skipped — the
    * stamp is advisory and must never fail the bench. */
  private[graft] def prevRecordTexts(args: Array[String]): Seq[String] = {
    def readAll(p: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8"))
      catch { case _: Throwable => None }
    val pinned = args.sliding(2).collectFirst {
      case Array("--prev", p) => p
    }.orElse(sys.env.get("SPARK_GRAFT_BENCH_PREV"))
    pinned match {
      case Some(p) => readAll(p).toSeq
      case None =>
        Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .filter(_.getName.matches("BENCH_r\\d+\\.json"))
          .sortBy(_.getName).toSeq.flatMap(f => readAll(f.getPath))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    GraftSession.tune(spark)
    // ERROR, not WARN: stray WARN lines interleaving with the final
    // metric line have already cost one round of bench history
    // (BENCH_r01 "parsed": null)
    spark.sparkContext.setLogLevel("ERROR")
    // headline = every query that scales with the sf dir (etl_* read the
    // reference's fixed-size raw fixtures; they are verified, not benched)
    // SPARK_GRAFT_BENCH_ONLY (dev loop only; unset for driver runs):
    // comma-separated query-name substrings to bench in isolation
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq).getOrElse(Nil)
    val allHeadline = SparkEntry.queries.filterNot(_._1.startsWith("etl_"))
    val headline = allHeadline
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
    // warmup: JIT + codegen + parquet-footer caches (scan, broadcast
    // join, agg paths), so the alphabetically first query doesn't absorb
    // session startup in its measurement. The SECOND run of the same
    // query is timed as `probe_sec`: a fixed stock-Spark plan (scan +
    // broadcast join + agg) whose time moves with host speed but not
    // with any graft operator — BENCH_r{N} comparisons across rounds
    // divide by it to separate host drift from plan regressions
    // (rounds 5-7 burned days on exactly that ambiguity).
    def stockProbe(): Unit = {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_orderpriority")
      li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)), sum(round(col("l_quantity")).cast("long")))
        .write.format("noop").mode("overwrite").save()
    }
    // Second probe family, MEMORY-shaped where the stock probe is
    // scan-shaped: a multi-distinct aggregate whose Expand multiplies
    // every input row by (distinct-aggs + 1) before the hash
    // aggregate — sensitive to the block-manager/old-gen state the
    // scan probe cannot see (the r11 q48 adjudication: q48's
    // Expand-heavy plan wobbled 0.72–1.52× while the scan probe read
    // calm). Fixed plan, no graft operator.
    def memProbe(): Unit = {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey"), countDistinct("l_suppkey"),
          countDistinct("l_orderkey"), countDistinct("l_quantity"))
        .write.format("noop").mode("overwrite").save()
    }
    stockProbe() // warmup (untimed: absorbs session startup + codegen)
    memProbe()
    def timedProbe(): Double = {
      val t0 = System.nanoTime(); stockProbe(); (System.nanoTime() - t0) / 1e9
    }
    def timedMemProbe(): Double = {
      val t0 = System.nanoTime(); memProbe(); (System.nanoTime() - t0) / 1e9
    }
    val probeSec = timedProbe()
    val memProbeSec = timedMemProbe()
    // self-label a hot/cold host window NOW (stderr) and in both JSON
    // lines (window_suspect) — see windowStamp
    val sfTail = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val (windowField, windowWarn) =
      windowStamp(probeSec, memProbeSec, sfTail, prevRecordTexts(args))
    windowWarn.foreach(System.err.println)
    // All interleaved probes of the whole run as (query-index, sec):
    // a single start-of-run probe is blind to a host window opening
    // mid-suite (the r10 phantom-regression adjudication) — probes run
    // at each pass start, every `ProbeEvery` queries, and at pass end.
    // Their VALUES are noisy (measured 2× within-run wobble on a quiet
    // host — each probe sits in whatever GC/cache state the preceding
    // queries left), so they are not a normalization source; what IS
    // robust is comparing the probe at the same timeline position
    // across two runs — a host window shows up as a contiguous stretch
    // of elevated position-matched ratios, which benchdiff uses to
    // adjudicate host-vs-code without re-running the suite. Both
    // families emit at the same positions; benchdiff reads both.
    val ProbeEvery = 25
    val probes = scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, probeSec))
    val memProbes = scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, memProbeSec))
    // SPARK_GRAFT_BENCH_SHUFFLE=<seed>: run the suite in a seeded-
    // shuffled order instead of alphabetical. Positional interference
    // (one query's block/old-gen residue inflating its alphabetical
    // successors) follows the ORDER; a code regression follows the
    // QUERY — comparing a shuffled run against an alphabetical one
    // separates the two without isolated reruns. The seed rides in
    // the JSON so benchdiff refuses to position-match probe timelines
    // from differently-ordered runs (per-query comparisons are
    // order-independent and stay valid).
    val shuffleSeed = sys.env.get("SPARK_GRAFT_BENCH_SHUFFLE").map(_.toLong)
    val ordered = {
      val base = headline.toSeq.sortBy(_._1)
      shuffleSeed match {
        case Some(seed) => new scala.util.Random(seed).shuffle(base)
        case None       => base
      }
    }
    // SPARK_GRAFT_BENCH_PRE=N (dev loop only, requires ONLY): before each
    // timed pass, run the N queries alphabetically preceding the first
    // selected query — untimed, through the identical execute/cleanup
    // path — so in-suite state effects (block-manager pressure, old-gen
    // fill, codegen-cache churn) reproduce locally. The r7 q89 defect
    // (38 s in the driver's 107-query suite, 5.65 s isolated) was
    // invisible to every isolated measurement; this mode is the repro.
    val preamble: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
      val n = sys.env.get("SPARK_GRAFT_BENCH_PRE").map(_.toInt).getOrElse(0)
      if (n <= 0 || ordered.isEmpty) Nil
      else allHeadline.toSeq.sortBy(_._1)
        .takeWhile(_._1 != ordered.head._1).takeRight(n)
    }
    // Two timed passes per query; report the per-query minimum. Pass 1
    // absorbs JIT compilation and whole-stage-codegen class generation
    // for each query's own operator mix (LSH generators, ANN aggregates,
    // window paths); the minimum also rejects external-load noise on a
    // shared host. Reported numbers are steady-state throughput — the
    // quantity that matters on a long-lived cluster — not single-JVM
    // cold-start, matching the methodology of SCALE.md / BASELINE.md.
    // A failed attempt records None, never its elapsed time — an
    // analysis-time failure measures near zero and would silently
    // deflate the min-of-passes and the total.
    def runOne(name: String,
               fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Boolean, Double) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val t = (System.nanoTime() - t0) / 1e9
      // between queries (untimed): drop the finished query's cached,
      // checkpointed and broadcast blocks — 100+ queries of accumulated
      // blocks shrink execution memory for everything measured after
      // them (the round-3 q89 measurement-context gap, the r12 residue
      // verdict, the r13 broadcast residue)
      GraftSession.dropQueryState(spark)
      System.gc()
      (ok, t)
    }
    // what state SURVIVED the per-query cleanup — printed to stderr at
    // each pass end so residue growth is observable, never guessed
    def residueReport(tag: String): Unit = {
      val (bc, bcB, rdd, rddB, oth, othB) = org.apache.spark.graftbridge
        .BlockResidue.residue(spark.sparkContext)
      System.err.println(
        f"[bench] $tag residue: $bc broadcast blocks (${bcB / 1048576.0}%.1f MB), " +
          f"$rdd rdd blocks (${rddB / 1048576.0}%.1f MB), " +
          f"$oth other blocks (${othB / 1048576.0}%.1f MB)")
    }
    def timedPass(): Seq[(String, Option[Double])] = {
      preamble.foreach { case (n, fn) => runOne(n, fn) }
      def probeAt(pos: Int): Unit = {
        probes += ((pos, timedProbe()))
        memProbes += ((pos, timedMemProbe()))
      }
      probeAt(0)
      val raw = ordered.zipWithIndex.map { case ((name, fn), i) =>
        if (i > 0 && i % ProbeEvery == 0) probeAt(i)
        val (ok, t) = runOne(name, fn)
        name -> (if (ok) Some(t) else None)
      }
      // before the final probe: the report counts what the queries
      // left, not the probe's own broadcast blocks
      residueReport(s"pass end (after ${ordered.size} queries)")
      probeAt(ordered.size)
      raw
    }
    val pass1 = timedPass().toMap
    val results = timedPass().map { case (name, t2) =>
      // min over the passes that succeeded; None only if both failed
      name -> (t2.toSeq ++ pass1(name).toSeq).minOption
    }
    val timed = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = timed.map(_._2).sum
    // the driver keeps only this bounded short line (see shortLine's
    // budget doc); the full-name, full-precision record — including
    // the complete mid-pass probe timelines — goes to a file
    val json = shortLine(total, probeSec, probes.toSeq, memProbes.toSeq,
      shuffleSeed, timed, failed, sfDir, ordered.size, windowField)
    val seedField = shuffleSeed.map(s => s""","shuffle_seed":$s""").getOrElse("")
    val qsFull = timed.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val psFull = probes.map { case (p, s) => s"[$p,$s]" }
      .mkString("[", ",", "]")
    val mpFull = memProbes.map { case (p, s) => s"[$p,$s]" }
      .mkString("[", ",", "]")
    val jsonFull =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":2,"bench_semantics":$BenchSemantics,"probe_sec":$probeSec,"mem_probe_sec":$memProbeSec,"probes":$psFull,"mem_probes":$mpFull$seedField$windowField,"queries":$qsFull,"failed":$fs,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (jsonFull + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] full-json write failed: $e") }
    // stop FIRST, print LAST: nothing (shutdown logs, sbt chatter) may
    // follow the metric line on stdout — the driver parses it verbatim
    spark.stop()
    println(json)
  }
}
