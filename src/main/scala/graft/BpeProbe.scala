package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Checkpoints, LangModel}

/** Dev measurement: the distributed BPE schedule, incremental
  * pair-count maintenance (r11, the shipped path) vs the pre-r11
  * full-recount formulation (reconstructed inline below), on an
  * above-cutoff synthetic vocabulary. Usage:
  *
  *   dev/run.sh graft.BpeProbe [nWords] [nMerges]
  *
  * The old formulation re-exploded the ENTIRE segmented vocabulary and
  * re-aggregated every pair count on every merge — per-merge cost one
  * full explode+shuffle+sort over |vocab|·avg(|w|) pair rows, which is
  * why it was capped at 64 rounds. The incremental path explodes only
  * the words containing the merged pair and folds the delta into a
  * carried pair-count relation. Both produce byte-identical merge
  * tables (asserted here too, on top of the spec fuzz). */
object BpeProbe {

  /** `n` distinct pseudo-words of length 5-10 over 8 letters, counts
    * varying by id — a vocabulary-shaped relation (no corpus pass). */
  def synthVocabDocs(spark: SparkSession, n: Long): DataFrame = {
    spark.range(n).selectExpr(
      "id AS doc_id",
      // word from the id's base-8 digits mapped to a-h, length 5-10
      """concat_ws('', transform(sequence(0, 4 + cast(id % 6 AS INT)),
           i -> substring('abcdefgh', cast((id * (i + 3) + i * 31) % 8 AS INT) + 1, 1)))
         AS text""")
  }

  /** The pre-r11 loop: full pair recount per merge. */
  def oldDistributedBpe(docs: DataFrame, nMerges: Int): Seq[(Int, String, String, Long)] = {
    val spark = docs.sparkSession
    val wc = Checkpoints.materialize(docs
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c")))
    var vocab = wc.select(col("w"), concat(lit(" "),
      concat_ws(" ",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")),
      lit(" ")).as("s"), col("c"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    while (rank <= nMerges) {
      val top = vocab
        .select(col("c"), expr("split(trim(s), ' ')").as("sym"))
        .select(col("c"), explode(expr(
          """CASE WHEN size(sym) >= 2
             THEN transform(sequence(1, size(sym) - 1),
                    i -> struct(element_at(sym, i) AS l,
                                element_at(sym, i + 1) AS r))
             ELSE cast(array() AS array<struct<l:string,r:string>>) END"""))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) rank = nMerges + 1
      else {
        val row = top.head
        val (l, r, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((rank, l, r, cnt))
        vocab = Checkpoints.materialize(vocab.select(col("w"),
          expr(s"replace(replace(replace(s, ' ', '  '), ' $l  $r ', ' $l$r '), '  ', ' ')")
            .as("s"), col("c")))
        rank += 1
      }
    }
    merges.toSeq
  }

  /** `dev/run.sh graft.BpeProbe schedule [nWords] [nMerges] [window]`
    * — the production-vocabulary question (r15 verdict #5): the
    * trainer is oracle-verified to 128 merges, but a real tokenizer
    * runs 32k–100k; what does a long schedule COST on the incremental
    * distributed path, and is the per-merge price constant (the
    * constant-jobs-per-merge claim) or does it drift as the symbol
    * inventory grows? Runs an above-cutoff vocabulary through
    * `nMerges` distributed-incremental merges, printing wall + Spark
    * job count per `window`-merge window — the curve is the deliverable
    * (flat s/merge ⇒ the 32k wall is merges × s/merge, a scheduling
    * fact, and merge-batching is the lever if that wall matters). */
  private def scheduleProbe(spark: SparkSession, nWords: Long,
                            nMerges: Int, window: Int): Unit = {
    val docs = synthVocabDocs(spark, nWords)
    docs.cache().count()
    val tracker = spark.sparkContext.statusTracker
    var lastT = System.nanoTime()
    var lastJobs = tracker.getJobIdsForGroup(null).length
    // per-run restart dir (the PqProbe convention): a FIXED dir would
    // make a second probe run on the same host resume the previous
    // run's committed merge schedule and silently skew the curve
    val restartDir = java.nio.file.Files
      .createTempDirectory("bpe-schedule-probe").toString
    println(s"vocab=$nWords merges=$nMerges window=$window")
    var done = 0
    while (done < nMerges) {
      val step = math.min(window, nMerges - done)
      // restartDir carries the loop state across windows: each window
      // RESUMES the schedule (the trainer's own restart contract), so
      // the probe measures windows of one continuous schedule, not
      // nWindows independent schedules
      // restartEvery = window: commit once per window (resume points
      // at the boundaries the probe resumes at), so the curve reads
      // merge cost, not per-merge checkpoint churn
      val _ = LangModel.bpeLoop(docs, done + step, "text", 0L,
        restartDir = Some(restartDir),
        restartEvery = window)
      done += step
      val now = System.nanoTime()
      val jobs = tracker.getJobIdsForGroup(null).length
      println(f"merges ${done - step}%6d..$done%6d: " +
        f"${(now - lastT) / 1e9}%7.1f s  " +
        f"${(now - lastT) / 1e9 / step}%6.3f s/merge  " +
        f"jobs=${jobs - lastJobs}%6d (${(jobs - lastJobs).toDouble / step}%5.1f/merge)")
      lastT = now; lastJobs = jobs
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("schedule")) {
      val spark = GraftSession.local("bpe-schedule")
      spark.sparkContext.setLogLevel("ERROR")
      scheduleProbe(spark,
        args.lift(1).map(_.toLong).getOrElse(2500000L),
        args.lift(2).map(_.toInt).getOrElse(2048),
        args.lift(3).map(_.toInt).getOrElse(256))
      spark.stop(); return
    }
    val nWords = args.headOption.map(_.toLong).getOrElse(200000L)
    val nMerges = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val spark = GraftSession.local("bpe-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val docs = synthVocabDocs(spark, nWords)
    docs.cache().count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // incremental (shipped): driverCutoff=0 forces the distributed path
    val (inc, tInc) = timed {
      LangModel.bpeLoop(docs, nMerges, "text", 0L)._2
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(4))).toSeq
    }
    val (old, tOld) = timed(oldDistributedBpe(docs, nMerges))
    require(inc == old, "formulations diverged — measurement invalid")
    println(f"vocab=$nWords merges=${inc.size} " +
      f"incremental=${tInc}%.1fs (${tInc / inc.size}%.2f s/merge) " +
      f"full-recount=${tOld}%.1fs (${tOld / old.size}%.2f s/merge) " +
      f"speedup=${tOld / tInc}%.2fx")
    spark.stop()
  }
}
