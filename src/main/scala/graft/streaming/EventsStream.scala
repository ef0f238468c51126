package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.io.Io

/** Structured Streaming twin of graft.ops.Events.
  *
  * The reference pipeline is batch-only (SURVEY.md §2.12); its scaling
  * answer is "partition by date and run daily" (README.md:116-117). This
  * module is the continuous version of that story: the same event-stream
  * semantics expressed over `readStream`, so a daily batch and a live
  * stream share one engine.
  *
  * Scale design: the windowed aggregate is a streaming state store keyed
  * by (window, event_type) — watermarking bounds state; sessionization
  * keeps one small state record per active user and emits sessions as
  * soon as a gap closes them, so state size tracks active users, not
  * event volume.
  */
object EventsStream {

  /** events parquet schema with `ts` as epoch-nanos int64 — the
    * engine's INTERNAL event shape (all downstream unit math and the
    * [[Event]] encoder assume Long nanos). Files written with a
    * timestamp-typed `ts` are adapted at read (see [[readEvents]]). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Canonical nanos→timestamp conversion for event time — single
    * definition so the window agg, stream-stream join, and session
    * watermarks can never desynchronize on the unit math. */
  private def eventTime = timestamp_micros(expr("ts div 1000L"))

  /** File-source stream over a directory of events parquet files.
    *
    * A streaming source needs a fixed schema up front, but the events
    * data exists in two physical shapes (INT64 nanos vs
    * TIMESTAMP(MICROS) — the testdata regenerated from one to the
    * other once already), so the reader peeks the directory's parquet
    * footers via a batch read (metadata-only, no data scan) and
    * normalizes `ts` to the internal epoch-nanos Long with
    * [[graft.ops.Events.withTsNanos]] — a scan-local projection, fully
    * stream-compatible. An empty/unreadable dir falls back to the
    * internal schema. */
  def readEvents(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // NonFatal only: an OOM/interrupt must propagate, and a corrupt
    // footer should fail loudly here rather than as a confusing type
    // error mid-stream. The expected miss is the empty-dir
    // AnalysisException on a stream started before its source exists.
    val physical =
      try Io.readParquet(spark, dir).schema
      catch {
        case scala.util.control.NonFatal(e) =>
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"events schema peek failed for $dir (${e.getMessage}); " +
              "falling back to the internal INT64-nanos schema")
          eventsSchema
      }
    val r = spark.readStream.schema(physical)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    graft.ops.Events.withTsNanos(r.parquet(dir))
  }

  /** Tumbling 1-hour event-time window with a 1-hour watermark: count +
    * exact value cents per (window, event_type). Late data beyond the
    * watermark is dropped; state for closed windows is evicted. */
  def hourlyAggStream(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", eventTime)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("event_cnt"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        (unix_timestamp(col("window.start")) / 3600).cast("long").as("hour_idx"),
        col("event_type"), col("event_cnt"), col("value_cents"))

  // ---- streaming exact dedup ----------------------------------------

  /** documents.parquet physical schema for file-source streams. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocuments(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(documentsSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(dir)
  }

  /** Streaming exact dedup: the first document seen per normalized
    * content fingerprint passes; later arrivals — same batch or any
    * later batch — are dropped by the dedup state store. The streaming
    * twin of Dedup.exactDedupedCorpus (keeper = first-seen rather than
    * min-id, the natural streaming semantics). */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("fingerprint", graft.ops.TextStats.fingerprint(col("text")))
      .dropDuplicates("fingerprint")

  /** Bounded-state streaming dedup: like [[dedupStream]], but the
    * fingerprint state expires once ingestion time passes `retention`
    * (dropDuplicatesWithinWatermark). This is the at-scale trade: over
    * an unbounded feed the plain dedup state grows with corpus history
    * and eventually cannot fit any store, while here state tracks the
    * retention window only — a duplicate arriving later than the window
    * slips through and is caught by the periodic batch compaction that
    * near-dedup already requires. */
  def dedupStreamBounded(docs: DataFrame, retention: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", graft.ops.TextStats.fingerprint(col("text")))
      .withColumn("ingest_time", current_timestamp())
      .withWatermark("ingest_time", retention)
      .dropDuplicatesWithinWatermark("fingerprint")
      .drop("ingest_time")

  /** Streaming curation: the continuous twin of Curation.curate's
    * exact-dedup + quality-gate stages. Text stats, quality scoring and
    * lang-id are scan-local expressions, so they stream unchanged; the
    * dedup is the fingerprint state store. The LSH near-dup stage is
    * deliberately absent — it is a corpus-global self-join, inherently
    * batch; at scale it runs as a periodic compaction over the curated
    * stream's output (the standard lambda split for near-dedup). */
  def curateStream(docs: DataFrame, minQuality: Double = 0.7): DataFrame =
    graft.ops.TextStats.statsFor(dedupStream(docs))
      .where(col("quality_score") >= minQuality)
      .select("doc_id", "n_chars", "n_tokens", "quality_score", "lang_pred")

  /** The full streaming curation story, compaction cycle included —
    * the lambda split [[curateStream]]'s scaladoc promises, wired:
    * exact dedup streams (stage 1: the fingerprint state store, text
    * carried through to `sinkDir`), and every `compactEvery` batches a
    * foreachBatch hook runs [[graft.ops.Curation.nearDupAndQuality]]
    * (stages 2-3: the corpus-global LSH self-join plus the quality
    * gate) over the ACCUMULATED sink, rewriting `compactedDir`. After
    * any compaction, `compactedDir` equals one-shot batch
    * `Curation.curate` over every document ingested so far
    * (spec-asserted across ≥2 cycles) — the only semantic difference
    * is the stream's first-seen exact-dedup keeper vs batch min-id,
    * which coincide under in-order arrival.
    *
    * Scale: the streaming leg stays per-row (state = one fingerprint
    * per distinct content); the compaction leg is the same
    * bucket-capped LSH join verified at 100× dup density (SCALE.md),
    * re-run over exact-dedup survivors only — at web scale the sink it
    * rescans is the distinct-content corpus, already the smallest
    * relation in the pipeline. Returns the writer; callers set
    * checkpoint/trigger and start.
    *
    * Replay safety: foreachBatch re-invokes with the SAME batchId after
    * a mid-batch failure, so a plain append sink would duplicate the
    * replayed rows. Each batch instead overwrites its own
    * `batch=<id>/` subdirectory — re-running batch k replaces batch
    * k's files and nothing else, making the sink idempotent per the
    * foreachBatch exactly-once contract. */
  def curateStreamCompacted(docs: DataFrame, sinkDir: String,
                            compactedDir: String, compactEvery: Int = 1,
                            params: graft.ops.Curation.Params = graft.ops.Curation.Params())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(compactEvery >= 1, s"compactEvery $compactEvery must be >= 1")
    val fn: (Dataset[org.apache.spark.sql.Row], Long) => Unit = { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
      if ((id + 1) % compactEvery == 0)
        compactCurated(batch.sparkSession, sinkDir, compactedDir, params)
    }
    dedupStream(docs).writeStream.foreachBatch(fn)
  }

  /** One compaction cycle: batch-curate the accumulated exact-deduped
    * sink and replace `compactedDir`. Also the catch-up entry point for
    * duplicates that slipped a bounded-retention dedup state
    * ([[dedupStreamBounded]]): exact-dup pairs are jaccard-1.0 LSH
    * pairs, so the near-dup stage removes them here. The `batch=<id>`
    * layout reads back as a partition column; it is provenance, not
    * content, and is dropped before curation. */
  def compactCurated(spark: SparkSession, sinkDir: String,
                     compactedDir: String,
                     params: graft.ops.Curation.Params = graft.ops.Curation.Params()): Unit =
    graft.ops.Curation.nearDupAndQuality(
        Io.readParquet(spark, sinkDir).drop("batch"), params)
      .write.mode("overwrite").parquet(compactedDir)

  // ---- stream-stream join -------------------------------------------

  /** Watermarked stream-stream join: attribute each purchase to a signup
    * by the same user within the preceding `windowDays`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * the state store retains only the active window of each side —
    * unbounded streams, bounded state. */
  def purchaseAttribution(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val base = events
      .withColumn("event_time", eventTime)
    val purchases = base.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("purchase_time"), col("value"))
      .withWatermark("purchase_time", "1 hour")
    val signups = base.where(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"),
        col("user_id").as("s_user_id"),
        col("event_time").as("signup_time"))
      .withWatermark("signup_time", "1 hour")
    purchases.join(signups,
      col("user_id") === col("s_user_id") &&
      col("signup_time") <= col("purchase_time") &&
      col("signup_time") >= col("purchase_time") - expr(s"INTERVAL $windowDays DAYS"))
      .select(col("purchase_id"), col("user_id"), col("purchase_time"),
        col("signup_id"), col("signup_time"),
        round(col("value") * 100).cast("long").as("value_cents"))
  }

  /** Declarative sessionization via the built-in session_window
    * operator: per-user windows with a `gap` inactivity bound merge as
    * events arrive, and append mode emits each session exactly once —
    * when the watermark passes its close. The complement of
    * [[sessionizeStream]]: no user state code, merge handled by the
    * state store's window-merge path; the operator defines window end
    * as last-event + gap, so end_us = sessionize's session_end_us + gap.
    *
    * Scale: state is keyed (user, open window) and evicted at
    * watermark; per-key merges are local to the (user)-hashed state
    * partition, so the operator scales with active users per trigger,
    * exactly like the hand-rolled sessionizer. */
  def sessionWindowStream(events: DataFrame, gap: String = "30 minutes",
                          delay: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time", eventTime)
      .withWatermark("event_time", delay)
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("window_end_us"),
        col("n_events"), col("value_cents"))

  // ---- stateful sessionization --------------------------------------

  final case class Event(event_id: Long, ts: Long, user_id: Long,
                         event_type: String, value: Double, props: String)
  /** Open session carried across micro-batches for one user. */
  final case class SessionState(sessionSeq: Long, startUs: Long, lastUs: Long,
                                nEvents: Long, valueCents: Long)
  final case class Session(user_id: Long, session_seq: Long, n_events: Long,
                           session_start_us: Long, session_end_us: Long,
                           value_cents: Long)

  private val GapUs: Long = 30L * 60L * 1000L * 1000L

  /** flatMapGroupsWithState sessionizer: emits a session whenever a
    * >30-min gap (or new data in a later batch) closes it; the open
    * session persists in the state store. With `flushIdle = true`, an
    * event-time timeout also flushes sessions whose gap window has
    * passed the watermark — so idle users' sessions eventually emit
    * instead of living in state forever (and state is evicted).
    *
    * Session contents (start/end/events/cents) match Events.sessionize;
    * `session_seq` numbering restarts after an idle flush evicts a
    * user's state (bounded state ⇔ no forever-counters), so the stable
    * session key is (user_id, session_start_us), not (user_id,
    * session_seq). */
  def sessionizeStream(events: Dataset[Event],
                       flushIdle: Boolean = false): Dataset[Session] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[Session]
    val (prepared, timeoutConf) =
      if (flushIdle) {
        import events.sparkSession.implicits._
        // the watermark column must survive into the stateful operator's
        // child plan; .as[Event] tolerates the extra column
        val withTime = events
          .withColumn("event_time", eventTime)
          .withWatermark("event_time", "30 minutes")
          .as[Event]
        (withTime, GroupStateTimeout.EventTimeTimeout())
      } else (events, GroupStateTimeout.NoTimeout())
    prepared.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (flushIdle && state.hasTimedOut) {
            val flushed = state.getOption.map { s =>
              Session(userId, s.sessionSeq, s.nEvents, s.startUs, s.lastUs,
                s.valueCents)
            }
            state.remove()
            flushed.iterator
          } else {
          val sorted = it.toSeq.sortBy(e => (e.ts, e.event_id))
          var closed = List.newBuilder[Session]
          var cur = state.getOption
          for (e <- sorted) {
            val tsUs = e.ts / 1000L
            // same rounding as Spark's round(): HALF_UP away from zero
            // (JVM Math.round is half-up toward +inf, diverging on
            // negative cents)
            val cents = BigDecimal(e.value * 100)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            cur match {
              case Some(s) if tsUs - s.lastUs <= GapUs =>
                // max(): an out-of-order straggler from a later batch must
                // not move the session end backwards
                cur = Some(s.copy(lastUs = math.max(s.lastUs, tsUs),
                  nEvents = s.nEvents + 1,
                  valueCents = s.valueCents + cents))
              case Some(s) =>
                closed += Session(userId, s.sessionSeq, s.nEvents, s.startUs,
                  s.lastUs, s.valueCents)
                cur = Some(SessionState(s.sessionSeq + 1, tsUs, tsUs, 1, cents))
              case None =>
                cur = Some(SessionState(1, tsUs, tsUs, 1, cents))
            }
          }
          cur.foreach(state.update)
          if (flushIdle) cur.foreach { s =>
            // flush once the gap window passes the watermark
            state.setTimeoutTimestamp(s.lastUs / 1000L + 30L * 60L * 1000L)
          }
          closed.result().iterator
          }
      }
  }

  // ---- streaming CDC materialization --------------------------------

  /** Continuously materialize a changelog stream into a latest-state
    * parquet table — the streaming twin of [[graft.ops.Cdc
    * .applyChangelog]], and the sink side of an upsert pipeline
    * (foreachBatch is exactly how Spark's docs integrate non-upsert
    * sinks with idempotent merge logic).
    *
    * Per micro-batch: collapse THIS batch's rows to latest-per-key
    * (applyChangelog), full-outer-merge into the current snapshot
    * (batch wins on key collision; a batch delete removes the key),
    * and swap the snapshot directory via staged renames — readers see
    * old files or new, never a half-written mix, though the path can be
    * briefly absent between the two renames (retry-on-miss semantics,
    * same contract as [[graft.io.Io.compact]]). Restart-safe in two
    * layers: the merge is idempotent for a replayed batch (checkpoint
    * recovery re-applying the last batch converges to the same table),
    * and a crash BETWEEN the renames is repaired at the next batch —
    * a stranded `__cdc_old` with no live snapshot is restored before
    * the merge reads it, so a restart never mistakes a mid-swap crash
    * for an empty table and silently rebuilds from one batch. Renames
    * are return-checked; a failed rename fails the batch (and the
    * query) loudly with the recovery path named.
    *
    * Scale: state IS the snapshot table (no executor state store to
    * size); each trigger costs one key-join of snapshot × batch. For
    * key-partitioned snapshots the join prunes to touched partitions
    * via [[graft.io.Io.overwritePartitions]]-style dynamic overwrite —
    * the local-FS rename swap here keeps the engine-side contract
    * simple and object-store-agnostic. */
  def cdcMaterialize(log: DataFrame, snapshotDir: String,
                     keys: Seq[String], seqCol: String, opCol: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    log.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val latest = graft.ops.Checkpoints.materialize(
        graft.ops.Cdc.applyChangelog(batch, keys, col(seqCol), col(opCol)))
      val deletes = graft.ops.Checkpoints.materialize(
        graft.ops.Cdc.deletedKeys(batch, keys, col(seqCol), col(opCol)))
      val fs = new org.apache.hadoop.fs.Path(snapshotDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cur = new org.apache.hadoop.fs.Path(snapshotDir)
      val old = new org.apache.hadoop.fs.Path(snapshotDir + "__cdc_old")
      // crash recovery from a previous interrupted swap (see scaladoc)
      if (fs.exists(old)) {
        if (!fs.exists(cur)) {
          if (!fs.rename(old, cur))
            throw new java.io.IOException(
              s"cdcMaterialize: recovery rename $old -> $cur failed; snapshot is in $old")
        } else fs.delete(old, true)
      }
      val merged =
        if (fs.exists(cur)) {
          val snap = Io.readParquet(spark, snapshotDir)
          snap.join(latest.select(keys.map(col): _*), keys, "left_anti")
            .unionByName(latest.drop(seqCol, opCol))
            .join(deletes, keys, "left_anti")
        } else latest.drop(seqCol, opCol).join(deletes, keys, "left_anti")
      val tmp = new org.apache.hadoop.fs.Path(snapshotDir + "__cdc_tmp")
      merged.write.mode("overwrite").parquet(tmp.toString)
      if (fs.exists(cur) && !fs.rename(cur, old))
        throw new java.io.IOException(
          s"cdcMaterialize: rename $cur -> $old failed; snapshot untouched, staging in $tmp")
      if (!fs.rename(tmp, cur))
        throw new java.io.IOException(
          s"cdcMaterialize: rename $tmp -> $cur failed; PRIOR SNAPSHOT IS IN $old " +
            "(next batch restores it)")
      fs.delete(old, true)
      ()
    }
  }
}
