package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Io

/** Deterministic sequence packing: assign documents to fixed-capacity
  * training bins (the "pack documents into 2k/4k-token sequences" step
  * of an LLM data pipeline) by running token count.
  *
  * Documents are first split into `numGroups` deterministic hash groups
  * (same salted-md5 arithmetic as [[Sampling.hashBucket]] — reproducible
  * on any engine); within a group, docs are packed in doc_id order: a
  * doc's bin is its exclusive running-token-offset divided by the
  * capacity, i.e. each doc lands in the bin where its first token would
  * fall when the group's docs are laid out back-to-back. A doc may
  * straddle a boundary — the contract of streaming concat-then-chunk
  * packing (chunk-level reshaping is [[Chunker.slidingWindows]]).
  *
  * Scale: the only shuffle is the group-local sort for the running sum;
  * groups are independent, so parallelism = numGroups — size it ≥ the
  * cluster's cores (the default here suits local[32]; at 100 TB pick
  * thousands, or a natural partition like (source, day)). No global
  * sort, no driver state. */
object Packer {

  def packSequences(docs: DataFrame, capacityTokens: Int = 256,
                    numGroups: Int = 32, textCol: String = "text",
                    salt: String = "pack"): DataFrame =
    packCounted(docs.select(col("doc_id"),
      size(TextStats.tokens(col(textCol))).cast("long").as("n_tokens")),
      capacityTokens, numGroups, salt)

  /** [[packSequences]] over EXPLICIT per-document token counts —
    * (doc_id, n_tokens) — instead of whitespace counts: the packing
    * step of a TOKENIZED pipeline, where lengths come from the
    * tokenizer actually shipping ([[graft.ops.LangModel.bpeEncode]]'s
    * n_tokens; whitespace counts drift badly from BPE lengths on
    * long/rare words). Identical grouping, ordering, and bin
    * arithmetic; identical output schema. */
  def packTokenized(counts: DataFrame, capacityTokens: Int = 256,
                    numGroups: Int = 32, salt: String = "pack"): DataFrame =
    packCounted(counts.select(col("doc_id"),
      col("n_tokens").cast("long").as("n_tokens")),
      capacityTokens, numGroups, salt)

  /** Materialized fixed-length training sequences — the relation a
    * trainer actually reads, where [[packTokenized]] stops at the
    * doc→bin map: each (pack_group, seq_id) row carries EXACTLY the
    * tokens of one capacity-sized window over the group's
    * concatenated-in-doc_id-order token stream, so a document
    * straddling a boundary is SPLIT at token level (the
    * concat-then-chunk contract). Input is [[graft.ops.LangModel
    * .bpeEncode]]'s schema (doc_id, token_ids, n_tokens); output
    * (pack_group, seq_id, token_ids, n_tokens), where only each
    * group's final sequence may be shorter than the capacity —
    * `dropRemainder = true` drops those (the training-shard
    * convention when partial sequences are not padded).
    * `docSpans = true` additionally emits `doc_spans`
    * (array<struct<doc_id, start, end>>, start-ascending, end
    * INCLUSIVE): the per-sequence document boundaries a trainer
    * rebuilds its block-diagonal attention mask from — packed
    * sequences concatenate unrelated documents, and attention must
    * not cross their boundaries.
    *
    * Scale shape: the doc→(group, offset) map is [[packTokenized]]
    * (one group-local sort per pack_group); placement joins the
    * doc-level map against the UNEXPLODED token arrays on doc_id and
    * explodes AFTER the join (r18; guide §3.3 "explode before a join
    * multiplies the shuffle" — when the doc map outgrows broadcast,
    * a shuffled doc_id join moves each token array once instead of
    * one ~24-byte row per token; local plans broadcast the map either
    * way, so the bench price is zero). Assembly is one
    * (pack_group, seq_id)-keyed aggregation whose groups are bounded
    * by the capacity — per-token rows by measurement: a slice-based
    * assembly (array slices concatenated per sequence) shuffled ~5×
    * fewer bytes but ran 30-40% slower at sf0.1 AND 10× — interpreted
    * ordering over struct-with-array elements and non-codegen
    * higher-order lambdas cost more than the bytes saved on
    * memory-speed local shuffle. numGroups is the parallelism knob,
    * as documented on the object. `enc` is read TWICE (placement +
    * the doc→bin map): a persisted table pays two column-pruned
    * scans; an inline derivation (e.g. a fresh
    * [[graft.ops.LangModel.bpeEncode]] chain) should be staged by the
    * caller first — ReuseExchange does not survive the differing
    * prunes (the q121 lesson). */
  def materializeTokenShards(enc: DataFrame, capacityTokens: Int = 256,
                             numGroups: Int = 32, salt: String = "pack",
                             dropRemainder: Boolean = false,
                             docSpans: Boolean = false): DataFrame = {
    val packed = packTokenized(enc.select(col("doc_id"), col("n_tokens")),
      capacityTokens, numGroups, salt)
    val placed = enc.select(col("doc_id"), col("token_ids"))
      .join(packed.select("doc_id", "pack_group", "bin_offset"), Seq("doc_id"))
      .select(col("doc_id"), col("pack_group"), col("bin_offset"),
        posexplode(col("token_ids")).as(Seq("tpos", "token_id")))
      .select(col("pack_group"),
        expr(s"(bin_offset + tpos) div $capacityTokens").as("seq_id"),
        pmod(col("bin_offset") + col("tpos"), lit(capacityTokens.toLong))
          .as("pos_in_seq"),
        col("token_id"), col("doc_id"))
    val seqs = assembleSequences(placed)
    val withSpans = if (docSpans) seqs else seqs.drop("doc_spans")
    if (dropRemainder) withSpans.where(col("n_tokens") === capacityTokens)
    else withSpans
  }

  /** (pack_group, seq_id, pos_in_seq, token_id, doc_id) placement rows
    * → one row per sequence with token_ids, n_tokens, doc_spans —
    * the assembly stage shared by [[materializeTokenShards]] and
    * [[appendToTokenShardStore]] (the append path derives its
    * placement from a carry origin instead of a fresh pack, then
    * assembles identically — which is what makes append ≡ rebuild). */
  private def assembleSequences(placed: DataFrame): DataFrame = {
    placed.groupBy("pack_group", "seq_id")
      .agg(sort_array(collect_list(
        struct(col("pos_in_seq"), col("token_id"), col("doc_id")))).as("tt"))
      // per-sequence document boundaries, start-ascending: the
      // block-diagonal attention mask a trainer rebuilds from a
      // concat-then-chunk shard (attention must not cross document
      // boundaries inside a packed sequence). tt is pos-sorted and a
      // doc's tokens are consecutive by the placement arithmetic, so
      // spans fall out of the doc-change BOUNDARIES: __si collects the
      // 0-based indices where tt's doc_id differs from its
      // predecessor (one O(1) element_at per position — the 1-based
      // element_at(tt, i) IS the predecessor of 0-based i), and each
      // span runs from its boundary to just before the next. O(n)
      // total where the r13 per-doc filter() rescans were
      // O(n · docs_per_seq) — the one quadratic expression the r13
      // verdict flagged (capacity-bounded, but needlessly so).
      .withColumn("__si", expr(
        """filter(transform(tt, (x, i) ->
             if(i = 0, i,
                if(element_at(tt, i).doc_id != x.doc_id, i, -1))),
           v -> v >= 0)"""))
      .select(col("pack_group"), col("seq_id"),
        expr("transform(tt, x -> x.token_id)").as("token_ids"),
        size(col("tt")).cast("long").as("n_tokens"),
        // span k: starts at tt[si[k]] (element_at is 1-based: si[k] is
        // the k-th 0-based boundary, so tt element si[k]+1); ends at
        // the element just before the NEXT boundary — 1-based index
        // si[k+1] — or at the sequence's last element. End inclusive.
        expr("""transform(__si, (s, k) -> named_struct(
              'doc_id', element_at(tt, s + 1).doc_id,
              'start', element_at(tt, s + 1).pos_in_seq,
              'end', element_at(tt,
                if(k + 2 <= size(__si), element_at(__si, k + 2), size(tt))
              ).pos_in_seq))""")
          .as("doc_spans"))
  }

  /** Deterministic pseudorandom shuffle of packed training sequences
    * into `numShards` reader shards — the "global shuffle before
    * training" step: [[materializeTokenShards]] emits sequences in
    * (pack_group, seq_id) order, which is doc_id order, which is
    * corpus order — and corpus order is crawl order, so a trainer
    * reading shards sequentially would see a topical/temporal
    * curriculum nobody asked for. Every sequence gets a shuffle key =
    * salted-md5(seed | pack_group | seq_id) (the [[Sampling
    * .hashBucket]] arithmetic — reproducible on any engine, and a new
    * `seed` is a fresh epoch-order for free); its shard is the key mod
    * `numShards`, its position within the shard is ascending key
    * (ties by (pack_group, seq_id) — unreachable for md5-128 but
    * pinned anyway so the contract is total).
    *
    * Scale shape: one hash projection + ONE shard-keyed exchange with
    * an in-shard sort — no global sort, no driver state. Each shard
    * sorts within one task, which is exactly the training-shard
    * contract: a shard IS the unit one reader consumes, so size
    * `numShards` to the reader fleet (thousands at 100 TB), never to
    * the corpus. Output = input columns + (shard, shard_pos). */
  def shuffleSequences(seqs: DataFrame, numShards: Int = 32,
                       seed: String = "shuffle"): DataFrame = {
    require(numShards > 0, s"numShards ($numShards) must be positive")
    val w = Window.partitionBy("shard")
      .orderBy(col("__skey"), col("pack_group"), col("seq_id"))
    seqs.withColumn("__skey", shuffleKey(seed))
      .withColumn("shard", pmod(col("__skey"), lit(numShards.toLong)))
      .withColumn("shard_pos", row_number().over(w).cast("long") - 1)
      .drop("__skey")
  }

  /** The [[shuffleSequences]] key — salted-md5(seed | pack_group |
    * seq_id), non-negative. Persisted as `skey` in the shard store so
    * in-shard training order is a property of the ROWS (merge of any
    * batch set by ascending key), not of one write's row_number. */
  private def shuffleKey(seed: String): Column =
    graft.functions.TextExpressions.md5_lower64(
        concat(lit(seed), lit("|"), col("pack_group").cast("string"),
          lit("|"), col("seq_id").cast("string")))
      .bitwiseAND(lit(Long.MaxValue))

  /** Persist the trainer-facing SHARD STORE — the artifact the whole
    * curate → select → tokenize → pack → shuffle pipeline exists to
    * produce, in the layout a reader fleet mounts:
    *
    *  - `dir/shards/batch=<id>/shard=<n>/` — one directory per
    *    (ingest batch, reader shard): (skey, pack_group, seq_id,
    *    token_ids, n_tokens[, doc_spans]). The initial write is
    *    `batch=base`; [[appendToTokenShardStore]] adds sibling batch
    *    directories without touching existing ones. In-shard training
    *    order is ascending (skey, pack_group, seq_id) — a property of
    *    the rows, so any batch set merges into one total order;
    *    [[readTokenShardStore]] derives `shard_pos` from it.
    *  - `dir/carry/batch=<id>` — per-pack-group CONTINUATION state
    *    (pack_group, tail_seq_id, token_ids, doc_spans, max_doc_id):
    *    the partial tail sequence `dropRemainder` withheld from the
    *    shards plus the group's packing cursor, which is exactly what
    *    an append needs to continue each group's token stream AS IF
    *    the increment had been in the original corpus (append ≡
    *    rebuild, spec-asserted). Written only for dropRemainder
    *    stores; `doc_spans` ride the carry regardless of the store's
    *    docSpans flag (the append must re-derive per-token doc ids).
    *    `dir/carry/CURRENT` names the lineage TIP (each batch dir's
    *    `_PREV` marker records its origin): appends may continue only
    *    from the tip — a stale carry's tail was already completed by
    *    a later batch, and re-placing it would emit duplicate
    *    sequences (refused loudly; replays are recognized by their
    *    `_PREV`).
    *  - `dir/manifest/batch=<id>` — (shard, n_sequences, n_tokens)
    *    PER BATCH, each derived by READING BACK that batch's own
    *    files, so the manifest can never disagree with them (a
    *    manifest computed from the input plan would silently mask a
    *    partial write); per-batch derivation keeps an append's
    *    manifest cost O(batch), not O(store history) — a streaming
    *    sink appends every micro-batch. Store totals = the relation
    *    summed over batches;
    *  - `dir/params` — (capacity_tokens, num_groups, num_shards,
    *    seed, salt, drop_remainder, doc_spans): the facts a reader or
    *    append must not have to guess, validated by
    *    [[readTokenShardStore]] with the [[graft.ops.LangModel
    *    .loadBpeModel]] refusal convention.
    *
    * Overwrite semantics: re-running a crashed write replaces it (the
    * per-relation overwrite is the idempotent-replay contract every
    * store here uses). `dropRemainder` defaults TRUE here — a
    * persisted training shard is consumed by fixed-shape readers.
    * Cost shape: two passes over `enc` beyond [[materializeTokenShards]]'
    * own two (the carry derivation re-aggregates the doc map and
    * filters the tail sequences) — `enc` should be a staged/persisted
    * relation, as documented on the operator. */
  def writeTokenShardStore(enc: DataFrame, dir: String,
                           capacityTokens: Int = 256, numGroups: Int = 32,
                           numShards: Int = 32, seed: String = "shuffle",
                           salt: String = "pack",
                           dropRemainder: Boolean = true,
                           docSpans: Boolean = true): Unit = {
    val spark = enc.sparkSession
    val seqsAll = materializeTokenShards(enc, capacityTokens, numGroups, salt,
      dropRemainder = false, docSpans = true)
    val kept0 = if (dropRemainder)
      seqsAll.where(col("n_tokens") === capacityTokens) else seqsAll
    val kept = if (docSpans) kept0 else kept0.drop("doc_spans")
    writeShardBatch(kept, dir, "base", seed, numShards)
    if (dropRemainder) {
      writeCarry(
        packTokenized(enc.select(col("doc_id"), col("n_tokens")),
            capacityTokens, numGroups, salt)
          .groupBy("pack_group")
          .agg(max("doc_id").as("max_doc_id"),
            sum("n_tokens").cast("long").as("total_tokens")),
        seqsAll.where(col("n_tokens") < capacityTokens),
        dir, "base", capacityTokens)
      // the carry lineage TIP — appends must continue from here, and
      // only from here (a stale carry's tail was already completed by
      // a later batch; re-placing it would corrupt the store)
      writeText(spark, s"$dir/carry/CURRENT", "base")
    }
    writeBatchManifest(spark, dir, "base")
    import spark.implicits._
    Seq((capacityTokens, numGroups, numShards, seed, salt, dropRemainder,
        docSpans))
      .toDF("capacity_tokens", "num_groups", "num_shards", "seed", "salt",
        "drop_remainder", "doc_spans")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  /** One batch directory of [[writeTokenShardStore]]'s layout: the
    * kept sequences keyed by [[shuffleKey]], sharded by key mod
    * numShards. `skey` is PERSISTED (see the store scaladoc). */
  private def writeShardBatch(seqs: DataFrame, dir: String, batchId: String,
                              seed: String, numShards: Int): Unit =
    seqs.withColumn("skey", shuffleKey(seed))
      .withColumn("shard", pmod(col("skey"), lit(numShards.toLong)))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$dir/shards/batch=$batchId")

  /** Carry = per-group (packing cursor, withheld partial tail): the
    * cursor (tail_seq_id) derives from the group's TOTAL token count
    * (totals = the doc-level map re-aggregated), the tail content from
    * the partial sequences relation — a group whose stream ends
    * exactly on a boundary carries empty arrays and the next fresh
    * seq id. */
  private def writeCarry(totals: DataFrame, tails: DataFrame, dir: String,
                         batchId: String, capacityTokens: Int): Unit = {
    val tokT = tails.schema("token_ids").dataType
    val spanT = tails.schema("doc_spans").dataType
    totals
      .join(tails.select(col("pack_group"), col("token_ids"),
        col("doc_spans")), Seq("pack_group"), "left")
      .select(col("pack_group"),
        expr(s"total_tokens div $capacityTokens").as("tail_seq_id"),
        coalesce(col("token_ids"), array().cast(tokT)).as("token_ids"),
        coalesce(col("doc_spans"), array().cast(spanT)).as("doc_spans"),
        col("max_doc_id"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/carry/batch=$batchId")
  }

  /** Per-BATCH manifest (`manifest/batch=<id>`: shard, n_sequences,
    * n_tokens), derived by reading back that batch's own files — the
    * read-back property per batch, at O(batch) cost per append (a
    * whole-store re-aggregation per streaming micro-batch would grow
    * linearly with store history). Store totals = the manifest
    * relation summed over batches. An empty batch writes an empty
    * (schema-bearing) manifest so the relation stays readable. */
  private def writeBatchManifest(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, batchId: String): Unit = {
    import spark.implicits._
    val path = s"$dir/shards/batch=$batchId"
    val agg =
      if (!hasParquetFiles(spark, path))
        Seq.empty[(Long, Long, Long)].toDF("shard", "n_sequences", "n_tokens")
      else
        Io.readParquet(spark, path)
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_sequences"),
            sum("n_tokens").cast("long").as("n_tokens"))
    agg.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/manifest/batch=$batchId")
  }

  private def hasParquetFiles(spark: org.apache.spark.sql.SparkSession,
                              path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    false
  }

  /** Tiny text-file write/read (tmp + rename, the [[Generations]]
    * CURRENT convention) for the carry lineage pointer. */
  private def writeText(spark: org.apache.spark.sql.SparkSession,
                        path: String, content: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      sys.error(s"Packer: pointer swap rename failed for $path")
  }

  private def readText(spark: org.apache.spark.sql.SparkSession,
                       path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, "UTF-8").trim)
    }
  }

  private def readStoreParams(spark: org.apache.spark.sql.SparkSession,
                              dir: String) = {
    val pdf = Io.readParquet(spark, s"$dir/params")
    // loud format refusal, not an unresolved-column AnalysisException:
    // a store written by the pre-lifecycle format (no num_groups in
    // params, no skey/batch in shards, no carry) cannot be read or
    // appended by this code — rebuild it
    require(pdf.columns.contains("num_groups"),
      s"token shard store at $dir predates the lifecycle format " +
        "(params lack num_groups; shards lack skey/batch; no carry) — " +
        "rebuild it with writeTokenShardStore")
    pdf.select("capacity_tokens", "num_groups", "num_shards", "seed", "salt",
        "drop_remainder", "doc_spans").head()
  }

  /** Open a [[writeTokenShardStore]] directory. `expectCapacity` /
    * `expectShards` ≥ 0 refuse a store written with different sizing
    * (a reader fleet wired for 4k-token sequences must not silently
    * consume 2k ones). Returns the shards relation across all batches
    * with `shard_pos` DERIVED per shard by ascending (skey,
    * pack_group, seq_id) — one shard's rows ordered by shard_pos ARE
    * its training order, and the order is stable under append in the
    * append ≡ rebuild sense (an appended store reads back exactly as
    * if the combined corpus had been written once; mid-epoch positions
    * shift where new keys interleave, which IS the rebuild order). */
  def readTokenShardStore(spark: org.apache.spark.sql.SparkSession,
                          dir: String, expectCapacity: Int = -1,
                          expectShards: Int = -1): DataFrame = {
    val p = readStoreParams(spark, dir)
    require(expectCapacity < 0 || p.getInt(0) == expectCapacity,
      s"readTokenShardStore: store at $dir was written at " +
        s"capacity ${p.getInt(0)}, caller expects $expectCapacity — " +
        "refusing a mismatched shard store")
    require(expectShards < 0 || p.getInt(2) == expectShards,
      s"readTokenShardStore: store at $dir holds ${p.getInt(2)} shards, " +
        s"caller expects $expectShards — refusing a mismatched shard store")
    val w = Window.partitionBy("shard")
      .orderBy(col("skey"), col("pack_group"), col("seq_id"))
    Io.readParquet(spark, s"$dir/shards")
      .withColumn("shard", col("shard").cast("long"))
      .withColumn("shard_pos", row_number().over(w).cast("long") - 1)
  }

  /** Reader-side attention inputs over a [[readTokenShardStore]] (or
    * [[materializeTokenShards]](docSpans = true)) relation: appends
    * the two arrays a varlen-attention trainer feeds beside
    * token_ids — `cu_seqlens`, the cumulative document boundaries in
    * the flash-attention varlen convention (k docs → k+1 entries,
    * cu(0) = 0, cu(k) = n_tokens, doc j = tokens [cu(j), cu(j+1))),
    * and `position_ids`, each token's position within its own
    * PER-SEQUENCE DOC SPAN (packed sequences concatenate unrelated
    * documents; absolute positions would leak phantom context across
    * the boundary, so rotary/absolute embeddings restart at every doc
    * start). Precisely: positions restart at each stored span, so a
    * document split across packed sequences has its continuation
    * chunk restart at 0 — consistent with cu_seqlens, which makes
    * each chunk its own attention segment (r14 advice: spans, not
    * whole documents, are the attention unit). Both are pure array
    * arithmetic over the compact
    * doc_spans — no token-level join, no shuffle: the spans tile each
    * sequence start-ascending (a [[materializeTokenShards]]
    * invariant), so the spans' starts plus n_tokens ARE the
    * cumulative boundaries and the flattened per-span 0-based ranges
    * ARE the per-token positions. */
  def attentionInputs(shards: DataFrame): DataFrame = {
    require(shards.columns.contains("doc_spans"),
      "attentionInputs: input has no doc_spans column — the store was " +
        "written with docSpans = false; attention inputs need the " +
        "per-sequence document boundaries")
    shards
      .withColumn("cu_seqlens",
        concat(expr("transform(doc_spans, s -> s.start)"),
          array(col("n_tokens"))))
      .withColumn("position_ids",
        expr("flatten(transform(doc_spans, s -> " +
          "sequence(CAST(0 AS BIGINT), s.end - s.start)))"))
  }

  /** Deterministic MIXTURE read across several shard stores — the
    * data-mixing step at store granularity ("one epoch = 40% of
    * corpus A, 100% of corpus B"), where [[graft.ops.Mixer]] and the
    * q84 temperature arithmetic mix at document level: each store's
    * sequences keep independently at `weightPpm` (a salted-md5 draw
    * keyed by (seed, store index, pack_group, seq_id) — the
    * [[Sampling]] arithmetic, so the draw is a property of the
    * sequence, reproducible on any engine), and the kept union
    * re-shuffles into ONE epoch order (the [[shuffleSequences]] key
    * extended with the store index, so two stores' same-named
    * sequences decorrelate). Output = (store, pass, shard, shard_pos,
    * pack_group, seq_id, token_ids, n_tokens) — `store` is the input
    * index and `pass` the replica index (0 unless oversampled), the
    * provenance a curriculum/debug pass needs.
    *
    * weightPpm ≤ 1_000_000 is a KEEP rate; weightPpm ABOVE 1_000_000
    * OVERSAMPLES the store — "2.4 epochs of the rare corpus per
    * mixture epoch", the replication lever every real pretraining
    * mixture needs for high-value sources: ⌈w/1M⌉ passes, each full
    * except the last (kept at `w mod 1M`), each pass's sequences
    * re-keyed independently (the pass index salts the epoch key) so
    * replicas scatter across the epoch instead of clustering. The
    * output `pass` column is the replica provenance. Weights above
    * 100 full passes are refused as a sizing bug. All stores must
    * share the sequence capacity (fixed-shape readers; refused
    * otherwise). Scale shape: one metadata-cheap union of store reads
    * (an oversampled store is read once per pass — passes are
    * metadata-cheap scans of the same files, never a token rewrite),
    * one hash filter, one shard-keyed exchange. */
  def readTokenShardStoreMix(spark: org.apache.spark.sql.SparkSession,
                             stores: Seq[(String, Long)],
                             numShards: Int = 32,
                             seed: String = "mix",
                             withSpans: Boolean = false): DataFrame = {
    // withSpans: carry doc_spans through the epoch read so
    // [[attentionInputs]] composes directly onto the mixture — the
    // "read a training epoch WITH its attention arrays" shape
    // (refused per-store below if a store was written spans-less).
    require(stores.nonEmpty, "readTokenShardStoreMix: no stores")
    require(numShards > 0, s"numShards ($numShards) must be positive")
    stores.foreach { case (_, w) =>
      require(w >= 0 && w <= 100000000L,
        s"weightPpm $w outside [0, 100000000] — more than 100 full " +
          "passes of one store per mixture epoch is almost surely a " +
          "sizing bug, refusing")
    }
    val caps = stores.map { case (d, _) => readStoreParams(spark, d).getInt(0) }
    require(caps.distinct.size == 1,
      s"readTokenShardStoreMix: stores have different sequence " +
        s"capacities ${caps.mkString(", ")} — a fixed-shape reader " +
        "cannot consume a mixed-capacity epoch")
    val kept = stores.zipWithIndex.flatMap { case ((d, w), i) =>
      val passes = math.max(1L, (w + 999999L) / 1000000L).toInt
      (0 until passes).map { r =>
        val keepPpm = math.min(1000000L, w - r * 1000000L)
        // pass 0's draw salt is the original (pre-oversampling) one,
        // so ≤1M-ppm mixtures are byte-identical to what they always
        // produced; later passes salt the draw with the pass index
        val drawSalt = if (r == 0) s"|mix|$i|" else s"|mix|$i|$r|"
        val raw = Io.readParquet(spark, s"$d/shards")
        require(!withSpans || raw.columns.contains("doc_spans"),
          s"readTokenShardStoreMix(withSpans): store at $d has no " +
            "doc_spans column — written with docSpans = false")
        val baseCols = Seq(col("pack_group"), col("seq_id"),
          col("token_ids"), col("n_tokens")) ++
          (if (withSpans) Seq(col("doc_spans")) else Nil)
        val base = raw.select(baseCols: _*)
        val filtered =
          if (keepPpm >= 1000000L) base // a full pass draws nothing
          else base.where(pmod(graft.functions.TextExpressions.md5_lower64(
              concat(lit(seed), lit(drawSalt),
                col("pack_group").cast("string"), lit("|"),
                col("seq_id").cast("string")))
            .bitwiseAND(lit(Long.MaxValue)), lit(1000000L)) < keepPpm)
        filtered.withColumn("store", lit(i.toLong))
          .withColumn("pass", lit(r.toLong))
      }
    }.reduce(_ unionByName _)
    // epoch key: pass 0 keeps the original salt (compat); pass r > 0
    // inserts the pass index so replicas of one sequence land at
    // independent epoch positions (never adjacent by construction)
    val key = graft.functions.TextExpressions.md5_lower64(
        concat(lit(seed), lit("|"), col("store").cast("string"),
          when(col("pass") === 0L, lit("|"))
            .otherwise(concat(lit("|"), col("pass").cast("string"), lit("|"))),
          col("pack_group").cast("string"), lit("|"),
          col("seq_id").cast("string")))
      .bitwiseAND(lit(Long.MaxValue))
    val w = Window.partitionBy("shard")
      .orderBy(col("__k"), col("store"), col("pass"), col("pack_group"),
        col("seq_id"))
    kept.withColumn("__k", key)
      .withColumn("shard", pmod(col("__k"), lit(numShards.toLong)))
      .withColumn("shard_pos", row_number().over(w).cast("long") - 1)
      .drop("__k")
      .select(Seq("store", "pass", "shard", "shard_pos", "pack_group",
        "seq_id", "token_ids", "n_tokens")
        .map(col) ++ (if (withSpans) Seq(col("doc_spans")) else Nil): _*)
  }

  /** Append a corpus increment to a [[writeTokenShardStore]] directory
    * WITHOUT rewriting existing shards — the store's Generations-style
    * replay contract. Each pack group's token stream CONTINUES from
    * its carry state (`dir/carry/batch=<prevBatch>`): the withheld
    * partial tail is completed first, offsets and seq ids resume from
    * the cursor, and the finished sequences land under
    * `shards/batch=<batchId>` with the same seed-keyed skey a full
    * rebuild would give them — so an appended store READS BACK
    * IDENTICALLY to one written over the combined corpus
    * (spec-asserted), because shard = key mod n and in-shard order is
    * ascending key, both row properties.
    *
    * The contract requires increment doc ids to sort AFTER every
    * existing doc in their group (the natural monotone-ingest case) —
    * violated ids would change EXISTING sequences' content in a
    * rebuild, which no append can reproduce; refused loudly. Only
    * dropRemainder stores are appendable (a padded/partial store has
    * its tails inside the shards — completing them would mean
    * rewriting published files; refused). Replay: re-running the same
    * (batchId, prevBatch) overwrites its own outputs and re-reads the
    * still-present previous carry — idempotent. Chained appends pass
    * the previous append's batchId as `prevBatch`. */
  def appendToTokenShardStore(enc: DataFrame, dir: String, batchId: String,
                              prevBatch: String = "base"): Unit = {
    def validToken(s: String) = s.nonEmpty && s.head.isLetter &&
      s.forall(c => c.isLetterOrDigit || c == '-' || c == '_')
    require(validToken(batchId) && batchId != "base",
      s"batchId '$batchId' must be a non-'base' letter-led [A-Za-z0-9_-]+ " +
        "token (hive partition type inference must read it as a string)")
    require(validToken(prevBatch),
      s"prevBatch '$prevBatch' must be a letter-led [A-Za-z0-9_-]+ token")
    require(batchId != prevBatch,
      s"batchId and prevBatch are both '$batchId' — an append cannot " +
        "continue from its own carry")
    val spark = enc.sparkSession
    val p = readStoreParams(spark, dir)
    val capacity = p.getInt(0); val numGroups = p.getInt(1)
    val numShards = p.getInt(2); val seed = p.getString(3)
    val salt = p.getString(4)
    require(p.getBoolean(5),
      s"appendToTokenShardStore: store at $dir was written with " +
        "dropRemainder = false — its partial tails live inside published " +
        "shard files, and completing them would rewrite those files; " +
        "only dropRemainder stores are appendable")
    val docSpans = p.getBoolean(6)
    val carryPath = new org.apache.hadoop.fs.Path(s"$dir/carry/batch=$prevBatch")
    require(carryPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(carryPath),
      s"appendToTokenShardStore: no carry state at $carryPath — " +
        s"'$prevBatch' is not a written batch of this store")
    // lineage guard: an append may continue ONLY from the tip. A carry
    // that a later batch already continued from holds a tail that was
    // COMPLETED by that batch — re-placing it would emit the same
    // (pack_group, seq_id) twice and the read-back would equal no
    // rebuild. Replays (batchId == tip) must reuse their original
    // prevBatch (recorded in the batch's _PREV marker).
    readText(spark, s"$dir/carry/CURRENT").foreach { tip =>
      if (batchId == tip) {
        val storedPrev = readText(spark, s"$dir/carry/batch=$batchId/_PREV")
        require(storedPrev.forall(_ == prevBatch),
          s"appendToTokenShardStore: replaying batch '$batchId' with " +
            s"prevBatch '$prevBatch', but it was originally written from " +
            s"'${storedPrev.getOrElse("?")}' — a replay must reuse its " +
            "own lineage")
      } else require(prevBatch == tip,
        s"appendToTokenShardStore: prevBatch '$prevBatch' is not the " +
          s"store's lineage tip ('$tip') — appending from a stale carry " +
          "would re-place a tail a later batch already completed, " +
          "corrupting the store")
    }
    val carry = Io.readParquet(spark, s"$dir/carry/batch=$prevBatch")
    val grouped = enc.select(col("doc_id"), col("token_ids"),
        col("n_tokens").cast("long").as("n_tokens"))
      .withColumn("pack_group",
        pmod(graft.functions.TextExpressions.md5_lower64(
            concat(lit(salt), lit("|"), col("doc_id").cast("string")))
          .bitwiseAND(lit(Long.MaxValue)), lit(numGroups.toLong)))
    // monotonicity refusal — append ≡ rebuild is only a theorem when
    // every increment doc sorts after its group's existing docs
    val viol = grouped
      .join(carry.select(col("pack_group"), col("max_doc_id")),
        Seq("pack_group"))
      .where(col("doc_id") <= col("max_doc_id")).count()
    require(viol == 0,
      s"appendToTokenShardStore: $viol increment doc(s) sort at or below " +
        "their pack group's existing max doc_id — a rebuild would " +
        "re-pack EXISTING sequences around them, which an append cannot " +
        "reproduce; ingest increments in ascending doc_id order")
    // continuation origin per group: the carry cursor; groups new to
    // the corpus start fresh at (seq 0, offset 0)
    val origin = carry.select(col("pack_group"),
      col("tail_seq_id"), col("token_ids").as("carry_tokens"),
      col("doc_spans").as("carry_spans"),
      size(col("token_ids")).cast("long").as("carry_len"))
    val w = Window.partitionBy("pack_group").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = grouped
      .withColumn("run", coalesce(sum("n_tokens").over(w), lit(0L)))
      .join(origin.select("pack_group", "tail_seq_id", "carry_len"),
        Seq("pack_group"), "left")
      .withColumn("base_seq", coalesce(col("tail_seq_id"), lit(0L)))
      .withColumn("off", coalesce(col("carry_len"), lit(0L)) + col("run"))
    // placement relative to the continued stream: global pos g of a
    // doc token is off + tpos; its sequence is base_seq + g div cap
    // (the carry tail occupies positions [0, carry_len) of base_seq)
    val placedNew = offs
      .select(col("pack_group"), col("base_seq"), col("off"), col("doc_id"),
        posexplode(col("token_ids")).as(Seq("tpos", "token_id")))
      .select(col("pack_group"),
        (col("base_seq") + expr(s"(off + tpos) div $capacity")).as("seq_id"),
        pmod(col("off") + col("tpos"), lit(capacity.toLong)).as("pos_in_seq"),
        col("token_id"), col("doc_id"))
    // the carried tail re-enters placement with its ORIGINAL doc ids
    // (from its spans — a span covers the positions of one doc)
    val placedCarry = origin.where(size(col("carry_tokens")) > 0)
      .select(col("pack_group"), col("tail_seq_id"), col("carry_spans"),
        posexplode(col("carry_tokens")).as(Seq("cpos", "token_id")))
      .select(col("pack_group"), col("tail_seq_id").as("seq_id"),
        col("cpos").cast("long").as("pos_in_seq"), col("token_id"),
        expr("""element_at(filter(carry_spans,
            s -> s.start <= cpos AND s.end >= cpos), 1).doc_id""")
          .as("doc_id"))
    val placed = placedNew
      .select("pack_group", "seq_id", "pos_in_seq", "token_id", "doc_id")
      .unionByName(placedCarry
        .select("pack_group", "seq_id", "pos_in_seq", "token_id", "doc_id"))
    val seqsAll = assembleSequences(placed)
    val full0 = seqsAll.where(col("n_tokens") === capacity)
    val full = if (docSpans) full0 else full0.drop("doc_spans")
    writeShardBatch(full, dir, batchId, seed, numShards)
    // new carry: touched groups advance their cursor by the combined
    // (carry + increment) token count; untouched groups carry forward
    val incTotals = grouped.groupBy("pack_group")
      .agg(max("doc_id").as("inc_max"),
        sum("n_tokens").cast("long").as("inc_tokens"))
    val touched = incTotals
      .join(origin.select("pack_group", "tail_seq_id", "carry_len"),
        Seq("pack_group"), "left")
      .select(col("pack_group"),
        (coalesce(col("tail_seq_id"), lit(0L)) +
          expr(s"((coalesce(carry_len, 0L) + inc_tokens) div $capacity)"))
          .as("tail_seq_id"),
        col("inc_max").as("max_doc_id"))
    val tokT = seqsAll.schema("token_ids").dataType
    val spanT = seqsAll.schema("doc_spans").dataType
    val newTails = seqsAll.where(col("n_tokens") < capacity)
      .select(col("pack_group"), col("token_ids"), col("doc_spans"))
    val touchedCarry = touched
      .join(newTails, Seq("pack_group"), "left")
      .select(col("pack_group"), col("tail_seq_id"),
        coalesce(col("token_ids"), array().cast(tokT)).as("token_ids"),
        coalesce(col("doc_spans"), array().cast(spanT)).as("doc_spans"),
        col("max_doc_id"))
    val untouched = carry.join(incTotals.select("pack_group"),
      Seq("pack_group"), "left_anti")
    touchedCarry.unionByName(untouched)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/carry/batch=$batchId")
    // lineage markers LAST (the Generations pointer-after-data rule):
    // _PREV records this batch's origin for the replay guard, then the
    // tip advances — a crash before this point leaves the old tip
    // valid and the partial batch replayable
    writeText(spark, s"$dir/carry/batch=$batchId/_PREV", prevBatch)
    writeText(spark, s"$dir/carry/CURRENT", batchId)
    writeBatchManifest(spark, dir, batchId)
  }

  /** A NEW EPOCH of an existing store without re-tokenizing: every
    * sequence re-keyed under `newSeed` (one projection + one
    * shard-keyed exchange — the cheap operation epoch reshuffles must
    * be), written as a complete store at `outDir`. Out-of-place by
    * design: epoch N keeps serving while N+1 materializes (a trainer
    * prefetches the next epoch), and a crashed reshuffle replays by
    * overwriting `outDir`. Accreted batches COMPACT into `batch=base`
    * on the way (their identity was ingest provenance; the new epoch
    * starts clean); the carry state copies verbatim — packing is
    * seed-independent, so the reshuffled store remains appendable. */
  def reshuffleTokenShardStore(spark: org.apache.spark.sql.SparkSession,
                               dir: String, outDir: String,
                               newSeed: String): Unit = {
    require(new java.io.File(outDir).getCanonicalPath !=
        new java.io.File(dir).getCanonicalPath,
      s"reshuffleTokenShardStore: outDir must differ from dir ($dir) — " +
        "the reshuffle reads the store it would be overwriting")
    val p = readStoreParams(spark, dir)
    val seqs = Io.readParquet(spark, s"$dir/shards")
      .drop("shard", "skey", "batch")
    writeShardBatch(seqs, outDir, "base", newSeed, p.getInt(2))
    // the carry travels — but ONLY the lineage TIP: the shards just
    // compacted into batch=base, so the tip's carry IS base's; copying
    // historical carries would leave stale tails that a default
    // prevBatch="base" append on the new store would re-place (the
    // exact corruption the lineage guard exists to refuse)
    val carrySrc = new org.apache.hadoop.fs.Path(s"$dir/carry")
    if (carrySrc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(carrySrc)) {
      val tip = readText(spark, s"$dir/carry/CURRENT").getOrElse(
        sys.error(s"reshuffleTokenShardStore: carry at $dir has no " +
          "CURRENT pointer — not a writeTokenShardStore artifact"))
      Io.readParquet(spark, s"$dir/carry/batch=$tip")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/carry/batch=base")
      writeText(spark, s"$outDir/carry/CURRENT", "base")
    }
    writeBatchManifest(spark, outDir, "base")
    import spark.implicits._
    Seq((p.getInt(0), p.getInt(1), p.getInt(2), newSeed, p.getString(4),
        p.getBoolean(5), p.getBoolean(6)))
      .toDF("capacity_tokens", "num_groups", "num_shards", "seed", "salt",
        "drop_remainder", "doc_spans")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/params")
  }

  private def packCounted(counts: DataFrame, capacityTokens: Int,
                          numGroups: Int, salt: String): DataFrame = {
    require(capacityTokens > 0 && numGroups > 0,
      s"capacityTokens ($capacityTokens) and numGroups ($numGroups) must be positive")
    val grouped = counts.select(
      col("doc_id"), col("n_tokens"),
      pmod(graft.functions.TextExpressions.md5_lower64(
          concat(lit(salt), lit("|"), col("doc_id").cast("string")))
        .bitwiseAND(lit(Long.MaxValue)), lit(numGroups.toLong)).as("pack_group"))
    val w = Window.partitionBy("pack_group").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    grouped
      .withColumn("bin_offset", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("pack_group"),
        (col("bin_offset") / capacityTokens).cast("long").as("bin_id"),
        col("n_tokens"), col("bin_offset"))
  }
}
