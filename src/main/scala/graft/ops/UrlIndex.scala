package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Io

/** Cross-dump URL index — the dump-over-dump form of the URL stage
  * (CCNet processes Common Crawl one dump at a time and drops a URL
  * in dump N if ANY earlier dump already fetched it; reference:
  * Wenzek et al., "CCNet", LREC 2020): a persisted relation of the
  * NORMALIZED URLs every processed dump contributed, laid out in
  * named dump shards.
  *
  *   UrlIndex.build(dump1, dir, "dump1")
  *   val fresh = UrlIndex.dedupAgainst(dump2, dir)   // unseen URLs,
  *                                                   // min id per URL
  *   UrlIndex.append(fresh, dir, "dump2")            // dump 3 sees them
  *
  * Append is an idempotent per-shard overwrite (the LshIndex ingest
  * contract: the SHARD ID names the ingest unit — a retried append
  * replaces its own partial output instead of duplicating it, which is
  * why the id is required, never defaulted to a random token).
  * [[dedupAgainst]] also collapses WITHIN-batch duplicates to the
  * minimum id — the same row the within-dump [[Urls.urlDedup]] keeps —
  * so one call is dump N's complete URL verdict.
  *
  * Scale shape: the index stores DISTINCT normalized URLs (one row per
  * URL per contributing shard); the cross-dump gate is one anti-join
  * keyed on `url_norm` — at 100 TB both sides exchange on the url key
  * once per dump, the unavoidable cost of the semantics (bucketing the
  * store on `url_norm` removes the index-side exchange on engines that
  * read bucket metadata; the layout here keeps plain parquet so any
  * engine can read it). The index never stores document text — URLs
  * only, ~100 bytes/row, so a decade of dumps is parquet-compressed
  * TBs, scanned once per dump. */
object UrlIndex {

  private def requireShardId(shardId: String): Unit =
    require(shardId.nonEmpty &&
      shardId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"shardId '$shardId' must be a [A-Za-z0-9_-]+ token")

  /** Create the index from the first dump (just [[append]] on an empty
    * dir — named separately so call sites read as the workflow). */
  def build(df: DataFrame, dir: String, shardId: String,
            urlCol: String = "url"): Unit =
    append(df, dir, shardId, urlCol)

  /** Add a dump's DISTINCT normalized URLs as shard `shardId`
    * (idempotent per-shard overwrite — see object scaladoc). Callers
    * append [[dedupAgainst]]'s survivors (the usual workflow) or the
    * raw dump (equivalent index content: duplicates across shards
    * cost storage, not correctness — the gate is membership). */
  def append(df: DataFrame, dir: String, shardId: String,
             urlCol: String = "url"): Unit = {
    requireShardId(shardId)
    df.select(Urls.normalize(col(urlCol)).as("url_norm")).distinct()
      .write.mode("overwrite").parquet(s"$dir/shard=$shardId")
  }

  /** The indexed URL set (url_norm, shard) — shard is the partition
    * column, so per-shard reads prune. */
  def read(spark: SparkSession, dir: String): DataFrame =
    Io.readParquet(spark, dir)

  /** Dump N's URL verdict against every indexed earlier dump: rows
    * whose normalized URL is UNSEEN by the index, collapsed to the
    * minimum id per URL within the batch. Output: the input columns
    * plus `url_norm`. `excludeShards` re-creates the index state
    * before those dumps (the replay/backfill knob). */
  def dedupAgainst(df: DataFrame, dir: String, urlCol: String = "url",
                   idCol: String = "doc_id",
                   excludeShards: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val idx0 = read(spark, dir)
    val idx =
      if (excludeShards.isEmpty) idx0
      else idx0.where(!col("shard").isin(excludeShards: _*))
    val withNorm = df.withColumn("url_norm", Urls.normalize(col(urlCol)))
    val unseen = withNorm.join(idx.select("url_norm"),
      Seq("url_norm"), "left_anti")
    // within-batch min-id collapse as ONE window over the anti-join
    // output (r17 verdict #2: the previous groupBy(min) + left_semi
    // formulation referenced `unseen` twice, re-executing the
    // normalize + anti-join subtree per reference unless ReuseExchange
    // happened to fire). rank() = 1 keeps every row tied at the
    // minimum id — exactly the semi-join's semantics — and the per-key
    // sort is bounded by a URL's within-batch duplicate count (URL
    // keys are near-unique; no viral-key exposure).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url_norm")).orderBy(col(idCol))
    unseen.withColumn("__rk", rank().over(w))
      .where(col("__rk") === 1).drop("__rk")
  }
}
