package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: materialize scale replicas of the sf0.1 testdata to measure
  * how each query class scales one (or two) decades before trusting it
  * for three more.
  *
  *  - default mode (no arg): ~10× full replica under /tmp/graft-sf1
  *    (≈6M-row lineitem), fact-side keys remapped per copy so join
  *    cardinalities scale like real data (dims stay 1×, like a real
  *    star schema).
  *  - `docs100`: 100× CONTENT-ONLY replica under /tmp/graft-sf10-docs
  *    — documents (500k docs at ~99% exact-duplicate density: every
  *    source text appears ~100×, the adversarial regime for the
  *    dedup/similarity family, whose quadratic failure modes bend
  *    between 10× and 100×: LSH bucket explosion, prefix-filter
  *    selectivity collapse, pair blowup on dup clusters) and
  *    embeddings (200k vectors — past semDedup's capped-nlist point,
  *    so the ANN/semantic family is probed in its worst regime too)
  *    and events (10M rows — past the q86 interval-broadcast
  *    threshold, so the sort-merge degradation path is what gets
  *    measured). Other tables copy at 1× so the bench probe and any
  *    dim access still work.
  */
object ScaleUp {

  val Copies = 10
  val SrcDir = "/root/testdata/sf0.1"
  val OutDir = "/tmp/graft-sf1"
  val DocsOutDir = "/tmp/graft-sf10-docs"
  val DocsCopies = 100

  private def replicate(spark: SparkSession, table: String,
                        strides: Map[String, Long], copies: Int): DataFrame = {
    val base = spark.read.parquet(s"$SrcDir/$table.parquet")
    (0 until copies).map { i =>
      strides.foldLeft(base) { case (df, (c, stride)) =>
        df.withColumn(c, col(c) + lit(i * stride))
      }
    }.reduce(_ unionByName _)
  }

  private def write(spark: SparkSession, outDir: String, table: String,
                    strides: Map[String, Long], copies: Int): Unit = {
    val df = if (strides.isEmpty) spark.read.parquet(s"$SrcDir/$table.parquet")
             else replicate(spark, table, strides, copies)
    df.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    println(s"$table: ${spark.read.parquet(s"$outDir/$table.parquet").count()} rows")
  }

  /** Cap-probe replica: `n` DISTINCT uniform 64-dim vectors under
    * /tmp/graft-vecs<n> — the regime the docs100 replica (exact
    * copies, 2k distinct streams) cannot reach. The derived-cap
    * boundaries (semDedupNlist / ivfNlistFor / srpPlanesFor) bind on
    * DISTINCT-vector volume: exact-collapse makes copies free, so only
    * a corpus of genuinely distinct vectors exercises the
    * past-the-cap per-cell growth. Components are hash-uniform in
    * [-1, 1] (deterministic per (id, dim) — rebuildable bit-identically),
    * so cosines concentrate near 0 and pair OUTPUT stays tiny: the
    * probe measures join/assignment/verification cost, not pair-listing
    * cardinality. */
  private def writeVecs(spark: SparkSession, n: Long): Unit = {
    val out = s"/tmp/graft-vecs$n"
    spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(0, 63), d -> CAST((pmod(hash(id, d), 2001) - 1000) / 1000.0 AS FLOAT)) AS embedding")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"vecs: $n distinct vectors at $out")
  }

  /** Distinct-heavy text replica: `n` documents of GENUINELY DISTINCT
    * text under /tmp/graft-docs-distinct<n> — the regime docs100
    * (exact copies, ~2k distinct token streams) cannot reach, and the
    * LSH index's worst case: exact-collapse buys nothing, so the bands
    * relation is corpus-sized and the index build/probe economics are
    * dominated by the band join itself (the r12 SCALE.md addendum
    * measures exactly that). 20 words/doc drawn hash-uniform from a
    * 50k-word vocabulary (deterministic per (id, position) —
    * rebuildable bit-identically); 19 shingles/doc over a 2.5e9
    * shingle-pair space ⇒ cross-doc collisions are rare, so the probe
    * measures band/shingle machinery, not pair-listing cardinality. */
  private def writeDistinctDocs(spark: SparkSession, n: Long): Unit = {
    val out = s"/tmp/graft-docs-distinct$n"
    spark.range(n).selectExpr("id AS doc_id",
      "concat_ws(' ', transform(sequence(0, 19), " +
        "i -> concat('w', pmod(hash(id, i), 50000)))) AS text",
      "'en' AS lang", "'synthetic' AS source")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"docsdistinct: $n distinct-text documents at $out")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("scale-up").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = 100000000L   // order-key stride
    val ck = 10000000L    // cust-key stride
    if (args.headOption.contains("vecs")) {
      writeVecs(spark, args.lift(1).map(_.toLong).getOrElse(1000000L))
      spark.stop(); return
    }
    if (args.headOption.contains("docsdistinct")) {
      writeDistinctDocs(spark, args.lift(1).map(_.toLong).getOrElse(200000L))
      spark.stop(); return
    }
    if (args.headOption.contains("li100")) {
      // 100× relational replica: lineitem 60M / orders 15M /
      // customer 1.5M (fact keys remapped per copy), dims 1× — probes
      // the scan/agg/join/anti-join family and q89's edge-extraction
      // scan two decades up (the co-purchase GRAPH stays 1×-sized by
      // construction: dims fixed ⇒ distinct part pairs fixed — the
      // realistic dims-fixed scaling)
      val plans = Seq(
        "lineitem" -> Map("l_orderkey" -> ok),
        "orders" -> Map("o_orderkey" -> ok, "o_custkey" -> ck),
        "customer" -> Map("c_custkey" -> ck),
        "events" -> Map.empty[String, Long],
        "documents" -> Map.empty[String, Long],
        "embeddings" -> Map.empty[String, Long],
        "region" -> Map.empty[String, Long],
        "nation" -> Map.empty[String, Long],
        "supplier" -> Map.empty[String, Long],
        "part" -> Map.empty[String, Long])
      plans.foreach { case (t, strides) =>
        write(spark, "/tmp/graft-sf10-li", t, strides,
          if (strides.nonEmpty) DocsCopies else 1)
      }
    } else if (args.headOption.contains("docs100")) {
      val plans = Seq(
        "documents" -> Map("doc_id" -> 1000000L),
        // 1× passthroughs: probe tables + dims
        "lineitem" -> Map.empty[String, Long],
        "orders" -> Map.empty[String, Long],
        "customer" -> Map.empty[String, Long],
        "events" -> Map("event_id" -> 10000000L, "user_id" -> 100000L),
        "embeddings" -> Map("vec_id" -> 1000000L),
        "region" -> Map.empty[String, Long],
        "nation" -> Map.empty[String, Long],
        "supplier" -> Map.empty[String, Long],
        "part" -> Map.empty[String, Long])
      plans.foreach { case (t, strides) =>
        write(spark, DocsOutDir, t, strides,
          if (strides.nonEmpty) DocsCopies else 1)
      }
    } else {
      val plans = Seq(
        "lineitem" -> Map("l_orderkey" -> ok),
        "orders" -> Map("o_orderkey" -> ok, "o_custkey" -> ck),
        "customer" -> Map("c_custkey" -> ck),
        "events" -> Map("event_id" -> 10000000L, "user_id" -> 100000L),
        "documents" -> Map("doc_id" -> 1000000L),
        "embeddings" -> Map("vec_id" -> 1000000L),
        // dims stay 1× (star-schema realism)
        "region" -> Map.empty[String, Long],
        "nation" -> Map.empty[String, Long],
        "supplier" -> Map.empty[String, Long],
        "part" -> Map.empty[String, Long])
      plans.foreach { case (t, strides) => write(spark, OutDir, t, strides, Copies) }
    }
    spark.stop()
  }
}
