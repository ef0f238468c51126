package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev measurement (r16 verdict next-round #3): the COMPOSED
  * crawl→extract→dedup→curate→LM-bucket chain
  * ([[graft.ops.Curation.crawlCurate]]) stressed END TO END at the
  * 10×/100× replicas — the r16 ExtractProbe covered only the WET
  * read + extraction front; this prices every stage of the
  * composition on page-sized markup, so the stage that would wall at
  * corpus scale shows up as seconds here, not as a surprise two
  * decades up. Prints per-stage wall seconds (s/GB for the byte-bound
  * stages) and then the composed operator's own end-to-end wall.
  * Usage: `dev/run.sh graft.CurateProbe [documentsParquet]` —
  * defaults to the docs100 replica (`ScaleUp docs100`). */
object CurateProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("curate-probe")
    import graft.ops._
    val path = args.headOption
      .getOrElse("/tmp/graft-sf10-docs/documents.parquet")
    val docs = spark.read.parquet(path)
    // the ExtractProbe page shape: markup-heavy, entity-bearing
    val pages = Checkpoints.materialize(docs.selectExpr("doc_id",
      """concat('<html><head><title>d', doc_id,
          '</title><style>a{}</style><script>if(1<2){x("&")}</script>',
          '</head><body><div class="nav">Home</div><p>', text,
          '</p><footer>caf&eacute; &mdash; r&#xE9;sum&#233; ',
          '&#8217;curly&#8217; &amp;#66; &unknown; 2026</footer>',
          '</body></html>') AS html"""))
    val bytes = pages.select(sum(length(col("html")))).head().getLong(0)
    val gb = bytes / 1e9
    println(f"corpus: ${pages.count()} docs, $gb%.2f GB of markup")
    def wall(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    var extracted: DataFrame = null
    val tEx = wall { extracted = Checkpoints.materialize(pages.select(col("doc_id"),
      Extract.mainText(col("html")).as("text"))) }
    println(f"extract:                 $tEx%7.1f s  (${tEx / gb}%.1f s/GB)")
    var cleaned: DataFrame = null
    val tSeg = wall { cleaned = Checkpoints.materialize(Dedup.segmentDedup(extracted)
      .where(length(col("clean_text")) > 0)
      .select(col("doc_id"), col("clean_text").as("text"))) }
    println(f"segment dedup:           $tSeg%7.1f s")
    val tCur = wall { Checkpoints.materialize(Curation.curate(cleaned)).count() }
    println(f"curate (exact+LSH+gate): $tCur%7.1f s")
    var scored: DataFrame = null
    val tLm = wall {
      scored = Checkpoints.materialize(LangModel.bigramInterpolatedScore(cleaned))
    }
    println(f"bigram LM score:         $tLm%7.1f s")
    val tBk = wall { LangModel.perplexityBuckets(scored)
      .groupBy("ppl_bucket").count().collect() }
    println(f"buckets (global):        $tBk%7.1f s")
    val tLang = wall {
      val lang = TextStats.statsFor(cleaned)
        .select(col("doc_id"), col("lang_pred"))
      val sl = Checkpoints.materialize(scored.join(lang, Seq("doc_id")))
      LangModel.perplexityBuckets(sl, partitionCols = Seq("lang_pred"))
        .groupBy("ppl_bucket").count().collect()
    }
    println(f"buckets (per-language):  $tLang%7.1f s  (incl. stats+join)")
    val tAll = wall { Curation.crawlCurate(pages)
      .groupBy("ppl_bucket").count().collect() }
    println(f"crawlCurate end to end:  $tAll%7.1f s  (${tAll / gb}%.1f s/GB)")
    spark.stop()
  }
}
