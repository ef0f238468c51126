package graft

import org.apache.spark.sql.functions._

/** Dev measurement (round 18): stage-level wall timing for the
  * remaining top-cost queries, so optimization effort lands on the
  * stage that actually costs (guide §1: measure first). Each stage is
  * timed with the noop sink where it is a plain relation, or by the
  * operator's own construction where it materializes eagerly.
  * Usage: `dev/run.sh graft.R18Probe <sfDir> <probe>` with probe one
  * of: q89, q72, q121. */
object R18Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("r18-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = if (args.length > 1) args(1) else "q89"
    def wall(tag: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    import graft.ops._
    which match {
      case "q89" =>
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
        for (r <- 1 to 2) {
          println(s"-- round $r")
          var edges: org.apache.spark.sql.DataFrame = null
          wall("coPurchaseEdges (ck jobs)") { edges = Graph.coPurchaseEdges(li) }
          wall("edges noop")(noop(edges))
          wall("pageRank 5 iters") {
            noop(Graph.pageRank(edges, 5, edgesMaterialized = true))
          }
          wall("partRank end-to-end")(noop(Graph.partRank(li)))
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      case "q72" =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        for (r <- 1 to 2) {
          println(s"-- round $r")
          wall("spanDedup")(noop(Dedup.spanDedup(docs, k = 5)))
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      case "q121" =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        import org.apache.spark.sql.functions._
        for (r <- 1 to 2) {
          println(s"-- round $r")
          var pool: org.apache.spark.sql.DataFrame = null
          var sel: org.apache.spark.sql.DataFrame = null
          var curated: org.apache.spark.sql.DataFrame = null
          wall("curate (lazy)") { curated = graft.ops.Curation.curate(docs) }
          wall("pool ck") {
            pool = graft.ops.Checkpoints.materialize(
              docs.select("doc_id", "text", "source")
                .join(curated.select("doc_id", "lang_pred"), Seq("doc_id")))
          }
          var selected: org.apache.spark.sql.DataFrame = null
          wall("dsir selectWithin") {
            selected = graft.ops.Dsir.selectTopFractionWithin(pool,
              col("lang_pred") === "en", fractionPpm = 500000L)
          }
          var model: graft.ops.LangModel.BpeModel = null
          wall("trainBpeModel") { model = LangModel.trainBpeModel(docs, nMerges = 4) }
          wall("sel ck") {
            sel = graft.ops.Checkpoints.materialize(
              docs.join(selected.select("doc_id"), Seq("doc_id")))
          }
          wall("bpeEncodeWithModel+pack noop") {
            noop(graft.ops.Packer.packTokenized(
              LangModel.bpeEncodeWithModel(sel, model).select("doc_id", "n_tokens"),
              capacityTokens = 64, numGroups = 8))
          }
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      case other => println(s"unknown probe $other")
    }
    spark.stop()
  }
}
