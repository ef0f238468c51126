package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class MixerSpec extends SparkSpec {
  import spark.implicits._

  /** Reference formulation: one running-sum window per source. Identical
    * output to [[Mixer.tokenBudgetMix]], but serializes each source through
    * a single task at scale — the equivalence oracle for the two-phase
    * bucket selection. */
  private def tokenBudgetMixNaive(docs: DataFrame, budget: Long): DataFrame = {
    val byPriority = Window.partitionBy("source")
      .orderBy(col("priority"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Mixer.withPriority(docs, "doc_id", "source", "text")
      .withColumn("cum", sum("n_tokens").over(byPriority))
      .where(col("cum") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  private def asSet(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("two-phase bucket selection is bit-identical to the naive window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (budget <- Seq(0L, 100L, 800L, 1000000L)) {
      val fast = asSet(Mixer.tokenBudgetMix(docs, budget))
      val naive = asSet(tokenBudgetMixNaive(docs, budget))
      assert(fast === naive, s"budget $budget")
    }
  }

  test("per-source token totals respect the budget; huge budget keeps everything") {
    val docs = Seq(
      (0L, "a", "w x y z"), (1L, "a", "p q r"), (2L, "a", "m n"),
      (3L, "b", "one two three four five six"),
      (4L, "b", ""),                       // zero tokens — free to keep
      (5L, "c", "solo")
    ).toDF("doc_id", "source", "text")
    val kept = Mixer.tokenBudgetMix(docs, budget = 5L)
    val bySource = kept.groupBy("source").agg(sum("n_tokens").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.values.foreach(s => assert(s <= 5L))
    assert(asSet(kept) === asSet(tokenBudgetMixNaive(docs, 5L)))
    assert(Mixer.tokenBudgetMix(docs, budget = 1000L).count() === 6)
  }

  test("temperature weights: sqrt rebalancing, weights sum to ~1") {
    import spark.implicits._
    // sources with 16, 4, and 4 tokens: sqrt → 4:2:2 → weights 1/2, 1/4, 1/4
    // (proportional sampling would have been 2/3, 1/6, 1/6)
    val docs = Seq(
      (1L, "big", ("t " * 16).trim),
      (2L, "sm1", "t t t t"),
      (3L, "sm2", "t t"), (4L, "sm2", "t t")
    ).toDF("doc_id", "source", "text")
    val w = Mixer.temperatureWeights(docs)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(w("big")._2 === 16L && w("sm1")._2 === 4L && w("sm2")._2 === 4L)
    assert(w("big")._3 === 0.5 && w("sm1")._3 === 0.25 && w("sm2")._3 === 0.25)
    assert(math.abs(w.values.map(_._3).sum - 1.0) < 1e-6)
  }
}
