package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions

/** Sketch-backed frequency estimation over the token stream.
  *
  * Scale shape: the exact (token, count) relation costs one digest-keyed
  * shuffle; the sketch then folds it into a single d·w matrix whose
  * partial aggregation happens map-side (one matrix per partition
  * crosses the exchange — constant state, like HLL). The probe side is a
  * bounded TakeOrdered (top-k by exact count), and the 1-row sketch
  * broadcasts to it. At 100 TB the sketch can also fold the raw token
  * stream directly (skip the exact relation entirely) — here the exact
  * counts are kept alongside so the estimate's overcount is visible and
  * testable.
  */
object Sketches {

  /** Top-`k` tokens by exact count with their count-min estimate:
    * (tok, cnt, est_cnt). est_cnt ≥ cnt always; equality whenever no
    * heavier token collides in all `d` rows.
    *
    * EAGER: building the DataFrame runs the job that materializes the
    * (tok, cnt) relation ([[Checkpoints.materialize]]), so build it only
    * to run it. */
  def cmsFrequency(docs: DataFrame, d: Int = 4, w: Int = 32, k: Int = 20,
                   textCol: String = "text"): DataFrame = {
    // the aggregated (tok, cnt) relation feeds the sketch aggregate AND
    // the exact top-k — materialized once (r18; vocabulary-sized; the
    // lost ReuseExchange bet re-ran the corpus explode per consumer:
    // 2 text scans in the q75 plan)
    val toks = graft.ops.Checkpoints.materialize(docs
      .select(explode(TextStats.tokens(col(textCol))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).cast("long").as("cnt")))
    val sketch = toks.agg(
      SketchExpressions.count_min_sketch_agg(col("tok"), col("cnt"), d, w).as("sk"))
    toks.orderBy(col("cnt").desc, col("tok")).limit(k)
      .crossJoin(broadcast(sketch))
      .select(col("tok"), col("cnt"),
        SketchExpressions.cms_estimate(col("sk"), col("tok"), d, w).as("est_cnt"))
  }
}
