package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{AggExpressions, EntityExpressions, TextExpressions, VectorExpressions}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so the `spark.sql` surface can call them
  * (`SELECT cosine_similarity(a.embedding, b.embedding) ...`).
  *
  * Use either at session build time
  * (`GraftSession.builder(...).withExtensions(new GraftExtensions)`)
  * or on an existing session via [[GraftExtensions.register]] (the path
  * GraftSession.tune takes, since the driver owns session creation).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, null, "", "", "", "", "", "", "scala_udf"), builder))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (es => VectorExpressions.CosineSimilarity(es(0), es(1))),
    "dot_product" -> (es => VectorExpressions.DotProduct(es(0), es(1))),
    "shingle_minhash" -> (es => TextExpressions.ShingleMinHash(es(0),
      intArg(es(1), "shingleSize"), intArg(es(2), "numHashes"))),
    "word_shingles" -> (es => TextExpressions.WordShingles(es(0),
      intArg(es(1), "shingleSize"))),
    "shingle_hashes" -> (es => TextExpressions.ShingleHashes(es(0),
      intArg(es(1), "shingleSize"))),
    "shingle_count" -> (es => TextExpressions.ShingleCount(es(0),
      intArg(es(1), "shingleSize"))),
    "array_jaccard" -> (es => TextExpressions.ArrayJaccard(es(0), es(1))),
    "md5_lower64" -> (es => TextExpressions.Md5Lower64(es(0))),
    "fp16_pack" -> (es => VectorExpressions.Fp16Pack(es(0))),
    "fp16_unpack" -> (es => VectorExpressions.Fp16Unpack(es(0))),
    "rolling_hash_min" -> (es => TextExpressions.RollingHashMin(es(0),
      intArg(es(1), "window"))),
    // full HTML entity decode (named + decimal + hex, amp last) —
    // SELECT decode_html_entities(html) ...
    "decode_html_entities" -> (es =>
      EntityExpressions.DecodeHtmlEntities(es(0))),
    // aggregate: top_k_by_score(score, id, k) → array<struct<rnk,
    // neighbor_id, cos_sim>> ranked (score desc, id asc)
    "top_k_by_score" -> (es => AggExpressions.TopKByScore(es(0), es(1),
      intArg(es(2), "k")).toAggregateExpression()),
    // aggregate: vector_sum_long(array<bigint>) → element-wise sum
    "vector_sum_long" -> (es =>
      AggExpressions.VectorSumLong(es(0)).toAggregateExpression()))

  /** Register the same functions on an already-built session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
