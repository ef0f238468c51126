package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The DuckDB oracle SQL for one declared query, as graft.Verify pairs
  * them: the static `SparkEntry.oracleSql` text, or for queries whose
  * oracle embeds trained state (centroids, codebooks) the builder that
  * derives it from the same inputs. */
object OracleSql {

  private val dataDependent: Map[String, (SparkSession, String) => String] = Map(
    "q29_ivf_ann" -> SparkEntry.ivfOracleSql,
    "q62_semdedup" -> SparkEntry.semDedupOracleSql,
    "q82_pca_project" -> SparkEntry.pcaOracleSql,
    "q114_pq_ann" -> SparkEntry.pqOracleSql,
    "q115_pq_refine" -> SparkEntry.pqRefineOracleSql,
    "q118_ivfpq_probe" -> SparkEntry.ivfPqOracleSql,
    "q154_filtered_ann" -> SparkEntry.ivfPqFilteredOracleSql,
    "q122_ivfpq_residual" -> SparkEntry.ivfPqResidualOracleSql,
    "q124_ivfpq_res_refined" -> SparkEntry.ivfPqResidualRefinedOracleSql,
    "q125_ivfpq_opq" -> SparkEntry.ivfPqOpqOracleSql,
    "q127_ivfpq_point_refined" -> SparkEntry.ivfPqResidualRefinedOracleSql,
    "q129_ivfpq_half_refined" -> SparkEntry.ivfPqHalfRefinedOracleSql,
    "q130_ivfpq_point_adc" -> SparkEntry.ivfPqOracleSql,
    "q138_imi_ann" -> SparkEntry.imiOracleSql,
    "q139_imi_pq_ann" -> SparkEntry.imiPqOracleSql,
    "q140_imi_pq_point" -> SparkEntry.imiPqOracleSql,
    "q159_imi_filtered_ann" -> SparkEntry.imiPqFilteredOracleSql,
    "q141_imi_neardup" -> SparkEntry.imiNearDupOracleSql,
    "q142_imi_pq_residual" -> SparkEntry.imiPqResidualOracleSql,
    "q143_imi_pq_opq" -> SparkEntry.imiPqOpqResidualOracleSql,
    "q148_imi_pq_corpus_trained" -> SparkEntry.imiPqCorpusTrainedOracleSql)

  def forQuery(spark: SparkSession, name: String, dir: String): String =
    dataDependent.get(name).map(_(spark, dir)).getOrElse(SparkEntry.oracleSql(name))
}
