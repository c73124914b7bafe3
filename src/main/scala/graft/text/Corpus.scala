package graft.text

import graft.Query
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus construction — the pipeline a
  * pretraining data job actually runs, composed from the individual
  * operators so their plans (and any persisted shingle / candidate
  * intermediates) are shared rather than recomputed:
  *
  *   language filter (en)  ∧  quality ≥ 0.5  ∧  near-dup canonical
  *
  * A document survives if the n-gram language heuristic says English,
  * the composite quality score clears the pretraining threshold, and
  * it is the canonical representative (minimum doc_id) of its
  * near-duplicate cluster — i.e. exactly one survivor per
  * minhash-LSH connected component. Output carries the evidence
  * columns a curation pipeline logs for audit.
  */
object Corpus {

  def docsCorpus(spark: SparkSession, dir: String): DataFrame = {
    val cl = Dedup.dedupClusters(spark, dir)
    val lg = TextOps.textLangid(spark, dir).select("doc_id", "pred_lang")
    val q = TextOps.textQuality(spark, dir).select("doc_id", "quality")
    cl.join(lg, "doc_id").join(q, "doc_id")
      .filter(col("doc_id") === col("cluster_id") &&
        col("quality") >= 0.5 && col("pred_lang") === "en")
      .select("doc_id", "pred_lang", "quality", "cluster_size")
  }

  /** Oracle: the three operator oracles composed as derived tables
    * (DuckDB allows WITH / WITH RECURSIVE inside a FROM subquery), so
    * the semantics stay lock-step with the standalone queries. */
  val docsCorpusSql: String =
    s"""SELECT cl.doc_id, lg.pred_lang, q.quality, cl.cluster_size
       |FROM (${Dedup.dedupClustersSql}) cl
       |JOIN (${TextOps.textLangidSql}) lg ON lg.doc_id = cl.doc_id
       |JOIN (${TextOps.textQualitySql}) q ON q.doc_id = cl.doc_id
       |WHERE cl.doc_id = cl.cluster_id
       |  AND q.quality >= 0.5
       |  AND lg.pred_lang = 'en'""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("docs_corpus", docsCorpus, docsCorpusSql))
}
