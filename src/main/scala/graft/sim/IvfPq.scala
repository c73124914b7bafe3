package graft.sim

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ — the composed production ANN index (Jégou et al. 2011
  * §IVFADC; the Faiss `IVFx,PQy` architecture): the coarse IVF
  * quantizer restricts each query to its NPROBE nearest cells, and
  * within the probed cells candidates are scored from their COMPRESSED
  * PQ codes (asymmetric distance), with an exact re-rank of the ADC
  * shortlist. This is the variant that quantizes raw vectors
  * (`by_residual=false`); both building blocks are the already-gated
  * tiers — the cell assignment from [[Similarity.ivfRanked]] and the
  * codebook/code-table/ADC-LUT from [[Pq]] — so the composition adds
  * no new training passes.
  *
  * 100 TB shape: ADC work is ∝ corpus · M · NPROBE / NC (vs corpus · M
  * for flat PQ and |q| · corpus · d for brute force); the code table
  * joins its cell id on vec_id (corpus-keyed, co-partitioned with the
  * index layout — on a cluster both are WRITTEN bucketed by vec_id /
  * cell so the probe prunes at the source, exactly the ann_ivf_topk
  * bucketed-source posture); probes (|q|·NPROBE rows) and the ADC LUT
  * (|q|·M·K rows) broadcast; the exact re-rank touches only
  * |q| · SHORTLIST raw vectors.
  */
object IvfPq {

  def annIvfpqTopk(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Similarity.ivfRanked(spark, dir)
    val cells = ranked.filter(col("crank") === 1)
      .select(col("vec_id"), col("cell"))
    val probes = ranked
      .filter(col("vec_id") < Similarity.NQ &&
        col("crank") <= Similarity.NPROBE)
      .select(col("vec_id").as("qid"), col("cell"))
    // compressed candidates: code table ⋈ its cell (corpus-keyed)
    // ⋈ broadcast probes — only codes in probed cells survive
    Pq.shortlistRerank(spark, dir, Pq.embPqCodes(spark, dir)
      .join(cells, "vec_id")
      .join(broadcast(probes), "cell")
      .filter(col("qid") =!= col("vec_id"))
      .join(broadcast(Pq.qlut(spark, dir)), Seq("qid", "m", "code")))
  }

  val annIvfpqTopkSql: String =
    s"""WITH ${Pq.compsSql},
       |${Pq.centroidsSql},
       |${Pq.codesSql},
       |${Pq.qlutSql},
       |${Similarity.compsSql},
       |${Similarity.ivfRankSql},
       |adist AS (SELECT q.qid, co.vec_id AS cid,
       |    round(sum(q.pd), 6) AS adist
       |  FROM codes co
       |  JOIN cells ce ON ce.vec_id = co.vec_id
       |  JOIN probes p ON p.cell = ce.cell
       |  JOIN qlut q ON q.qid = p.qid AND q.m = co.m AND q.code = co.code
       |  WHERE co.vec_id <> p.qid
       |  GROUP BY 1, 2),
       |${Pq.shortlistRerankSql}""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("ann_ivfpq_topk", annIvfpqTopk, annIvfpqTopkSql))
}
