package graft.sim

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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

  private val TOPK = Similarity.TOPK
  private val SHORTLIST = 50 // ADC shortlist width before exact re-rank

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
    val wa = Window.partitionBy("qid")
      .orderBy(col("adist").asc, col("cid").asc)
    val shortlist = Pq.embPqCodes(spark, dir)
      .join(cells, "vec_id")
      .join(broadcast(probes), "cell")
      .filter(col("qid") =!= col("vec_id"))
      .join(broadcast(Pq.qlut(spark, dir)), Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(round(sum("pd"), 6).as("adist"))
      .withColumn("ark", row_number().over(wa))
      .filter(col("ark") <= SHORTLIST)
      .select("qid", "cid")
    // exact L2 re-rank on the shortlist pairs only (the embeddings are
    // unit-norm, so the L2 order is the cosine order)
    val c = Pq.comps(spark, dir)
    val qc = c.select(col("vec_id").as("qid"), col("m"), col("si"),
      col("rc").as("qrc"))
    val cc = c.select(col("vec_id").as("cid"), col("m"), col("si"),
      col("rc").as("crc"))
    val wq = Window.partitionBy("qid").orderBy(col("l2").asc, col("cid").asc)
    shortlist
      .join(qc, Seq("qid")).join(cc, Seq("cid", "m", "si"))
      .groupBy("qid", "cid")
      .agg(round(sum(
        pow((col("qrc") - col("crc")).cast("double") / 1000000.0, 2.0)),
        6).as("l2"))
      .withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= TOPK)
      .select("qid", "cid", "l2", "rank")
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
       |shortlist AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (
       |      PARTITION BY qid ORDER BY adist ASC, cid ASC) AS ark
       |    FROM adist)
       |  WHERE ark <= $SHORTLIST),
       |l2 AS (SELECT s.qid, s.cid,
       |    round(sum(pow(cast(q.rc - c.rc AS double) / 1000000.0, 2)), 6)
       |      AS l2
       |  FROM shortlist s
       |  JOIN cq q ON q.vec_id = s.qid
       |  JOIN cq c ON c.vec_id = s.cid AND c.m = q.m AND c.si = q.si
       |  GROUP BY 1, 2),
       |rk AS (SELECT qid, cid, l2, row_number() OVER (
       |    PARTITION BY qid ORDER BY l2 ASC, cid ASC) AS rank
       |  FROM l2)
       |SELECT qid, cid, l2, cast(rank AS BIGINT) AS rank
       |FROM rk WHERE rank <= $TOPK""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("ann_ivfpq_topk", annIvfpqTopk, annIvfpqTopkSql))
}
