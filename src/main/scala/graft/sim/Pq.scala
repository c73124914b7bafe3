package graft.sim

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization — the compressed-index ANN path that
  * complements IVF (Jégou et al. 2011, "Product quantization for
  * nearest neighbor search"): each 64-dim vector splits into M=8
  * 8-dim sub-vectors, each assigned to one of K=64 per-subspace
  * centroids, so a vector compresses to 8 codes; queries score the
  * corpus with asymmetric distance computation (ADC) — per-query
  * lookup tables of query↔centroid sub-distances, summed over a
  * vector's codes.
  *
  * Codebook training mirrors the IVF quantizer discipline
  * (Similarity.scala): K seed sub-vectors (vec_id < K) + ONE Lloyd
  * iteration with exact integer-µ means, every ranking by ROUNDED
  * distance with code/cid tiebreaks so both engines pick identical
  * rows.
  *
  * 100 TB shape: the codebook is M·K·(d/M) = 4096 doubles →
  * broadcast everywhere; code assignment is one corpus pass + a
  * (vec_id, m)-keyed argmin; ADC joins the (corpus × M) code table
  * to a broadcast (query × M × K) lookup table and aggregates — work
  * ∝ corpus · M, never |queries| × corpus × d, and the code table is
  * 8 small ints per vector (the compressed index a cluster would
  * store instead of raw embeddings).
  */
object Pq {

  private val M = 8 // subspaces
  private val SUBD = 8 // dims per subspace (d = 64)
  private val K = 64 // codes per subspace
  private val NQ = 10 // query vectors: vec_id < NQ (= Similarity)
  private val TOPK = Similarity.TOPK

  /** (vec_id, m, si, rc): µ-quantized components keyed by subspace. */
  private[sim] def comps(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"),
        floor(col("pos") / SUBD).cast("int").as("m"),
        pmod(col("pos"), lit(SUBD)).as("si"),
        round(col("col").cast("double") * 1000000.0, 0).cast("long").as("rc"))

  private[sim] val compsSql: String =
    """cq AS MATERIALIZED (
      |  SELECT vec_id, cast(floor((idx - 1) / 8.0) AS INT) AS m,
      |         cast((idx - 1) % 8 AS INT) AS si,
      |         cast(round(cast(v AS double) * 1000000.0) AS BIGINT) AS rc
      |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
      |               unnest(embedding) AS v
      |        FROM embeddings))""".stripMargin

  /** Per-subspace codebook: K seeds → argmin assign → one Lloyd step
    * of exact integer-µ component means. (m, code, si, cv). */
  private[sim] def centroids(spark: SparkSession, dir: String): DataFrame = {
    val c = comps(spark, dir)
    val seeds = c.filter(col("vec_id") < K)
      .select(col("vec_id").as("code"), col("m"), col("si"),
        (col("rc").cast("double") / 1000000.0).as("cv"))
    val d0 = c.join(broadcast(seeds), Seq("m", "si"))
      .groupBy("vec_id", "m", "code")
      .agg(sum(pow(col("rc").cast("double") / 1000000.0 - col("cv"), 2.0))
        .as("dist"))
    val w = Window.partitionBy("vec_id", "m")
      .orderBy(round(col("dist"), 6).asc, col("code").asc)
    val asg0 = d0.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).select("vec_id", "m", "code")
    c.join(asg0, Seq("vec_id", "m"))
      .groupBy("m", "code", "si")
      .agg((sum("rc").cast("double") / count(lit(1)) / 1000000.0).as("cv"))
  }

  private[sim] val centroidsSql: String =
    s"""seeds AS (SELECT vec_id AS code, m, si,
       |    cast(rc AS double) / 1000000.0 AS cv
       |  FROM cq WHERE vec_id < $K),
       |d0 AS (SELECT c.vec_id, c.m, s.code,
       |    sum(pow(cast(c.rc AS double) / 1000000.0 - s.cv, 2)) AS dist
       |  FROM cq c JOIN seeds s ON s.m = c.m AND s.si = c.si
       |  GROUP BY 1, 2, 3),
       |asg0p AS (SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code, row_number() OVER (
       |      PARTITION BY vec_id, m
       |      ORDER BY round(dist, 6) ASC, code ASC) AS rk
       |    FROM d0)
       |  WHERE rk = 1),
       |cents AS MATERIALIZED (SELECT c.m, a.code, c.si,
       |    cast(sum(c.rc) AS double) / count(*) / 1000000.0 AS cv
       |  FROM cq c JOIN asg0p a ON a.vec_id = c.vec_id AND a.m = c.m
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** The corpus code table (vec_id, m, code) — the compressed index. */
  def embPqCodes(spark: SparkSession, dir: String): DataFrame = {
    val c = comps(spark, dir)
    val d1 = c.join(broadcast(centroids(spark, dir)), Seq("m", "si"))
      .groupBy("vec_id", "m", "code")
      .agg(round(
        sum(pow(col("rc").cast("double") / 1000000.0 - col("cv"), 2.0)),
        6).as("dist"))
    val w = Window.partitionBy("vec_id", "m")
      .orderBy(col("dist").asc, col("code").asc)
    d1.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("m").cast("long").as("m"), col("code"))
  }

  private[sim] val codesSql: String =
    s"""d1 AS (SELECT c.vec_id, c.m, ct.code,
       |    round(sum(pow(cast(c.rc AS double) / 1000000.0 - ct.cv, 2)), 6)
       |      AS dist
       |  FROM cq c JOIN cents ct ON ct.m = c.m AND ct.si = c.si
       |  GROUP BY 1, 2, 3),
       |codes AS MATERIALIZED (SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rk
       |    FROM d1)
       |  WHERE rk = 1)""".stripMargin

  val embPqCodesSql: String =
    s"""WITH $compsSql,
       |$centroidsSql,
       |$codesSql
       |SELECT vec_id, cast(m AS BIGINT) AS m, cast(code AS BIGINT) AS code
       |FROM codes""".stripMargin

  private val SHORTLIST = 50 // ADC shortlist width before exact re-rank

  /** Per-query ADC lookup table (qid, m, code, pd): sub-distance of
    * each query sub-vector to every per-subspace centroid —
    * NQ·M·K rows, broadcast-sized at any corpus scale. Shared with
    * the IVF-PQ composition ([[IvfPq]]). */
  private[sim] def qlut(spark: SparkSession, dir: String): DataFrame =
    comps(spark, dir).filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("m"), col("si"), col("rc"))
      .join(broadcast(centroids(spark, dir)), Seq("m", "si"))
      .groupBy("qid", "m", "code")
      .agg(round(
        sum(pow(col("rc").cast("double") / 1000000.0 - col("cv"), 2.0)),
        6).as("pd"))

  private[sim] val qlutSql: String =
    s"""qlut AS (SELECT c.vec_id AS qid, c.m, ct.code,
       |    round(sum(pow(cast(c.rc AS double) / 1000000.0 - ct.cv, 2)), 6)
       |      AS pd
       |  FROM cq c JOIN cents ct ON ct.m = c.m AND ct.si = c.si
       |  WHERE c.vec_id < $NQ
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** Two-stage PQ search, the production shape: (1) ADC — per-query
    * (m, code) sub-distance lookup tables (NQ·M·K rows — broadcast)
    * joined to the code table and summed per candidate, ranked to a
    * SHORTLIST of 50; (2) exact re-rank — true L2 on the shortlist
    * pairs only (work ∝ queries · SHORTLIST, a vec_id join against
    * the raw corpus), final top-k by ROUNDED exact distance with cid
    * tiebreak. ADC alone recalls ~0.3 of the exact top-5 on these
    * near-isotropic embeddings (8-dim sub-quantizers distort
    * uniformly random data badly — the known PQ worst case); the
    * shortlist recalls ~0.9, which the exact re-rank then orders
    * perfectly. */
  def annPqTopk(spark: SparkSession, dir: String): DataFrame =
    shortlistRerank(spark, dir, embPqCodes(spark, dir)
      .join(broadcast(qlut(spark, dir)), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid")))

  /** Both stages after candidate generation, shared with [[IvfPq]]:
    * `cand` holds one (qid, vec_id, pd) row per code match, summed to
    * the candidate's ADC distance and cut to a SHORTLIST per query;
    * the exact re-rank then runs in µ-units against the raw components
    * (the embeddings are unit-norm, so the L2 order is the cosine
    * order). */
  private[sim] def shortlistRerank(spark: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val wa = Window.partitionBy("qid")
      .orderBy(col("adist").asc, col("cid").asc)
    val shortlist = cand
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(round(sum("pd"), 6).as("adist"))
      .withColumn("ark", row_number().over(wa))
      .filter(col("ark") <= SHORTLIST)
      .select("qid", "cid")
    val c = comps(spark, dir)
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

  /** The SQL twin of [[shortlistRerank]], over an `adist` CTE of
    * (qid, cid, adist) and the `cq` components. */
  private[sim] val shortlistRerankSql: String =
    s"""shortlist AS (SELECT qid, cid FROM (
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

  val annPqTopkSql: String =
    s"""WITH $compsSql,
       |$centroidsSql,
       |$codesSql,
       |$qlutSql,
       |adist AS (SELECT q.qid, co.vec_id AS cid,
       |    round(sum(q.pd), 6) AS adist
       |  FROM codes co JOIN qlut q ON q.m = co.m AND q.code = co.code
       |  WHERE co.vec_id <> q.qid
       |  GROUP BY 1, 2),
       |$shortlistRerankSql""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("emb_pq_codes", embPqCodes, embPqCodesSql),
    Query("ann_pq_topk", annPqTopk, annPqTopkSql))
}
