package graft.sim

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  * `ann_cosine_topk` is the exact brute-force baseline: query set ×
  * corpus, dot products as a relational aggregation (posexplode +
  * join on component index) so the DuckDB oracle can replay it.
  * `ann_lsh_topk` is the 100 TB path: deterministic random-hyperplane
  * signatures bucket the corpus; only same-bucket candidates are
  * scored (candidates ∝ bucket occupancy, not n²).
  */
object Similarity {

  private[sim] val NQ = 10 // query vectors: vec_id < NQ
  private[sim] val TOPK = 5

  /** (vec_id, i, v) exploded components — oracle-side formulation. */
  private[sim] val compsSql: String =
    """cp AS (
      |  SELECT vec_id, idx - 1 AS i, cast(v AS double) AS v FROM (
      |    SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
      |           unnest(embedding) AS v
      |    FROM embeddings))""".stripMargin

  /** Cosine similarities for query ids × corpus (excluding self).
    *
    * Execution path: the fused codegen'd [[graft.functions.CosineSim]]
    * expression over a broadcast of the (tiny) query set — one narrow
    * pass over the corpus, zero shuffles for the similarity itself.
    * The oracle SQL keeps the equivalent relational formulation
    * (posexplode + component join + sum). */
  private def cosines(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val emb = Tables.table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    emb.select(col("vec_id").as("cid"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(expr("cosine_sim(qemb, embedding)"), 6).as("cosine"))
  }

  private val cosinesSql: String =
    s"""$compsSql,
       |nr AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM cp GROUP BY 1),
       |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    sum(q.v * c.v) AS dot
       |  FROM cp q JOIN cp c ON c.i = q.i AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ
       |  GROUP BY 1, 2),
       |cs AS (SELECT d.qid, d.cid,
       |    round(d.dot / (nq.nrm * nc.nrm), 6) AS cosine
       |  FROM dots d
       |  JOIN nr nq ON nq.vec_id = d.qid
       |  JOIN nr nc ON nc.vec_id = d.cid)""".stripMargin

  // -------------------------------------------------------------------
  // ann_cosine_topk — exact top-k per query (rank on rounded cosine,
  // vec_id tiebreak => deterministic).
  // -------------------------------------------------------------------
  def annCosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val wq = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid").asc)
    cosines(spark, dir)
      .withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= TOPK)
      .select("qid", "cid", "cosine", "rank")
  }

  val annCosineTopkSql: String =
    s"""WITH $cosinesSql,
       |rk AS (SELECT qid, cid, cosine,
       |  row_number() OVER (PARTITION BY qid
       |                     ORDER BY cosine DESC, cid ASC) AS rank
       |  FROM cs)
       |SELECT qid, cid, cosine, cast(rank AS BIGINT) AS rank
       |FROM rk WHERE rank <= $TOPK""".stripMargin

  /** Sign-bit bucket per vector from 8 deterministic hyperplanes
    * r_p[i] = cos(p*131 + i*7) — an analytic pseudo-random direction
    * both engines can evaluate. Shared by ann_lsh_topk and
    * dedup_embedding. Takes the embeddings slice to bucket, so a
    * pre-filtered query set buckets only its own vectors instead of
    * re-running the corpus-wide aggregation. */
  private def bucketsOf(emb: DataFrame): DataFrame = {
    val c = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        col("col").cast("double").as("v"))
    val planes = c.sparkSession.range(0, 8).toDF("p")
    c.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("p"),
        (col("v") * cos(col("p") * 131.0 + col("i") * 7.0)).as("pv"))
      .groupBy("vec_id", "p")
      .agg(sum("pv").as("proj"))
      .select(col("vec_id"),
        when(col("proj") > 0,
          expr("shiftleft(cast(1 as bigint), cast(p as int))"))
          .otherwise(0L).as("bitval"))
      .groupBy("vec_id").agg(sum("bitval").cast("long").as("bucket"))
  }

  // -------------------------------------------------------------------
  // ann_lsh_topk — the scale path: bucket FIRST, score only candidates.
  // The tiny bucketed query set broadcasts; the bucket equi-join prunes
  // the corpus before any cosine is evaluated, so similarity work is
  // ∝ bucket occupancy, never |queries| × |corpus|.
  // -------------------------------------------------------------------
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val embAll = Tables.table(spark, dir, "embeddings")
    // query side buckets ONLY the NQ query vectors (filter applied
    // before the bucket aggregation); the corpus-wide bucket pass runs
    // once, on the candidate side
    val qEmb = embAll.filter(col("vec_id") < NQ)
    // multiprobe: each query probes its own bucket plus the 8
    // Hamming-1 neighbors (one sign bit flipped) — near-neighbors that
    // straddle a single hyperplane stop being missed, candidates stay
    // ∝ 9 × bucket occupancy
    val flips = spark.range(0, 9).toDF("p")
    val q = qEmb.join(bucketsOf(qEmb), "vec_id")
      .crossJoin(broadcast(flips))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        when(col("p") === 8, col("bucket"))
          .otherwise(expr("bucket ^ shiftleft(cast(1 as bigint), cast(p as int))"))
          .as("bucket"))
    val emb = embAll.join(bucketsOf(embAll), "vec_id")
    val wq = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid").asc)
    emb.select(col("vec_id").as("cid"), col("embedding"), col("bucket"))
      .join(broadcast(q), "bucket")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(expr("cosine_sim(qemb, embedding)"), 6).as("cosine"))
      .withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= TOPK)
      .select("qid", "cid", "cosine", "rank")
  }

  val annLshTopkSql: String =
    s"""WITH $cosinesSql,
       |pj AS (SELECT vec_id, p.p, sum(v * cos(p.p*131.0 + i*7.0)) AS proj
       |  FROM cp CROSS JOIN generate_series(0, 7) AS p(p)
       |  GROUP BY 1, 2),
       |bk AS (SELECT vec_id,
       |  cast(sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)
       |       AS BIGINT) AS bucket
       |  FROM pj GROUP BY 1),
       |probes AS (SELECT qb.vec_id AS qid,
       |    CASE WHEN p.p = 8 THEN qb.bucket
       |         ELSE xor(qb.bucket, (1::BIGINT << p.p)) END AS bucket
       |  FROM bk qb CROSS JOIN generate_series(0, 8) AS p(p)
       |  WHERE qb.vec_id < $NQ),
       |flt AS (SELECT cs.qid, cs.cid, cs.cosine
       |  FROM cs
       |  JOIN probes pr ON pr.qid = cs.qid
       |  JOIN bk cb ON cb.vec_id = cs.cid
       |  WHERE pr.bucket = cb.bucket),
       |rk AS (SELECT qid, cid, cosine,
       |  row_number() OVER (PARTITION BY qid
       |                     ORDER BY cosine DESC, cid ASC) AS rank
       |  FROM flt)
       |SELECT qid, cid, cosine, cast(rank AS BIGINT) AS rank
       |FROM rk WHERE rank <= $TOPK""".stripMargin

  /** Embedding-cosine near-duplicate pairs — dedup family member: LSH
    * buckets (8 deterministic hyperplanes) generate candidates, the
    * fused CosineSim expression re-scores, pairs above the near-dup threshold survive.
    * Candidate count ∝ bucket occupancy — the n² never materializes. */
  /** Occupancy cap for the near-dup pair join (the dedup.Dedup
    * MaxBucket discipline): the 8-plane sign buckets concentrate on
    * clustered corpora (measured: 16 occupied buckets, the largest
    * holding 24.8k of 200k vectors at a 100× synthetic corpus —
    * a 3×10⁸-pair bucket without the cap, the round-11 scaling run's
    * one genuine quadratic). Capping pair GENERATION at 256 vectors
    * per bucket (deterministic vec_id order, rank-limit pushed before
    * the exchange) bounds pairs at buckets·cap²/2 regardless of
    * corpus; at the driver gate scales the largest bucket holds ≤219
    * vectors, so the cap is inert there. */
  private val MaxEmbBucket = 256

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    dedupEmbedding(spark, dir, MaxEmbBucket)

  def dedupEmbedding(spark: SparkSession, dir: String,
      maxBucket: Int): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val embAll = Tables.table(spark, dir, "embeddings")
    val w = Window.partitionBy("bucket").orderBy("vec_id")
    val emb = embAll.join(bucketsOf(embAll), "vec_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxBucket)
      .drop("rk")
    emb.as("a").join(emb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        round(expr("cosine_sim(a.embedding, b.embedding)"), 6).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  val dedupEmbeddingSql: String =
    s"""WITH $compsSql,
       |pj AS (SELECT vec_id, p.p, sum(v * cos(p.p*131.0 + i*7.0)) AS proj
       |  FROM cp CROSS JOIN generate_series(0, 7) AS p(p)
       |  GROUP BY 1, 2),
       |bk0 AS (SELECT vec_id,
       |  cast(sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)
       |       AS BIGINT) AS bucket
       |  FROM pj GROUP BY 1),
       |bk AS (SELECT vec_id, bucket FROM bk0
       |  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
       |    <= $MaxEmbBucket),
       |pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM bk a JOIN bk b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |nr AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM cp GROUP BY 1),
       |dots AS (SELECT p.id1, p.id2, sum(c1.v * c2.v) AS dot
       |  FROM pairs p
       |  JOIN cp c1 ON c1.vec_id = p.id1
       |  JOIN cp c2 ON c2.vec_id = p.id2 AND c2.i = c1.i
       |  GROUP BY 1, 2)
       |SELECT d.id1, d.id2,
       |  round(d.dot / (n1.nrm * n2.nrm), 6) AS cosine
       |FROM dots d
       |JOIN nr n1 ON n1.vec_id = d.id1
       |JOIN nr n2 ON n2.vec_id = d.id2
       |WHERE round(d.dot / (n1.nrm * n2.nrm), 6) >= 0.4""".stripMargin

  // -------------------------------------------------------------------
  // ann_ivf_topk — the IVF-flat scale path: a coarse quantizer
  // partitions the corpus into NC cells; queries probe only their
  // NPROBE nearest cells and brute-force within. Scoring work is
  // ∝ corpus · NPROBE / NC instead of |queries| × |corpus|, and the
  // cell assignment is a join key — at 100 TB the corpus can be
  // WRITTEN bucketed by cell so probes prune at the source.
  // Quantizer (round 7): NC lowest-vec_id seed vectors, then ONE Lloyd
  // iteration — assign to seeds, per-cell component MEANS become the
  // refined centroids, reassign. The means use exact integer-µ sums
  // (round(v·1e6) as bigint, then one double division) so both engines
  // emit bit-identical centroid components; the refinement is plain
  // grouped aggregation + a broadcast of NC vectors, so the plan shape
  // (and its 100 TB posture) is unchanged while the cells track the
  // data instead of the luck of the seeds.
  // -------------------------------------------------------------------
  private[sim] val NC = 16
  private[sim] val NPROBE = 4

  /** The quantizer pipeline (seed assign → Lloyd step → refined
    * rank-vs-centroid frame), one canonical plan so a persisted
    * instance serves every consumer as a materialized view — the
    * cluster analogue is writing the corpus bucketed by cell once and
    * probing it from then on. */
  private[graft] def ivfRanked(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val emb = Tables.table(spark, dir, "embeddings")
    val seeds = emb.filter(col("vec_id") < NC)
      .select(col("vec_id").as("cell"), col("embedding").as("semb"))
    val wv = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cell").asc)
    // seed assignment: similarity of every vector to every seed (NC is
    // tiny — broadcast); rank with rounded-sim + cell tiebreak
    val asg0 = emb.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cell"),
        round(expr("cosine_sim(embedding, semb)"), 6).as("csim"))
      .withColumn("crank", row_number().over(wv))
      .filter(col("crank") === 1)
      .select("vec_id", "cell")
    // Lloyd step: per-(cell, component) exact-µ means, re-packed into
    // double-array centroids (CosineSim takes float or double arrays)
    val comps = emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        col("col").cast("double").as("v"))
    val cents = comps.join(asg0, "vec_id")
      .groupBy("cell", "i")
      .agg((sum(round(col("v") * 1000000.0, 0).cast("long")).cast("double") /
        count(lit(1)) / 1000000.0).as("cv"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("i"), col("cv")))).as("a"))
      .select(col("cell"), expr("transform(a, x -> x.cv)").as("cemb"))
    // refined assignment against the Lloyd centroids
    val sims = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        round(expr("cosine_sim(embedding, cemb)"), 6).as("csim"))
    sims.withColumn("crank", row_number().over(wv))
  }

  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val emb = Tables.table(spark, dir, "embeddings")
    val ranked = ivfRanked(spark, dir)
    val cells = ranked.filter(col("crank") === 1)
      .select(col("vec_id"), col("cell"))
    val probes = ranked.filter(col("vec_id") < NQ && col("crank") <= NPROBE)
      .select(col("vec_id").as("qid"), col("cell"))
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .join(probes, "qid")
    val wq = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid").asc)
    emb.join(cells, "vec_id")
      .select(col("vec_id").as("cid"), col("embedding"), col("cell"))
      .join(broadcast(q), "cell")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(expr("cosine_sim(qemb, embedding)"), 6).as("cosine"))
      // no distinct: every candidate lives in exactly ONE cell
      // (cells is the crank=1 row per vec_id), so a (qid, cid) pair
      // can only arise from that one cell even when the query probes
      // several — the round-11 distinct was a full exchange for free
      .withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= TOPK)
      .select("qid", "cid", "cosine", "rank")
  }

  /** The IVF quantizer + probe CTE chain (seed assign, one Lloyd
    * step, refined ranks, crank=1 cells, NPROBE query probes) —
    * shared verbatim by ann_ivf_topk and the IVF-PQ composition
    * ([[IvfPq]]). */
  private[sim] val ivfRankSql: String =
    s"""nr AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM cp GROUP BY 1),
       |cdots0 AS (SELECT c.vec_id, s.vec_id AS cell, sum(c.v * s.v) AS dot
       |  FROM cp c JOIN cp s ON s.i = c.i AND s.vec_id < $NC
       |  GROUP BY 1, 2),
       |csim0 AS (SELECT d.vec_id, d.cell,
       |    round(d.dot / (nv.nrm * ns.nrm), 6) AS csim
       |  FROM cdots0 d
       |  JOIN nr nv ON nv.vec_id = d.vec_id
       |  JOIN nr ns ON ns.vec_id = d.cell),
       |asg0 AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS crank
       |    FROM csim0)
       |  WHERE crank = 1),
       |-- one Lloyd iteration: exact integer-µ component means
       |cent AS (SELECT a.cell, c.i,
       |    cast(sum(cast(round(c.v * 1000000.0) AS BIGINT)) AS double)
       |      / count(*) / 1000000.0 AS v
       |  FROM asg0 a JOIN cp c ON c.vec_id = a.vec_id
       |  GROUP BY 1, 2),
       |cnr AS (SELECT cell, sqrt(sum(v*v)) AS nrm FROM cent GROUP BY 1),
       |cdots AS (SELECT c.vec_id, ct.cell, sum(c.v * ct.v) AS dot
       |  FROM cp c JOIN cent ct ON ct.i = c.i
       |  GROUP BY 1, 2),
       |csim AS (SELECT d.vec_id, d.cell,
       |    round(d.dot / (nv.nrm * cn.nrm), 6) AS csim
       |  FROM cdots d
       |  JOIN nr nv ON nv.vec_id = d.vec_id
       |  JOIN cnr cn ON cn.cell = d.cell),
       |rkc AS (SELECT vec_id, cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS crank
       |  FROM csim),
       |cells AS (SELECT vec_id, cell FROM rkc WHERE crank = 1),
       |probes AS (SELECT vec_id AS qid, cell FROM rkc
       |  WHERE vec_id < $NQ AND crank <= $NPROBE)""".stripMargin

  val annIvfTopkSql: String =
    s"""WITH $compsSql,
       |$ivfRankSql,
       |cand AS (SELECT DISTINCT p.qid, c.vec_id AS cid
       |  FROM probes p JOIN cells c ON c.cell = p.cell
       |  WHERE c.vec_id <> p.qid),
       |dots AS (SELECT ca.qid, ca.cid, sum(q.v * c.v) AS dot
       |  FROM cand ca
       |  JOIN cp q ON q.vec_id = ca.qid
       |  JOIN cp c ON c.vec_id = ca.cid AND c.i = q.i
       |  GROUP BY 1, 2),
       |scored AS (SELECT d.qid, d.cid,
       |    round(d.dot / (nq.nrm * nc.nrm), 6) AS cosine
       |  FROM dots d
       |  JOIN nr nq ON nq.vec_id = d.qid
       |  JOIN nr nc ON nc.vec_id = d.cid),
       |rk AS (SELECT qid, cid, cosine, row_number() OVER (
       |    PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
       |  FROM scored)
       |SELECT qid, cid, cosine, cast(rank AS BIGINT) AS rank
       |FROM rk WHERE rank <= $TOPK""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("ann_cosine_topk", annCosineTopk, annCosineTopkSql),
    Query("ann_lsh_topk", annLshTopk, annLshTopkSql),
    Query("ann_ivf_topk", annIvfTopk, annIvfTopkSql),
    Query("dedup_embedding", dedupEmbedding(_, _), dedupEmbeddingSql))
}
