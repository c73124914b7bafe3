package graft.sim

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space corpus statistics for training-data pipelines:
  * per-dimension standardization moments, the distributed Gram
  * matrix, and its dominant eigenvector via declarative power
  * iteration — the "all-but-the-top" (ABTT) embedding-postprocessing
  * inputs (mean vector + top principal direction).
  *
  * Numeric determinism follows the IVF convention (Similarity.scala):
  * components are quantized to exact integer µ units
  * (round(v·1e6) as long) BEFORE any aggregation, so every corpus sum
  * is an exact integer no matter the partitioning / visit order, and
  * both engines derive identical doubles from identical integers.
  *
  * 100 TB posture: `emb_dim_stats` and `emb_gram` are single
  * map-side-combined aggregations — the hash table per task is d and
  * d²/2 keys respectively (4 096 cells at d=64), so the shuffle is
  * constant-size regardless of corpus rows. The power iteration then
  * runs entirely on the d²-row Gram table: per-step cost is
  * independent of corpus size, each step one tiny join + aggregate
  * with the step vector broadcast. (A TypedImperativeAggregate with a
  * d² buffer could fuse the Gram fanout; the declarative join keeps
  * the DuckDB oracle replayable and the fanout is map-side-combined
  * before it ever reaches the wire.)
  */
object EmbeddingStats {

  private val SQUARINGS = 8 // spectral-filter depth: effective G^(2^8)

  /** (vec_id, i, rc): components in exact integer µ units; SemDedup's too. */
  private[sim] def comps(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        round(col("col").cast("double") * 1000000.0, 0).cast("long").as("rc"))

  // MATERIALIZED: each CTE below is referenced by several downstream
  // CTEs; without the hint DuckDB inlines the parquet scan per
  // reference and the 8-squaring chain in emb_pc1 exhausts the fd
  // limit ("Too many open files"). Oracle SQL is DuckDB-only.
  private val compsSql: String =
    """mc AS MATERIALIZED (
      |  SELECT vec_id, idx - 1 AS i,
      |    cast(round(cast(v AS double) * 1000000.0) AS BIGINT) AS rc
      |  FROM (
      |    SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
      |           unnest(embedding) AS v
      |    FROM embeddings))""".stripMargin

  // -------------------------------------------------------------------
  // emb_dim_stats — per-dimension mean / sd over the corpus: the
  // standardization (whitening) pass. One aggregate, d output rows.
  // -------------------------------------------------------------------
  // Sums run in decimal(38,0), not long: rc² ≈ 1e12–1e13 per row, so a
  // 64-bit sum wraps silently (Spark non-ANSI) around ~1e6 rows per
  // dimension while DuckDB promotes to HUGEINT — the engines would
  // silently diverge exactly at scale. decimal(38,0) holds ~1e38
  // (≈1e25 corpus rows at 1e13/row), and Spark's map-side combine is
  // unchanged (decimal sum is still a partial-aggregatable codegen'd
  // sum).
  def embDimStats(spark: SparkSession, dir: String): DataFrame = {
    val rcDec = col("rc").cast("decimal(38,0)")
    comps(spark, dir).groupBy("i")
      .agg(count(lit(1)).as("n"),
        round(sum(rcDec).cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("mean"),
        round(
          sqrt((sum(rcDec * rcDec).cast("double") -
            sum(rcDec).cast("double") * sum(rcDec).cast("double") /
              count(lit(1))) / count(lit(1))) / 1000000.0, 6).as("sd"))
  }

  val embDimStatsSql: String =
    s"""WITH $compsSql
       |SELECT i, count(*) AS n,
       |  round(cast(sum(rc) AS double) / count(*) / 1000000.0, 6) AS mean,
       |  round(sqrt((cast(sum(rc*rc) AS double)
       |      - cast(sum(rc) AS double) * cast(sum(rc) AS double) / count(*))
       |    / count(*)) / 1000000.0, 6) AS sd
       |FROM mc GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------
  // emb_gram — upper-triangle Gram matrix Σ x_i·x_j in exact µ² units:
  // the covariance/PCA input. Per-vector fanout d(d+1)/2, reduced by
  // map-side combine to ≤ d²/2 rows per task before the one shuffle.
  // Output stays exact integers — no rounding anywhere in the gate.
  // -------------------------------------------------------------------
  /** Canonical Gram plan (shared by emb_gram and the power iteration,
    * so one persisted instance serves both).
    *
    * The d(d+1)/2 upper-triangle products are generated IN-ROW from
    * the embedding array (nested `transform` + `slice` over the
    * quantized components), so nothing crosses the wire until the
    * partial aggregate reduces each task to its ≤d²/2-key hash table.
    * The naive formulation (explode + self-join on vec_id) needs the
    * whole corpus co-located by vec_id first — locally AQE rescues it
    * by broadcasting the corpus, which is exactly the move that
    * doesn't exist at 100 TB; this one is shuffle-free by
    * construction (the rows of one vector are already one row). */
  def gram(spark: SparkSession, dir: String): DataFrame = {
    val rc = transform(col("embedding"),
      x => round(x.cast("double") * 1000000.0, 0).cast("long"))
    Tables.table(spark, dir, "embeddings")
      .select(rc.as("rc"))
      .select(explode(flatten(transform(col("rc"), (x, i) =>
        transform(slice(col("rc"), i + lit(1), size(col("rc")) - i),
          (y, k) => struct(i.as("i"), (i + k).as("j"),
            (x * y).as("p")))))).as("pr"))
      .groupBy(col("pr.i").as("i"), col("pr.j").as("j"))
      // decimal(38,0) accumulator for the same wrap-vs-HUGEINT reason
      // as embDimStats; the final cast back to long keeps the output
      // schema and is loud on overflow (decimal→long nulls, never
      // wraps). int64 output bounds each Gram CELL at ~9.2e18 ≈ 1e6
      // corpus rows at 1e13/row-pair — widen `g` to decimal(38,0) on
      // both engines past that (DuckDB side is already HUGEINT-exact
      // before its BIGINT cast).
      .agg(sum(col("pr.p").cast("decimal(38,0)")).cast("long").as("g"))
  }

  def embGram(spark: SparkSession, dir: String): DataFrame =
    gram(spark, dir).select("i", "j", "g")

  private val gramSql: String =
    s"""$compsSql,
       |gm AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, cast(sum(a.rc * b.rc) AS BIGINT) AS g
       |  FROM mc a JOIN mc b ON b.vec_id = a.vec_id AND b.i >= a.i
       |  GROUP BY 1, 2)""".stripMargin

  val embGramSql: String =
    s"""WITH $gramSql
       |SELECT i, j, g FROM gm""".stripMargin

  // -------------------------------------------------------------------
  // emb_pc1 — dominant eigenvector of the Gram matrix via normalized
  // REPEATED SQUARING (spectral filtering): M ← (M·M)/max|M·M|,
  // SQUARINGS times, then one application to the uniform start vector.
  // Naive power iteration needs O(1/eigengap) corpus-free steps (the
  // embeddings are near-isotropic: λ₂/λ₁ ≈ 0.93 ⇒ ~100 steps for
  // 1e-3); squaring reaches G^(2^k) in k matrix products, so 8
  // squarings filter at ratio 0.93^256 ≈ 1.5e-8. Every product is a
  // d³-element join+aggregate over the d²-row matrix — corpus-size-
  // free after the ONE Gram pass. Entries are renormalized to
  // max|·| = 1 and rounded to 12 dp after every squaring on BOTH
  // sides, which (a) prevents magnitude overflow and (b) quarantines
  // sub-ulp float-summation divergence before it can compound.
  // (Caveat shared with all power methods: the start vector must not
  // be orthogonal to the dominant eigenvector; the uniform vector is
  // generic for real embedding corpora.)
  // -------------------------------------------------------------------
  /** Round-half-away-from-zero to `scale` dp — the shared semantics of
    * Spark's `round` and DuckDB's `round` on doubles. */
  private def roundAt(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  def embPc1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = gram(spark, dir)
    // Full (symmetric) matrix from the stored triangle, collapsed to
    // ONE row-major array row: after the Gram pass the problem is
    // O(d²) data / O(d³) math — corpus-size-free. The squaring chain
    // then runs as a single typed map over that one row (the
    // sequential-kernel tier, like the Cholesky/sift kernels): zero
    // shuffles, zero iteration jobs. Two rejected formulations: a
    // join-per-squaring loop spends 8×(join+agg shuffle+checkpoint)
    // on a 4096-row matrix, and a chain of nested higher-order-
    // function Projects sends the analyzer/optimizer into
    // exponential expression inlining (each squaring references its
    // input twice). The renorm + 12-dp round after every squaring is
    // the same contract as the oracle's, entry order absorbed by the
    // rounding exactly as in the declarative version.
    val gfull = g.select(col("i"), col("j"), col("g")).unionAll(
      g.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g")))
    val mRow = gfull
      .select(struct((col("i").cast("long") * 65536L + col("j")).as("idx"),
        col("g").cast("double").as("v")).as("s"))
      .agg(transform(array_sort(collect_list(col("s"))),
        s => s.getField("v")).as("m"))
      .as[Array[Double]]
    mRow.flatMap { m0 =>
      // Empty corpus → the no-groupBy agg still emits ONE row with an
      // empty collect_list; bail before renorm's max-on-empty throws.
      if (m0.isEmpty) Iterator.empty
      else embPc1Kernel(m0)
    }.toDF("i", "pc1")
  }

  private def embPc1Kernel(m0: Array[Double]): Iterator[(Int, Double)] = {
    {
      val d = math.round(math.sqrt(m0.length.toDouble)).toInt
      def renorm(m: Array[Double]): Array[Double] = {
        val mx = m.map(math.abs).max
        m.map(x => roundAt(x / mx, 12))
      }
      var m = renorm(m0)
      for (_ <- 1 to SQUARINGS) {
        val p = Array.ofDim[Double](d * d)
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) {
            var acc = 0.0
            var k = 0
            while (k < d) { acc += m(i * d + k) * m(k * d + j); k += 1 }
            p(i * d + j) = acc
            j += 1
          }
          i += 1
        }
        m = renorm(p)
      }
      // v = normalize(M·1): row sums of the filtered matrix
      val w = Array.tabulate(d)(i => m.slice(i * d, i * d + d).sum)
      val nrm = math.sqrt(w.map(u => u * u).sum)
      w.zipWithIndex.iterator.map { case (u, i) => (i, roundAt(u / nrm, 6)) }
    }
  }

  val embPc1Sql: String = {
    val steps = (1 to SQUARINGS).map { k =>
      val prev = if (k == 1) "m0" else s"m${k - 1}"
      s"""p$k AS MATERIALIZED (SELECT a.i, b.j, sum(a.mv * b.mv) AS mv
         |  FROM $prev a JOIN $prev b ON b.i = a.j GROUP BY 1, 2),
         |x$k AS (SELECT max(abs(mv)) AS mx FROM p$k),
         |m$k AS MATERIALIZED (SELECT i, j, round(mv / mx, 12) AS mv
         |  FROM p$k CROSS JOIN x$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $gramSql,
       |g2 AS MATERIALIZED (
       |  SELECT i, j, cast(g AS double) AS mv FROM gm
       |  UNION ALL
       |  SELECT j AS i, i AS j, cast(g AS double) AS mv FROM gm
       |  WHERE i <> j),
       |x0 AS (SELECT max(abs(mv)) AS mx FROM g2),
       |m0 AS MATERIALIZED (SELECT i, j, round(mv / mx, 12) AS mv
       |  FROM g2 CROSS JOIN x0),
       |$steps,
       |w AS (SELECT i, sum(mv) AS u FROM m$SQUARINGS GROUP BY 1),
       |nw AS (SELECT sqrt(sum(u*u)) AS nrm FROM w)
       |SELECT i, round(u / nrm, 6) AS pc1 FROM w CROSS JOIN nw""".stripMargin
  }

  // -------------------------------------------------------------------
  // emb_abtt — the "all-but-the-top" correction itself (Mu & Viswanath
  // 2018): project each embedding onto pc1 and report the projection
  // coefficient and the residual (corrected) norm. pc1 collapses to
  // ONE broadcast row holding the i-ordered µ-quantized array, and
  // every per-vector quantity is then row-local `zip_with`/`aggregate`
  // arithmetic — zero shuffle of the corpus, output one row per
  // vector in place. Per-vector sums are exact integers (components
  // AND pc1 re-quantized to µ units), so both engines derive
  // identical doubles: proj = (x·v)/1e12,
  // resid² = (Σx² − (x·v)²/(v·v))/1e12.
  // DERIVED-INPUT oracle: replays over the emb_pc1 Verify dump.
  // -------------------------------------------------------------------
  def embAbtt(spark: SparkSession, dir: String): DataFrame = {
    val pvRow = embPc1(spark, dir)
      .select(struct(col("i"),
        round(col("pc1") * 1000000.0, 0).cast("long").as("pv")).as("s"))
      .agg(transform(array_sort(collect_list(col("s"))),
        s => s.getField("pv")).as("pvarr"))
    val rc = transform(col("embedding"),
      x => round(x.cast("double") * 1000000.0, 0).cast("long"))
    def lsum(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0L), (acc, x) => acc + x)
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), rc.as("rc"))
      .crossJoin(broadcast(pvRow))
      .select(col("vec_id"),
        lsum(zip_with(col("rc"), col("pvarr"), (a, b) => a * b)).as("dot"),
        lsum(transform(col("rc"), x => x * x)).as("s2"),
        lsum(transform(col("pvarr"), p => p * p)).as("den"))
      .select(col("vec_id"),
        (round(col("dot").cast("double") / 1e12, 6) + lit(0.0)).as("proj"),
        round(sqrt(greatest(lit(0.0),
          (col("s2").cast("double") -
            col("dot").cast("double") * col("dot").cast("double") /
              col("den").cast("double")) / 1e12)), 6).as("resid"))
  }

  val embAbttSql: String =
    s"""WITH $compsSql,
       |pv AS (SELECT i, cast(round(pc1 * 1000000.0) AS BIGINT) AS pv
       |  FROM '__GRAFT_OUT__/emb_pc1/*.parquet'),
       |agg AS (
       |  SELECT vec_id, cast(sum(rc * rc) AS BIGINT) AS s2,
       |         cast(sum(rc * pv) AS BIGINT) AS dot
       |  FROM mc JOIN pv USING (i) GROUP BY 1),
       |dn AS (SELECT cast(sum(pv * pv) AS BIGINT) AS den FROM pv)
       |SELECT vec_id,
       |  round(cast(dot AS double) / 1e12, 6) + 0.0 AS proj,
       |  round(sqrt(greatest(0.0, (cast(s2 AS double)
       |    - cast(dot AS double) * cast(dot AS double)
       |      / cast(den AS double)) / 1e12)), 6) AS resid
       |FROM agg CROSS JOIN dn""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("emb_dim_stats", embDimStats, embDimStatsSql),
    Query("emb_gram", embGram, embGramSql),
    Query("emb_pc1", embPc1, embPc1Sql),
    Query("emb_abtt", embAbtt, embAbttSql))
}
