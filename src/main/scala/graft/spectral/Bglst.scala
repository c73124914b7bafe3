package graft.spectral

import graft.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BGLST — Bayesian Generalised Lomb–Scargle periodogram with Trend.
  * BEYOND the reference's shipped surface: spectral.py:207 declares
  * `BGLST` as an empty stub (`class BGLST(object): pass`) exported in
  * its `__all__`. The method is public — Olspert, Pelt, Käpylä &
  * Lehtinen, "Estimating activity cycles with probabilistic methods",
  * A&A 615 A111 (2018): model each series as a harmonic PLUS a linear
  * trend, y(t) = A·cos ωt + B·sin ωt + α·t + β + ε, and score each
  * trial frequency by the MARGINAL likelihood with the four linear
  * parameters integrated out under flat priors. Unlike plain GLS, a
  * secular trend cannot masquerade as (or bias) a long period — the
  * trend is part of the model at every frequency, not a residual.
  *
  * For a Gaussian linear model the marginalisation is closed-form:
  * with x = (cos ωt, sin ωt, t, 1), M = Σ x xᵀ and b = Σ y x,
  *   ln P(f) = ½ bᵀ M⁻¹ b − ½ ln det M + const(f-independent).
  * graft evaluates it via the explicit 4×4 Cholesky of M written out
  * as staged column expressions — the identical expression tree runs
  * on both engines, so the oracle replays it exactly.
  *
  * graft conventions (the stub defines no semantics to match):
  * the reference GLS grid (f_k = k·DF, k = 1..NF); unit weights on
  * the per-series STANDARDISED signal yn = (y − ȳ)/sd (flat priors
  * make the marginal invariant to affine shifts only up to an
  * f-independent constant, and unit variance keeps ln P at O(n) so
  * the 6-dp gate rounding is safe at any y scale); the trend basis in
  * DAYS (td = tc/86400) so M's diagonal stays balanced; series with
  * n < 8 points or zero variance are excluded (M must be SPD).
  *
  * Scale shape: identical to glsPeriodogram — one broadcast grid
  * fan-out, ONE groupBy(id, k) with 14 map-side-combined sum/count
  * aggregates, then per-row closed-form algebra and a 200-row/series
  * window for the per-series normalisation. Embarrassingly parallel
  * in series count.
  */
object Bglst {
  import Gls.{DF, NF}

  /** Standardised series with day-scaled trend basis: (id, tc, td,
    * yn, sd). sd is carried through for de-normalising the fitted
    * trend slope in bglstBest. */
  private def standardised(spark: SparkSession, dir: String): DataFrame = {
    val c = Gls.centered(spark, dir)
    val nz = c.groupBy("id")
      .agg(sqrt(avg(col("yc") * col("yc"))).as("sd"),
        count(lit(1)).as("nn"))
    c.join(broadcast(nz.filter(col("sd") > 0.0 && col("nn") >= 8)), "id")
      .select(col("id"), col("tc"), (col("tc") / 86400.0).as("td"),
        (col("yc") / col("sd")).as("yn"), col("sd"))
  }

  private val standardisedSql: String =
    s"""${Gls.centeredSql},
       |nz AS (SELECT id, sqrt(avg(yc*yc)) AS sd, count(*) AS nn
       |       FROM c GROUP BY id),
       |cn AS (SELECT c.id, c.tc, c.tc/86400.0 AS td, c.yc/nz.sd AS yn,
       |              nz.sd
       |       FROM c JOIN nz USING (id)
       |       WHERE nz.sd > 0.0 AND nz.nn >= 8)""".stripMargin

  /** The 14 sufficient statistics per (id, k): every entry of M and b
    * (x = (c, s, td, 1), y = yn) plus sd carried as a per-id constant. */
  private def moments(spark: SparkSession, dir: String): DataFrame = {
    val freqs = spark.range(1, NF + 1).toDF("k")
    val omega = lit(2.0 * math.Pi * DF) * col("k") * col("tc")
    standardised(spark, dir)
      .crossJoin(broadcast(freqs))
      .select(col("id"), col("k"), col("td"), col("yn"), col("sd"),
        cos(omega).as("cw"), sin(omega).as("sw"))
      .groupBy("id", "k")
      .agg(
        sum(col("cw") * col("cw")).as("scc"),
        sum(col("cw") * col("sw")).as("scs"),
        sum(col("sw") * col("sw")).as("sss"),
        sum(col("td") * col("cw")).as("stc"),
        sum(col("td") * col("sw")).as("sts"),
        sum(col("cw")).as("sc"), sum(col("sw")).as("ss"),
        sum(col("yn") * col("cw")).as("syc"),
        sum(col("yn") * col("sw")).as("sys"),
        sum(col("td") * col("td")).as("stt"),
        sum(col("td")).as("st"),
        sum(col("yn") * col("td")).as("syt"),
        sum(col("yn")).as("sy"),
        count(lit(1)).cast("double").as("n"),
        first(col("sd")).as("sd"))
  }

  private val momentsSql: String =
    s"""WITH $standardisedSql,
       |mo AS (
       |  SELECT cn.id, k.k,
       |    sum(cos(2*pi()*${DF}*k.k*cn.tc) * cos(2*pi()*${DF}*k.k*cn.tc)) AS scc,
       |    sum(cos(2*pi()*${DF}*k.k*cn.tc) * sin(2*pi()*${DF}*k.k*cn.tc)) AS scs,
       |    sum(sin(2*pi()*${DF}*k.k*cn.tc) * sin(2*pi()*${DF}*k.k*cn.tc)) AS sss,
       |    sum(cn.td * cos(2*pi()*${DF}*k.k*cn.tc)) AS stc,
       |    sum(cn.td * sin(2*pi()*${DF}*k.k*cn.tc)) AS sts,
       |    sum(cos(2*pi()*${DF}*k.k*cn.tc)) AS sc,
       |    sum(sin(2*pi()*${DF}*k.k*cn.tc)) AS ss,
       |    sum(cn.yn * cos(2*pi()*${DF}*k.k*cn.tc)) AS syc,
       |    sum(cn.yn * sin(2*pi()*${DF}*k.k*cn.tc)) AS sys,
       |    sum(cn.td * cn.td) AS stt,
       |    sum(cn.td) AS st,
       |    sum(cn.yn * cn.td) AS syt,
       |    sum(cn.yn) AS sy,
       |    cast(count(*) AS DOUBLE) AS n,
       |    min(cn.sd) AS sd
       |  FROM cn CROSS JOIN generate_series(1, ${NF}) AS k(k)
       |  GROUP BY 1, 2)""".stripMargin

  /** Cholesky M = L·Lᵀ, forward solve L z = b, then
    * ln P = ½‖z‖² − Σ ln l_ii — staged so the oracle can run the
    * IDENTICAL expression tree (each layer only references columns of
    * the previous layer, never a same-layer alias). */
  private def lnp(m: DataFrame): DataFrame = {
    val a = m
      .withColumn("l11", sqrt(col("scc")))
    val b = a
      .withColumn("l21", col("scs") / col("l11"))
      .withColumn("l31", col("stc") / col("l11"))
      .withColumn("l41", col("sc") / col("l11"))
      .withColumn("z1", col("syc") / col("l11"))
    val c = b
      .withColumn("l22", sqrt(col("sss") - col("l21") * col("l21")))
    val d = c
      .withColumn("l32", (col("sts") - col("l31") * col("l21")) / col("l22"))
      .withColumn("l42", (col("ss") - col("l41") * col("l21")) / col("l22"))
      .withColumn("z2", (col("sys") - col("l21") * col("z1")) / col("l22"))
    val e = d
      .withColumn("l33", sqrt(col("stt") -
        col("l31") * col("l31") - col("l32") * col("l32")))
    val f = e
      .withColumn("l43", (col("st") -
        col("l41") * col("l31") - col("l42") * col("l32")) / col("l33"))
      .withColumn("z3", (col("syt") -
        col("l31") * col("z1") - col("l32") * col("z2")) / col("l33"))
    val g = f
      .withColumn("l44", sqrt(col("n") - col("l41") * col("l41") -
        col("l42") * col("l42") - col("l43") * col("l43")))
    g.withColumn("z4", (col("sy") - col("l41") * col("z1") -
        col("l42") * col("z2") - col("l43") * col("z3")) / col("l44"))
      .withColumn("lnp",
        lit(0.5) * (col("z1") * col("z1") + col("z2") * col("z2") +
          col("z3") * col("z3") + col("z4") * col("z4")) -
          (log(col("l11")) + log(col("l22")) +
            log(col("l33")) + log(col("l44"))))
  }

  private val lnpSqlBody: String =
    """b1 AS (SELECT *, sqrt(scc) AS l11 FROM mo),
      |b2 AS (SELECT *, scs/l11 AS l21, stc/l11 AS l31, sc/l11 AS l41,
      |              syc/l11 AS z1 FROM b1),
      |b3 AS (SELECT *, sqrt(sss - l21*l21) AS l22 FROM b2),
      |b4 AS (SELECT *, (sts - l31*l21)/l22 AS l32,
      |              (ss - l41*l21)/l22 AS l42,
      |              (sys - l21*z1)/l22 AS z2 FROM b3),
      |b5 AS (SELECT *, sqrt(stt - l31*l31 - l32*l32) AS l33 FROM b4),
      |b6 AS (SELECT *, (st - l41*l31 - l42*l32)/l33 AS l43,
      |              (syt - l31*z1 - l32*z2)/l33 AS z3 FROM b5),
      |b7 AS (SELECT *, sqrt(n - l41*l41 - l42*l42 - l43*l43) AS l44
      |       FROM b6),
      |b8 AS (SELECT *, (sy - l41*z1 - l42*z2 - l43*z3)/l44 AS z4
      |       FROM b7),
      |lp AS (SELECT *,
      |  0.5*(z1*z1 + z2*z2 + z3*z3 + z4*z4)
      |    - (ln(l11) + ln(l22) + ln(l33) + ln(l44)) AS lnp
      |  FROM b8)""".stripMargin

  /** bglst_periodogram — (id, k, logp): the log marginal likelihood of
    * the harmonic+trend model at f_k, normalised per series to its
    * grid maximum (logp ≤ 0, = 0 at the winning frequency). The
    * normalisation drops the f-independent constants (priors, ‖yn‖²)
    * AND keeps the hashed values O(1–100). */
  /** The solved grid — shared subplan between the periodogram and the
    * best-period twin (they project different columns of it, so a
    * persisted instance of THIS plan is substituted into both). */
  private[graft] def solvedGrid(spark: SparkSession, dir: String): DataFrame =
    lnp(moments(spark, dir))

  def bglstPeriodogram(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("id")
    solvedGrid(spark, dir)
      .withColumn("lmax", max(col("lnp")).over(w))
      .select(col("id"), col("k"),
        round(col("lnp") - col("lmax"), 6).as("logp"))
  }

  val bglstPeriodogramSql: String =
    s"""$momentsSql,
       |$lnpSqlBody
       |SELECT id, k,
       |  round(lnp - max(lnp) OVER (PARTITION BY id), 6) AS logp
       |FROM lp""".stripMargin

  /** bglst_best — per series: the winning grid period and the fitted
    * trend slope THERE, de-standardised to y-units/day (the quantity
    * plain GLS silently folds into spurious long-period power). Ties
    * on the 6-dp-rounded logp break to the smallest k (longest
    * period) so both engines pick identically. Slope via the
    * back-substitution Lᵀθ = z (θ3 is the trend coefficient). */
  def bglstBest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("id")
    val scored = solvedGrid(spark, dir)
      .withColumn("lmax", max(col("lnp")).over(w))
      .withColumn("logp", round(col("lnp") - col("lmax"), 6))
    val wb = Window.partitionBy("id").orderBy(col("logp").desc, col("k").asc)
    scored
      .withColumn("rk", row_number().over(wb))
      .filter(col("rk") === 1)
      .withColumn("th4", col("z4") / col("l44"))
      .withColumn("th3", (col("z3") - col("l43") * col("th4")) / col("l33"))
      .select(col("id"),
        round(lit(1.0 / DF) / col("k"), 6).as("best_period"),
        round(col("th3") * col("sd"), 6).as("trend_per_day"))
  }

  val bglstBestSql: String =
    s"""$momentsSql,
       |$lnpSqlBody,
       |sc2 AS (SELECT *,
       |  round(lnp - max(lnp) OVER (PARTITION BY id), 6) AS logp FROM lp),
       |rk AS (SELECT *, row_number() OVER (
       |    PARTITION BY id ORDER BY logp DESC, k ASC) AS rnk FROM sc2),
       |bt AS (SELECT *, z4/l44 AS th4 FROM rk WHERE rnk = 1),
       |bs AS (SELECT *, (z3 - l43*th4)/l33 AS th3 FROM bt)
       |SELECT id, round(${1.0 / DF} / k, 6) AS best_period,
       |  round(th3 * sd, 6) AS trend_per_day
       |FROM bs""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("bglst_periodogram", bglstPeriodogram, bglstPeriodogramSql),
    Query("bglst_best", bglstBest, bglstBestSql))
}
