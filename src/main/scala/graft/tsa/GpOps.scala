package graft.tsa

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Brownian- and Harmonic-kernel GP period maps plus the HHT
  * spectrogram rebin — the remaining gp.py / timefrequency.py surface.
  *
  * The reference (gp.py:487-539) fits these kernels with celerite2 +
  * emcee MCMC over ONE series; the Spark-native equivalent (same
  * convention as gp_period_map) is a grid-MAP: exact Cholesky marginal
  * likelihood per trial period inside one `mapGroups` per series —
  * millions of series parallelize linearly, no MCMC chain state.
  *
  * Both kernels are sums of stochastically-driven harmonic-oscillator
  * (SHO) covariances (Foreman-Mackey et al. 2017, AJ 154:220 — the
  * celerite kernel family):
  *   underdamped (Q > 1/2):  k(τ) = S0·ω0·Q · e^{-ω0τ/2Q} ·
  *       [cos(η ω0 τ) + sin(η ω0 τ)/(2ηQ)],  η = √(1 − 1/4Q²)
  *   overdamped  (Q < 1/2):  the cosh/sinh twin with η = √(1/4Q² − 1).
  */
object GpOps {

  /** SHO covariance for (S0, w0, Q), returned as a lag function with
    * every lag-independent constant hoisted: the result is evaluated
    * n²/2 × periods × series times, so the body must be a handful of
    * libm calls with NO allocation (a curried `def` here would rebuild
    * the constants and two closure objects per matrix element — the
    * dominant cost of the original implementation). */
  private def sho(s0: Double, w0: Double, q: Double): Double => Double = {
    val amp = s0 * w0 * q
    if (q >= 0.5) {
      val c = w0 / (2.0 * q)
      val eta = math.sqrt(math.max(1.0 - 1.0 / (4.0 * q * q), 1e-14))
      val ew = eta * w0
      val sc = 1.0 / (2.0 * eta * q)
      tau => {
        val x = math.abs(tau)
        amp * math.exp(-c * x) * (math.cos(ew * x) + sc * math.sin(ew * x))
      }
    } else {
      // exact two-exponential form: cosh/sinh would overflow long
      // before the e^{-damp} factor cancels (η w0 x ≫ 700 at strongly
      // overdamped Q), and both exponents a±b here are always ≤ 0
      val eta = math.sqrt(1.0 / (4.0 * q * q) - 1.0)
      val cb = w0 / (2.0 * q)
      val ca = eta * w0
      val p1 = 0.5 + 1.0 / (4.0 * eta * q)
      val p2 = 0.5 - 1.0 / (4.0 * eta * q)
      tau => {
        val x = math.abs(tau)
        amp * (math.exp((ca - cb) * x) * p1 + math.exp((-ca - cb) * x) * p2)
      }
    }
  }

  /** BrownianTerm (reference gp.py:487-499): an SHO at the rotation
    * period (damping tau = 10·period, the reference's prior center)
    * mixed with a strongly-overdamped background (Q = 0.01). */
  private def brownianKernel(varY: Double, period: Double)
      : Double => Double = {
    // graft grid-MAP conventions: 60% of the variance in the periodic
    // SHO (damping 3 periods), 40% in the overdamped background — the
    // period must explain the oscillation, the background only the
    // slow drift, or the MAP degenerates to the background timescale.
    val mix = 0.6
    val q1 = math.Pi * (3.0 * period) / period // Q = π·tau/ρ, underdamped
    val w1 = 2.0 * math.Pi / period
    val s1 = mix * varY / (w1 * q1)
    val q2 = 0.01
    val f = math.sqrt(1.0 - 4.0 * q2 * q2)
    val w2 = 2.0 * q2 / ((3.0 * period) * (1.0 - f))
    val s2 = (1.0 - mix) * varY / (0.5 * w2 * q2 * (1.0 + 1.0 / f))
    val f1 = sho(s1, w1, q1)
    val f2 = sho(s2, w2, q2)
    tau => f1(tau) + f2(tau)
  }

  /** RotationTerm (celerite2 docs; reference HarmonicGP gp.py:521-539):
    * two underdamped SHOs at the period and its first harmonic with
    * amplitude ratio f. Fixed shape hyperparameters Q0 = e, dQ = e²,
    * f = 0.5 (the reference's prior medians). */
  private def harmonicKernel(varY: Double, period: Double)
      : Double => Double = {
    val q0 = math.exp(1.0)
    val dq = math.exp(2.0)
    val fr = 0.1 // weak first harmonic: keeps P vs 2P non-degenerate
    val amp = varY / (1.0 + fr)
    val q1 = 0.5 + q0 + dq
    val w1 = 4.0 * math.Pi * q1 / (period * math.sqrt(4.0 * q1 * q1 - 1.0))
    val s1 = amp / (w1 * q1)
    val q2 = 0.5 + q0
    val w2 = 8.0 * math.Pi * q2 / (period * math.sqrt(4.0 * q2 * q2 - 1.0))
    val s2 = fr * amp / (w2 * q2)
    val f1 = sho(s1, w1, q1)
    val f2 = sho(s2, w2, q2)
    tau => f1(tau) + f2(tau)
  }

  /** Signal covariance matrix K(kf) — kernels are even in tau: fill
    * the lower triangle and mirror. Shared by every GP op below so the
    * kernel assembly cannot drift between the grid maps, gp_predict
    * and gp_loocv. */
  private def kernelMatrix(kf: Double => Double, t: Array[Double])
      : Array[Array[Double]] = {
    val n = t.length
    val k = Array.ofDim[Double](n, n)
    var a = 0
    while (a < n) {
      var b = 0
      while (b <= a) {
        val v = kf(t(a) - t(b))
        k(a)(b) = v
        k(b)(a) = v
        b += 1
      }
      a += 1
    }
    k
  }

  /** Copy ks, add the white-noise+jitter diagonal, factor. Returns
    * null when the matrix is not positive definite (like cholesky). */
  private def noisyCholesky(ks: Array[Array[Double]], diag: Double)
      : Array[Array[Double]] = {
    val n = ks.length
    val k = Array.tabulate(n, n)((a, b) => ks(a)(b))
    var i = 0
    while (i < n) { k(i)(i) += diag; i += 1 }
    SeriesMath.cholesky(k)
  }

  /** log marginal likelihood from the factors (gp.py log_likelihood). */
  private def logMarginal(l: Array[Array[Double]], y: Array[Double])
      : Double = {
    val n = y.length
    val alpha = SeriesMath.choleskySolve(l, y)
    var ll = -0.5 * n * math.log(2.0 * math.Pi)
    var i = 0
    while (i < n) {
      ll -= math.log(l(i)(i))
      ll -= 0.5 * y(i) * alpha(i)
      i += 1
    }
    ll
  }

  /** The default trial grid: 12 h .. 10 d in half-day steps — the
    * events-table rotation range. */
  val DefaultPeriodGrid: Array[Double] = (1 to 20).map(_ * 43200.0).toArray

  /** Shared grid-MAP harness: subsample to ≤200 points, demean, scan
    * the trial period grid, Cholesky log-marginal per period.
    * The per-kernel merge step is built ONCE and stored in a val
    * (below): a closure constructed per invocation would capture a
    * fresh kernel eta-expansion, making two calls of the same map
    * canonically different plans — which defeats the CacheManager
    * substitution gp_predict's compose (and any persisted harmonic
    * map) relies on. The grid is a parameter so reference
    * parity tests can scan the spotted star's day-scale range
    * (tests/test_gp.py MCMC medians at 10-11 d, beyond the default
    * grid's edge); registered queries always use the default. */
  private def gridMapFn(kernel: (Double, Double) => Double => Double,
      grid: Array[Double])
      : (Long, Array[Double], Array[Double]) => Iterator[(Long, Double, Double, Int)] =
    (id, t0, y0) => {
      val stride = (t0.length + 199) / 200
      val idx = t0.indices.by(stride).toArray
      val t = idx.map(t0)
      val yRaw = idx.map(y0)
      val n = t.length
      if (n < 10) Iterator.empty
      else {
        val mean = yRaw.sum / n
        val y = yRaw.map(_ - mean)
        val varY = math.max(y.map(v => v * v).sum / n, 1e-12)
        val noise = 0.2 * varY
        val results = grid.toSeq.map { p =>
          val l = noisyCholesky(kernelMatrix(kernel(varY, p), t),
            noise + 1e-9 * varY)
          if (l == null) (p, Double.NegativeInfinity)
          else (p, logMarginal(l, y))
        }
        val best = results.maxBy(_._2)._1
        results.iterator.map { case (p, ll) =>
          (id, p, math.rint(ll * 1e3) / 1e3, if (p == best) 1 else 0)
        }
      }
    }

  private val brownianMapFn = gridMapFn(brownianKernel, DefaultPeriodGrid)
  private val harmonicMapFn = gridMapFn(harmonicKernel, DefaultPeriodGrid)

  def gpBrownianMap(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.perSeries(spark, dir)(brownianMapFn)
      .toDF("id", "period", "loglik", "is_best")

  def gpHarmonicMap(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.perSeries(spark, dir)(harmonicMapFn)
      .toDF("id", "period", "loglik", "is_best")

  /** Custom-grid overloads (reference parity / exploration — fresh
    * closures, so no CacheManager substitution across calls). */
  def gpBrownianMap(spark: SparkSession, dir: String,
      grid: Array[Double]): DataFrame =
    SeriesOps.perSeries(spark, dir)(gridMapFn(brownianKernel, grid))
      .toDF("id", "period", "loglik", "is_best")

  def gpHarmonicMap(spark: SparkSession, dir: String,
      grid: Array[Double]): DataFrame =
    SeriesOps.perSeries(spark, dir)(gridMapFn(harmonicKernel, grid))
      .toDF("id", "period", "loglik", "is_best")

  /** The gp_predict merge step as a case class (SeriesOps.SeriesFunc
    * rationale): rows arrive as (id, t, y, eid, map_period) with the
    * MAP period joined on, sorted here by (t, eid). Refit ONE Cholesky
    * at that period and emit μ = K_signal·α. */
  private[graft] case class GpPredictFunc()
    extends ((Long, Iterator[(Long, Double, Double, Long, Double)]) =>
      IterableOnce[(Long, Double, Double, Double, Double)]) {
    override def apply(id: Long,
        it: Iterator[(Long, Double, Double, Long, Double)])
        : IterableOnce[(Long, Double, Double, Double, Double)] = {
      val rows = it.toArray.sortBy(r => (r._2, r._4))
      val bestP = rows(0)._5
      val t0 = rows.map(_._2)
      val y0 = rows.map(_._3)
      val stride = (t0.length + 199) / 200
      val idx = t0.indices.by(stride).toArray
      val t = idx.map(t0)
      val yRaw = idx.map(y0)
      val n = t.length
      if (n < 10 || bestP <= 0.0) Iterator.empty
      else {
        val mean = yRaw.sum / n
        val y = yRaw.map(_ - mean)
        val varY = math.max(y.map(v => v * v).sum / n, 1e-12)
        val noise = 0.2 * varY
        val ks = kernelMatrix(harmonicKernel(varY, bestP), t)
        val l = noisyCholesky(ks, noise + 1e-9 * varY)
        if (l == null) Iterator.empty
        else {
          val alpha = SeriesMath.choleskySolve(l, y)
          t.indices.iterator.map { i =>
            var mu = 0.0
            var b = 0
            while (b < n) { mu += ks(i)(b) * alpha(b); b += 1 }
            (id, t(i), yRaw(i),
              math.rint((mu + mean) * 1e4) / 1e4, bestP)
          }
        }
      }
    }
  }

  /** gp_predict — reference gp.py:379-383 (CeleriteModeler
    * .get_prediction): the GP posterior mean, evaluated at the
    * training points for the MAP period of the harmonic (RotationTerm)
    * kernel. With α = (K_signal + σ²I)⁻¹ y from the same Cholesky the
    * grid-MAP already runs, the posterior mean at the training inputs
    * is μ = K_signal·α. Round 7: consumes gp_harmonic_map's published
    * is_best row (equi-join on series id — the map side is one row per
    * series, AQE broadcasts it locally) instead of re-running the
    * 20-period scan privately: 21 Cholesky factorizations per series
    * become 1 + the map sub-plan, which CacheManager substitutes from
    * a persisted harmonic map. Output unchanged: the internal
    * scan picked the same argmax the map publishes (same subsample,
    * kernel, grid, first-max tie rule). Rows (id, t, y, mu) with y/μ
    * in original units (mean re-added); rows-only oracle (the Cholesky
    * chain is not SQL-expressible). */
  def gpPredict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val best = gpHarmonicMap(spark, dir)
      .filter(col("is_best") === 1)
      .select(col("id").as("bid"), col("period").as("map_p"))
    Tables.series(spark, dir)
      .select(col("id").cast("long"), col("t"), col("y"),
        col("eid").cast("long"))
      .join(best, col("id") === col("bid"))
      .select(col("id"), col("t"), col("y"), col("eid"), col("map_p"))
      .as[(Long, Double, Double, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups(GpPredictFunc())
      .toDF("id", "t", "y", "mu", "map_period")
  }

  /** gp_loocv — reference gp.py:387-397 (CeleriteModeler.loocv): the
    * leave-one-out predictive log-score Σᵢ log p(yᵢ | y₋ᵢ), computed
    * from the SAME Cholesky factors as the harmonic grid-MAP via the
    * standard rank-one identities q = K⁻¹y, c = diag(K⁻¹):
    *   loocv = −½·(Σ qᵢ²/cᵢ − Σ log cᵢ + n·log 2π).
    * Emitted for every trial period with is_best = argmax — model
    * selection by cross-validation instead of marginal likelihood
    * (LOO penalizes the overfit kernels ML can prefer). diag(K⁻¹)
    * costs one O(n³/6) triangular sweep per period on top of the
    * Cholesky, so the subsample cap is 120 points here (vs 200 for
    * the pure-ML maps); rows-only oracle like the other Cholesky ops.
    */
  def gpLoocv(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.perSeries(spark, dir) { (id, t0, y0) =>
      val stride = (t0.length + 119) / 120
      val idx = t0.indices.by(stride).toArray
      val t = idx.map(t0)
      val yRaw = idx.map(y0)
      val n = t.length
      if (n < 10) Iterator.empty
      else {
        val mean = yRaw.sum / n
        val y = yRaw.map(_ - mean)
        val varY = math.max(y.map(v => v * v).sum / n, 1e-12)
        val noise = 0.2 * varY
        val results = (1 to 20).map { j =>
          val p = j * 43200.0 // 12 h .. 10 d, the grid-MAP grid
          val l = noisyCholesky(kernelMatrix(harmonicKernel(varY, p), t),
            noise + 1e-9 * varY)
          if (l == null) (p, Double.NegativeInfinity)
          else {
            val q = SeriesMath.choleskySolve(l, y)
            val c = SeriesMath.choleskyInvDiag(l)
            var s = n * math.log(2.0 * math.Pi)
            var i = 0
            while (i < n) {
              s += q(i) * q(i) / c(i) - math.log(c(i))
              i += 1
            }
            (p, -0.5 * s)
          }
        }
        val best = results.maxBy(_._2)._1
        results.iterator.map { case (p, s) =>
          (id, p, math.rint(s * 1e3) / 1e3, if (p == best) 1 else 0)
        }
      }
    }.toDF("id", "period", "loocv", "is_best")

  // -------------------------------------------------------------------
  // gp_posterior — the spirit of the reference's MCMC posterior over
  // period (gp.py:257-296, 428-486) re-expressed Spark-first: the
  // grid-MAP already computes log p(y | period) on the trial grid, so
  // the normalized grid posterior is a per-series softmax over the
  // EXISTING log-likelihoods — posterior, CDF, and the posterior-median
  // flag (the uncertainty summary MCMC's trace median provides) as
  // pure window arithmetic over gp_harmonic_map. No new Cholesky work:
  // the map subplan is shared (plan-identity vals).
  //
  // DERIVED-INPUT oracle: DuckDB replays the softmax over the
  // gp_harmonic_map parquet Verify dump — loglik is 1e-3-quantized at
  // the dump, so exp() sees bit-identical inputs on both engines and
  // the 6 dp round absorbs summation-order noise. Series whose whole
  // grid failed Cholesky (all −∞) are dropped on both sides.
  // -------------------------------------------------------------------
  def gpPosterior(spark: SparkSession, dir: String): DataFrame =
    posteriorOver(gpHarmonicMap(spark, dir))

  /** The softmax/CDF/median transform over any (id, period, loglik)
    * grid map — shared by gp_posterior and the reference-parity
    * posterior-median checks on custom grids. */
  def posteriorOver(map: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id")
    val wo = Window.partitionBy("id").orderBy("period")
    val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    map
      .withColumn("mx", max("loglik").over(w))
      .filter(col("mx") =!= lit(Double.NegativeInfinity))
      .withColumn("e", exp(col("loglik") - col("mx")))
      .withColumn("z", sum("e").over(w))
      .withColumn("ce", sum("e").over(wc))
      .withColumn("cdf_raw", col("ce") / col("z"))
      .withColumn("pv",
        lag(col("cdf_raw"), 1, 0.0).over(wo))
      .select(col("id"), col("period"),
        (round(col("e") / col("z"), 6) + 0.0).as("posterior"),
        (round(col("cdf_raw"), 6) + 0.0).as("cdf"),
        when(col("cdf_raw") >= 0.5 && col("pv") < 0.5, 1L).otherwise(0L)
          .as("is_median"))
  }

  val gpPosteriorSql: String =
    """WITH m AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/gp_harmonic_map/*.parquet')),
      |s AS (SELECT id, period, loglik,
      |  max(loglik) OVER (PARTITION BY id) AS mx FROM m),
      |e AS (SELECT id, period, exp(loglik - mx) AS e FROM s
      |  WHERE isfinite(mx)),
      |z AS (SELECT id, period, e,
      |  sum(e) OVER (PARTITION BY id) AS z,
      |  sum(e) OVER (PARTITION BY id ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
      |  FROM e)
      |SELECT id, period,
      |  round(e / z, 6) + 0.0 AS posterior,
      |  round(ce / z, 6) + 0.0 AS cdf,
      |  CAST(CASE WHEN ce / z >= 0.5 AND
      |    coalesce(lag(ce / z) OVER (PARTITION BY id ORDER BY period),
      |      0.0) < 0.5
      |  THEN 1 ELSE 0 END AS BIGINT) AS is_median
      |FROM z""".stripMargin

  // -------------------------------------------------------------------
  // gp_posterior_interval — round 13 (r12 verdict item 4): the
  // credible-interval summary the reference's users read off the
  // emcee trace (gp.py:257,428 — percentile(chain, [16, 50, 84])),
  // re-expressed over the SAME normalized grid posterior gp_posterior
  // computes: 16/50/84% CDF quantiles + the minimal-mass 68% HPD set
  // (highest-posterior cells, mass-ordered, until ≥ 0.68), all window
  // arithmetic over the existing gp_harmonic_map dump — no new
  // Cholesky work, and the last re-expressed reference capability
  // gains a driver-hash-gated uncertainty summary.
  //
  // Exactness discipline (posteriorOver, extended to the running
  // sum): quantile thresholds compare the 6 dp-ROUNDED cdf, and the
  // HPD prefix accumulates the 6 dp posterior in integer µ-units —
  // every cross-engine comparison runs on bit-identical quantized
  // values, so the running sum can't straddle an engine-order
  // boundary. HPD order is (mass desc, period asc) — deterministic
  // ties, the argmin-scan convention.
  // -------------------------------------------------------------------
  def gpPosteriorInterval(spark: SparkSession, dir: String): DataFrame =
    intervalOver(gpHarmonicMap(spark, dir))

  /** The 16/50/84 quantile + 68% HPD transform over any
    * (id, period, loglik) grid map — shared by gp_posterior_interval
    * and the synthetic-coverage spec. */
  def intervalOver(map: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wh = Window.partitionBy("id")
      .orderBy(col("pu").desc, col("period").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    posteriorOver(map)
      .withColumn("pu", round(col("posterior") * 1e6, 0).cast("long"))
      .withColumn("cum_u", sum("pu").over(wh))
      .withColumn("hpd", col("cum_u") - col("pu") < 680000L)
      .groupBy("id")
      .agg(
        min(when(col("cdf") >= 0.16, col("period"))).as("p16"),
        min(when(col("cdf") >= 0.5, col("period"))).as("p50"),
        min(when(col("cdf") >= 0.84, col("period"))).as("p84"),
        sum(when(col("hpd"), 1L).otherwise(0L)).as("hpd_n"),
        min(when(col("hpd"), col("period"))).as("hpd_lo"),
        max(when(col("hpd"), col("period"))).as("hpd_hi"))
      .select(col("id"), col("p16"), col("p50"), col("p84"),
        (col("p84") - col("p16")).as("ci_width"),
        col("hpd_n"), col("hpd_lo"), col("hpd_hi"),
        (col("hpd_hi") - col("hpd_lo")).as("hpd_width"))
  }

  val gpPosteriorIntervalSql: String =
    """WITH m AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/gp_harmonic_map/*.parquet')),
      |s AS (SELECT id, period, loglik,
      |  max(loglik) OVER (PARTITION BY id) AS mx FROM m),
      |e AS (SELECT id, period, exp(loglik - mx) AS e FROM s
      |  WHERE isfinite(mx)),
      |z AS (SELECT id, period, e,
      |  sum(e) OVER (PARTITION BY id) AS z,
      |  sum(e) OVER (PARTITION BY id ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
      |  FROM e),
      |p AS (SELECT id, period,
      |  round(e / z, 6) + 0.0 AS posterior,
      |  round(ce / z, 6) + 0.0 AS cdf FROM z),
      |h AS (SELECT *, cast(round(posterior * 1000000.0) AS BIGINT)
      |  AS pu FROM p),
      |c AS (SELECT *, sum(pu) OVER (PARTITION BY id
      |    ORDER BY pu DESC, period ASC
      |    ROWS UNBOUNDED PRECEDING) AS cum_u FROM h)
      |SELECT id,
      |  min(CASE WHEN cdf >= 0.16 THEN period END) AS p16,
      |  min(CASE WHEN cdf >= 0.5 THEN period END) AS p50,
      |  min(CASE WHEN cdf >= 0.84 THEN period END) AS p84,
      |  min(CASE WHEN cdf >= 0.84 THEN period END)
      |    - min(CASE WHEN cdf >= 0.16 THEN period END) AS ci_width,
      |  count(CASE WHEN cum_u - pu < 680000 THEN 1 END) AS hpd_n,
      |  min(CASE WHEN cum_u - pu < 680000 THEN period END) AS hpd_lo,
      |  max(CASE WHEN cum_u - pu < 680000 THEN period END) AS hpd_hi,
      |  max(CASE WHEN cum_u - pu < 680000 THEN period END)
      |    - min(CASE WHEN cum_u - pu < 680000 THEN period END)
      |    AS hpd_width
      |FROM c GROUP BY id""".stripMargin

  // -------------------------------------------------------------------
  // hht_spectrogram — reference timefrequency.py:91-99 (_spectrogram):
  // bin the per-sample (freq, amp) pairs emitted by hht_inst onto a
  // (freq_grid × time) power grid. Frequency axis: 32 linear bins up
  // to the 6 h-sampling Nyquist; time axis: the 12 h wavelet grid.
  // Edge freq rows are zeroed by the reference (power[[0,-1]] = 0) —
  // here they are dropped. Declarative groupBy over the mapGroups
  // output: one extra shuffle keyed (id, fbin, m), map-side combined.
  //
  // Round 7 — DERIVED-INPUT oracle: the EMD sift is not
  // SQL-expressible, but this binning over its output is pure SQL — so
  // Verify dumps hht_inst to parquet and the oracle replays the exact
  // rebin in DuckDB over that parquet (`__GRAFT_OUT__` is substituted
  // with the dump directory by Verify), shrinking the untested surface
  // to the sift itself. Power sums aggregate exact integer-µ units
  // (amp is 1e-6-quantized at the sift emit) and the 4 dp round runs
  // in INTEGER space (÷100, ties-away round of the exact X.5 double,
  // ÷10⁴): the µ-unit sums land exactly on 4-dp halves, where Spark's
  // BigDecimal round and DuckDB's binary round disagree.
  // -------------------------------------------------------------------
  val FBins = 32
  val Nyquist: Double = 1.0 / (2.0 * 21600.0)

  def hhtSpectrogram(spark: SparkSession, dir: String): DataFrame = {
    val dfb = Nyquist / FBins
    SeriesOps.hhtInst(spark, dir)
      .withColumn("fbin",
        least(greatest(floor(col("freq") / dfb), lit(0.0)),
          lit((FBins - 1).toDouble)).cast("long"))
      .filter(col("fbin") > 0 && col("fbin") < FBins - 1)
      .groupBy(col("id"),
        col("fbin"),
        floor((col("t") - lit(graft.spectral.Wavelet.T0)) / 43200.0)
          .cast("long").as("m"))
      .agg((round(sum(round(col("amp") * 1000000.0, 0).cast("long"))
          .cast("double") / 100.0, 0) / 10000.0).as("power"),
        count(lit(1)).as("n_samples"))
  }

  val hhtSpectrogramSql: String = {
    val dfb = Nyquist / FBins
    s"""WITH hi AS (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/hht_inst/*.parquet')),
       |b AS (SELECT id,
       |  cast(least(greatest(floor(freq / $dfb), 0.0),
       |             ${(FBins - 1).toDouble}) AS BIGINT) AS fbin,
       |  cast(floor((t - ${graft.spectral.Wavelet.T0}) / 43200.0)
       |       AS BIGINT) AS m,
       |  amp FROM hi)
       |SELECT id, fbin, m,
       |  round(cast(sum(cast(round(amp*1000000.0) AS BIGINT)) AS double)
       |        / 100.0) / 10000.0 AS power,
       |  count(*) AS n_samples
       |FROM b
       |WHERE fbin > 0 AND fbin < ${FBins - 1}
       |GROUP BY 1, 2, 3""".stripMargin
  }

  // -------------------------------------------------------------------
  // ts_envelope — reference core.py:741 (get_envelope): upper/lower
  // cubic-spline envelopes through the padded maxima/minima (the same
  // SeriesMath kernel the EMD sift uses).
  //
  // Round 7 — split like ts_interp_spline: `ts_envelope_coeffs` dumps
  // the natural-spline coefficients per (side, knot interval) from the
  // sequential extrema/padding kernel (rows-only mapGroups), and
  // ts_envelope evaluates them at the sample times declaratively.
  // splineEval's CLAMP (points before the first knot use segment 0,
  // after the last use the final segment) maps onto the as-of carry by
  // giving segment 0 a cover_from of −1e18 — every sample then finds
  // a covering segment and the last segment naturally extends right.
  // DERIVED-INPUT oracle: DuckDB replays the per-side carry + cubic
  // eval + side pivot over the coeffs dump joined with the events
  // table itself. Duplicate (id, t) samples keep their eid through the
  // pivot keys, so they emit duplicate rows exactly as the in-memory
  // kernel did.
  // -------------------------------------------------------------------
  private val envelopeCoeffsFn
      : (Long, Array[Double], Array[Double]) => Iterator[
        (Long, Int, Long, Double, Double, Double, Double, Double, Double)] =
    (id, t, y) => {
      val k = SeriesMath.envelopeKnots(t, y, padWidth = 2)
      if (k == null) Iterator.empty
      else {
        def rows(side: Int, xs: Array[Double], ys: Array[Double]) = {
          val (b, c, d) = SeriesMath.splineCoeffs(xs, ys)
          b.indices.iterator.map { s =>
            val cover = if (s == 0) -1e18 else xs(s)
            (id, side, s.toLong, cover, xs(s), ys(s), b(s), c(s), d(s))
          }
        }
        rows(0, k._1._1, k._1._2) ++ rows(1, k._2._1, k._2._2)
      }
    }

  def tsEnvelopeCoeffs(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.perSeries(spark, dir)(envelopeCoeffsFn)
      .toDF("id", "side", "seg", "cover", "t0", "a", "b", "c", "d")

  def tsEnvelope(spark: SparkSession, dir: String): DataFrame = {
    val ec = tsEnvelopeCoeffs(spark, dir)
      .select(col("id"), col("side"), col("cover").as("tev"),
        lit(0).as("is_s"), lit(null).cast("long").as("eid"),
        col("t0"), col("a"), col("b"), col("c"), col("d"))
    val samples = Tables.series(spark, dir)
      .select(col("id"), explode(array(lit(0), lit(1))).as("side"),
        col("t").as("tev"), lit(1).as("is_s"), col("eid").cast("long").as("eid"),
        lit(null).cast("double").as("t0"), lit(null).cast("double").as("a"),
        lit(null).cast("double").as("b"), lit(null).cast("double").as("c"),
        lit(null).cast("double").as("d"))
    // coeff rows at a tied time sort first (is_s); cover values are
    // strictly increasing per (id, side) so the null-eid coeff rows
    // never tie with each other and NULL-ordering never engages
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "side").orderBy(col("tev"), col("is_s"), col("eid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    def carry(cn: String) =
      last(when(col("is_s") === 0, col(cn)), ignoreNulls = true)
        .over(w).as("c" + cn)
    val dt = col("tev") - col("ct0")
    val ev = ec.unionByName(samples)
      .select(col("id"), col("side"), col("tev"), col("is_s"), col("eid"),
        carry("t0"), carry("a"), carry("b"), carry("c"), carry("d"))
      .filter(col("is_s") === 1 && col("ct0").isNotNull)
      .select(col("id"), col("side"), col("tev").as("t"), col("eid"),
        (col("ca") + col("cb") * dt + col("cc") * dt * dt +
          col("cd") * dt * dt * dt).as("v"))
    ev.groupBy("id", "t", "eid")
      .agg(
        (round(max(when(col("side") === 0, col("v"))), 6) + 0.0).as("upper"),
        (round(max(when(col("side") === 1, col("v"))), 6) + 0.0).as("lower"))
      .select("id", "t", "upper", "lower")
  }

  val tsEnvelopeSql: String =
    s"""WITH s AS (${graft.Tables.seriesSql}),
       |ec AS (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/ts_envelope_coeffs/*.parquet')),
       |m AS (
       |  SELECT id, side, cover AS tev, 0 AS is_s,
       |    cast(NULL AS bigint) AS eid, t0, a, b, c, d FROM ec
       |  UNION ALL
       |  SELECT s.id, sd.side, s.t, 1, s.eid, NULL, NULL, NULL, NULL, NULL
       |  FROM s, (VALUES (0), (1)) AS sd(side)),
       |f AS (SELECT id, side, tev, is_s, eid,
       |  last_value(CASE WHEN is_s = 0 THEN t0 END IGNORE NULLS) OVER w AS ct0,
       |  last_value(CASE WHEN is_s = 0 THEN a END IGNORE NULLS) OVER w AS ca,
       |  last_value(CASE WHEN is_s = 0 THEN b END IGNORE NULLS) OVER w AS cb,
       |  last_value(CASE WHEN is_s = 0 THEN c END IGNORE NULLS) OVER w AS cc,
       |  last_value(CASE WHEN is_s = 0 THEN d END IGNORE NULLS) OVER w AS cd
       |  FROM m
       |  WINDOW w AS (PARTITION BY id, side ORDER BY tev, is_s, eid
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |e AS (SELECT id, side, tev AS t, eid,
       |  ca + cb*(tev - ct0) + cc*(tev - ct0)*(tev - ct0)
       |     + cd*(tev - ct0)*(tev - ct0)*(tev - ct0) AS v
       |  FROM f WHERE is_s = 1 AND ct0 IS NOT NULL)
       |SELECT id, t,
       |  round(max(CASE WHEN side = 0 THEN v END), 6) + 0.0 AS "upper",
       |  round(max(CASE WHEN side = 1 THEN v END), 6) + 0.0 AS "lower"
       |FROM e GROUP BY id, t, eid""".stripMargin

  // -------------------------------------------------------------------
  // gp_psd — reference gp.py (CeleriteModeler.get_psd): the analytic
  // PSD of the SHO kernel family,
  //   S(ω) = √(2/π) · S0·ω0⁴ / ((ω²−ω0²)² + ω0²ω²/Q²),
  // for the harmonic (RotationTerm) kernel evaluated at the series'
  // ACF-estimated period. Unlike the grid-MAP queries this is fully
  // declarative (acf_best_period ⋈ exact-cents variance × broadcast
  // period grid → closed-form arithmetic), so it carries a real DuckDB
  // oracle — the one GP-family output under the hash gate.
  // -------------------------------------------------------------------
  def gpPsd(spark: SparkSession, dir: String): DataFrame = {
    val best = TimeSeriesOps.acfBestPeriod(spark, dir)
      .select("id", "best_period")
    // exact-cents population variance: integer sums then identical
    // double arithmetic on both sides -> bit-exact pre-libm inputs
    val c = round(col("y") * 100.0, 0).cast("long")
    val varDf = graft.Tables.series(spark, dir)
      .groupBy("id")
      .agg(((sum(c * c).cast("double") / count(lit(1)) -
        (sum(c).cast("double") / count(lit(1))) *
          (sum(c).cast("double") / count(lit(1)))) / 10000.0).as("var_y"))
    val grid = spark.range(1, 21).select(col("id").as("j"))
    val p = col("best_period")
    val fr = lit(0.1)
    val amp = col("var_y") / (lit(1.0) + fr)
    val q1 = lit(0.5) + exp(lit(1.0)) + exp(lit(2.0))
    val w1 = lit(4.0) * lit(math.Pi) * q1 /
      (p * sqrt(lit(4.0) * q1 * q1 - lit(1.0)))
    val s1 = amp / (w1 * q1)
    val q2 = lit(0.5) + exp(lit(1.0))
    val w2 = lit(8.0) * lit(math.Pi) * q2 /
      (p * sqrt(lit(4.0) * q2 * q2 - lit(1.0)))
    val s2 = fr * amp / (w2 * q2)
    val om = lit(2.0) * lit(math.Pi) / (col("j").cast("double") * lit(43200.0))
    def shoPsd(s: Column, w: Column, q: Column): Column = {
      val d = om * om - w * w
      s * ((w * w) * (w * w)) / (d * d + w * w * om * om / (q * q))
    }
    best.join(varDf, "id").crossJoin(broadcast(grid))
      .select(col("id"),
        (col("j").cast("double") * lit(43200.0)).as("p_grid"),
        round(log10(sqrt(lit(2.0) / lit(math.Pi)) *
          (shoPsd(s1, w1, q1) + shoPsd(s2, w2, q2))), 6).as("log10_psd"))
  }

  val gpPsdSql: String =
    s"""WITH best AS (${TimeSeriesOps.acfBestPeriodSql}),
       |vs AS (SELECT id,
       |  (cast(sum(c*c) AS double)/count(*)
       |   - (cast(sum(c) AS double)/count(*))
       |     * (cast(sum(c) AS double)/count(*)))/10000.0 AS var_y
       |  FROM (SELECT user_id AS id,
       |          cast(round(value*100.0) AS BIGINT) AS c FROM events)
       |  GROUP BY id),
       |grid AS (SELECT j FROM generate_series(1, 20) AS t(j)),
       |k AS (SELECT best.id, best.best_period AS p, vs.var_y,
       |  var_y/1.1 AS amp,
       |  0.5 + exp(1.0) + exp(2.0) AS q1,
       |  0.5 + exp(1.0) AS q2
       |  FROM best JOIN vs ON best.id = vs.id),
       |kk AS (SELECT id, p, amp, q1, q2,
       |  4.0*pi()*q1/(p*sqrt(4.0*q1*q1 - 1.0)) AS w1,
       |  8.0*pi()*q2/(p*sqrt(4.0*q2*q2 - 1.0)) AS w2
       |  FROM k),
       |kkk AS (SELECT id, p, q1, q2, w1, w2,
       |  amp/(w1*q1) AS s1, 0.1*amp/(w2*q2) AS s2 FROM kk)
       |SELECT kkk.id,
       |  cast(grid.j AS double)*43200.0 AS p_grid,
       |  round(log10(sqrt(2.0/pi()) * (
       |    s1*((w1*w1)*(w1*w1)) /
       |      ((om*om - w1*w1)*(om*om - w1*w1) + w1*w1*om*om/(q1*q1))
       |    + s2*((w2*w2)*(w2*w2)) /
       |      ((om*om - w2*w2)*(om*om - w2*w2) + w2*w2*om*om/(q2*q2))
       |  )), 6) AS log10_psd
       |FROM kkk CROSS JOIN (SELECT j,
       |  2.0*pi()/(cast(j AS double)*43200.0) AS om FROM grid) grid
       |""".stripMargin

  // -------------------------------------------------------------------
  // gp_model_compare — the reference's modeler-selection theme
  // (gp.py: QuasiPeriodicGP vs BrownianGP vs HarmonicGP, each with its
  // own MAP; CeleriteModeler.loocv as the CV alternative) as one
  // model-comparison table: per series, the MAP period of each kernel
  // plus the LOOCV-selected period, their (already 1e-3-quantized)
  // scores, and agreement flags. Four id-equi joins of one-row-per-
  // series frames — at cluster scale each side is the tiny output of
  // its grid map, so AQE broadcasts every join; no extra Cholesky work
  // beyond the maps themselves (shared, canonically-equal sub-plans).
  //
  // DERIVED-INPUT oracle: DuckDB replays the is_best filter + joins
  // over the four Verify dumps — this puts the gp_period_map /
  // gp_brownian_map / gp_loocv kernel dumps (plus gp_harmonic_map,
  // already gated via gp_posterior) under the driver hash gate: any
  // drift in their is_best selection or quantized scores changes this
  // query's hash.
  // -------------------------------------------------------------------
  def gpModelCompare(spark: SparkSession, dir: String): DataFrame = {
    def best(df: DataFrame, p: String, s: String, score: String) =
      df.filter(col("is_best") === 1)
        .select(col("id"), col("period").as(p), col(score).as(s))
    val h = best(gpHarmonicMap(spark, dir), "harmonic_p", "harmonic_ll", "loglik")
    val b = best(gpBrownianMap(spark, dir), "brownian_p", "brownian_ll", "loglik")
    val q = best(SeriesOps.gpPeriodMap(spark, dir), "qp_p", "qp_ll", "loglik")
    val l = best(gpLoocv(spark, dir), "loocv_p", "loocv_score", "loocv")
    h.join(b, "id").join(q, "id").join(l, "id")
      .select(col("id"), col("harmonic_p"), col("brownian_p"), col("qp_p"),
        col("loocv_p"), col("harmonic_ll"), col("brownian_ll"), col("qp_ll"),
        col("loocv_score"),
        when(col("harmonic_p") === col("brownian_p"), 1L).otherwise(0L)
          .as("agree_hb"),
        when(col("harmonic_p") === col("loocv_p"), 1L).otherwise(0L)
          .as("agree_hl"))
  }

  val gpModelCompareSql: String =
    """WITH h AS (SELECT id, period AS harmonic_p, loglik AS harmonic_ll
      |  FROM read_parquet('__GRAFT_OUT__/gp_harmonic_map/*.parquet')
      |  WHERE is_best = 1),
      |b AS (SELECT id, period AS brownian_p, loglik AS brownian_ll
      |  FROM read_parquet('__GRAFT_OUT__/gp_brownian_map/*.parquet')
      |  WHERE is_best = 1),
      |q AS (SELECT id, period AS qp_p, loglik AS qp_ll
      |  FROM read_parquet('__GRAFT_OUT__/gp_period_map/*.parquet')
      |  WHERE is_best = 1),
      |l AS (SELECT id, period AS loocv_p, loocv AS loocv_score
      |  FROM read_parquet('__GRAFT_OUT__/gp_loocv/*.parquet')
      |  WHERE is_best = 1)
      |SELECT id, harmonic_p, brownian_p, qp_p, loocv_p,
      |  harmonic_ll, brownian_ll, qp_ll, loocv_score,
      |  CAST(CASE WHEN harmonic_p = brownian_p THEN 1 ELSE 0 END
      |    AS BIGINT) AS agree_hb,
      |  CAST(CASE WHEN harmonic_p = loocv_p THEN 1 ELSE 0 END
      |    AS BIGINT) AS agree_hl
      |FROM h JOIN b USING (id) JOIN q USING (id) JOIN l USING (id)
      |""".stripMargin

  // -------------------------------------------------------------------
  // gp_predict_fit — fit quality of the GP posterior mean (the check
  // the reference's prediction plots do by eye, gp.py:379-383): per
  // series, the residual y − μ summarized as exact integer 1e-4-unit
  // sums, so the aggregation is order-independent (long adds commute;
  // a double Σ(y−μ)² would hash-differ between Spark's and DuckDB's
  // partial-agg orders). μ is 1e-4-quantized at the gp_predict emit,
  // so round((y−μ)·1e4) sees bit-identical doubles on both engines.
  // One map-side-combined groupBy over gp_predict's output.
  //
  // DERIVED-INPUT oracle: DuckDB replays the rounding + sums over the
  // gp_predict Verify dump — gp_predict's (t, y, mu, map_period)
  // values enter the driver hash gate.
  // -------------------------------------------------------------------
  def gpPredictFit(spark: SparkSession, dir: String): DataFrame = {
    val r = round((col("y") - col("mu")) * lit(10000.0), 0).cast("long")
    gpPredict(spark, dir)
      .groupBy(col("id"), col("map_period"))
      .agg(count(lit(1)).as("n"),
        sum(r).as("resid_sum_u"),
        sum(r * r).as("sse_u"))
  }

  val gpPredictFitSql: String =
    """WITH p AS (SELECT id, map_period,
      |    cast(round((y - mu) * 10000.0) AS BIGINT) AS r
      |  FROM read_parquet('__GRAFT_OUT__/gp_predict/*.parquet'))
      |SELECT id, map_period, count(*) AS n,
      |  cast(sum(r) AS BIGINT) AS resid_sum_u,
      |  cast(sum(r * r) AS BIGINT) AS sse_u
      |FROM p GROUP BY id, map_period""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gp_brownian_map" -> (gpBrownianMap _),
    "gp_harmonic_map" -> (gpHarmonicMap _),
    "gp_psd" -> (gpPsd _),
    "gp_predict" -> (gpPredict _),
    "gp_loocv" -> (gpLoocv _),
    "gp_posterior" -> (gpPosterior _),
    "gp_posterior_interval" -> (gpPosteriorInterval _),
    "gp_model_compare" -> (gpModelCompare _),
    "gp_predict_fit" -> (gpPredictFit _),
    "hht_spectrogram" -> (hhtSpectrogram _),
    "ts_envelope_coeffs" -> (tsEnvelopeCoeffs _),
    "ts_envelope" -> (tsEnvelope _))

  /** ts_envelope_coeffs, hash-gated (round 9): the envelope kernel is
    * window-expressible extrema detection + edge padding (pure
    * per-row arithmetic) feeding the SAME Thomas recurrences as
    * ts_spline_coeffs — replayed bit-exactly by the shared
    * recursive-CTE chain (TimeSeriesOps4.thomasCtes) keyed by
    * (id, side). Knots per side: the padded-and-edge-dropped extrema
    * (SeriesMath.envelopeKnots / padAndDrop, padWidth 2): indices
    * 0..1 are the two left reflections 2·t₀−t₂ / 2·t₀−t₁ (values
    * y₂ / y₁), interior extrema j=1..m−2 land at i=j+1, and the two
    * right reflections close at i=m, m+1 — the original edge
    * extrema themselves are dropped. Series qualify only when BOTH
    * sides have ≥ 4 raw extrema (edges included), matching the
    * kernel's null. */
  val tsEnvelopeCoeffsSql: String =
    s"""WITH RECURSIVE ser AS MATERIALIZED (${graft.Tables.seriesSql}),
       |pos AS (
       |  SELECT id, t, y,
       |    row_number() OVER (PARTITION BY id ORDER BY t, eid) - 1 AS p,
       |    count(*) OVER (PARTITION BY id) AS np
       |  FROM ser),
       |nb AS (SELECT id, t, y, p, np,
       |    lag(y) OVER w AS yp, lead(y) OVER w AS yn
       |  FROM pos WINDOW w AS (PARTITION BY id ORDER BY p)),
       |ext AS MATERIALIZED (
       |  SELECT id, 0 AS side, p, t, y FROM nb
       |  WHERE p = 0 OR p = np - 1 OR (y > yp AND y > yn)
       |  UNION ALL
       |  SELECT id, 1 AS side, p, t, y FROM nb
       |  WHERE p = 0 OR p = np - 1 OR (y < yp AND y < yn)),
       |exn AS MATERIALIZED (
       |  SELECT id, side, t, y,
       |    row_number() OVER (PARTITION BY id, side ORDER BY p) - 1 AS j,
       |    count(*) OVER (PARTITION BY id, side) AS m
       |  FROM ext),
       |okids AS (
       |  SELECT id FROM (
       |    SELECT id, side, max(m) AS m FROM exn GROUP BY 1, 2)
       |  GROUP BY id HAVING min(m) >= 4),
       |sides AS (
       |  SELECT id, side, m,
       |    max(CASE WHEN j = 0 THEN t END) AS tfirst,
       |    max(CASE WHEN j = 1 THEN t END) AS t1,
       |    max(CASE WHEN j = 1 THEN y END) AS y1,
       |    max(CASE WHEN j = 2 THEN t END) AS t2,
       |    max(CASE WHEN j = 2 THEN y END) AS y2,
       |    max(CASE WHEN j = m - 1 THEN t END) AS tlast,
       |    max(CASE WHEN j = m - 2 THEN t END) AS tm2,
       |    max(CASE WHEN j = m - 2 THEN y END) AS ym2,
       |    max(CASE WHEN j = m - 3 THEN t END) AS tm3,
       |    max(CASE WHEN j = m - 3 THEN y END) AS ym3
       |  FROM exn WHERE id IN (SELECT id FROM okids)
       |  GROUP BY 1, 2, 3),
       |kn AS MATERIALIZED (
       |  SELECT e.id, e.side, e.j + 1 AS i, e.t AS x, e.y,
       |    e.m + 2 AS n
       |  FROM exn e WHERE e.j BETWEEN 1 AND e.m - 2
       |    AND e.id IN (SELECT id FROM okids)
       |  UNION ALL SELECT id, side, 0, 2.0 * tfirst - t2, y2, m + 2
       |  FROM sides
       |  UNION ALL SELECT id, side, 1, 2.0 * tfirst - t1, y1, m + 2
       |  FROM sides
       |  UNION ALL SELECT id, side, m, 2.0 * tlast - tm2, ym2, m + 2
       |  FROM sides
       |  UNION ALL SELECT id, side, m + 1, 2.0 * tlast - tm3, ym3, m + 2
       |  FROM sides),
       |${TimeSeriesOps4.thomasCtes(Seq("id", "side"))}
       |SELECT sg.id, sg.side, cast(sg.i AS BIGINT) AS seg,
       |  CASE WHEN sg.i = 0 THEN -1e18 ELSE sg.x END AS cover,
       |  sg.x AS t0, sg.y AS a,
       |  (sg.y1 - sg.y) / sg.h - sg.h * (c1.c + 2.0 * c0.c) / 3.0 AS b,
       |  c0.c AS c,
       |  (c1.c - c0.c) / (3.0 * sg.h) AS d
       |FROM al sg
       |JOIN cc c0 ON c0.id = sg.id AND c0.side = sg.side AND c0.i = sg.i
       |JOIN cc c1 ON c1.id = sg.id AND c1.side = sg.side AND c1.i = sg.i + 1
       |WHERE sg.i <= sg.n - 2""".stripMargin

  // -------------------------------------------------------------------
  // Round 11: the SHO-kernel GP queries under the hash gate via the
  // CholeskySql fold harness (see that file for the replay strategy
  // and bit-exactness argument). The per-period SHO constants are
  // re-derived below with the SAME arithmetic as brownianKernel /
  // harmonicKernel / sho and embedded as %.17e literals — the vy-
  // dependent amplitude chain stays in SQL in the kernel's exact
  // association (((s0·w)·q), etc.), so any divergence from the Scala
  // closures fails the gate loudly rather than silently.
  // -------------------------------------------------------------------
  private def L(v: Double) = SeriesMath.sqlDouble(v)

  /** sho()'s underdamped constants for (w0, q): damping, η·w0, and
    * the sin coefficient 1/(2ηq). */
  private def underConsts(w0: Double, q: Double): (Double, Double, Double) = {
    val c = w0 / (2.0 * q)
    val eta = math.sqrt(math.max(1.0 - 1.0 / (4.0 * q * q), 1e-14))
    (c, eta * w0, 1.0 / (2.0 * eta * q))
  }

  /** Underdamped SHO covariance term: amp·e^{−c·x}·(cos + sc·sin),
    * amp = ((s0·w)·q) — sho()'s exact association. */
  private def underTerm(s0: String, w: String, q: String, c: String,
      ew: String, sc: String): String =
    s"((($s0 * $w) * $q) * exp((-$c) * abs(__D__))) * " +
      s"(cos($ew * abs(__D__)) + $sc * sin($ew * abs(__D__)))"

  /** (grid columns, VALUES rows, entry expr) for the harmonic
    * (RotationTerm) kernel — shared by the map, loocv and predict
    * oracles. */
  private lazy val harmonicSqlParts: (Seq[String], Seq[String], String) = {
    val fr = 0.1
    val onefr = 1.0 + fr
    val q0 = math.exp(1.0)
    val dq = math.exp(2.0)
    val q1 = 0.5 + q0 + dq
    val q2 = 0.5 + q0
    val rows = (1 to 20).map { j =>
      val p = j * 43200.0
      val w1 = 4.0 * math.Pi * q1 / (p * math.sqrt(4.0 * q1 * q1 - 1.0))
      val w2 = 8.0 * math.Pi * q2 / (p * math.sqrt(4.0 * q2 * q2 - 1.0))
      val (c1, ew1, sc1) = underConsts(w1, q1)
      val (c2, ew2, sc2) = underConsts(w2, q2)
      s"($j, ${L(p)}, ${L(w1)}, ${L(q1)}, ${L(c1)}, ${L(ew1)}, ${L(sc1)}, " +
        s"${L(w2)}, ${L(q2)}, ${L(c2)}, ${L(ew2)}, ${L(sc2)})"
    }
    val s1 = s"((vy / ${L(onefr)}) / (w1 * q1))"
    val s2 = s"((${L(fr)} * (vy / ${L(onefr)})) / (w2 * q2))"
    val entry = s"(${underTerm(s1, "w1", "q1", "c1", "ew1", "sc1")} + " +
      s"${underTerm(s2, "w2", "q2", "c2", "ew2", "sc2")})"
    (Seq("w1", "q1", "c1", "ew1", "sc1", "w2", "q2", "c2", "ew2", "sc2"),
      rows, entry)
  }

  val gpHarmonicMapSql: String = {
    val (cols, rows, entry) = harmonicSqlParts
    CholeskySql.gridMapSql(200, cols, rows, entry)
  }

  val gpBrownianMapSql: String = {
    val mix = 0.6
    val q2 = 0.01
    val f = math.sqrt(1.0 - 4.0 * q2 * q2)
    val rows = (1 to 20).map { j =>
      val p = j * 43200.0
      val q1 = math.Pi * (3.0 * p) / p
      val w1 = 2.0 * math.Pi / p
      val (c1, ew1, sc1) = underConsts(w1, q1)
      val w2 = 2.0 * q2 / ((3.0 * p) * (1.0 - f))
      val den2 = 0.5 * w2 * q2 * (1.0 + 1.0 / f)
      val eta = math.sqrt(1.0 / (4.0 * q2 * q2) - 1.0)
      val cb = w2 / (2.0 * q2)
      val ca = eta * w2
      val pp1 = 0.5 + 1.0 / (4.0 * eta * q2)
      val pp2 = 0.5 - 1.0 / (4.0 * eta * q2)
      s"($j, ${L(p)}, ${L(w1)}, ${L(q1)}, ${L(c1)}, ${L(ew1)}, ${L(sc1)}, " +
        s"${L(w2)}, ${L(ca - cb)}, ${L(-ca - cb)}, ${L(pp1)}, ${L(pp2)}, " +
        s"${L(den2)})"
    }
    val s1 = s"((${L(mix)} * vy) / (w1 * q1))"
    // overdamped background: amp·(e^{(ca−cb)x}·p1 + e^{(−ca−cb)x}·p2) —
    // sho()'s exact two-exponential form (both exponents ≤ 0)
    val s2 = s"((${L(1.0 - mix)} * vy) / den2)"
    val over = s"((($s2 * w2) * ${L(q2)}) * " +
      s"(exp(cab1 * abs(__D__)) * pp1 + exp(cab2 * abs(__D__)) * pp2))"
    val entry = s"(${underTerm(s1, "w1", "q1", "c1", "ew1", "sc1")} + $over)"
    CholeskySql.gridMapSql(200,
      Seq("w1", "q1", "c1", "ew1", "sc1", "w2", "cab1", "cab2", "pp1",
        "pp2", "den2"), rows, entry)
  }

  /** gp_loocv: the harmonic chain at cap 120 plus diag(K⁻¹) — each
    * column ii of L⁻¹ is its own forward substitution (independent
    * across ii, so a list_transform of folds), s2 accumulated in the
    * kernel's ascending order; the LOO score folds the per-sample
    * (qᵢ²/cᵢ − log cᵢ) terms onto n·log 2π. */
  val gpLoocvSql: String = {
    val (cols, rows, entry) = harmonicSqlParts
    val ii = "CAST(ii AS BIGINT)"
    val kk = "CAST(xk[1] AS BIGINT)"
    val jj = "CAST(jj AS BIGINT)"
    def off(x: String) = s"($x * ($x + 1)) // 2"
    s"""WITH ${CholeskySql.statsCtes(120)},
       |grid(j, p${cols.map(", " + _).mkString}) AS (VALUES
       |  ${rows.mkString(",\n  ")}),
       |src0 AS (SELECT s.*, g.* FROM st s, grid g),
       |${CholeskySql.cholCtes("src0", Seq("j", "p"), entry)},
       |cdg AS (SELECT id, j, p, n, lmat, xrev, llr,
       |    list_transform(range(n), ii ->
       |      list_reduce(list_prepend(0.0, list_transform(
       |        list_reduce(
       |          list_prepend(CAST([] AS DOUBLE[]),
       |            list_transform(range(n - $ii), m ->
       |              [CAST(ii + m AS DOUBLE)])),
       |          (ac, xk) -> list_concat(ac, [
       |            list_reduce(list_prepend(
       |              CASE WHEN $kk = $ii THEN 1.0 ELSE 0.0 END,
       |              list_transform(range($kk - $ii), jj ->
       |                lmat[${off(kk)} + ($ii + $jj) + 1]
       |                * ac[$jj + 1])),
       |              (a, b) -> a - b)
       |            / lmat[${off(kk)} + $kk + 1] ])),
       |        v -> v * v)), (a, b) -> a + b)) AS cdiag
       |  FROM llv),
       |sc0 AS (SELECT id, j, p,
       |    -0.5 * list_reduce(
       |      list_prepend(n * ${SeriesMath.sqlDouble(
                math.log(2.0 * math.Pi))},
       |        list_transform(range(n), ii ->
       |          (xrev[n - $ii] * xrev[n - $ii]) / cdiag[$ii + 1]
       |          - ln(cdiag[$ii + 1]))),
       |      (a, b) -> a + b) AS sc
       |  FROM cdg),
       |sc1 AS (SELECT id, j, p,
       |    CASE WHEN isnan(sc) THEN '-infinity'::DOUBLE ELSE sc END AS sc
       |  FROM sc0),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY sc DESC, j ASC) AS r FROM sc1)
       |SELECT id, p AS period,
       |  roundbankers(sc * 1000.0, 0) / 1000.0 AS loocv,
       |  CAST(CASE WHEN r = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_best
       |FROM rk""".stripMargin
  }

  /** gp_predict, DERIVED-INPUT on the gp_harmonic_map dump for the
    * MAP period (the grid join recovers that period's literal
    * constants exactly — dump periods ARE the grid literals), then
    * ONE factorization per series and μᵢ = Σ_b K_signal(tᵢ,t_b)·α_b
    * in the kernel's ascending-b order (K is even, so abs(d) makes
    * the mirrored upper triangle bit-identical). */
  val gpPredictSql: String = {
    val (cols, rows, entry) = harmonicSqlParts
    val ii = "CAST(ii AS BIGINT)"
    val bb = "CAST(bb AS BIGINT)"
    val entryMu = entry.replace("__D__", s"(tarr[$ii + 1] - tarr[$bb + 1])")
    s"""WITH ${CholeskySql.statsCtes(200)},
       |grid(j, p${cols.map(", " + _).mkString}) AS (VALUES
       |  ${rows.mkString(",\n  ")}),
       |best AS (SELECT id AS bid, period AS map_p
       |  FROM read_parquet('__GRAFT_OUT__/gp_harmonic_map/*.parquet')
       |  WHERE is_best = 1),
       |src0 AS (SELECT s.*, g.* FROM st s
       |  JOIN best b ON s.id = b.bid
       |  JOIN grid g ON g.p = b.map_p),
       |${CholeskySql.cholCtes("src0", Seq("p"), entry,
          carry = "yraw" +: cols)},
       |mu AS (SELECT id, p, n, tarr, yraw, mean,
       |    list_transform(range(n), ii ->
       |      list_reduce(list_prepend(0.0,
       |        list_transform(range(n), bb ->
       |          $entryMu * xrev[n - $bb])),
       |        (a, b) -> a + b)) AS mus
       |  FROM llv WHERE NOT isnan(llr))
       |SELECT id, tarr[q.q + 1] AS t, yraw[q.q + 1] AS y,
       |  roundbankers((mus[q.q + 1] + mean) * 10000.0, 0) / 10000.0 AS mu,
       |  p AS map_period
       |FROM mu, LATERAL (SELECT unnest(range(n)) AS q) q""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "gp_brownian_map" -> gpBrownianMapSql,
    "gp_harmonic_map" -> gpHarmonicMapSql,
    "gp_loocv" -> gpLoocvSql,
    "gp_predict" -> gpPredictSql,
    "gp_psd" -> gpPsdSql,
    "ts_envelope_coeffs" -> tsEnvelopeCoeffsSql,
    "gp_posterior" -> gpPosteriorSql,
    "gp_posterior_interval" -> gpPosteriorIntervalSql,
    "gp_model_compare" -> gpModelCompareSql,
    "gp_predict_fit" -> gpPredictFitSql,
    "hht_spectrogram" -> hhtSpectrogramSql,
    "ts_envelope" -> tsEnvelopeSql)
}
