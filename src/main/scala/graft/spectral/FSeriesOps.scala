package graft.spectral

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** FSeries (periodogram-domain) operators — peak prominence ranking,
  * inverse FFT, and frequency-axis polynomial fit.
  *
  * Prominence (reference core.py:283-318 via scipy peak_prominences,
  * consumed by FSeries.psort_by_prominence / period_at_highest_
  * prominence, core.py:948-963): for each local maximum, walk left and
  * right to the nearest STRICTLY higher sample (or the grid edge); the
  * bases are the minima over those two flanks and
  * prominence = peak − max(left base, right base). This is the
  * reference's main alias-peak rejection tool: a sidelobe riding on a
  * broad true peak has small prominence even when its height is large.
  *
  * Spark shape: the periodogram is only NF=200 points per series, so
  * "nearest higher" and "flank minima" are two conditional
  * aggregations over a per-series (peak × grid) join — ~200·n_peaks
  * rows per series, partitioned by id, no driver involvement.
  */
object FSeriesOps {
  import Gls.{DF, NF}

  /** Local maxima of the GLS periodogram with bounds to the nearest
    * strictly-higher grid point on each side (null → grid edge). */
  private def peaksWithBounds(spark: SparkSession, dir: String): DataFrame = {
    val pg = Gls.glsPeriodogram(spark, dir)
    val peaks = Gls.localPeaks(pg)
      .select(col("id"), col("k").as("pk"), col("power").as("ppow"))
    // nearest strictly-higher sample left/right of each peak (left
    // join: the series' global maximum has none on either side)
    peaks.as("p")
      .join(pg.as("q"),
        col("q.id") === col("p.id") && col("q.power") > col("p.ppow"), "left")
      .groupBy(col("p.id").as("id"), col("pk"), col("ppow"))
      .agg(
        coalesce(max(when(col("q.k") < col("pk"), col("q.k"))), lit(1L))
          .as("klo"),
        coalesce(min(when(col("q.k") > col("pk"), col("q.k"))), lit(NF.toLong))
          .as("khi"))
  }

  private val peaksWithBoundsSql: String =
    s"""${Gls.periodogramSql},
       |pk0 AS (SELECT id, k, power,
       |  lag(power,1)  OVER win AS pm, lead(power,1) OVER win AS pp
       |  FROM pg WINDOW win AS (PARTITION BY id ORDER BY k)),
       |peaks AS (SELECT id, k AS pk, power AS ppow FROM pk0
       |  WHERE pm IS NOT NULL AND pp IS NOT NULL
       |    AND power > pm AND power > pp),
       |bounds AS (SELECT p.id, p.pk, p.ppow,
       |  coalesce(max(CASE WHEN q.k < p.pk THEN q.k END), 1) AS klo,
       |  coalesce(min(CASE WHEN q.k > p.pk THEN q.k END), ${NF}) AS khi
       |  FROM peaks p LEFT JOIN pg q
       |    ON q.id = p.id AND q.power > p.ppow
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** gls_peak_prominence — every periodogram peak with its prominence:
    * flank minima via one more conditional aggregation over the grid. */
  def glsPeakProminence(spark: SparkSession, dir: String): DataFrame =
    peaksWithBounds(spark, dir).as("b")
      .join(Gls.glsPeriodogram(spark, dir).as("r"), "id")
      .groupBy(col("id"), col("pk"), col("ppow"))
      .agg(
        min(when(col("r.k") >= col("klo") && col("r.k") <= col("pk"),
          col("r.power"))).as("lmin"),
        min(when(col("r.k") >= col("pk") && col("r.k") <= col("khi"),
          col("r.power"))).as("rmin"))
      .select(col("id"), col("pk").as("k"),
        round(lit(1.0 / DF) / col("pk"), 6).as("period"),
        col("ppow").as("power"),
        (round(col("ppow") - greatest(col("lmin"), col("rmin")), 6) +
          lit(0.0)).as("prominence"))

  // peaksWithBoundsSql begins with Gls.periodogramSql, which already
  // carries the WITH keyword.
  val glsPeakProminenceSql: String =
    s"""$peaksWithBoundsSql
       |SELECT b.id, b.pk AS k,
       |  round(${1.0 / DF} / b.pk, 6) AS period,
       |  b.ppow AS power,
       |  round(b.ppow - greatest(
       |    min(CASE WHEN r.k >= b.klo AND r.k <= b.pk THEN r.power END),
       |    min(CASE WHEN r.k >= b.pk AND r.k <= b.khi THEN r.power END)
       |  ), 6) + 0.0 AS prominence
       |FROM bounds b JOIN pg r ON r.id = b.id
       |GROUP BY b.id, b.pk, b.ppow""".stripMargin

  /** gls_best_prominence — period_at_highest_prominence (reference
    * core.py:958): rank peaks by prominence (tie-break on smaller k —
    * deterministic in both engines). */
  def glsBestProminence(spark: SparkSession, dir: String): DataFrame = {
    val wr = Window.partitionBy("id")
      .orderBy(col("prominence").desc, col("k").asc)
    glsPeakProminence(spark, dir)
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("id"), col("period").as("best_period"),
        col("prominence"))
  }

  val glsBestProminenceSql: String =
    s"""$peaksWithBoundsSql,
       |prom AS (SELECT b.id, b.pk AS k,
       |  round(${1.0 / DF} / b.pk, 6) AS period,
       |  round(b.ppow - greatest(
       |    min(CASE WHEN r.k >= b.klo AND r.k <= b.pk THEN r.power END),
       |    min(CASE WHEN r.k >= b.pk AND r.k <= b.khi THEN r.power END)
       |  ), 6) + 0.0 AS prominence
       |  FROM bounds b JOIN pg r ON r.id = b.id
       |  GROUP BY b.id, b.pk, b.ppow),
       |rk AS (SELECT id, period, prominence,
       |  row_number() OVER (PARTITION BY id
       |                     ORDER BY prominence DESC, k ASC) AS rn
       |  FROM prom)
       |SELECT id, period AS best_period, prominence
       |FROM rk WHERE rn = 1""".stripMargin

  /** gls_half_width_prominence — periods_at_half_max(use_prominence=
    * true) (reference core.py:963-975): the FWHM interval around the
    * PROMINENCE-best peak, with the half level measured relative to
    * prominence (power − prominence/2) rather than half the height —
    * the alias-robust variant of gls_half_width. Same crossing
    * mechanics: nearest grid points on each side of the peak that dip
    * below the level (null → never dips inside the grid). */
  def glsHalfWidthProminence(spark: SparkSession, dir: String): DataFrame = {
    val wr = Window.partitionBy("id")
      .orderBy(col("prominence").desc, col("k").asc)
    val kstar = glsPeakProminence(spark, dir)
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("id"), col("k").as("kstar"),
        col("power").as("best_power"), col("prominence"))
    Gls.periodsAbove(Gls.glsPeriodogram(spark, dir), kstar,
      col("best_power") - col("prominence") / 2.0, "prominence")
  }

  val glsHalfWidthProminenceSql: String =
    s"""$peaksWithBoundsSql,
       |prom AS (SELECT b.id, b.pk AS k, b.ppow,
       |  round(b.ppow - greatest(
       |    min(CASE WHEN r.k >= b.klo AND r.k <= b.pk THEN r.power END),
       |    min(CASE WHEN r.k >= b.pk AND r.k <= b.khi THEN r.power END)
       |  ), 6) + 0.0 AS prominence
       |  FROM bounds b JOIN pg r ON r.id = b.id
       |  GROUP BY b.id, b.pk, b.ppow),
       |rk AS (SELECT id, k, ppow, prominence,
       |  row_number() OVER (PARTITION BY id
       |                     ORDER BY prominence DESC, k ASC) AS rn
       |  FROM prom),
       |kstar AS (SELECT id, k AS kstar, ppow AS best_power, prominence
       |  FROM rk WHERE rn = 1),
       |below AS (SELECT pg.id, pg.k, kstar.kstar
       |  FROM pg JOIN kstar USING (id)
       |  WHERE pg.power < kstar.best_power - kstar.prominence / 2.0),
       |lo AS (SELECT id, max(k) AS kl FROM below WHERE k < kstar GROUP BY id),
       |hi AS (SELECT id, min(k) AS ku FROM below WHERE k > kstar GROUP BY id)
       |SELECT kstar.id, kstar.kstar, kstar.prominence,
       |  round(${1.0 / DF} / hi.ku, 4) AS period_lo,
       |  round(${1.0 / DF} / lo.kl, 4) AS period_hi
       |FROM kstar
       |LEFT JOIN lo USING (id)
       |LEFT JOIN hi USING (id)""".stripMargin

  /** psd_ifft — reference core.py:980 (FSeries.ifft): inverse real FFT
    * of the power spectrum back to the lag domain (the round-trip
    * partner of psd_dft; up to normalization this is the Wiener–
    * Khinchin ACF). Direct inverse DFT of the real, symmetric
    * spectrum on a broadcast lag grid n = 0..48 of N = 2·NF points:
    * r_n = Σ_k p_k·cos(2π k n / N), reported normalized by r_0. */
  def psdIfft(spark: SparkSession, dir: String): DataFrame = {
    val n2 = 2 * NF
    val lagsN = spark.range(0, 49).toDF("n")
    val terms = Gls.psdDft(spark, dir)
      .crossJoin(broadcast(lagsN))
      .groupBy("id", "n")
      .agg(sum(col("power") *
        cos(lit(2.0 * math.Pi / n2) * col("k") * col("n"))).as("r"))
    val r0 = terms.filter(col("n") === 0)
      .select(col("id"), col("r").as("r0"))
    terms.join(r0, "id")
      .select(col("id"), col("n"),
        (round(col("r") / col("r0"), 6) + lit(0.0)).as("acf_ifft"))
  }

  val psdIfftSql: String = {
    val n2 = 2 * NF
    s"""WITH psd AS (${Gls.psdDftSql}),
       |terms AS (SELECT id, n.n,
       |  sum(power * cos(${2.0 * math.Pi / n2} * k * n.n)) AS r
       |  FROM psd CROSS JOIN generate_series(0, 48) AS n(n)
       |  GROUP BY 1, 2),
       |r0 AS (SELECT id, r AS r0 FROM terms WHERE n = 0)
       |SELECT terms.id, terms.n,
       |  round(terms.r / r0.r0, 6) + 0.0 AS acf_ifft
       |FROM terms JOIN r0 USING (id)""".stripMargin
  }

  /** psd_polyfit — reference core.py:989 (FSeries.polyfit, degree 1
    * over the frequency axis): closed-form least squares of power
    * against k from per-series moment sums (same shape as
    * ts_polyfit — pure aggregation, one shuffle). */
  def psdPolyfit(spark: SparkSession, dir: String): DataFrame =
    Gls.psdDft(spark, dir)
      .groupBy("id")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("k").cast("double")).as("sk"),
        sum("power").as("sp"),
        sum(col("k") * col("k")).cast("double").as("skk"),
        sum(col("k") * col("power")).as("skp"))
      .select(col("id"),
        (round((col("n") * col("skp") - col("sk") * col("sp")) /
          (col("n") * col("skk") - col("sk") * col("sk")), 8) + lit(0.0))
          .as("slope"),
        (round((col("sp") * col("skk") - col("sk") * col("skp")) /
          (col("n") * col("skk") - col("sk") * col("sk")), 6) + lit(0.0))
          .as("intercept"))

  val psdPolyfitSql: String =
    s"""WITH psd AS (${Gls.psdDftSql}),
       |m AS (SELECT id, cast(count(*) AS double) AS n,
       |  sum(cast(k AS double)) AS sk, sum(power) AS sp,
       |  cast(sum(k*k) AS double) AS skk, sum(k*power) AS skp
       |  FROM psd GROUP BY id)
       |SELECT id,
       |  round((n*skp - sk*sp) / (n*skk - sk*sk), 8) + 0.0 AS slope,
       |  round((sp*skk - sk*skp) / (n*skk - sk*sk), 6) + 0.0 AS intercept
       |FROM m""".stripMargin

  /** psd_curvefit — reference core.py:999 (FSeries.curvefit). The
    * reference takes an arbitrary scipy curve_fit callable; the
    * Spark-native analogue fits a declared family deterministically:
    * a Lorentzian power profile p(k) ≈ a / (1 + (k/k0)²) — the
    * classic red-noise PSD knee — via a broadcast grid over the knee
    * k0 with the amplitude a in closed form per (series, k0)
    * (a = Σ p·g / Σ g², the exact LS optimum given k0), then argmin
    * RSS. Two aggregations, one shuffle each, no driver iteration. */
  def psdCurvefit(spark: SparkSession, dir: String): DataFrame = {
    val knees = spark.range(1, 41).toDF("k0") // knee grid: k0 = 1..40
    val g = lit(1.0) / (lit(1.0) + (col("k") / col("k0")) *
      (col("k") / col("k0")))
    val fits = Gls.psdDft(spark, dir)
      .crossJoin(broadcast(knees))
      .select(col("id"), col("k0"), col("power"), g.as("g"))
      .groupBy("id", "k0")
      .agg((sum(col("power") * col("g")) / sum(col("g") * col("g"))).as("a"),
        sum(col("power") * col("power")).as("spp"),
        (sum(col("power") * col("g")) * sum(col("power") * col("g")) /
          sum(col("g") * col("g"))).as("explained"))
      // RSS(k0) = Σp² − (Σpg)²/Σg² at the optimal a. Rank on the
      // DIMENSIONLESS unexplained fraction rss/Σp² rounded to 6 dp:
      // raw rss magnitudes put summation-order FP noise at the
      // rounding granularity, the ratio keeps it ~1e-15.
      .select(col("id"), col("k0"), col("a"),
        ((col("spp") - col("explained")) / col("spp")).as("rfrac"))
    val wr = Window.partitionBy("id")
      .orderBy(round(col("rfrac"), 6).asc, col("k0").asc)
    fits.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("id"), col("k0").as("knee_k"),
        (round(col("a"), 3) + lit(0.0)).as("amplitude"))
  }

  val psdCurvefitSql: String =
    s"""WITH psd AS (${Gls.psdDftSql}),
       |fits AS (SELECT id, k0.k0,
       |    sum(power * (1.0/(1.0 + (k/cast(k0.k0 AS double))
       |                        * (k/cast(k0.k0 AS double)))))
       |      / sum((1.0/(1.0 + (k/cast(k0.k0 AS double))
       |                        * (k/cast(k0.k0 AS double))))
       |            * (1.0/(1.0 + (k/cast(k0.k0 AS double))
       |                        * (k/cast(k0.k0 AS double))))) AS a,
       |    (sum(power*power)
       |      - sum(power * (1.0/(1.0 + (k/cast(k0.k0 AS double))
       |                            * (k/cast(k0.k0 AS double)))))
       |        * sum(power * (1.0/(1.0 + (k/cast(k0.k0 AS double))
       |                            * (k/cast(k0.k0 AS double)))))
       |        / sum((1.0/(1.0 + (k/cast(k0.k0 AS double))
       |                        * (k/cast(k0.k0 AS double))))
       |              * (1.0/(1.0 + (k/cast(k0.k0 AS double))
       |                        * (k/cast(k0.k0 AS double))))))
       |      / sum(power*power) AS rfrac
       |  FROM psd CROSS JOIN generate_series(1, 40) AS k0(k0)
       |  GROUP BY 1, 2),
       |rk AS (SELECT id, k0, a, row_number() OVER (
       |    PARTITION BY id ORDER BY round(rfrac, 6) ASC, k0 ASC) AS rn
       |  FROM fits)
       |SELECT id, k0 AS knee_k, round(a, 3) + 0.0 AS amplitude
       |FROM rk WHERE rn = 1""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("gls_peak_prominence", glsPeakProminence, glsPeakProminenceSql),
    Query("gls_best_prominence", glsBestProminence, glsBestProminenceSql),
    Query("psd_ifft", psdIfft, psdIfftSql),
    Query("psd_polyfit", psdPolyfit, psdPolyfitSql),
    Query("psd_curvefit", psdCurvefit, psdCurvefitSql),
    Query("gls_half_width_prominence", glsHalfWidthProminence,
      glsHalfWidthProminenceSql))
}
