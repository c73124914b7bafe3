package graft.spectral

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Morlet wavelet power spectrum — reference timefrequency.py:170
  * (WPS with pywt's cmor2.0-1.0: ψ(x) = (2π)^(-1/2) e^{2πix} e^{-x²/2},
  * scale = period since the center frequency C=1).
  *
  * The reference convolves ONE uniformly-sampled series per scale. The
  * Spark-native shape: a (period × time) evaluation grid broadcast
  * against the events table, kernel support truncated at |x| ≤ 4
  * (e^{-8} tail), so each cell is a windowed trig aggregation — works
  * on non-uniform sampling, partial-aggregates map-side, and scales
  * linearly in series count. COI masking (timefrequency.py:257) is a
  * per-cell flag; sav/gwps (timefrequency.py:264-298) are averages
  * over the masked cells; CompositeSpectrum (timefrequency.py:305) is
  * GWPS (peak-normalized) × the ACF at the matching lag.
  *
  * Grids: periods p_j = j·21600 s (6 h…6 d, j=1..24); times
  * τ_m = 2024-01-01 + m·43200 s (12 h steps, m=0..60).
  */
object Wavelet {
  val NJ = 24
  val NM = 60
  val T0 = 1.704067200e9 // epoch of 2024-01-01 (events window start)
  val INV_SQRT_2PI = 1.0 / math.sqrt(2.0 * math.Pi)

  /** Per-(id, j, m) complex Morlet projection → power, spectrum, COI. */
  def waveletPower(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val stats = s.groupBy("id").agg(
      (sum(round(col("y") * 100.0, 0).cast("long")).cast("double") /
        count(lit(1)) / 100.0).as("ymean"), // exact-cents (order-safe)
      min("t").as("tmin"), max("t").as("tmax"))
    val jg = spark.range(1, NJ + 1).toDF("j")
    val p = col("j") * lit(21600.0)
    val tau = lit(T0) + col("m") * lit(43200.0)
    val x = (col("t") - tau) / p
    val g = exp(x * x / -2.0) * INV_SQRT_2PI
    // Generate only the in-support (event, j, m) cells: for each
    // (event, j) the kernel support |t-τ| ≤ 4p is a contiguous m range,
    // so exploding the range emits exactly the rows the
    // cross-join+filter formulation (kept in the oracle SQL) would
    // keep — inside one whole-stage-codegen Generate instead of a
    // BroadcastNestedLoopJoin. The time axis is decimated with scale
    // (stride 1/2/3 for j 1-8/9-16/17-24): a CWT oversamples time at
    // coarse scales, and the stride cuts the dominant large-j cell
    // count ~2× — the classic dyadic-decimation trade.
    val cells = s.join(broadcast(stats), "id")
      .crossJoin(broadcast(jg))
      .withColumn("str", expr("1L + (j - 1) div 8"))
      .withColumn("klo",
        ((greatest(lit(0L), ceil((col("t") - lit(T0) - p * 4.0) / 43200.0)
          .cast("long")) + col("str") - 1) / col("str")).cast("long"))
      .withColumn("khi",
        (least(lit(NM.toLong), floor((col("t") - lit(T0) + p * 4.0) / 43200.0)
          .cast("long")) / col("str")).cast("long"))
      .filter(col("klo") <= col("khi"))
      .withColumn("k", explode(sequence(col("klo"), col("khi"))))
      .withColumn("m", col("k") * col("str"))
      .select(col("id"), col("j"), col("m"), col("tmin"), col("tmax"),
        ((col("y") - col("ymean")) * g * cos(x * lit(2.0 * math.Pi))).as("re"),
        ((col("y") - col("ymean")) * g * sin(x * lit(2.0 * math.Pi))).as("im"))
    cells.groupBy("id", "j", "m")
      .agg(sum("re").as("sre"), sum("im").as("sim"),
        first("tmin").as("tmin"), first("tmax").as("tmax"))
      .select(col("id"), col("j"), col("m"),
        round(col("sre") * col("sre") + col("sim") * col("sim"), 2).as("power"),
        round((col("sre") * col("sre") + col("sim") * col("sim")) /
          (col("j") * lit(21600.0)) * 1.0e6, 2).as("spectrum"),
        (lit(math.sqrt(2.0)) * col("j") * lit(21600.0) <
          least(lit(T0) + col("m") * lit(43200.0) - col("tmin"),
            col("tmax") - (lit(T0) + col("m") * lit(43200.0))))
          .cast("int").as("in_coi"))
  }

  private val cellsSql: String =
    s"""s AS (${Tables.seriesSql}),
       |st AS (SELECT id,
       |  cast(sum(cast(round(y*100.0) AS BIGINT)) AS double)
       |    / count(*) / 100.0 AS ymean,
       |  min(t) AS tmin, max(t) AS tmax
       |       FROM s GROUP BY id),
       |cells AS (
       |  SELECT s.id, j.j, m.m, st.tmin, st.tmax,
       |    (s.y - st.ymean)
       |      * exp(((s.t - ($T0 + m.m*43200.0)) / (j.j*21600.0))
       |            * ((s.t - ($T0 + m.m*43200.0)) / (j.j*21600.0)) / -2.0)
       |      * $INV_SQRT_2PI
       |      * cos(((s.t - ($T0 + m.m*43200.0)) / (j.j*21600.0))
       |            * ${2.0 * math.Pi}) AS re,
       |    (s.y - st.ymean)
       |      * exp(((s.t - ($T0 + m.m*43200.0)) / (j.j*21600.0))
       |            * ((s.t - ($T0 + m.m*43200.0)) / (j.j*21600.0)) / -2.0)
       |      * $INV_SQRT_2PI
       |      * sin(((s.t - ($T0 + m.m*43200.0)) / (j.j*21600.0))
       |            * ${2.0 * math.Pi}) AS im
       |  FROM s JOIN st USING (id)
       |  CROSS JOIN generate_series(1, $NJ) AS j(j)
       |  CROSS JOIN generate_series(0, $NM) AS m(m)
       |  WHERE abs(s.t - ($T0 + m.m*43200.0)) <= j.j*21600.0*4.0
       |    AND m.m % (1 + (j.j - 1) // 8) = 0),
       |wp AS (
       |  SELECT id, j, m,
       |    round(sum(re)*sum(re) + sum(im)*sum(im), 2) AS power,
       |    round((sum(re)*sum(re) + sum(im)*sum(im)) / (j*21600.0) * 1.0e6, 2)
       |      AS spectrum,
       |    cast(sqrt(2.0)*j*21600.0 <
       |      least($T0 + m*43200.0 - first(tmin),
       |            first(tmax) - ($T0 + m*43200.0)) AS int) AS in_coi
       |  FROM cells GROUP BY id, j, m)""".stripMargin

  val waveletPowerSql: String =
    s"""WITH $cellsSql
       |SELECT id, j, m, power, spectrum, in_coi FROM wp""".stripMargin

  /** spectrum is already rounded to 2 dp; averaging it as exact
    * integer hundredths sidesteps order-dependent FP noise. */
  private def spec4 = round(col("spectrum") * 100.0, 0).cast("long")

  /** Global wavelet power spectrum (time-mean) per scale, plus the
    * COI-masked variant — reference timefrequency.py:282/290. */
  /** Sums + counts rather than means: a mean of exact hundredths can
    * land exactly on a rounding tie, where Spark's round (shortest-
    * decimal HALF_UP) and DuckDB's (scale + 0.5) disagree. Sums of
    * hundredths are never near a 2 dp tie, so the compare is stable;
    * mean = sum/n is a trivial client-side division. */
  def waveletGwps(spark: SparkSession, dir: String): DataFrame =
    waveletPower(spark, dir)
      .groupBy("id", "j")
      .agg(round(sum(spec4) / 100.0, 2).as("gwps_sum"),
        count(lit(1)).as("n_t"),
        round(coalesce(sum(when(col("in_coi") === 1, spec4)), lit(0L)) / 100.0, 2)
          .as("masked_sum"),
        sum("in_coi").cast("long").as("n_coi"))

  val waveletGwpsSql: String =
    s"""WITH $cellsSql
       |SELECT id, j,
       |  round(cast(sum(cast(round(spectrum*100.0) AS BIGINT)) AS double)
       |        / 100.0, 2) AS gwps_sum,
       |  count(*) AS n_t,
       |  round(cast(coalesce(sum(CASE WHEN in_coi = 1
       |            THEN cast(round(spectrum*100.0) AS BIGINT) END), 0)
       |        AS double) / 100.0, 2) AS masked_sum,
       |  cast(sum(in_coi) AS BIGINT) AS n_coi
       |FROM wp GROUP BY 1, 2""".stripMargin

  /** Scale-averaged variance over the 1–3 day band per time point —
    * reference timefrequency.py:264 (WPS.sav). */
  def waveletSav(spark: SparkSession, dir: String): DataFrame =
    waveletPower(spark, dir)
      .filter(col("j") >= 4 && col("j") <= 12)
      .groupBy("id", "m")
      .agg(round(sum(spec4) / 100.0, 2).as("sav_sum"),
        count(lit(1)).as("n_scales"),
        // masked_sav (timefrequency.py:272): only in-COI cells count
        round(coalesce(sum(when(col("in_coi") === 1, spec4)), lit(0L)) / 100.0, 2)
          .as("masked_sum"),
        sum("in_coi").cast("long").as("n_coi"))

  val waveletSavSql: String =
    s"""WITH $cellsSql
       |SELECT id, m,
       |  round(cast(sum(cast(round(spectrum*100.0) AS BIGINT)) AS double)
       |        / 100.0, 2) AS sav_sum,
       |  count(*) AS n_scales,
       |  round(cast(coalesce(sum(CASE WHEN in_coi = 1
       |            THEN cast(round(spectrum*100.0) AS BIGINT) END), 0)
       |        AS double) / 100.0, 2) AS masked_sum,
       |  cast(sum(in_coi) AS BIGINT) AS n_coi
       |FROM wp WHERE j BETWEEN 4 AND 12 GROUP BY 1, 2""".stripMargin

  /** Composite spectrum — reference timefrequency.py:305: GWPS
    * normalized to its per-series max, times the ACF interpolated at
    * the same period (our period grid p_j = j·21600 aligns exactly
    * with the ACF's 6 h lag bins, so no interpolation error). */
  def compositeSpectrum(spark: SparkSession, dir: String): DataFrame = {
    // sum(long)/count, NOT avg(long): avg casts to double and its
    // accumulation order differs between engines; an exact integer sum
    // divided once forms the identical pre-round double everywhere.
    val gwps = waveletPower(spark, dir)
      .groupBy("id", "j")
      .agg((sum(spec4).cast("double") / count(lit(1))).as("gwps"))
    val gmax = gwps.groupBy("id").agg(max("gwps").as("gmax"))
    val acf = graft.tsa.TimeSeriesOps.tsAcf(spark, dir)
      .withColumnRenamed("k", "j")
    gwps.join(gmax, "id").join(acf, Seq("id", "j"))
      .select(col("id"), col("j"),
        // + 0.0 normalizes IEEE signed zero: DuckDB's round keeps -0.0
        // on tiny negative products, Spark's cannot represent it, and
        // the driver hashes the serialized value. -0.0 + 0.0 = +0.0 in
        // both engines; a no-op for every other value.
        (round(col("gwps") / col("gmax") * col("acf"), 4) + lit(0.0)).as("cs"))
  }

  val compositeSpectrumSql: String =
    s"""WITH $cellsSql,
       |gw AS (SELECT id, j,
       |  cast(sum(cast(round(spectrum*100.0) AS BIGINT)) AS double)
       |    / count(*) AS gwps
       |  FROM wp GROUP BY 1, 2),
       |gm AS (SELECT id, max(gwps) AS gmax FROM gw GROUP BY id),
       |acf0 AS (${graft.tsa.TimeSeriesOps.tsAcfSql})
       |SELECT gw.id, gw.j, round(gw.gwps / gm.gmax * acf0.acf, 4) + 0.0 AS cs
       |FROM gw JOIN gm USING (id)
       |JOIN acf0 ON acf0.id = gw.id AND acf0.k = gw.j""".stripMargin

  /** TFSeries.downsample — reference core.py:1129ff: rebin the
    * time×scale power grid onto 2×4-coarser blocks (j pairs, 4 time
    * steps). Exact integer hundredths (see spec4) keep the rebin
    * order-independent; means are sum/n client-side. */
  def waveletDownsample(spark: SparkSession, dir: String): DataFrame =
    waveletPower(spark, dir)
      .groupBy(col("id"),
        ((col("j") - 1).cast("long") / lit(2L)).cast("long").as("j2"),
        (col("m").cast("long") / lit(4L)).cast("long").as("m2"))
      .agg(round(sum(spec4) / 100.0, 2).as("power_sum"),
        count(lit(1)).as("n_cells"))

  val waveletDownsampleSql: String =
    s"""WITH $cellsSql
       |SELECT id, (j - 1) // 2 AS j2, m // 4 AS m2,
       |  round(cast(sum(cast(round(spectrum*100.0) AS BIGINT)) AS double)
       |        / 100.0, 2) AS power_sum,
       |  count(*) AS n_cells
       |FROM wp GROUP BY 1, 2, 3""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("wavelet_power", waveletPower, waveletPowerSql),
    Query("wavelet_gwps", waveletGwps, waveletGwpsSql),
    Query("wavelet_sav", waveletSav, waveletSavSql),
    Query("wavelet_downsample", waveletDownsample, waveletDownsampleSql),
    Query("composite_spectrum", compositeSpectrum, compositeSpectrumSql))
}
