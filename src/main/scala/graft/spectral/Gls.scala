package graft.spectral

import graft.{Query, Tables}
import graft.functions.GlsMoments
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generalized Lomb–Scargle periodogram (Zechmeister & Kürster 2009)
  * — reference spectral.py:43 (GLS.__call__) — re-expressed as a
  * declarative Spark aggregation.
  *
  * The reference accelerates ONE series with an FFT-based trig sum
  * (spectral.py:11). At 100 TB the parallel axis is millions of
  * series × a frequency grid, so graft computes the exact trig sums
  * as a single `groupBy(series)` aggregation whose buffer is the
  * whole moment vector of the grid ([[graft.functions.GlsMoments]]):
  * partial aggregation map-side, one shuffle of one buffer per series
  * and partition, no ×grid explode ahead of it — embarrassingly
  * parallel and exact (no NFFT gridding error). The harmonics are
  * exploded after the aggregate and read by [[glsPower]], the one
  * closed form. Uniform weights w=1/n, fit_mean=true.
  *
  * Frequency grid: f_k = k / (30 days), k = 1..200 (periods 30 d down
  * to 3.6 h), matching the reference's uniform grid construction.
  */
object Gls {
  val DF: Double = 1.0 / (30.0 * 86400.0) // frequency step (Hz)
  val NF: Int = 200

  /** Per-series t0/mean, centered time tc and demeaned yc. */
  private[graft] def centered(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val stats = s.groupBy("id")
      .agg(min("t").as("t0"),
        // exact-cents mean => yc is bit-identical to the oracle's
        // regardless of partitioning/summation order
        (sum(round(col("y") * 100.0, 0).cast("long")).cast("double") /
          count(lit(1)) / 100.0).as("ymean"),
        count(lit(1)).as("n"))
    s.join(broadcast(stats), "id")
      .select(col("id"), (col("t") - col("t0")).as("tc"),
        (col("y") - col("ymean")).as("yc"))
  }

  private[spectral] val centeredSql: String =
    s"""s AS (${Tables.seriesSql}),
       |st AS (SELECT id, min(t) AS t0,
       |  cast(sum(cast(round(y*100.0) AS BIGINT)) AS double)
       |    / count(*) / 100.0 AS ymean,
       |  count(*) AS n
       |       FROM s GROUP BY id),
       |c AS (SELECT s.id, s.t - st.t0 AS tc, s.y - st.ymean AS yc
       |      FROM s JOIN st USING (id))""".stripMargin

  /** Trig moments per (id, k): all means over the series (w = 1/n).
    * One [[GlsMoments]] buffer per series, exploded to the NF
    * harmonics after the aggregate. */
  private[graft] def moments(spark: SparkSession, dir: String): DataFrame =
    centered(spark, dir)
      .groupBy("id")
      .agg(GlsMoments.column(spark, col("tc"), col("yc"),
        2.0 * math.Pi * DF, NF).as("m"))
      .select(col("id"), col("m.y2").as("YY"), inline(col("m.h")))
      .select(col("id"), col("k").cast("long").as("k"), col("C"), col("S"),
        col("ycos").as("Ch"), col("ysin").as("Sh"), col("C2"), col("S2"),
        col("YY"))

  private val momentsSql: String =
    s"""WITH ${centeredSql},
       |mo AS (
       |  SELECT c.id, k.k,
       |    avg(cos(2*pi()*${DF}*k.k*c.tc)) AS C,
       |    avg(sin(2*pi()*${DF}*k.k*c.tc)) AS S,
       |    avg(c.yc * cos(2*pi()*${DF}*k.k*c.tc)) AS Ch,
       |    avg(c.yc * sin(2*pi()*${DF}*k.k*c.tc)) AS Sh,
       |    avg(cos(2*(2*pi()*${DF}*k.k*c.tc))) AS C2,
       |    avg(sin(2*(2*pi()*${DF}*k.k*c.tc))) AS S2,
       |    avg(c.yc * c.yc) AS YY
       |  FROM c CROSS JOIN generate_series(1, ${NF}) AS k(k)
       |  GROUP BY 1, 2)""".stripMargin

  /** Zechmeister–Kürster closed form (reference spectral.py:109-132):
    * the tau rotation and power from a frame of trig moments — C, S,
    * C2, S2 (the sampling window), Ch, Sh (signal × window) and YY
    * (signal variance), all weighted means per key. Returns the frame
    * with the rotation's working columns and the 6 dp `power`; callers
    * keep their own moment construction and select their keys. The
    * one Spark statement of the closed form: the batch periodograms,
    * the bootstrap and the stream twin all read it. The withColumn
    * chain is deliberate: folding it into one inlined Column would
    * change how CollapseProject and codegen see the shared
    * subexpressions (tan2, C2w, Cw, ...), and with them the plans of
    * the benchmarked periodogram and stream. */
  def glsPower(m: DataFrame): DataFrame = {
    val tan2 = (col("S2") - lit(2.0) * col("S") * col("C")) /
      (col("C2") - (col("C") * col("C") - col("S") * col("S")))
    val withTau = m.withColumn("tan2", tan2)
      .withColumn("C2w", lit(1.0) / sqrt(lit(1.0) + col("tan2") * col("tan2")))
      .withColumn("S2w", col("tan2") * col("C2w"))
    val withW = withTau
      .withColumn("Cw", sqrt(lit(0.5)) * sqrt(lit(1.0) + col("C2w")))
      .withColumn("Sw", sqrt(lit(0.5)) * signum(col("S2w")) *
        sqrt(lit(1.0) - col("C2w")))
    val p = withW
      .withColumn("YC", col("Ch") * col("Cw") + col("Sh") * col("Sw"))
      .withColumn("YS", col("Sh") * col("Cw") - col("Ch") * col("Sw"))
      .withColumn("CC",
        lit(0.5) * (lit(1.0) + col("C2") * col("C2w") + col("S2") * col("S2w")) -
          (col("C") * col("Cw") + col("S") * col("Sw")) *
          (col("C") * col("Cw") + col("S") * col("Sw")))
      .withColumn("SS",
        lit(0.5) * (lit(1.0) - col("C2") * col("C2w") - col("S2") * col("S2w")) -
          (col("S") * col("Cw") - col("C") * col("Sw")) *
          (col("S") * col("Cw") - col("C") * col("Sw")))
    p.withColumn("power", round((col("YC") * col("YC") / col("CC") +
      col("YS") * col("YS") / col("SS")) / col("YY"), 6))
  }

  /** [[glsPower]] as DuckDB CTEs: reads `mo(<keys>, C, S, Ch, Sh, C2,
    * S2, YY)` and defines `pg(<keys>, power)`. */
  private[graft] def powerSql(keys: String): String =
    s"""t1 AS (SELECT $keys, C, S, Ch, Sh, C2, S2, YY,
       |  (S2 - 2*S*C) / (C2 - (C*C - S*S)) AS tan2 FROM mo),
       |t2 AS (SELECT *, 1.0/sqrt(1.0 + tan2*tan2) AS C2w,
       |  tan2 * (1.0/sqrt(1.0 + tan2*tan2)) AS S2w FROM t1),
       |t3 AS (SELECT *, sqrt(0.5)*sqrt(1.0 + C2w) AS Cw,
       |  sqrt(0.5)*sign(S2w)*sqrt(1.0 - C2w) AS Sw FROM t2),
       |t4 AS (SELECT $keys, YY,
       |  Ch*Cw + Sh*Sw AS YC, Sh*Cw - Ch*Sw AS YS,
       |  0.5*(1.0 + C2*C2w + S2*S2w) - (C*Cw + S*Sw)*(C*Cw + S*Sw) AS CC,
       |  0.5*(1.0 - C2*C2w - S2*S2w) - (S*Cw - C*Sw)*(S*Cw - C*Sw) AS SS
       |  FROM t3),
       |pg AS (SELECT $keys, round((YC*YC/CC + YS*YS/SS)/YY, 6) AS power
       |  FROM t4)""".stripMargin

  /** Fixed-grid periodogram, fit_mean=true, uniform weights. */
  def glsPeriodogram(spark: SparkSession, dir: String): DataFrame =
    glsPower(moments(spark, dir)).select("id", "k", "power")

  /** The periodogram's CTEs, ending at `pg(id, k, power)`. */
  private[spectral] val periodogramSql: String =
    s"""$momentsSql,
       |${powerSql("id, k")}""".stripMargin

  val glsPeriodogramSql: String =
    s"""$periodogramSql
       |SELECT id, k, power FROM pg""".stripMargin

  /** period_at_highest_peak — reference core.py:952: the period of the
    * highest local maximum of the periodogram. */
  def glsBestPeriod(spark: SparkSession, dir: String): DataFrame = {
    val pg = glsPeriodogram(spark, dir)
    val wk = Window.partitionBy("id").orderBy("k")
    val peaks = pg
      .withColumn("pm", lag("power", 1).over(wk))
      .withColumn("pp", lead("power", 1).over(wk))
      .filter(col("pm").isNotNull && col("pp").isNotNull &&
        col("power") > col("pm") && col("power") > col("pp"))
    val best = peaks.groupBy("id").agg(max("power").as("best_power"))
    peaks.join(best, "id")
      .filter(col("power") === col("best_power"))
      .groupBy("id", "best_power")
      .agg(round(min(lit(1.0 / DF) / col("k")), 6).as("best_period"))
      .select("id", "best_period", "best_power")
  }

  val glsBestPeriodSql: String =
    s"""$periodogramSql,
       |pk AS (SELECT id, k, power,
       |  lag(power,1)  OVER win AS pm, lead(power,1) OVER win AS pp
       |  FROM pg WINDOW win AS (PARTITION BY id ORDER BY k)),
       |peaks AS (SELECT id, k, power FROM pk
       |  WHERE pm IS NOT NULL AND pp IS NOT NULL
       |    AND power > pm AND power > pp),
       |best AS (SELECT id, max(power) AS best_power FROM peaks GROUP BY id)
       |SELECT peaks.id,
       |  round(min(${1.0 / DF} / peaks.k), 6) AS best_period,
       |  best.best_power
       |FROM peaks JOIN best ON peaks.id = best.id
       |  AND peaks.power = best.best_power
       |GROUP BY peaks.id, best.best_power""".stripMargin

  /** Spectral window — reference spectral.py:165 (GLS.window): GLS of
    * the constant-1 signal with fit_mean=false. With y ≡ 1 and no mean
    * fit, Ch = avg(cos), Sh = avg(sin), YY = 1 and the mean terms
    * C = S = 0 drop out of the closed form — the same IEEE
    * computation as the fit_mean=false formula written out. */
  def glsWindow(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val t0 = s.groupBy("id").agg(min("t").as("t0"))
    val freqs = spark.range(1, NF + 1).toDF("k")
    val omega = lit(2.0 * math.Pi * DF) * col("k") * (col("t") - col("t0"))
    val m = s.join(broadcast(t0), "id")
      .crossJoin(broadcast(freqs))
      .select(col("id"), col("k"),
        cos(omega).as("cw"), sin(omega).as("sw"),
        cos(omega * 2.0).as("c2w"), sin(omega * 2.0).as("s2w"))
      .groupBy("id", "k")
      .agg(avg("cw").as("Ch"), avg("sw").as("Sh"),
        avg("c2w").as("C2"), avg("s2w").as("S2"),
        lit(0.0).as("C"), lit(0.0).as("S"), lit(1.0).as("YY"))
    glsPower(m).select("id", "k", "power")
  }

  val glsWindowSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |t0 AS (SELECT id, min(t) AS t0 FROM s GROUP BY id),
       |mo AS (
       |  SELECT s.id, k.k,
       |    avg(cos(2*pi()*${DF}*k.k*(s.t - t0.t0))) AS Ch,
       |    avg(sin(2*pi()*${DF}*k.k*(s.t - t0.t0))) AS Sh,
       |    avg(cos(2*(2*pi()*${DF}*k.k*(s.t - t0.t0)))) AS C2,
       |    avg(sin(2*(2*pi()*${DF}*k.k*(s.t - t0.t0)))) AS S2,
       |    0.0::DOUBLE AS C, 0.0::DOUBLE AS S, 1.0::DOUBLE AS YY
       |  FROM s JOIN t0 USING (id)
       |  CROSS JOIN generate_series(1, ${NF}) AS k(k)
       |  GROUP BY 1, 2),
       |${powerSql("id, k")}
       |SELECT id, k, power FROM pg""".stripMargin

  /** Sinusoid model fit at f0 — reference spectral.py:169 (GLS.model):
    * least-squares [1, sin, cos] coefficients via the 3×3 normal
    * equations solved in closed form (Cramer) from per-series moments.
    * f0 = 10·DF (3-day period). */
  val F0: Double = 10.0 * DF

  def glsModel(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val stats = s.groupBy("id")
      .agg(min("t").as("t0"),
        (sum(round(col("y") * 100.0, 0).cast("long")).cast("double") /
          count(lit(1)) / 100.0).as("ymean"))
    val omega = lit(2.0 * math.Pi * F0) * (col("t") - col("t0"))
    val m = s.join(broadcast(stats), "id")
      .select(col("id"), (col("y") - col("ymean")).as("yc"),
        sin(omega).as("sn"), cos(omega).as("cs"), col("y"))
      .groupBy("id")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("sn").as("ss"), sum("cs").as("sc"),
        sum(col("sn") * col("sn")).as("sss"),
        sum(col("cs") * col("cs")).as("scc"),
        sum(col("sn") * col("cs")).as("ssc"),
        sum("yc").as("sy"),
        sum(col("yc") * col("sn")).as("sys"),
        sum(col("yc") * col("cs")).as("syc"),
        // exact-cents mean for the OUTPUT column (order-independent)
        (sum(round(col("y") * 100.0, 0).cast("long")).cast("double") /
          count(lit(1)) / 100.0).as("ymean"))
    // Cramer's rule on M = [[n,ss,sc],[ss,sss,ssc],[sc,ssc,scc]]
    val det =
      col("n") * (col("sss") * col("scc") - col("ssc") * col("ssc")) -
        col("ss") * (col("ss") * col("scc") - col("ssc") * col("sc")) +
        col("sc") * (col("ss") * col("ssc") - col("sss") * col("sc"))
    val d0 =
      col("sy") * (col("sss") * col("scc") - col("ssc") * col("ssc")) -
        col("ss") * (col("sys") * col("scc") - col("ssc") * col("syc")) +
        col("sc") * (col("sys") * col("ssc") - col("sss") * col("syc"))
    val d1 =
      col("n") * (col("sys") * col("scc") - col("syc") * col("ssc")) -
        col("sy") * (col("ss") * col("scc") - col("ssc") * col("sc")) +
        col("sc") * (col("ss") * col("syc") - col("sys") * col("sc"))
    val d2 =
      col("n") * (col("sss") * col("syc") - col("ssc") * col("sys")) -
        col("ss") * (col("ss") * col("syc") - col("sys") * col("sc")) +
        col("sy") * (col("ss") * col("ssc") - col("sss") * col("sc"))
    // + 0.0: signed-zero normalization after the round (DuckDB keeps
    // -0.0 on tiny negative coefficients, Spark's round cannot).
    m.select(col("id"),
      round(col("ymean"), 6).as("y_mean"),
      (round(d0 / det, 6) + lit(0.0)).as("a_const"),
      (round(d1 / det, 6) + lit(0.0)).as("a_sin"),
      (round(d2 / det, 6) + lit(0.0)).as("a_cos"))
  }

  val glsModelSql: String = {
    val om = s"2*pi()*${F0}*(s.t - st.t0)"
    s"""WITH s AS (${Tables.seriesSql}),
       |st AS (SELECT id, min(t) AS t0,
       |  cast(sum(cast(round(y*100.0) AS BIGINT)) AS double)
       |    / count(*) / 100.0 AS ymean
       |  FROM s GROUP BY id),
       |m AS (SELECT s.id, cast(count(*) AS double) AS n,
       |  sum(sin($om)) AS ss, sum(cos($om)) AS sc,
       |  sum(sin($om)*sin($om)) AS sss, sum(cos($om)*cos($om)) AS scc,
       |  sum(sin($om)*cos($om)) AS ssc,
       |  sum(s.y - st.ymean) AS sy,
       |  sum((s.y - st.ymean)*sin($om)) AS sys,
       |  sum((s.y - st.ymean)*cos($om)) AS syc,
       |  cast(sum(cast(round(s.y*100.0) AS BIGINT)) AS double)
       |    / count(*) / 100.0 AS ymean
       |  FROM s JOIN st USING (id) GROUP BY s.id)
       |SELECT id, round(ymean, 6) AS y_mean,
       |  round((sy*(sss*scc - ssc*ssc) - ss*(sys*scc - ssc*syc)
       |         + sc*(sys*ssc - sss*syc))
       |        / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc)
       |         + sc*(ss*ssc - sss*sc)), 6) + 0.0 AS a_const,
       |  round((n*(sys*scc - syc*ssc) - sy*(ss*scc - ssc*sc)
       |         + sc*(ss*syc - sys*sc))
       |        / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc)
       |         + sc*(ss*ssc - sss*sc)), 6) + 0.0 AS a_sin,
       |  round((n*(sss*syc - ssc*sys) - ss*(ss*syc - sys*sc)
       |         + sy*(ss*ssc - sss*sc))
       |        / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc)
       |         + sc*(ss*ssc - sss*sc)), 6) + 0.0 AS a_cos
       |FROM m""".stripMargin
  }

  /** Direct DFT power spectrum — reference core.py:546/554 (fft/psd):
    * |Σ yc e^{-iωtc}|² on the broadcast frequency grid. */
  def psdDft(spark: SparkSession, dir: String): DataFrame = {
    val freqs = spark.range(1, NF + 1).toDF("k")
    val omega = lit(2.0 * math.Pi * DF) * col("k") * col("tc")
    centered(spark, dir)
      .crossJoin(broadcast(freqs))
      .select(col("id"), col("k"),
        (col("yc") * cos(omega)).as("re"), (col("yc") * sin(omega)).as("im"))
      .groupBy("id", "k")
      .agg(round(sum("re") * sum("re") + sum("im") * sum("im"), 3).as("power"))
  }

  val psdDftSql: String =
    s"""WITH ${centeredSql}
       |SELECT c.id, k.k,
       |  round(sum(c.yc*cos(2*pi()*${DF}*k.k*c.tc))
       |          * sum(c.yc*cos(2*pi()*${DF}*k.k*c.tc))
       |      + sum(c.yc*sin(2*pi()*${DF}*k.k*c.tc))
       |          * sum(c.yc*sin(2*pi()*${DF}*k.k*c.tc)), 3) AS power
       |FROM c CROSS JOIN generate_series(1, ${NF}) AS k(k)
       |GROUP BY 1, 2""".stripMargin

  /** Heteroscedastic GLS — reference spectral.py:99-132 with per-point
    * uncertainties: w_i ∝ err_i^{-2}. The events table carries no err
    * column, so a Poisson-like model err_i = 0.1·√y_i stands in
    * (w_i ∝ 1/y_i) — the operator exercises the full weighted path:
    * every moment is a ratio of weighted sums, still one aggregation
    * pass per (series, frequency). */
  def glsWeighted(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir).withColumn("wt", lit(1.0) / col("y"))
    val stats = s.groupBy("id").agg(min("t").as("t0"),
      (sum(col("wt") * col("y")) / sum("wt")).as("ymean"))
    val freqs = spark.range(1, NF + 1).toDF("k")
    val omega = lit(2.0 * math.Pi * DF) * col("k") * (col("t") - col("t0"))
    val m = s.join(broadcast(stats), "id")
      .crossJoin(broadcast(freqs))
      .select(col("id"), col("k"), col("wt"),
        cos(omega).as("cw"), sin(omega).as("sw"),
        cos(omega * 2.0).as("c2w"), sin(omega * 2.0).as("s2w"),
        (col("y") - col("ymean")).as("yc"))
      .groupBy("id", "k")
      .agg((sum(col("wt") * col("cw")) / sum("wt")).as("C"),
        (sum(col("wt") * col("sw")) / sum("wt")).as("S"),
        (sum(col("wt") * col("yc") * col("cw")) / sum("wt")).as("Ch"),
        (sum(col("wt") * col("yc") * col("sw")) / sum("wt")).as("Sh"),
        (sum(col("wt") * col("c2w")) / sum("wt")).as("C2"),
        (sum(col("wt") * col("s2w")) / sum("wt")).as("S2"),
        (sum(col("wt") * col("yc") * col("yc")) / sum("wt")).as("YY"))
    glsPower(m).select("id", "k", "power")
  }

  val glsWeightedSql: String = {
    val om = s"2*pi()*${DF}*k.k*(s.t - st.t0)"
    s"""WITH s0 AS (${Tables.seriesSql}),
       |s AS (SELECT *, 1.0 / y AS wt FROM s0),
       |st AS (SELECT id, min(t) AS t0,
       |  sum(wt * y) / sum(wt) AS ymean FROM s GROUP BY id),
       |mo AS (SELECT s.id, k.k,
       |  sum(s.wt * cos($om)) / sum(s.wt) AS C,
       |  sum(s.wt * sin($om)) / sum(s.wt) AS S,
       |  sum(s.wt * (s.y - st.ymean) * cos($om)) / sum(s.wt) AS Ch,
       |  sum(s.wt * (s.y - st.ymean) * sin($om)) / sum(s.wt) AS Sh,
       |  sum(s.wt * cos(2*($om))) / sum(s.wt) AS C2,
       |  sum(s.wt * sin(2*($om))) / sum(s.wt) AS S2,
       |  sum(s.wt * (s.y - st.ymean) * (s.y - st.ymean)) / sum(s.wt) AS YY
       |  FROM s JOIN st USING (id)
       |  CROSS JOIN generate_series(1, ${NF}) AS k(k)
       |  GROUP BY 1, 2),
       |${powerSql("id, k")}
       |SELECT id, k, power FROM pg""".stripMargin
  }

  /** periods_at_half_max — reference core.py:963: the period interval
    * where the periodogram first falls below half the best peak on
    * either side (FWHM-style line width of the detection). */
  def glsHalfWidth(spark: SparkSession, dir: String): DataFrame = {
    val pg = glsPeriodogram(spark, dir)
    val wk = Window.partitionBy("id").orderBy("k")
    val peaks = pg
      .withColumn("pm", lag("power", 1).over(wk))
      .withColumn("pp", lead("power", 1).over(wk))
      .filter(col("pm").isNotNull && col("pp").isNotNull &&
        col("power") > col("pm") && col("power") > col("pp"))
    val best = peaks.groupBy("id").agg(max("power").as("best_power"))
    val kstar = peaks.join(best, "id")
      .filter(col("power") === col("best_power"))
      .groupBy("id", "best_power").agg(min("k").as("kstar"))
    val below = pg.join(kstar, "id")
      .filter(col("power") < col("best_power") / 2.0)
    val lo = below.filter(col("k") < col("kstar"))
      .groupBy("id").agg(max("k").as("kl"))
    val hi = below.filter(col("k") > col("kstar"))
      .groupBy("id").agg(min("k").as("ku"))
    kstar.join(lo, Seq("id"), "left").join(hi, Seq("id"), "left")
      .select(col("id"), col("kstar"), col("best_power"),
        round(lit(1.0 / DF) / col("ku"), 4).as("period_lo"),
        round(lit(1.0 / DF) / col("kl"), 4).as("period_hi"))
  }

  val glsHalfWidthSql: String =
    s"""$periodogramSql,
       |pk AS (SELECT id, k, power,
       |  lag(power,1)  OVER win AS pm, lead(power,1) OVER win AS pp
       |  FROM pg WINDOW win AS (PARTITION BY id ORDER BY k)),
       |peaks AS (SELECT id, k, power FROM pk
       |  WHERE pm IS NOT NULL AND pp IS NOT NULL
       |    AND power > pm AND power > pp),
       |best AS (SELECT id, max(power) AS best_power FROM peaks GROUP BY id),
       |kstar AS (SELECT peaks.id, best.best_power, min(peaks.k) AS kstar
       |  FROM peaks JOIN best ON peaks.id = best.id
       |    AND peaks.power = best.best_power
       |  GROUP BY peaks.id, best.best_power),
       |below AS (SELECT pg.id, pg.k, kstar.kstar, kstar.best_power
       |  FROM pg JOIN kstar USING (id)
       |  WHERE pg.power < kstar.best_power / 2.0),
       |lo AS (SELECT id, max(k) AS kl FROM below WHERE k < kstar GROUP BY id),
       |hi AS (SELECT id, min(k) AS ku FROM below WHERE k > kstar GROUP BY id)
       |SELECT kstar.id, kstar.kstar, kstar.best_power,
       |  round(${1.0 / DF} / hi.ku, 4) AS period_lo,
       |  round(${1.0 / DF} / lo.kl, 4) AS period_hi
       |FROM kstar
       |LEFT JOIN lo USING (id)
       |LEFT JOIN hi USING (id)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("gls_periodogram", glsPeriodogram, glsPeriodogramSql),
    Query("gls_best_period", glsBestPeriod, glsBestPeriodSql),
    Query("gls_window", glsWindow, glsWindowSql),
    Query("gls_model", glsModel, glsModelSql),
    Query("gls_half_width", glsHalfWidth, glsHalfWidthSql),
    Query("gls_weighted", glsWeighted, glsWeightedSql),
    Query("psd_dft", psdDft, psdDftSql))
}
