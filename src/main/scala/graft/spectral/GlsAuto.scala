package graft.spectral

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GLS on the reference's DEFAULT (data-derived) frequency grid —
  * reference spectral.py:88-99: when no fmin/fmax is given, the grid
  * is derived from the series itself:
  *
  *   df   = 1 / (n · baseline)        (n = samples per peak, 5)
  *   fmin = df / 2                    (half a cycle in the baseline)
  *   fmax = 0.5 / median_dt           (pseudo-Nyquist)
  *   freq = arange(fmin, fmax + df, df)
  *
  * (grid semantics pinned by the reference's own
  * tests/test_spectral.py:7-27.) The fixed-grid `gls_periodogram`
  * shares one broadcast grid across all series; here every series gets
  * its OWN grid, so the grid is a per-series `sequence()` explode and
  * the trig sums are the same single groupBy(id, k) aggregation —
  * per-series work is n_samples × nf where nf ∝ n_samples (the grid
  * resolves exactly the structure the sampling can support), i.e. the
  * same cost class as the reference's O(N·NF) direct sum, parallel
  * over series. median_dt uses Spark `percentile` ≡ DuckDB
  * `quantile_cont` (same interpolated definition — the
  * events_quantiles precedent); it only enters the integer grid
  * length `nf` through floor(round(·, 6)), so a last-ulp divergence
  * cannot shift the row set.
  */
object GlsAuto {
  /** Samples per peak (reference spectral.py:64 default). */
  val N: Double = 5.0
  /** Guard: a pathological series (median_dt ≪ baseline / n_samples,
    * e.g. burst sampling) could demand an enormous grid; cap it like a
    * real deployment would cap fmax. Inert on the test data
    * (nf ≤ ~410). */
  val MaxNf: Int = 5000

  /** Per-series grid parameters + the exploded frequency grid. */
  private def grid(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val wt = Window.partitionBy("id").orderBy("t")
    val d = s.withColumn("dt", col("t") - lag("t", 1).over(wt))
    val st = d.groupBy("id")
      .agg(min("t").as("t0"),
        (max("t") - min("t")).as("bl"),
        // exact-cents mean — bit-identical demeaning (Gls.centered)
        (sum(round(col("y") * 100.0, 0).cast("long")).cast("double") /
          count(lit(1)) / 100.0).as("ymean"),
        count(lit(1)).as("n"),
        expr("percentile(dt, 0.5)").as("mdt"))
      .filter(col("n") >= 3 && col("bl") > 0.0 && col("mdt") > 0.0)
      .withColumn("dfq", lit(1.0) / (lit(N) * col("bl")))
      .withColumn("fmin", lit(0.5) * col("dfq"))
      .withColumn("fmax", lit(0.5) / col("mdt"))
      .withColumn("nf",
        greatest(least(
          (floor(round((col("fmax") - col("fmin")) / col("dfq"), 6)) +
            lit(1.0)).cast("int"), lit(MaxNf)), lit(1)))
    st.select(col("id"), col("t0"), col("ymean"), col("fmin"), col("dfq"),
        explode(expr("sequence(0, nf - 1)")).as("k"))
      .withColumn("freq", col("fmin") + col("k") * col("dfq"))
  }

  private val gridSql: String =
    s"""s AS (${Tables.seriesSql}),
       |d AS (SELECT id, t, y,
       |  t - lag(t, 1) OVER (PARTITION BY id ORDER BY t) AS dt FROM s),
       |st AS (SELECT id, min(t) AS t0, max(t) - min(t) AS bl,
       |  cast(sum(cast(round(y*100.0) AS BIGINT)) AS double)
       |    / count(*) / 100.0 AS ymean,
       |  count(*) AS n, quantile_cont(dt, 0.5) AS mdt
       |  FROM d GROUP BY id
       |  HAVING count(*) >= 3 AND max(t) - min(t) > 0.0
       |     AND quantile_cont(dt, 0.5) > 0.0),
       |sg AS (SELECT *, 0.5 * dfq AS fmin, 0.5 / mdt AS fmax FROM
       |  (SELECT *, 1.0 / ($N * bl) AS dfq FROM st)),
       |sn AS (SELECT *, greatest(least(
       |    cast(floor(round((fmax - fmin) / dfq, 6)) + 1.0 AS INT),
       |    $MaxNf), 1) AS nf FROM sg),
       |gk AS (SELECT id, t0, ymean, fmin, dfq,
       |  unnest(generate_series(0, nf - 1)) AS k FROM sn),
       |g AS (SELECT *, fmin + k * dfq AS freq FROM gk)""".stripMargin

  /** GLS power on the per-series auto grid (fit_mean=true, uniform
    * weights): the per-series moments fed to [[Gls.glsPower]], with
    * freq carried through as a key. */
  def glsAutogrid(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val omega = lit(2.0 * math.Pi) * col("freq") * (col("t") - col("t0"))
    val m = s.join(grid(spark, dir), "id")
      .select(col("id"), col("k"), col("freq"),
        cos(omega).as("cw"), sin(omega).as("sw"),
        cos(omega * 2.0).as("c2w"), sin(omega * 2.0).as("s2w"),
        (col("y") - col("ymean")).as("yc"))
      .groupBy("id", "k")
      .agg(max("freq").as("freq"),
        avg("cw").as("C"), avg("sw").as("S"),
        avg(col("yc") * col("cw")).as("Ch"),
        avg(col("yc") * col("sw")).as("Sh"),
        avg("c2w").as("C2"), avg("s2w").as("S2"),
        avg(col("yc") * col("yc")).as("YY"))
    Gls.glsPower(m).select(col("id"), col("k"),
      (round(col("freq") * 1e6, 6) + lit(0.0)).as("freq_uhz"),
      (col("power") + lit(0.0)).as("power"))
  }

  private val glsAutogridCte: String =
    s"""WITH $gridSql,
       |mo AS (
       |  SELECT s.id, g.k, max(g.freq) AS freq,
       |    avg(cos(2*pi()*g.freq*(s.t - g.t0))) AS C,
       |    avg(sin(2*pi()*g.freq*(s.t - g.t0))) AS S,
       |    avg((s.y - g.ymean) * cos(2*pi()*g.freq*(s.t - g.t0))) AS Ch,
       |    avg((s.y - g.ymean) * sin(2*pi()*g.freq*(s.t - g.t0))) AS Sh,
       |    avg(cos(2*(2*pi()*g.freq*(s.t - g.t0)))) AS C2,
       |    avg(sin(2*(2*pi()*g.freq*(s.t - g.t0)))) AS S2,
       |    avg((s.y - g.ymean) * (s.y - g.ymean)) AS YY
       |  FROM s JOIN g USING (id)
       |  GROUP BY 1, 2),
       |${Gls.powerSql("id, k, freq")},
       |pa AS (SELECT id, k, round(freq * 1e6, 6) + 0.0 AS freq_uhz,
       |  power + 0.0 AS power FROM pg)""".stripMargin

  val glsAutogridSql: String =
    s"""$glsAutogridCte
       |SELECT id, k, freq_uhz, power FROM pa""".stripMargin

  /** period_at_highest_peak over the auto grid — reference
    * core.py:952 via the default-grid path the reference's own
    * test_can_find_periods exercises: strict local max, best power,
    * earliest k on ties; period = 1/freq in seconds. */
  def glsAutogridBest(spark: SparkSession, dir: String): DataFrame = {
    val pg = glsAutogrid(spark, dir)
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
      .agg(round(min(lit(1e6) / col("freq_uhz")), 4).as("best_period"))
      .select("id", "best_period", "best_power")
  }

  val glsAutogridBestSql: String =
    s"""$glsAutogridCte,
       |pk AS (SELECT id, k, freq_uhz, power,
       |  lag(power,1)  OVER win AS pm, lead(power,1) OVER win AS pp
       |  FROM pa WINDOW win AS (PARTITION BY id ORDER BY k)),
       |peaks AS (SELECT id, k, freq_uhz, power FROM pk
       |  WHERE pm IS NOT NULL AND pp IS NOT NULL
       |    AND power > pm AND power > pp),
       |best AS (SELECT id, max(power) AS best_power FROM peaks GROUP BY id)
       |SELECT peaks.id,
       |  round(min(1e6 / peaks.freq_uhz), 4) AS best_period,
       |  best.best_power
       |FROM peaks JOIN best ON peaks.id = best.id
       |  AND peaks.power = best.best_power
       |GROUP BY peaks.id, best.best_power""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("gls_autogrid", glsAutogrid, glsAutogridSql),
    Query("gls_autogrid_best", glsAutogridBest, glsAutogridBestSql))
}
