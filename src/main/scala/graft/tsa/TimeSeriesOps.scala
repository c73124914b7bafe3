package graft.tsa

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core time-series operators over the many-series table
  * (id, t, y, eid) — the Spark-native re-expression of the reference's
  * single-series `TSeries` utilities (reference core.py).
  *
  * Design: everything here is window/aggregation based — whole-stage
  * codegen'd, map-side combinable, one shuffle keyed by series id.
  * No collect, no driver loops: a billion series parallelize linearly.
  */
object TimeSeriesOps {

  /** Per-series window ordered deterministically (t then eid breaks
    * exact-timestamp ties identically in Spark and the DuckDB oracle). */
  private def w = Window.partitionBy("id").orderBy("t", "eid")

  // -------------------------------------------------------------------
  // ts_downsample — reference core.py:629 (TSeries.downsample):
  // time-bin mean. groupBy(id, bin) with map-side partial agg.
  // -------------------------------------------------------------------
  /** y is exact cents; averaging via integer-cent sums gives BOTH
    * engines the identical pre-round double no matter the partitioning
    * / summation order (plain avg(double) lands on opposite sides of
    * exact decimal ties depending on order). */
  private def centsAvg(c: Column): Column =
    round(sum(round(c * 100.0, 0).cast("long")).cast("double") /
      count(lit(1)) / 100.0, 6)

  private def centsAvgSql(e: String): String =
    s"round(cast(sum(cast(round($e*100.0) AS BIGINT)) AS double) / count(*) / 100.0, 6)"

  def tsDownsample(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .groupBy(col("id"), floor(col("t") / lit(21600.0)).as("bin"))
      .agg(centsAvg(col("y")).as("avg_y"), count(lit(1)).as("n"))

  val tsDownsampleSql: String =
    s"""WITH s AS (${Tables.seriesSql})
       |SELECT id, cast(floor(t/21600.0) AS BIGINT) AS bin,
       |       ${centsAvgSql("y")} AS avg_y, count(*) AS n
       |FROM s GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ts_fold — reference core.py:543 (TSeries.fold): phase-fold at a
  // trial period. Pure projection — zero shuffle.
  // -------------------------------------------------------------------
  def tsFold(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .select(col("id"), col("eid"), (col("t") / lit(86400.0)) % 1.0 as "phase",
        col("y"))

  val tsFoldSql: String =
    s"""WITH s AS (${Tables.seriesSql})
       |SELECT id, eid, (t/86400.0) % 1.0 AS phase, y FROM s""".stripMargin

  // -------------------------------------------------------------------
  // ts_split_gaps — reference core.py:619 (TSeries.split): break a
  // series into segments where sampling gap exceeds max_gap.
  // Window lag + running sum of gap flags => segment ids.
  // -------------------------------------------------------------------
  def tsSplitGaps(spark: SparkSession, dir: String): DataFrame = {
    val gap = (col("t") - lag("t", 1).over(w)) > lit(14400.0)
    Tables.series(spark, dir)
      .withColumn("brk", when(gap, 1).otherwise(0))
      .withColumn("seg",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select("id", "eid", "seg")
  }

  val tsSplitGapsSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |b AS (SELECT id, eid, t,
       |  CASE WHEN t - lag(t,1) OVER (PARTITION BY id ORDER BY t, eid)
       |            > 14400.0 THEN 1 ELSE 0 END AS brk FROM s)
       |SELECT id, eid,
       |  cast(sum(brk) OVER (PARTITION BY id ORDER BY t, eid
       |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
       |FROM b""".stripMargin

  // -------------------------------------------------------------------
  // ts_smooth_boxcar — reference core.py:401 (TSeries.smooth, boxcar
  // kernel): centered moving average, frame-truncated at the edges.
  // -------------------------------------------------------------------
  def tsSmoothBoxcar(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .withColumn("y_smooth", round(avg("y").over(w.rowsBetween(-2, 2)), 6))
      .select("id", "eid", "y_smooth")

  val tsSmoothBoxcarSql: String =
    s"""WITH s AS (${Tables.seriesSql})
       |SELECT id, eid,
       |  round(avg(y) OVER (PARTITION BY id ORDER BY t, eid
       |        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS y_smooth
       |FROM s""".stripMargin

  // -------------------------------------------------------------------
  // ts_smooth_triangle — reference core.py:430 (triangle kernel,
  // width 5 => weights [1,2,3,2,1]/9) with 'mirror' edge handling
  // (ndimage.convolve mode="mirror"): missing lag_k mirrors to lead_k.
  // -------------------------------------------------------------------
  def tsSmoothTriangle(spark: SparkSession, dir: String): DataFrame = {
    def m(k: Int): Column =
      coalesce(lag("y", k).over(w), lead("y", k).over(w))
    def p(k: Int): Column =
      coalesce(lead("y", k).over(w), lag("y", k).over(w))
    val tri = (m(2) + m(1) * 2 + col("y") * 3 + p(1) * 2 + p(2)) / 9.0
    Tables.series(spark, dir)
      .withColumn("y_smooth", round(tri, 6))
      .select("id", "eid", "y_smooth")
  }

  val tsSmoothTriangleSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid, y,
       |  coalesce(lag(y,2)  OVER win, lead(y,2) OVER win) AS m2,
       |  coalesce(lag(y,1)  OVER win, lead(y,1) OVER win) AS m1,
       |  coalesce(lead(y,1) OVER win, lag(y,1)  OVER win) AS p1,
       |  coalesce(lead(y,2) OVER win, lag(y,2)  OVER win) AS p2
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid))
       |SELECT id, eid,
       |  round((m2 + m1*2 + y*3 + p1*2 + p2)/9.0, 6) AS y_smooth
       |FROM v""".stripMargin

  // -------------------------------------------------------------------
  // ts_derivative — reference core.py:525 (TSeries.derivative, i.e.
  // xarray differentiate / np.gradient): quadratic-fit central
  // difference on a non-uniform grid; one-sided at the edges.
  // Pure per-row arithmetic => bit-identical to the oracle.
  // -------------------------------------------------------------------
  private def gradient(tc: Column, yc: Column,
      tm: Column, ym: Column, tp: Column, yp: Column): Column = {
    val hd = tc - tm
    val hs = tp - tc
    val interior =
      (hd * hd * yp + (hs * hs - hd * hd) * yc - hs * hs * ym) /
        (hd * hs * (hd + hs))
    when(tm.isNull && tp.isNull, lit(null))
      .when(tm.isNull, (yp - yc) / (tp - tc))
      .when(tp.isNull, (yc - ym) / (tc - tm))
      .otherwise(interior)
  }

  private val gradientSqlTpl: String =
    """CASE
      |  WHEN %TM% IS NULL AND %TP% IS NULL THEN NULL
      |  WHEN %TM% IS NULL THEN (%YP% - %Y%) / (%TP% - %T%)
      |  WHEN %TP% IS NULL THEN (%Y% - %YM%) / (%T% - %TM%)
      |  ELSE ((%T%-%TM%)*(%T%-%TM%)*%YP%
      |        + ((%TP%-%T%)*(%TP%-%T%) - (%T%-%TM%)*(%T%-%TM%))*%Y%
      |        - (%TP%-%T%)*(%TP%-%T%)*%YM%)
      |       / ((%T%-%TM%)*(%TP%-%T%)*((%T%-%TM%)+(%TP%-%T%)))
      |END""".stripMargin

  private def gradSql(t: String, y: String, tm: String, ym: String,
      tp: String, yp: String): String =
    gradientSqlTpl.replace("%TM%", tm).replace("%TP%", tp)
      .replace("%YM%", ym).replace("%YP%", yp)
      .replace("%T%", t).replace("%Y%", y)

  /** Public gradient helpers for composition (TimeSeriesOps2). */
  def gradientOf(y: Column, win: org.apache.spark.sql.expressions.WindowSpec)
      : Column =
    gradient(col("t"), y, lag(col("t"), 1).over(win), lag(y, 1).over(win),
      lead(col("t"), 1).over(win), lead(y, 1).over(win))

  def gradientCol(win: org.apache.spark.sql.expressions.WindowSpec): Column =
    gradientOf(col("y"), win)

  def gradSqlPublic(t: String, y: String, tm: String, ym: String,
      tp: String, yp: String): String = gradSql(t, y, tm, ym, tp, yp)

  def tsDerivative(spark: SparkSession, dir: String): DataFrame = {
    val d = gradient(col("t"), col("y"),
      lag("t", 1).over(w), lag("y", 1).over(w),
      lead("t", 1).over(w), lead("y", 1).over(w))
    Tables.series(spark, dir).withColumn("dy", d).select("id", "eid", "dy")
  }

  val tsDerivativeSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid, t, y,
       |  lag(t,1)  OVER win AS tm, lag(y,1)  OVER win AS ym,
       |  lead(t,1) OVER win AS tp, lead(y,1) OVER win AS yp
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid))
       |SELECT id, eid,
       |${gradSql("t", "y", "tm", "ym", "tp", "yp")} AS dy
       |FROM v""".stripMargin

  // -------------------------------------------------------------------
  // ts_teo — reference core.py:529 (Teager Energy Operator):
  // TEO = y'^2 - y * y''. Two chained gradient passes.
  // -------------------------------------------------------------------
  def tsTeo(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.series(spark, dir)
      .withColumn("dy", gradient(col("t"), col("y"),
        lag("t", 1).over(w), lag("y", 1).over(w),
        lead("t", 1).over(w), lead("y", 1).over(w)))
    val d2 = base
      .withColumn("d2y", gradient(col("t"), col("dy"),
        lag("t", 1).over(w), lag("dy", 1).over(w),
        lead("t", 1).over(w), lead("dy", 1).over(w)))
    d2.withColumn("teo", col("dy") * col("dy") - col("y") * col("d2y"))
      .select("id", "eid", "teo")
  }

  val tsTeoSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid, t, y,
       |  lag(t,1)  OVER win AS tm, lag(y,1)  OVER win AS ym,
       |  lead(t,1) OVER win AS tp, lead(y,1) OVER win AS yp
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid)),
       |d1 AS (SELECT id, eid, t, y,
       |  ${gradSql("t", "y", "tm", "ym", "tp", "yp")} AS dy
       |  FROM v),
       |d1l AS (SELECT id, eid, t, y, dy,
       |  lag(t,1)  OVER win AS tm, lag(dy,1)  OVER win AS dm,
       |  lead(t,1) OVER win AS tp, lead(dy,1) OVER win AS dp
       |  FROM d1 WINDOW win AS (PARTITION BY id ORDER BY t, eid))
       |SELECT id, eid,
       |  dy*dy - y * (${gradSql("t", "dy", "tm", "dm", "tp", "dp")}) AS teo
       |FROM d1l""".stripMargin

  // -------------------------------------------------------------------
  // ts_find_peaks — reference core.py:283 (Signal.find_peaks): strict
  // local maxima via lag/lead comparison.
  // -------------------------------------------------------------------
  def tsFindPeaks(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .withColumn("ym", lag("y", 1).over(w))
      .withColumn("yp", lead("y", 1).over(w))
      .filter(col("ym").isNotNull && col("yp").isNotNull &&
        col("y") > col("ym") && col("y") > col("yp"))
      .select("id", "eid", "t", "y")

  val tsFindPeaksSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid, t, y,
       |  lag(y,1)  OVER win AS ym, lead(y,1) OVER win AS yp
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid))
       |SELECT id, eid, t, y FROM v
       |WHERE ym IS NOT NULL AND yp IS NOT NULL AND y > ym AND y > yp""".stripMargin

  // -------------------------------------------------------------------
  // ts_zero_crossings — reference core.py:341: indices where the
  // (threshold-shifted) signal changes sign. Threshold fixed at 10.0
  // (mid-range) to keep the crossing test per-row deterministic.
  // -------------------------------------------------------------------
  def tsZeroCrossings(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .withColumn("s0", when(col("y") - 10.0 < 0.0, 1).otherwise(0))
      .withColumn("s1", lead("s0", 1).over(w))
      .filter(col("s1").isNotNull && col("s0") =!= col("s1"))
      .select("id", "eid", "t")

  val tsZeroCrossingsSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid, t,
       |  CASE WHEN y - 10.0 < 0.0 THEN 1 ELSE 0 END AS s0
       |  FROM s),
       |v2 AS (SELECT id, eid, t, s0,
       |  lead(s0,1) OVER (PARTITION BY id ORDER BY t, eid) AS s1 FROM v)
       |SELECT id, eid, t FROM v2 WHERE s1 IS NOT NULL AND s0 <> s1""".stripMargin

  // -------------------------------------------------------------------
  // ts_estimate_noise — reference core.py:369: std of residue against
  // a 3-sample median filter, then 2 rounds of 3-sigma clipping, final
  // sd scaled by 1/0.893421. Median-of-3 = sum - max - min (exact).
  // Edge samples mirror (residue 0), matching ndimage 'reflect'.
  // -------------------------------------------------------------------
  /** Exact-cents residual of every sample against the 3-sample median
    * filter — the shared base both sigma-clip rounds re-consume. A
    * canonical plan instance so a persisted copy
    * CacheManager-substitutes into all three aggregation passes (the
    * scan + per-series window sort otherwise run once per pass). */
  def noiseResidue(spark: SparkSession, dir: String): DataFrame = {
    val ym = lag("y", 1).over(w)
    val yp = lead("y", 1).over(w)
    val med3 = when(ym.isNull || yp.isNull, col("y"))
      .otherwise(ym + col("y") + yp -
        greatest(ym, col("y"), yp) - least(ym, col("y"), yp))
    // rc is exact cents (y and med3 are); mu/sd from integer-cent
    // moments so the clip thresholds are bit-identical to the oracle's
    // (a stddev_pop noise flip at the filter boundary would change the
    // surviving row SET, not just a rounded digit).
    Tables.series(spark, dir)
      .withColumn("rc", round((col("y") - med3) * 100.0, 0).cast("long"))
      .select("id", "rc")
  }

  def tsEstimateNoise(spark: SparkSession, dir: String): DataFrame = {
    val r = noiseResidue(spark, dir)
    def mu = sum("rc").cast("double") / count(lit(1)) / 100.0
    def sd = sqrt((sum(col("rc") * col("rc")).cast("double") -
      sum("rc").cast("double") * sum("rc").cast("double") / count(lit(1))) /
      count(lit(1))) / 100.0
    val s0 = r.groupBy("id").agg(mu.as("mu0"), sd.as("sd0"))
    val f1 = r.join(s0, "id")
      .filter(abs(col("rc") / 100.0 - col("mu0")) < col("sd0") * 3.0)
    val s1 = f1.groupBy("id").agg(mu.as("mu1"), sd.as("sd1"))
    val f2 = r.join(s1, "id")
      .filter(abs(col("rc") / 100.0 - col("mu1")) < col("sd1") * 3.0)
    f2.groupBy("id")
      .agg(round(sd / 0.893421, 6).as("noise"))
  }

  val tsEstimateNoiseSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid, t, y,
       |  lag(y,1)  OVER win AS ym, lead(y,1) OVER win AS yp
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid)),
       |r AS (SELECT id,
       |  cast(round((y - CASE WHEN ym IS NULL OR yp IS NULL THEN y
       |      ELSE ym + y + yp - greatest(ym, y, yp) - least(ym, y, yp)
       |      END) * 100.0) AS BIGINT) AS rc
       |  FROM v),
       |s0 AS (SELECT id,
       |  cast(sum(rc) AS double) / count(*) / 100.0 AS mu0,
       |  sqrt((cast(sum(rc*rc) AS double)
       |        - cast(sum(rc) AS double)*cast(sum(rc) AS double)/count(*))
       |       / count(*)) / 100.0 AS sd0
       |  FROM r GROUP BY id),
       |f1 AS (SELECT r.id, r.rc FROM r JOIN s0 USING (id)
       |       WHERE abs(r.rc / 100.0 - mu0) < sd0 * 3.0),
       |s1 AS (SELECT id,
       |  cast(sum(rc) AS double) / count(*) / 100.0 AS mu1,
       |  sqrt((cast(sum(rc*rc) AS double)
       |        - cast(sum(rc) AS double)*cast(sum(rc) AS double)/count(*))
       |       / count(*)) / 100.0 AS sd1
       |  FROM f1 GROUP BY id),
       |f2 AS (SELECT r.id, r.rc FROM r JOIN s1 USING (id)
       |       WHERE abs(r.rc / 100.0 - mu1) < sd1 * 3.0)
       |SELECT id,
       |  round(sqrt((cast(sum(rc*rc) AS double)
       |        - cast(sum(rc) AS double)*cast(sum(rc) AS double)/count(*))
       |       / count(*)) / 100.0 / 0.893421, 6) AS noise
       |FROM f2 GROUP BY id""".stripMargin

  // -------------------------------------------------------------------
  // ts_acf — reference core.py:578 (TSeries.acf): autocorrelation of
  // the 6h-binned, per-series-demeaned signal at integer lags 0..24.
  // The reference computes one series' ACF via FFT; across millions of
  // series the direct estimator is a (bin+k) self-join — one shuffle,
  // and the lag grid broadcasts.
  // -------------------------------------------------------------------
  /** Shared 6h-binned, per-series-demeaned base of BOTH ACF estimators
    * (biased `tsAcf` and pair-count-corrected `tsAcfUnbiased`): one
    * canonical plan instance so a persisted copy substitutes into
    * every consumer as a materialized view. */
  def acfDemeaned(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.series(spark, dir)
      .groupBy(col("id"), floor(col("t") / lit(21600.0)).as("bin"))
      .agg(avg("y").as("v"))
    val mean = binned.groupBy("id").agg(avg("v").as("mu"))
    binned.join(mean, "id")
      .select(col("id"), col("bin"), (col("v") - col("mu")).as("v"))
  }

  def tsAcf(spark: SparkSession, dir: String): DataFrame = {
    val d = acfDemeaned(spark, dir)
    val lags = spark.range(0, 25).toDF("k")
    val num = d.crossJoin(broadcast(lags))
      .withColumn("bin2", col("bin") + col("k"))
      .join(d.select(col("id"), col("bin").as("bin2"), col("v").as("v2")),
        Seq("id", "bin2"))
      .groupBy("id", "k")
      .agg(sum(col("v") * col("v2")).as("num"))
    val den = d.groupBy("id").agg(sum(col("v") * col("v")).as("den"))
    num.join(den, "id")
      // + 0.0 normalizes IEEE signed zero after the round (DuckDB keeps
      // -0.0 on tiny negatives, Spark's BigDecimal round cannot).
      .select(col("id"), col("k"),
        (round(col("num") / col("den"), 4) + lit(0.0)).as("acf"))
  }

  val tsAcfSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |b AS (SELECT id, floor(t/21600.0) AS bin, avg(y) AS v
       |      FROM s GROUP BY 1, 2),
       |m AS (SELECT id, avg(v) AS mu FROM b GROUP BY id),
       |d AS (SELECT b.id, b.bin, b.v - m.mu AS v FROM b JOIN m USING (id)),
       |num AS (
       |  SELECT d.id, k.k, sum(d.v * d2.v) AS num
       |  FROM d CROSS JOIN generate_series(0, 24) AS k(k)
       |  JOIN d AS d2 ON d2.id = d.id AND d2.bin = d.bin + k.k
       |  GROUP BY 1, 2),
       |den AS (SELECT id, sum(v*v) AS den FROM d GROUP BY id)
       |SELECT num.id, num.k, round(num.num/den.den, 4) + 0.0 AS acf
       |FROM num JOIN den USING (id)""".stripMargin

  // -------------------------------------------------------------------
  // acf_best_period — reference core.py:809/952: period of the highest
  // ACF local maximum (lag grid is 6h bins). Composes ts_acf.
  // -------------------------------------------------------------------
  def acfBestPeriod(spark: SparkSession, dir: String): DataFrame = {
    val acf = tsAcf(spark, dir)
    val wk = Window.partitionBy("id").orderBy("k")
    val peaks = acf
      .withColumn("am", lag("acf", 1).over(wk))
      .withColumn("ap", lead("acf", 1).over(wk))
      .filter(col("k") >= 1 && col("am").isNotNull && col("ap").isNotNull &&
        col("acf") > col("am") && col("acf") > col("ap"))
    val best = peaks.groupBy("id").agg(max("acf").as("best_acf"))
    peaks.join(best, "id")
      .filter(col("acf") === col("best_acf"))
      .groupBy("id", "best_acf")
      .agg(min(col("k") * lit(21600.0)).as("best_period"))
      .select("id", "best_period", "best_acf")
  }

  val acfBestPeriodSql: String =
    s"""WITH acf AS (${tsAcfSql}),
       |p AS (SELECT id, k, acf,
       |  lag(acf,1)  OVER win AS am, lead(acf,1) OVER win AS ap
       |  FROM acf WINDOW win AS (PARTITION BY id ORDER BY k)),
       |peaks AS (SELECT id, k, acf FROM p
       |  WHERE k >= 1 AND am IS NOT NULL AND ap IS NOT NULL
       |    AND acf > am AND acf > ap),
       |best AS (SELECT id, max(acf) AS best_acf FROM peaks GROUP BY id)
       |SELECT peaks.id, min(peaks.k * CAST(21600.0 AS DOUBLE)) AS best_period,
       |       best.best_acf
       |FROM peaks JOIN best ON peaks.id = best.id
       |       AND peaks.acf = best.best_acf
       |GROUP BY peaks.id, best.best_acf""".stripMargin

  // -------------------------------------------------------------------
  // ts_stats — reference core.py:504-523 (baseline, median_dt, tmax,
  // moments): one-pass per-series profile.
  // -------------------------------------------------------------------
  def tsStats(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val diffs = s.withColumn("dt", col("t") - lag("t", 1).over(w))
      .filter(col("dt").isNotNull)
      .groupBy("id").agg(round(median(col("dt")), 6).as("median_dt"))
    val cents = round(col("y") * 100.0, 0).cast("long")
    val base = s.groupBy("id").agg(
      count(lit(1)).as("n"),
      round(max("t") - min("t"), 6).as("baseline"),
      centsAvg(col("y")).as("mean_y"),
      // var from exact integer-cent moments: identical doubles on both
      // sides (var_samp's accumulation order is engine-dependent)
      round((sum(cents * cents).cast("double") -
        sum(cents).cast("double") * sum(cents).cast("double") /
          count(lit(1))) /
        (count(lit(1)) - 1) / 10000.0, 6).as("var_y"),
      min("y").as("min_y"),
      max("y").as("max_y"))
    val tmax = s.join(base.select("id", "max_y"), "id")
      .filter(col("y") === col("max_y"))
      .groupBy("id").agg(max("t").as("tmax"))
    base.join(diffs, "id").join(tmax, "id")
      .select("id", "n", "baseline", "median_dt", "mean_y", "var_y",
        "min_y", "max_y", "tmax")
  }

  val tsStatsSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |d AS (SELECT id, t - lag(t,1) OVER (PARTITION BY id ORDER BY t, eid)
       |             AS dt FROM s),
       |md AS (SELECT id, round(median(dt),6) AS median_dt FROM d
       |       WHERE dt IS NOT NULL GROUP BY id),
       |base AS (SELECT id, count(*) AS n,
       |  round(max(t)-min(t),6) AS baseline,
       |  ${centsAvgSql("y")} AS mean_y,
       |  round((cast(sum(cast(round(y*100.0) AS BIGINT)
       |              * cast(round(y*100.0) AS BIGINT)) AS double)
       |         - cast(sum(cast(round(y*100.0) AS BIGINT)) AS double)
       |           * cast(sum(cast(round(y*100.0) AS BIGINT)) AS double)
       |           / count(*))
       |        / (count(*) - 1) / 10000.0, 6) AS var_y,
       |  min(y) AS min_y, max(y) AS max_y
       |  FROM s GROUP BY id),
       |tm AS (SELECT s.id, max(s.t) AS tmax
       |  FROM s JOIN base USING (id) WHERE s.y = base.max_y GROUP BY s.id)
       |SELECT base.id, n, baseline, median_dt, mean_y, var_y, min_y,
       |       max_y, tmax
       |FROM base JOIN md USING (id) JOIN tm USING (id)""".stripMargin

  // -------------------------------------------------------------------
  // ts_polyfit — reference core.py:566 (TSeries.polyfit, degree 1):
  // closed-form least squares from per-series moment sums (t centered
  // on the series start for conditioning). Pure aggregation.
  // -------------------------------------------------------------------
  def tsPolyfit(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val t0 = s.groupBy("id").agg(min("t").as("t0"))
    s.join(t0, "id")
      .withColumn("tc", col("t") - col("t0"))
      .groupBy("id")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("tc").as("st"), sum("y").as("sy"),
        sum(col("tc") * col("tc")).as("stt"),
        sum(col("tc") * col("y")).as("sty"))
      .select(col("id"),
        // + 0.0: signed-zero normalization (see tsAcf)
        (round((col("n") * col("sty") - col("st") * col("sy")) /
          (col("n") * col("stt") - col("st") * col("st")), 10) + lit(0.0))
          .as("slope"),
        (round((col("sy") * col("stt") - col("st") * col("sty")) /
          (col("n") * col("stt") - col("st") * col("st")), 6) + lit(0.0))
          .as("intercept"))
  }

  val tsPolyfitSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |t0 AS (SELECT id, min(t) AS t0 FROM s GROUP BY id),
       |m AS (SELECT s.id, cast(count(*) AS double) AS n,
       |  sum(s.t - t0.t0) AS st, sum(s.y) AS sy,
       |  sum((s.t - t0.t0)*(s.t - t0.t0)) AS stt,
       |  sum((s.t - t0.t0)*s.y) AS sty
       |  FROM s JOIN t0 USING (id) GROUP BY s.id)
       |SELECT id,
       |  round((n*sty - st*sy) / (n*stt - st*st), 10) + 0.0 AS slope,
       |  round((sy*stt - st*sty) / (n*stt - st*st), 6) + 0.0 AS intercept
       |FROM m""".stripMargin

  // -------------------------------------------------------------------
  // ts_corr — reference core.py:563 (TSeries.corr): per-series Pearson
  // correlation of y against its own 1-sample lag.
  // -------------------------------------------------------------------
  def tsCorr(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .withColumn("y1", lag("y", 1).over(w))
      .filter(col("y1").isNotNull)
      .groupBy("id")
      .agg((round(corr("y", "y1"), 6) + lit(0.0)).as("lag1_corr"),
        // TSeries.cov (core.py:560), the unnormalized twin: sample
        // covariance (n−1), 4 dp — the magnitude is value², so the
        // coarser rounding keeps summation-order noise well inside
        // the rounding granularity
        (round(covar_samp("y", "y1"), 4) + lit(0.0)).as("lag1_cov"))

  val tsCorrSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, y,
       |  lag(y,1) OVER (PARTITION BY id ORDER BY t, eid) AS y1 FROM s)
       |SELECT id, round(corr(y, y1), 6) + 0.0 AS lag1_corr,
       |  round(covar_samp(y, y1), 4) + 0.0 AS lag1_cov
       |FROM v WHERE y1 IS NOT NULL GROUP BY id""".stripMargin

  // -------------------------------------------------------------------
  // ts_fill_gaps — reference core.py:703/636 (fill_gaps + linear
  // interp): resample each series onto a uniform 6h grid, linearly
  // interpolating between the bracketing samples. Grid rows are
  // generated per series with sequence() (no driver loop) and merged
  // with samples via IGNORE NULLS window carries (the as-of pattern).
  // -------------------------------------------------------------------
  def tsFillGaps(spark: SparkSession, dir: String): DataFrame =
    gridBrackets(Tables.series(spark, dir), 21600.0)
      .select(col("id"), col("t"), linearInterp.as("y_interp"))

  /** Grid-bracket resampling, shared by ts_fill_gaps and ts_interp:
    * per-series grid rows k·step for k in [ceil(min t / step),
    * floor(max t / step)] (sequence(), no driver loop), unioned with
    * the samples; the forward IGNORE NULLS carry gives each grid row
    * its previous sample (tp, yp), the backward one its next (tn, yn).
    * Returns the grid rows bracketed on both sides: one shuffle keyed
    * by series id. */
  private[tsa] def gridBrackets(s: DataFrame, step: Double): DataFrame = {
    val bounds = s.groupBy("id")
      .agg(ceil(min("t") / step).cast("long").as("k0"),
        floor(max("t") / step).cast("long").as("k1"))
    val grid = bounds
      .select(col("id"), explode(sequence(col("k0"), col("k1"))).as("k"))
      .select(col("id"), (col("k") * step).as("t"),
        lit(null).cast("double").as("y"),
        lit(null).cast("long").as("eid"), lit(1).as("is_grid"))
    val merged = s.withColumn("is_grid", lit(0))
      .select("id", "t", "y", "eid", "is_grid").unionByName(grid)
    // eid tiebreak: duplicate (id, t) samples otherwise make the carry
    // nondeterministic (only sample rows can tie — grid times are
    // distinct per series and grid eids are null, so engine-specific
    // NULL ordering never engages)
    val wm = Window.partitionBy("id")
      .orderBy(col("t"), col("is_grid"), col("eid"))
    val rows = merged
      .withColumn("tp", last(when(col("is_grid") === 0, col("t")), ignoreNulls = true)
        .over(wm.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("yp", last(when(col("is_grid") === 0, col("y")), ignoreNulls = true)
        .over(wm.rowsBetween(Window.unboundedPreceding, -1)))
    // is_grid ASC here (not desc): in descending time a sample must
    // still precede an equal-t grid row, or a grid point coinciding
    // with the series' LAST sample sees tn = NULL and is dropped
    val wm2 = Window.partitionBy("id")
      .orderBy(col("t").desc, col("is_grid").asc, col("eid").desc)
    val full = rows
      .withColumn("tn", last(when(col("is_grid") === 0, col("t")), ignoreNulls = true)
        .over(wm2.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("yn", last(when(col("is_grid") === 0, col("y")), ignoreNulls = true)
        .over(wm2.rowsBetween(Window.unboundedPreceding, -1)))
    full.filter(col("is_grid") === 1 &&
        col("tp").isNotNull && col("tn").isNotNull)
  }

  /** Linear interpolation between a grid row's brackets. A grid point
    * ON a sample has tp = tn (both carries resolve to the coincident
    * sample): emit the sample value, not 0/0. */
  private[tsa] def linearInterp: Column =
    when(col("tn") === col("tp"), col("yp"))
      .otherwise(round(col("yp") + (col("yn") - col("yp")) *
        (col("t") - col("tp")) / (col("tn") - col("tp")), 6))

  /** The SQL twin of [[gridBrackets]]' union and carries, over the
    * oracle's `s` (samples) and `grid` CTEs. */
  private[tsa] val gridBracketsSql: String =
    """merged AS (
      |  SELECT id, t, y, eid, 0 AS is_grid FROM s
      |  UNION ALL SELECT id, t, y, eid, is_grid FROM grid),
      |fwd AS (SELECT *,
      |  last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
      |    OVER (PARTITION BY id ORDER BY t, is_grid, eid
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tp,
      |  last_value(CASE WHEN is_grid = 0 THEN y END IGNORE NULLS)
      |    OVER (PARTITION BY id ORDER BY t, is_grid, eid
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS yp
      |  FROM merged),
      |bwd AS (SELECT *,
      |  last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
      |    OVER (PARTITION BY id ORDER BY t DESC, is_grid ASC, eid DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tn,
      |  last_value(CASE WHEN is_grid = 0 THEN y END IGNORE NULLS)
      |    OVER (PARTITION BY id ORDER BY t DESC, is_grid ASC, eid DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS yn
      |  FROM fwd)""".stripMargin

  val tsFillGapsSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |bounds AS (SELECT id, cast(ceil(min(t)/21600.0) AS bigint) AS k0,
       |  cast(floor(max(t)/21600.0) AS bigint) AS k1 FROM s GROUP BY id),
       |grid AS (SELECT id, k * 21600.0 AS t, cast(NULL AS double) AS y,
       |  cast(NULL AS bigint) AS eid, 1 AS is_grid
       |  -- constant range (DuckDB generate_series takes no lateral
       |  -- bounds): 6 h bins covering epochs 2017..2031; the BETWEEN
       |  -- filter reproduces Spark's per-series sequence(k0, k1).
       |  -- OracleConstantsSpec guards that testdata stays inside.
       |  FROM bounds, generate_series(70000, 90000) AS g(k)
       |  WHERE g.k BETWEEN bounds.k0 AND bounds.k1),
       |$gridBracketsSql
       |SELECT id, t,
       |  CASE WHEN tn = tp THEN yp
       |       ELSE round(yp + (yn - yp) * (t - tp) / (tn - tp), 6)
       |  END AS y_interp
       |FROM bwd
       |WHERE is_grid = 1 AND tp IS NOT NULL AND tn IS NOT NULL""".stripMargin

  // -------------------------------------------------------------------
  // events_sessionize — gap>30min sessionization (window cumsum);
  // batch twin of the streaming flatMapGroupsWithState variant.
  // -------------------------------------------------------------------
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val gap = (col("t") - lag("t", 1).over(w)) > lit(1800.0)
    Tables.series(spark, dir)
      .withColumn("brk", when(gap, 1).otherwise(0))
      .withColumn("session",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "session")
      .agg(count(lit(1)).as("n_events"),
        round(min("t"), 6).as("t_start"),
        round(max("t"), 6).as("t_end"),
        round(sum("y"), 4).as("sum_y"))
  }

  val eventsSessionizeSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |b AS (SELECT id, eid, t, y,
       |  CASE WHEN t - lag(t,1) OVER (PARTITION BY id ORDER BY t, eid)
       |            > 1800.0 THEN 1 ELSE 0 END AS brk FROM s),
       |sess AS (SELECT id, eid, t, y,
       |  cast(sum(brk) OVER (PARTITION BY id ORDER BY t, eid
       |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session FROM b)
       |SELECT id, session, count(*) AS n_events,
       |  round(min(t),6) AS t_start, round(max(t),6) AS t_end,
       |  round(sum(y),4) AS sum_y
       |FROM sess GROUP BY 1, 2""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("ts_downsample", tsDownsample, tsDownsampleSql),
    Query("ts_fold", tsFold, tsFoldSql),
    Query("ts_split_gaps", tsSplitGaps, tsSplitGapsSql),
    Query("ts_smooth_boxcar", tsSmoothBoxcar, tsSmoothBoxcarSql),
    Query("ts_smooth_triangle", tsSmoothTriangle, tsSmoothTriangleSql),
    Query("ts_derivative", tsDerivative, tsDerivativeSql),
    Query("ts_teo", tsTeo, tsTeoSql),
    Query("ts_find_peaks", tsFindPeaks, tsFindPeaksSql),
    Query("ts_zero_crossings", tsZeroCrossings, tsZeroCrossingsSql),
    Query("ts_estimate_noise", tsEstimateNoise, tsEstimateNoiseSql),
    Query("ts_acf", tsAcf, tsAcfSql),
    Query("acf_best_period", acfBestPeriod, acfBestPeriodSql),
    Query("ts_stats", tsStats, tsStatsSql),
    Query("ts_polyfit", tsPolyfit, tsPolyfitSql),
    Query("ts_corr", tsCorr, tsCorrSql),
    Query("ts_fill_gaps", tsFillGaps, tsFillGapsSql),
    Query("events_sessionize", eventsSessionize, eventsSessionizeSql))
}
