package graft.spectral

import graft.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's declared phase-folding ROADMAP — phase.py:11-15
  * lists three methods as TODO comments with no implementation:
  * Analysis of Variance (Schwarzenberg-Czerny 1989), the
  * Gregory-Loredo method (Gregory & Loredo 1992) and the conditional
  * entropy method (Graham et al. 2013). All three are public
  * literature; graft implements them Spark-first, EXCEEDING the
  * reference's shipped surface on its own roadmap (as with VMD and
  * BGLST).
  *
  * All share the PhaseFold scale shape: broadcast the (small) trial
  * grid, fold phase as a projection, aggregate per-(series, period,
  * bin) occupancy/moments with map-side combine in ONE shuffle, then
  * collapse bins per (series, period). Embarrassingly parallel in
  * series count — the 100 TB axis. Grid: the PDM grid p_j = 6h·j,
  * j = 1..60 (6 h .. 15 d); nb = 10 phase bins.
  */
object PhaseFold2 {
  import PhaseFold.{centered, centeredSql}

  private val NP = PhaseFold.NP_PDM // 60 trial periods, p_j = 21600 s · j
  private val NB = 10 // phase bins

  /** Per-(series, period, bin) sample moments — the shared first
    * exchange: fold is a projection over the broadcast grid, the
    * groupBy partial-aggregates map-side so the shuffle carries
    * series×periods×bins moment rows, not samples. */
  private def binMoments(spark: SparkSession, dir: String): DataFrame = {
    val periods = spark.range(1, NP + 1).toDF("j")
    centered(spark, dir)
      .crossJoin(broadcast(periods))
      .withColumn("k",
        floor(((col("tc") / (col("j") * lit(21600.0))) % 1.0) * NB))
      .groupBy("id", "j", "k")
      .agg(count(lit(1)).as("n"), sum("y").as("s"),
        sum(col("y") * col("y")).as("ss"))
  }

  private val binMomentsSql: String =
    s"""bm AS (SELECT c.id, j.j,
       |  cast(floor(((c.tc / (j.j * 21600.0)) % 1.0) * ${NB}) AS BIGINT) AS k,
       |  count(*) AS n, sum(c.y) AS s, sum(c.y * c.y) AS ss
       |  FROM c CROSS JOIN generate_series(1, ${NP}) AS j(j)
       |  GROUP BY 1, 2, 3)""".stripMargin

  // -------------------------------------------------------------------
  // aov_periodogram — Schwarzenberg-Czerny 1989 (phase.py:11 roadmap):
  // one-way ANOVA across phase bins. With bin moments (n_k, s_k, ss_k),
  // between-bin SS = Σ s_k²/n_k − S²/N and within-bin SS =
  // Σ ss_k − Σ s_k²/n_k, so the F statistic
  //   Θ = [BSS/(r−1)] / [WSS/(N−r)]
  // needs only sums of bin moments — ONE second aggregate, no
  // grand-mean join. Θ peaks at the true period (periodic signal ⇒
  // bin means differ far beyond the within-bin scatter).
  // -------------------------------------------------------------------
  def aovPeriodogram(spark: SparkSession, dir: String): DataFrame = {
    binMoments(spark, dir)
      .groupBy("id", "j")
      .agg(sum("n").as("nt"), sum("s").as("st"), sum("ss").as("sst"),
        sum(col("s") * col("s") / col("n")).as("bs"),
        count(lit(1)).as("r"))
      .filter(col("r") > 1 && col("nt") > col("r") &&
        (col("sst") - col("bs")) > 0.0)
      .select(col("id"), col("j"),
        round(((col("bs") - col("st") * col("st") / col("nt")) / (col("r") - 1))
          / ((col("sst") - col("bs")) / (col("nt") - col("r"))), 4)
          .as("aov"))
  }

  val aovPeriodogramSql: String =
    s"""WITH ${centeredSql},
       |${binMomentsSql},
       |ag AS (SELECT id, j, cast(sum(n) AS BIGINT) AS nt, sum(s) AS st,
       |  sum(ss) AS sst, sum(s * s / n) AS bs, count(*) AS r
       |  FROM bm GROUP BY 1, 2)
       |SELECT id, j,
       |  round(((bs - st * st / nt) / (r - 1))
       |        / ((sst - bs) / (nt - r)), 4) AS aov
       |FROM ag WHERE r > 1 AND nt > r AND (sst - bs) > 0.0""".stripMargin

  /** Best AOV period — argmax Θ, ties to the shortest grid period.
    * A window max over the 60-row-per-series periodogram, NOT a
    * self-join — the periodogram plan evaluates once (the oracle's
    * join form is algebraically identical on the rounded stat). */
  def aovBest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("id")
    aovPeriodogram(spark, dir)
      .withColumn("best_aov", max("aov").over(w))
      .filter(col("aov") === col("best_aov"))
      .groupBy("id", "best_aov")
      .agg(min(col("j") * lit(21600.0)).as("best_period"))
      .select("id", "best_period", "best_aov")
  }

  val aovBestSql: String =
    s"""WITH a0 AS (${aovPeriodogramSql}),
       |best AS (SELECT id, max(aov) AS best_aov FROM a0 GROUP BY id)
       |SELECT a0.id, min(a0.j * CAST(21600.0 AS DOUBLE)) AS best_period, best.best_aov
       |FROM a0 JOIN best ON a0.id = best.id AND a0.aov = best.best_aov
       |GROUP BY a0.id, best.best_aov""".stripMargin

  // -------------------------------------------------------------------
  // ce_periodogram — Graham et al. 2013 (phase.py:15 roadmap):
  // conditional entropy of the normalised magnitude given the phase,
  // over a 10-phase × 5-magnitude occupancy grid:
  //   H(m|φ) = Σ p(φ,m) ln( p(φ) / p(φ,m) ) = Σ (n_pm/N) ln(n_p/n_pm)
  // — integer occupancy ratios inside the ln, so no grand total inside
  // the transcendental. H is MINIMISED at the true period (folding
  // concentrates magnitude within each phase column). Constant series
  // (ymax = ymin) have no magnitude axis and are excluded.
  // -------------------------------------------------------------------
  def cePeriodogram(spark: SparkSession, dir: String): DataFrame = {
    val c = centered(spark, dir)
    val mm = c.groupBy("id").agg(max("y").as("ymax"), min("y").as("ymin"))
    val periods = spark.range(1, NP + 1).toDF("j")
    val occ = c.join(broadcast(mm), "id")
      .filter(col("ymax") > col("ymin"))
      .withColumn("mb",
        least(floor((col("y") - col("ymin")) / (col("ymax") - col("ymin"))
          * 5.0), lit(4.0)).cast("long"))
      .crossJoin(broadcast(periods))
      .withColumn("pb",
        floor(((col("tc") / (col("j") * lit(21600.0))) % 1.0) * NB))
      .groupBy("id", "j", "pb", "mb")
      .agg(count(lit(1)).as("npm"))
    val wp = Window.partitionBy("id", "j", "pb")
    occ.withColumn("np", sum("npm").over(wp))
      .groupBy("id", "j")
      .agg(round(sum(col("npm") * log(col("np").cast("double") / col("npm")))
        / sum("npm"), 5).as("ce"))
  }

  val cePeriodogramSql: String =
    s"""WITH ${centeredSql},
       |mm AS (SELECT id, max(y) AS ymax, min(y) AS ymin FROM c GROUP BY id),
       |occ AS (SELECT c.id, j.j,
       |  cast(floor(((c.tc / (j.j * 21600.0)) % 1.0) * ${NB}) AS BIGINT) AS pb,
       |  cast(least(floor((c.y - mm.ymin) / (mm.ymax - mm.ymin) * 5.0),
       |             4.0) AS BIGINT) AS mb,
       |  count(*) AS npm
       |  FROM c JOIN mm USING (id)
       |  CROSS JOIN generate_series(1, ${NP}) AS j(j)
       |  WHERE mm.ymax > mm.ymin
       |  GROUP BY 1, 2, 3, 4),
       |wn AS (SELECT id, j, npm,
       |  sum(npm) OVER (PARTITION BY id, j, pb) AS np
       |  FROM occ)
       |SELECT id, j,
       |  round(sum(npm * ln(cast(np AS double) / npm))
       |        / cast(sum(npm) AS BIGINT), 5) AS ce
       |FROM wn GROUP BY 1, 2""".stripMargin

  /** Best CE period — argmin H, ties to the shortest grid period
    * (window form, single periodogram evaluation — see aovBest). */
  def ceBest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("id")
    cePeriodogram(spark, dir)
      .withColumn("best_ce", min("ce").over(w))
      .filter(col("ce") === col("best_ce"))
      .groupBy("id", "best_ce")
      .agg(min(col("j") * lit(21600.0)).as("best_period"))
      .select("id", "best_period", "best_ce")
  }

  val ceBestSql: String =
    s"""WITH e0 AS (${cePeriodogramSql}),
       |best AS (SELECT id, min(ce) AS best_ce FROM e0 GROUP BY id)
       |SELECT e0.id, min(e0.j * CAST(21600.0 AS DOUBLE)) AS best_period, best.best_ce
       |FROM e0 JOIN best ON e0.id = best.id AND e0.ce = best.best_ce
       |GROUP BY e0.id, best.best_ce""".stripMargin

  // -------------------------------------------------------------------
  // gl_odds — Gregory & Loredo 1992 (phase.py:13 roadmap): Bayesian
  // epoch folding of the sample TIMES (the method's native domain is
  // event arrivals; graft folds each sample as an event). For m phase
  // bins with occupancies n_k, marginalising the bin probabilities
  // under a flat Dirichlet prior gives the odds vs a constant rate:
  //   ln O(p, m) = N ln m + lnΓ(m) + Σ_k lnΓ(n_k+1) − lnΓ(N+m),
  // then marginalise over the bin-count grid m ∈ {2,3,4,6,8,12} with
  // a uniform prior via log-sum-exp. Every lnΓ argument is a SMALL
  // INTEGER, so both engines look lnΓ up from the SAME cumulative
  // log-factorial table (lf(n) = Σ_{i≤n} ln i, ascending prefix sum —
  // bit-identical accumulation order; Spark lacks a lgamma builtin
  // and libm lgamma would differ across engines anyway). The table
  // has max-series-length + 12 rows — broadcast, O(longest series).
  //
  // Scale shape — ONE data-proportional exchange, like AOV: the m
  // grid is the DIVISOR LATTICE of 24, so the fold happens once into
  // 24 micro-bins PIVOTED to fixed-width columns in a single
  // groupBy(id, j) (map-side combine collapses samples to one wide
  // row per cell); every m's occupancies are then LITERAL column
  // sums — floor(phase·m) bins are unions of consecutive micro-bins
  // for m | 24 — unpivoted by a Generate (projection, no shuffle)
  // for the lnΓ lookup, and re-aggregated on the SAME (id, j) keys,
  // which Catalyst recognises as already-partitioned: no second
  // exchange. lnΓ(m) is a plan-time literal (ascending Σ ln v, the
  // exact lf accumulation order) and lnΓ(N+m) = lf(N+11) −
  // Σ_{v=m..11} ln(N+v), so ONE lf row per (id, j) serves all six
  // m's. The log-sum-exp runs over six fixed columns via greatest()
  // — no window. The oracle derives every m INDEPENDENTLY via
  // floor(phase·m) and a direct lf(N+m−1) lookup, pinning both the
  // micro-bin identity and the lnΓ decomposition (drift ~1e-12,
  // absorbed by the 4-dp gate rounding).
  // -------------------------------------------------------------------
  private val M_GRID = Seq(2, 3, 4, 6, 8, 12) // divisors of 24
  private val M_HI = 12

  /** Static log-factorial table bound, identical to the oracle's
    * `generate_series(0, 65536)`: serves series up to 65525 samples.
    * A 100 TB corpus scales in the NUMBER of series, not per-series
    * length, so a documented cap (≈1 MB broadcast) beats the blocking
    * max-length pre-scan it replaced — the query plans as ONE job. A
    * longer series fails LOUDLY via the in-plan guard below, never
    * silently (an unguarded lookup join would drop its rows). */
  private val LfMax = 65536L

  def glOdds(spark: SparkSession, dir: String): DataFrame = {
    val c = centered(spark, dir)
    // log-factorial lookup: lf(i) = Σ_{v=1..i} ln v, lf(0) = 0 —
    // constant 65537 rows, broadcast; the window is over the constant
    // range, never over data.
    val lf = spark.range(0, LfMax + 1).toDF("i")
      .withColumn("lnv",
        when(col("i") === 0, 0.0).otherwise(log(col("i").cast("double"))))
      .withColumn("lf", sum("lnv").over(
        Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)))
      .select("i", "lf")
    val periods = spark.range(1, NP + 1).toDF("j")
    val pivotAggs = (0 until 24).map(b =>
      sum(when(col("kf") === b, 1L).otherwise(0L)).as(s"nf$b"))
    val wide = c.crossJoin(broadcast(periods))
      .withColumn("kf",
        floor(((col("tc") / (col("j") * lit(21600.0))) % 1.0) * 24))
      .groupBy("id", "j")
      .agg(pivotAggs.head, pivotAggs.tail: _*)
      .withColumn("nt", (0 until 24).map(b => col(s"nf$b")).reduce(_ + _))
    // every (m, k) occupancy as a literal micro-bin column sum,
    // unpivoted by explode — a projection, no shuffle
    val mkStructs = M_GRID.flatMap { m =>
      val span = 24 / m
      (0 until m).map { k =>
        val n = (k * span until (k + 1) * span)
          .map(b => col(s"nf$b")).reduce(_ + _)
        struct(lit(m).as("m"), n.as("n"))
      }
    }
    val un = wide
      .select(col("id"), col("j"), col("nt"),
        explode(array(mkStructs: _*)).as("mk"))
      .select(col("id"), col("j"), col("nt"),
        col("mk.m").as("m"), col("mk.n").as("n"))
      .filter(col("n") > 0) // empty bins contribute lf(0) = 0
    // Σ_k lnΓ(n_k+1) per m as conditional sums on the SAME (id, j)
    // grouping — Catalyst reuses the pivot's partitioning, no exchange
    val slfAggs = M_GRID.map(m =>
      sum(when(col("m") === m, col("lf")).otherwise(0.0)).as(s"slf_$m"))
    val slf = un.join(broadcast(lf), un("n") === lf("i"))
      .groupBy("id", "j")
      .agg(max("nt").as("nt"), slfAggs: _*)
      // loud cap guard: the guarded nt feeds the lftop join key, so
      // Catalyst cannot prune it — an over-cap series raises instead
      // of silently vanishing from the inner lookup join
      .withColumn("nt",
        when(col("nt") <= lit(LfMax - M_HI + 1), col("nt"))
          .otherwise(raise_error(format_string(
            s"gl_odds: series of %d samples exceeds the static " +
              s"lf-table cap ${LfMax - M_HI + 1}", col("nt")))))
      .join(broadcast(lf.select(col("i").as("itop"), col("lf").as("lftop"))),
        col("nt") + (M_HI - 1) === col("itop"))
    // ln O_m = N ln m + lnΓ(m) + slf_m − lnΓ(N+m), with
    // lnΓ(m) a plan-time literal and lnΓ(N+m) = lftop − Σ ln(N+v)
    val lnos = M_GRID.map { m =>
      val lgm = (1 until m).map(v => math.log(v.toDouble)).sum
      val corr = (m until M_HI)
        .map(v => log(col("nt").cast("double") + lit(v.toDouble)))
        .foldLeft(lit(0.0).cast("double"): Column)(_ + _)
      (col("nt") * lit(math.log(m.toDouble)) + lit(lgm) + col(s"slf_$m")
        - (col("lftop") - corr)).as(s"lno_$m")
    }
    val withLno = slf.select(col("id") +: col("j") +: lnos: _*)
    // log-sum-exp over the six fixed m columns, uniform prior
    val mx = greatest(M_GRID.map(m => col(s"lno_$m")): _*)
    val sumExp = M_GRID.map(m => exp(col(s"lno_$m") - col("mx")))
      .reduce(_ + _)
    withLno.withColumn("mx", mx)
      .select(col("id"), col("j"),
        round(col("mx") + log(sumExp)
          - log(lit(M_GRID.size.toDouble)), 4).as("ln_odds"))
  }

  val glOddsSql: String =
    s"""WITH ${centeredSql},
       |lf AS MATERIALIZED (SELECT i,
       |  sum(CASE WHEN i = 0 THEN 0.0 ELSE ln(cast(i AS double)) END)
       |    OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
       |          AND CURRENT ROW) AS lf
       |  FROM generate_series(0, 65536) AS t(i)),
       |occ AS (SELECT c.id, j.j, m.m,
       |  cast(floor(((c.tc / (j.j * 21600.0)) % 1.0) * m.m) AS BIGINT) AS k,
       |  count(*) AS nk
       |  FROM c CROSS JOIN generate_series(1, ${NP}) AS j(j)
       |  CROSS JOIN (VALUES ${M_GRID.map(m => s"($m)").mkString(", ")})
       |    AS m(m)
       |  GROUP BY 1, 2, 3, 4),
       |pm AS (SELECT o.id, o.j, o.m,
       |  sum(lfn.lf) AS slf, cast(sum(o.nk) AS BIGINT) AS nt
       |  FROM occ o JOIN lf lfn ON o.nk = lfn.i
       |  GROUP BY 1, 2, 3),
       |lno AS (SELECT pm.id, pm.j,
       |  pm.nt * ln(cast(pm.m AS double)) + lgm.lf + pm.slf - lgnm.lf
       |    AS lno
       |  FROM pm
       |  JOIN lf lgm ON pm.m - 1 = lgm.i
       |  JOIN lf lgnm ON pm.nt + pm.m - 1 = lgnm.i),
       |wm AS (SELECT id, j, lno,
       |  max(lno) OVER (PARTITION BY id, j) AS mx FROM lno)
       |SELECT id, j,
       |  round(any_value(mx) + ln(sum(exp(lno - mx)))
       |        - ln(${M_GRID.size.toDouble}), 4) AS ln_odds
       |FROM wm GROUP BY 1, 2""".stripMargin

  /** Best GL period — argmax ln-odds, ties to the shortest period
    * (window form, single periodogram evaluation — see aovBest). */
  def glBest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("id")
    glOdds(spark, dir)
      .withColumn("best_odds", max("ln_odds").over(w))
      .filter(col("ln_odds") === col("best_odds"))
      .groupBy("id", "best_odds")
      .agg(min(col("j") * lit(21600.0)).as("best_period"))
      .select("id", "best_period", "best_odds")
  }

  val glBestSql: String =
    s"""WITH g0 AS (${glOddsSql}),
       |best AS (SELECT id, max(ln_odds) AS best_odds FROM g0 GROUP BY id)
       |SELECT g0.id, min(g0.j * CAST(21600.0 AS DOUBLE)) AS best_period, best.best_odds
       |FROM g0 JOIN best ON g0.id = best.id AND g0.ln_odds = best.best_odds
       |GROUP BY g0.id, best.best_odds""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("aov_periodogram", aovPeriodogram, aovPeriodogramSql),
    Query("aov_best", aovBest, aovBestSql),
    Query("ce_periodogram", cePeriodogram, cePeriodogramSql),
    Query("ce_best", ceBest, ceBestSql),
    Query("gl_odds", glOdds, glOddsSql),
    Query("gl_best", glBest, glBestSql))
}
