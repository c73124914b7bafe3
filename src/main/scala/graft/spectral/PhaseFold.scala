package graft.spectral

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Phase-folding periodograms — reference phase.py.
  *
  * The reference parallelizes trial periods with multiprocessing.Pool
  * over ONE series. graft broadcasts the (small) trial-period grid and
  * evaluates every (series, period) cell in one shuffle: fold is a
  * projection, per-cell statistics are window/agg shapes.
  */
object PhaseFold {

  /** Trial grid shared with GLS: f_j = j/(30 d), period = 2592000/j. */
  val NP_SL = 100 // string-length trial periods
  val NP_PDM = 60 // PDM trial periods (p_j = 21600 * j: 6 h .. 15 d)

  private def centered(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val t0 = s.groupBy("id").agg(min("t").as("t0"))
    s.join(broadcast(t0), "id")
      .select(col("id"), (col("t") - col("t0")).as("tc"), col("y"), col("eid"))
  }

  private val centeredSql: String =
    s"""s AS (${Tables.seriesSql}),
       |t0 AS (SELECT id, min(t) AS t0 FROM s GROUP BY id),
       |c AS (SELECT s.id, s.t - t0.t0 AS tc, s.y, s.eid
       |      FROM s JOIN t0 USING (id))""".stripMargin

  // -------------------------------------------------------------------
  // string_length — reference phase.py:18 (Dworetsky 1983): scale the
  // signal to [-0.25, 0.25], fold at each trial period, sum segment
  // lengths between phase-adjacent samples (including the wrap pair,
  // mirroring the reference's np.roll).
  // -------------------------------------------------------------------
  def stringLength(spark: SparkSession, dir: String): DataFrame = {
    val scaled = {
      val s = centered(spark, dir)
      val mm = s.groupBy("id").agg(max("y").as("ymax"), min("y").as("ymin"))
      s.join(broadcast(mm), "id")
        .select(col("id"), col("tc"), col("eid"),
          ((col("y") - col("ymax")) /
            ((col("ymax") - col("ymin")) * 2.0) + 0.25).as("m"))
    }
    val periods = spark.range(1, NP_SL + 1).toDF("j")
    val folded = scaled.crossJoin(broadcast(periods))
      .withColumn("phase", (col("tc") * col("j") / lit(2592000.0)) % 1.0)
    val wp = Window.partitionBy("id", "j").orderBy("phase", "eid")
    val wfull = Window.partitionBy("id", "j")
      .orderBy("phase", "eid")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    folded
      .withColumn("mn", coalesce(lead("m", 1).over(wp), first("m").over(wfull)))
      .withColumn("pn", coalesce(lead("phase", 1).over(wp), first("phase").over(wfull)))
      .withColumn("seg",
        sqrt((col("mn") - col("m")) * (col("mn") - col("m")) +
          (col("pn") - col("phase")) * (col("pn") - col("phase"))))
      .groupBy("id", "j")
      .agg(round(sum("seg"), 4).as("length"))
  }

  val stringLengthSql: String =
    s"""WITH ${centeredSql},
       |mm AS (SELECT id, max(y) AS ymax, min(y) AS ymin FROM c GROUP BY id),
       |sc AS (SELECT c.id, c.tc, c.eid,
       |  (c.y - mm.ymax) / ((mm.ymax - mm.ymin) * 2.0) + 0.25 AS m
       |  FROM c JOIN mm USING (id)),
       |f AS (SELECT sc.id, j.j, sc.eid, sc.m,
       |  (sc.tc * j.j / 2592000.0) % 1.0 AS phase
       |  FROM sc CROSS JOIN generate_series(1, ${NP_SL}) AS j(j)),
       |seg AS (SELECT id, j,
       |  coalesce(lead(m,1) OVER win, first_value(m) OVER winf) AS mn,
       |  coalesce(lead(phase,1) OVER win, first_value(phase) OVER winf) AS pn,
       |  m, phase
       |  FROM f WINDOW
       |    win AS (PARTITION BY id, j ORDER BY phase, eid),
       |    winf AS (PARTITION BY id, j ORDER BY phase, eid
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |SELECT id, j,
       |  round(sum(sqrt((mn - m)*(mn - m) + (pn - phase)*(pn - phase))), 4)
       |    AS length
       |FROM seg GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // pdm_theta — reference phase.py:75 (Stellingwerf 1978): nb=5 bins ×
  // nc=2 covers (m0=10 overlapping covers, each sample lands in nc
  // covers); pooled bin variance over total variance.
  // -------------------------------------------------------------------
  /** Each of the m0=10 overlapping covers is the union of two base
    * bins (nc=2), so we aggregate (n, Σy, Σy²) per BASE bin first —
    * one pass over series×periods, no cover explosion — and merge
    * adjacent bins' moments into cover variances:
    * var = (ss − s²/n)/(n−1). The oracle mirrors the same moment
    * formula so both engines compute identical expressions. */
  def pdmTheta(spark: SparkSession, dir: String): DataFrame = {
    val m0 = 10
    val sigma = Tables.series(spark, dir).groupBy("id")
      .agg(var_samp("y").as("sigma2"))
    val periods = spark.range(1, NP_PDM + 1).toDF("j")
    val base = centered(spark, dir)
      .crossJoin(broadcast(periods))
      .withColumn("k0",
        floor(((col("tc") / (col("j") * lit(21600.0))) % 1.0) * m0))
      .groupBy("id", "j", "k0")
      .agg(count(lit(1)).as("n"), sum("y").as("s"),
        sum(col("y") * col("y")).as("ss"))
    val nxt = base.select(col("id"), col("j"),
      (((col("k0") - 1) % m0) + m0) % m0 as "k0",
      col("n").as("n2"), col("s").as("s2"), col("ss").as("ss2"))
    val covers = base.join(nxt, Seq("id", "j", "k0"), "outer")
      .na.fill(0L, Seq("n", "n2")).na.fill(0.0, Seq("s", "s2", "ss", "ss2"))
      .select(col("id"), col("j"),
        (col("n") + col("n2")).as("nj"),
        (col("s") + col("s2")).as("sj"),
        (col("ss") + col("ss2")).as("ssj"))
      .filter(col("nj") > 1)
      .withColumn("varj",
        (col("ssj") - col("sj") * col("sj") / col("nj")) / (col("nj") - 1))
    covers.groupBy("id", "j")
      .agg(sum((col("nj") - 1) * col("varj")).as("ssn"),
        sum("nj").as("njt"), count(lit(1)).as("good"))
      .join(broadcast(sigma), "id")
      .select(col("id"), col("j"),
        round(col("ssn") / (col("njt") - col("good")) / col("sigma2"), 4)
          .as("theta"))
  }

  val pdmThetaSql: String =
    s"""WITH ${centeredSql},
       |sg AS (SELECT id, var_samp(y) AS sigma2 FROM s GROUP BY id),
       |base AS (SELECT c.id, j.j,
       |  cast(floor(((c.tc / (j.j * 21600.0)) % 1.0) * 10) AS BIGINT) AS k0,
       |  count(*) AS n, sum(c.y) AS s, sum(c.y * c.y) AS ss
       |  FROM c CROSS JOIN generate_series(1, ${NP_PDM}) AS j(j)
       |  GROUP BY 1, 2, 3),
       |cov AS (SELECT coalesce(a.id, b.id) AS id, coalesce(a.j, b.j) AS j,
       |  coalesce(a.n, 0) + coalesce(b.n, 0) AS nj,
       |  coalesce(a.s, 0.0) + coalesce(b.s, 0.0) AS sj,
       |  coalesce(a.ss, 0.0) + coalesce(b.ss, 0.0) AS ssj
       |  FROM base a FULL OUTER JOIN
       |    (SELECT id, j, (((k0 - 1) % 10) + 10) % 10 AS k0,
       |            n, s, ss FROM base) b
       |    ON a.id = b.id AND a.j = b.j AND a.k0 = b.k0),
       |cv AS (SELECT id, j, nj,
       |  (ssj - sj * sj / nj) / (nj - 1) AS varj
       |  FROM cov WHERE nj > 1),
       |th AS (SELECT id, j, sum((nj - 1) * varj) AS ssn,
       |  sum(nj) AS njt, count(*) AS good
       |  FROM cv GROUP BY 1, 2)
       |SELECT th.id, th.j,
       |  round(th.ssn / (th.njt - th.good) / sg.sigma2, 4) AS theta
       |FROM th JOIN sg USING (id)""".stripMargin

  /** Best PDM period — reference phase.py:194: argmin of theta. */
  def pdmBestPeriod(spark: SparkSession, dir: String): DataFrame = {
    val th = pdmTheta(spark, dir)
    val best = th.groupBy("id").agg(min("theta").as("best_theta"))
    th.join(best, "id")
      .filter(col("theta") === col("best_theta"))
      .groupBy("id", "best_theta")
      .agg(min(col("j") * lit(21600.0)).as("best_period"))
      .select("id", "best_period", "best_theta")
  }

  val pdmBestPeriodSql: String =
    s"""WITH th0 AS (${pdmThetaSql}),
       |best AS (SELECT id, min(theta) AS best_theta FROM th0 GROUP BY id)
       |SELECT th0.id, min(th0.j * CAST(21600.0 AS DOUBLE)) AS best_period, best.best_theta
       |FROM th0 JOIN best ON th0.id = best.id
       |  AND th0.theta = best.best_theta
       |GROUP BY th0.id, best.best_theta""".stripMargin

  /** Subharmonic averaging — reference phase.py:188: where theta dips
    * below the significance threshold theta_crit = 1 - 11/n^0.8 and the
    * double period is on the grid, average theta with its subharmonic
    * (real variations show both; noise doesn't). */
  def pdmSubharmonic(spark: SparkSession, dir: String): DataFrame = {
    val th = pdmTheta(spark, dir)
    val crit = Tables.series(spark, dir).groupBy("id")
      .agg((lit(1.0) - lit(11.0) / pow(count(lit(1)).cast("double"), 0.8))
        .as("theta_crit"))
    val sub = th.select(col("id"), (col("j") / 2).cast("long").as("j"),
      col("theta").as("theta2"), (col("j") % 2).as("odd"))
      .filter(col("odd") === 0).drop("odd")
    th.join(broadcast(crit), "id")
      .join(sub, Seq("id", "j"), "left")
      .select(col("id"), col("j"),
        round(when(col("theta") < col("theta_crit") &&
          col("theta2").isNotNull,
          (col("theta") + col("theta2")) / 2.0)
          .otherwise(col("theta")), 5).as("theta_sub"))
  }

  val pdmSubharmonicSql: String =
    s"""WITH th0 AS (${pdmThetaSql}),
       |crit AS (SELECT id,
       |  1.0 - 11.0 / pow(cast(count(*) AS double), 0.8) AS theta_crit
       |  FROM (${Tables.seriesSql}) s GROUP BY id),
       |sub AS (SELECT id, j // 2 AS j, theta AS theta2
       |  FROM th0 WHERE j % 2 = 0)
       |SELECT th0.id, th0.j,
       |  round(CASE WHEN th0.theta < crit.theta_crit
       |              AND sub.theta2 IS NOT NULL
       |         THEN (th0.theta + sub.theta2) / 2.0
       |         ELSE th0.theta END, 5) AS theta_sub
       |FROM th0
       |JOIN crit USING (id)
       |LEFT JOIN sub ON sub.id = th0.id AND sub.j = th0.j""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("string_length", stringLength, stringLengthSql),
    Query("pdm_theta", pdmTheta, pdmThetaSql),
    Query("pdm_best_period", pdmBestPeriod, pdmBestPeriodSql),
    Query("pdm_subharmonic", pdmSubharmonic, pdmSubharmonicSql))
}
