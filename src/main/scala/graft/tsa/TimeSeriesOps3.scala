package graft.tsa

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 core-series breadth: the reference's DEFAULT smoothing
  * kernel (gaussian), arbitrary-kernel convolution, dip detection,
  * and the unbiased ACF estimator.
  */
object TimeSeriesOps3 {

  private def w = Window.partitionBy("id").orderBy("t", "eid")

  // -------------------------------------------------------------------
  // ts_smooth_gaussian — reference core.py:401-441 (TSeries.smooth,
  // kernel="gaussian", the DEFAULT): ndimage.gaussian_filter with
  // sigma = width samples, truncated at 4σ. Weights are Scala-computed
  // double literals shared verbatim with the oracle SQL, so both
  // engines multiply identical constants (bit-exact per row). Edges
  // renormalize over the in-frame taps (frame-truncated, like boxcar).
  // -------------------------------------------------------------------
  private val Sigma = 2.0
  private val R = 8 // 4σ truncation, ndimage's default
  private def gw(o: Int): Double = math.exp(-(o * o) / (2.0 * Sigma * Sigma))

  def tsSmoothGaussian(spark: SparkSession, dir: String): DataFrame = {
    def tap(o: Int): Column =
      if (o < 0) lag("y", -o).over(w)
      else if (o > 0) lead("y", o).over(w)
      else col("y")
    val num = (-R to R).map(o => when(tap(o).isNotNull, tap(o) * lit(gw(o)))
      .otherwise(lit(0.0))).reduce(_ + _)
    val den = (-R to R).map(o => when(tap(o).isNotNull, lit(gw(o)))
      .otherwise(lit(0.0))).reduce(_ + _)
    Tables.series(spark, dir)
      // + 0.0 normalizes IEEE signed zero after the round (a smoothed
      // value in (-5e-7, 0) rounds to -0.0 in DuckDB but +0.0 in Spark)
      .withColumn("y_smooth", round(num / den, 6) + lit(0.0))
      .select("id", "eid", "y_smooth")
  }

  val tsSmoothGaussianSql: String = {
    // tap columns x0..x16 for offsets -R..R
    val defs = (-R to R).map { o =>
      val c = if (o < 0) s"lag(y,${-o}) OVER win"
      else if (o > 0) s"lead(y,$o) OVER win"
      else "y"
      s"$c AS x${o + R}"
    }.mkString(",\n       |  ")
    val num = (-R to R).map(o =>
      s"CASE WHEN x${o + R} IS NOT NULL THEN x${o + R} * ${gw(o)} ELSE 0.0 END")
      .mkString(" + ")
    val den = (-R to R).map(o =>
      s"CASE WHEN x${o + R} IS NOT NULL THEN ${gw(o)} ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid,
       |  $defs
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid))
       |SELECT id, eid,
       |  round(($num) / ($den), 6) + 0.0 AS y_smooth
       |FROM v""".stripMargin
  }

  // -------------------------------------------------------------------
  // ts_convolve — reference core.py:442-459 (Signal.convolve): FIR
  // filtering with an arbitrary kernel. Demonstrated with a 5-tap
  // smoothed-derivative kernel [-1,-2,0,2,1]/8; edge policy mirrors
  // ts_smooth_triangle (missing lag_k reflects to lead_k), identical
  // in the oracle. The kernel is a parameter — any tap array yields
  // the same plan shape (k chained window columns, no shuffle beyond
  // the per-series sort).
  // -------------------------------------------------------------------
  val ConvKernel: Seq[Double] = Seq(-0.125, -0.25, 0.0, 0.25, 0.125)

  def tsConvolve(spark: SparkSession, dir: String): DataFrame =
    tsConvolve(spark, dir, ConvKernel)

  def tsConvolve(spark: SparkSession, dir: String,
      kernel: Seq[Double]): DataFrame = {
    require(kernel.size % 2 == 1, "kernel must have odd length")
    val half = kernel.size / 2
    def m(k: Int): Column =
      coalesce(lag("y", k).over(w), lead("y", k).over(w))
    def p(k: Int): Column =
      coalesce(lead("y", k).over(w), lag("y", k).over(w))
    val conv = kernel.zipWithIndex.map { case (c, i) =>
      val o = i - half
      val x = if (o < 0) m(-o) else if (o > 0) p(o) else col("y")
      x * lit(c)
    }.reduce(_ + _)
    Tables.series(spark, dir)
      // + 0.0 normalizes IEEE signed zero after the round: the ±-tap
      // kernel emits exact -0.0 on constant runs, which DuckDB's round
      // keeps and Spark's cannot represent
      .withColumn("y_conv", round(conv, 6) + lit(0.0))
      .select("id", "eid", "y_conv")
  }

  val tsConvolveSql: String = {
    val half = ConvKernel.size / 2
    val defs = ConvKernel.indices.map { i =>
      val o = i - half
      val c = if (o < 0) s"coalesce(lag(y,${-o}) OVER win, lead(y,${-o}) OVER win)"
      else if (o > 0) s"coalesce(lead(y,$o) OVER win, lag(y,$o) OVER win)"
      else "y"
      s"$c AS x$i"
    }.mkString(",\n       |  ")
    val conv = ConvKernel.zipWithIndex
      .map { case (c, i) => s"x$i * $c" }.mkString(" + ")
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid,
       |  $defs
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid))
       |SELECT id, eid,
       |  round($conv, 6) + 0.0 AS y_conv
       |FROM v""".stripMargin
  }

  // -------------------------------------------------------------------
  // ts_find_dips — reference core.py:319-340 (Signal.find_dips =
  // -(-self).find_peaks()): strict local minima, the eclipse/dip
  // detection twin of ts_find_peaks.
  // -------------------------------------------------------------------
  def tsFindDips(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .withColumn("ym", lag("y", 1).over(w))
      .withColumn("yp", lead("y", 1).over(w))
      .filter(col("ym").isNotNull && col("yp").isNotNull &&
        col("y") < col("ym") && col("y") < col("yp"))
      .select("id", "eid", "t", "y")

  val tsFindDipsSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid, t, y,
       |  lag(y,1)  OVER win AS ym, lead(y,1) OVER win AS yp
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid))
       |SELECT id, eid, t, y FROM v
       |WHERE ym IS NOT NULL AND yp IS NOT NULL AND y < ym AND y < yp""".stripMargin

  // -------------------------------------------------------------------
  // ts_acf_unbiased — reference core.py:578-609 (acf(unbias=True)):
  // corrects the "mask effect" by dividing the raw lagged sum by the
  // ACF of the domain indicator — in the direct estimator on the 6h
  // bin grid this is exactly the per-lag PAIR COUNT, so
  // acf_u(k) = (Σ v·v₊ₖ / n_k) / (Σ v² / n_0).
  // Same single-shuffle (bin+lag) self-join as ts_acf.
  // -------------------------------------------------------------------
  def tsAcfUnbiased(spark: SparkSession, dir: String): DataFrame = {
    val d = TimeSeriesOps.acfDemeaned(spark, dir)
    val lags = spark.range(0, 25).toDF("k")
    val num = d.crossJoin(broadcast(lags))
      .withColumn("bin2", col("bin") + col("k"))
      .join(d.select(col("id"), col("bin").as("bin2"), col("v").as("v2")),
        Seq("id", "bin2"))
      .groupBy("id", "k")
      .agg(sum(col("v") * col("v2")).as("num"),
        count(lit(1)).as("cnt"))
    val den = d.groupBy("id")
      .agg(sum(col("v") * col("v")).as("den"), count(lit(1)).as("n0"))
    num.join(den, "id")
      .select(col("id"), col("k"),
        (round((col("num") / col("cnt").cast("double")) /
          (col("den") / col("n0").cast("double")), 4) + lit(0.0)).as("acf_u"))
  }

  val tsAcfUnbiasedSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |b AS (SELECT id, floor(t/21600.0) AS bin, avg(y) AS v
       |      FROM s GROUP BY 1, 2),
       |m AS (SELECT id, avg(v) AS mu FROM b GROUP BY id),
       |d AS (SELECT b.id, b.bin, b.v - m.mu AS v FROM b JOIN m USING (id)),
       |num AS (
       |  SELECT d.id, k.k, sum(d.v * d2.v) AS num, count(*) AS cnt
       |  FROM d CROSS JOIN generate_series(0, 24) AS k(k)
       |  JOIN d AS d2 ON d2.id = d.id AND d2.bin = d.bin + k.k
       |  GROUP BY 1, 2),
       |den AS (SELECT id, sum(v*v) AS den, count(*) AS n0 FROM d GROUP BY id)
       |SELECT num.id, num.k,
       |  round((num.num / cast(num.cnt AS double))
       |        / (den.den / cast(den.n0 AS double)), 4) + 0.0 AS acf_u
       |FROM num JOIN den USING (id)""".stripMargin

  // -------------------------------------------------------------------
  // ts_curvefit — reference core.py:572 (TSeries.curvefit): nonlinear
  // least squares of an arbitrary model over the time axis. The
  // Spark-native equivalent of scipy.optimize.curve_fit is a broadcast
  // grid over the nonlinear parameter with a closed-form linear
  // sub-fit per grid point (the same shape as psd_curvefit). Model
  // family here: exponential decay toward an offset,
  //   y ≈ a·exp(−(t−t0)/τ) + c,
  // τ on a half-day grid (j·43200 s, j = 1..40). Per τ one aggregation
  // yields the moment sums; (a, c) and the RSS come out in closed
  // form; rank on the dimensionless unexplained fraction (rounded —
  // raw RSS magnitudes would put summation-order noise at the
  // rounding granularity).
  // -------------------------------------------------------------------
  def tsCurvefit(spark: SparkSession, dir: String): DataFrame = {
    val taus = spark.range(1, 41).toDF("j")
    val s = Tables.series(spark, dir)
    val t0 = s.groupBy("id").agg(min("t").as("t0"))
    val g = exp((col("t0") - col("t")) / (col("j") * lit(43200.0)))
    val fits = s.join(broadcast(t0), "id")
      .crossJoin(broadcast(taus))
      .select(col("id"), col("j"), col("y"), g.as("g"))
      .groupBy("id", "j")
      .agg(sum("g").as("sg"), sum(col("g") * col("g")).as("sgg"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("syy"),
        sum(col("g") * col("y")).as("sgy"),
        count(lit(1)).cast("double").as("n"))
      .select(col("id"), col("j"),
        (col("sgy") - col("sg") * col("sy") / col("n")).as("sxy"),
        (col("sgg") - col("sg") * col("sg") / col("n")).as("sxx"),
        (col("syy") - col("sy") * col("sy") / col("n")).as("svv"),
        col("sg"), col("sy"), col("n"))
    val withA = fits
      .select(col("id"), col("j"), col("sg"), col("sy"), col("n"),
        (col("sxy") / col("sxx")).as("a"),
        ((col("svv") - col("sxy") * col("sxy") / col("sxx")) / col("svv"))
          .as("rfrac"))
    val wr = Window.partitionBy("id")
      .orderBy(round(col("rfrac"), 6).asc, col("j").asc)
    withA.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("id"), (col("j") * lit(43200.0)).as("tau"),
        (round(col("a"), 4) + lit(0.0)).as("a"),
        (round((col("sy") - col("a") * col("sg")) / col("n"), 4) + lit(0.0))
          .as("c"))
  }

  val tsCurvefitSql: String = {
    val g = "exp((t0.t0 - s.t) / (cast(j.j AS double) * 43200.0))"
    s"""WITH s AS (${Tables.seriesSql}),
       |t0 AS (SELECT id, min(t) AS t0 FROM s GROUP BY 1),
       |mo AS (SELECT s.id, j.j,
       |    sum($g) AS sg, sum($g * $g) AS sgg,
       |    sum(s.y) AS sy, sum(s.y * s.y) AS syy,
       |    sum($g * s.y) AS sgy,
       |    cast(count(*) AS double) AS n
       |  FROM s JOIN t0 ON t0.id = s.id
       |  CROSS JOIN generate_series(1, 40) AS j(j)
       |  GROUP BY 1, 2),
       |ct AS (SELECT id, j, sg, sy, n,
       |    sgy - sg * sy / n AS sxy,
       |    sgg - sg * sg / n AS sxx,
       |    syy - sy * sy / n AS svv
       |  FROM mo),
       |fits AS (SELECT id, j, sg, sy, n,
       |    sxy / sxx AS a,
       |    (svv - sxy * sxy / sxx) / svv AS rfrac
       |  FROM ct),
       |rk AS (SELECT id, j, a,
       |    -- c from the UNROUNDED a, computed here so the final
       |    -- SELECT's rounded `a` alias cannot shadow the column
       |    (sy - a * sg) / n AS c_raw,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY round(rfrac, 6) ASC, j ASC) AS rn
       |  FROM fits)
       |SELECT id, cast(j AS double) * 43200.0 AS tau,
       |  round(a, 4) + 0.0 AS a,
       |  round(c_raw, 4) + 0.0 AS c
       |FROM rk WHERE rn = 1""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("ts_smooth_gaussian", tsSmoothGaussian, tsSmoothGaussianSql),
    Query("ts_convolve", tsConvolve(_, _), tsConvolveSql),
    Query("ts_find_dips", tsFindDips, tsFindDipsSql),
    Query("ts_acf_unbiased", tsAcfUnbiased, tsAcfUnbiasedSql),
    Query("ts_curvefit", tsCurvefit, tsCurvefitSql))
}
