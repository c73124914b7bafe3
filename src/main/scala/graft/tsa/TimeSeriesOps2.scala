package graft.tsa

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second batch of window/agg series operators: NA interpolation
  * policies, frequency-axis downsampling, and the TEO instantaneous
  * frequency (the one HHT frequency method that is pure per-row
  * arithmetic, hence fully SQL-expressible). */
object TimeSeriesOps2 {

  private def w = Window.partitionBy("id").orderBy("t", "eid")

  // -------------------------------------------------------------------
  // ts_interpolate_na — reference core.py:664 (interpolate_na with
  // method constant/ffill/bfill): the test data has no NULLs, so a
  // deterministic mask (y < 2.0) stands in for missingness and the
  // three fill policies are emitted side by side.
  // -------------------------------------------------------------------
  def tsInterpolateNa(spark: SparkSession, dir: String): DataFrame = {
    val masked = Tables.series(spark, dir)
      .withColumn("ym", when(col("y") < 2.0, lit(null)).otherwise(col("y")))
    masked
      .withColumn("y_const", coalesce(col("ym"), lit(0.0)))
      .withColumn("y_ffill",
        last("ym", ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("y_bfill",
        first("ym", ignoreNulls = true)
          .over(w.rowsBetween(0, Window.unboundedFollowing)))
      .select("id", "eid", "y_const", "y_ffill", "y_bfill")
  }

  val tsInterpolateNaSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |m AS (SELECT id, eid, t,
       |  CASE WHEN y < 2.0 THEN NULL ELSE y END AS ym FROM s)
       |SELECT id, eid,
       |  coalesce(ym, 0.0) AS y_const,
       |  last_value(ym IGNORE NULLS)
       |    OVER (PARTITION BY id ORDER BY t, eid
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS y_ffill,
       |  first_value(ym IGNORE NULLS)
       |    OVER (PARTITION BY id ORDER BY t, eid
       |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |    AS y_bfill
       |FROM m""".stripMargin

  // -------------------------------------------------------------------
  // psd_downsample — reference core.py:1009 (FSeries.downsample):
  // rebin the DFT power spectrum onto a coarser frequency grid
  // (4-bin blocks), mean per block via exact milli-unit integers.
  // -------------------------------------------------------------------
  def psdDownsample(spark: SparkSession, dir: String): DataFrame =
    graft.spectral.Gls.psdDft(spark, dir)
      .groupBy(col("id"), ((col("k") - 1) / 4).cast("long").as("fbin"))
      .agg(round(sum(round(col("power") * 1000.0, 0).cast("long"))
        .cast("double") / 1000.0, 3).as("power_sum"),
        count(lit(1)).as("n"))

  val psdDownsampleSql: String =
    s"""WITH pd AS (${graft.spectral.Gls.psdDftSql})
       |SELECT id, (k - 1) // 4 AS fbin,
       |  round(cast(sum(cast(round(power*1000.0) AS BIGINT)) AS double)
       |        / 1000.0, 3) AS power_sum,
       |  count(*) AS n
       |FROM pd GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ts_teo_instfreq — reference timefrequency.py:123 (HHT method=TEO):
  // instantaneous frequency sqrt(TEO(y')/TEO(y))/2π and amplitude
  // TEO(y)/sqrt(TEO(y')) from chained window gradients — pure per-row
  // arithmetic, bit-identical to the oracle.
  // -------------------------------------------------------------------
  def tsTeoInstfreq(spark: SparkSession, dir: String): DataFrame = {
    val teo = TimeSeriesOps.tsTeo(spark, dir) // id, eid, teo (of y)
    val s = Tables.series(spark, dir)
    val d1 = s.withColumn("dy", TimeSeriesOps.gradientCol(w))
    val wd = Window.partitionBy("id").orderBy("t", "eid")
    val teoD = d1
      .withColumn("d2",
        TimeSeriesOps.gradientOf(col("dy"), wd))
      .withColumn("d3",
        TimeSeriesOps.gradientOf(col("d2"), wd))
      .withColumn("teo_dot",
        col("d2") * col("d2") - col("dy") * col("d3"))
      .select("id", "eid", "teo_dot")
    teo.join(teoD, Seq("id", "eid"))
      .select(col("id"), col("eid"),
        when(col("teo") > 0 && col("teo_dot") > 0,
          sqrt(col("teo_dot") / col("teo")) / (2.0 * math.Pi))
          .as("inst_freq"),
        when(col("teo") > 0 && col("teo_dot") > 0,
          col("teo") / sqrt(col("teo_dot"))).as("inst_amp"))
  }

  val tsTeoInstfreqSql: String = {
    val g = TimeSeriesOps.gradSqlPublic _
    s"""WITH s AS (${Tables.seriesSql}),
       |v AS (SELECT id, eid, t, y,
       |  lag(t,1)  OVER win AS tm, lag(y,1)  OVER win AS ym,
       |  lead(t,1) OVER win AS tp, lead(y,1) OVER win AS yp
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid)),
       |d1 AS (SELECT id, eid, t,
       |  ${g("t", "y", "tm", "ym", "tp", "yp")} AS dy
       |  FROM v),
       |v2 AS (SELECT id, eid, t, dy,
       |  lag(t,1)  OVER win AS tm, lag(dy,1)  OVER win AS dm,
       |  lead(t,1) OVER win AS tp, lead(dy,1) OVER win AS dp
       |  FROM d1 WINDOW win AS (PARTITION BY id ORDER BY t, eid)),
       |d2 AS (SELECT id, eid, t, dy,
       |  ${g("t", "dy", "tm", "dm", "tp", "dp")} AS d2
       |  FROM v2),
       |v3 AS (SELECT id, eid, t, dy, d2,
       |  lag(t,1)  OVER win AS tm, lag(d2,1)  OVER win AS d2m,
       |  lead(t,1) OVER win AS tp, lead(d2,1) OVER win AS d2p
       |  FROM d2 WINDOW win AS (PARTITION BY id ORDER BY t, eid)),
       |d3 AS (SELECT id, eid, dy, d2,
       |  ${g("t", "d2", "tm", "d2m", "tp", "d2p")} AS d3
       |  FROM v3),
       |tdot AS (SELECT id, eid, d2*d2 - dy*d3 AS teo_dot FROM d3),
       |vy AS (SELECT id, eid, t, y,
       |  lag(t,1)  OVER win AS tm, lag(y,1)  OVER win AS ym,
       |  lead(t,1) OVER win AS tp, lead(y,1) OVER win AS yp
       |  FROM s WINDOW win AS (PARTITION BY id ORDER BY t, eid)),
       |dy1 AS (SELECT id, eid, t, y,
       |  ${g("t", "y", "tm", "ym", "tp", "yp")} AS dy
       |  FROM vy),
       |dy2 AS (SELECT id, eid, t, y, dy,
       |  lag(t,1)  OVER win AS tm, lag(dy,1)  OVER win AS dm,
       |  lead(t,1) OVER win AS tp, lead(dy,1) OVER win AS dp
       |  FROM dy1 WINDOW win AS (PARTITION BY id ORDER BY t, eid)),
       |teo AS (SELECT id, eid,
       |  dy*dy - y * (${g("t", "dy", "tm", "dm", "tp", "dp")}) AS teo
       |  FROM dy2)
       |SELECT teo.id, teo.eid,
       |  CASE WHEN teo.teo > 0 AND tdot.teo_dot > 0
       |       THEN sqrt(tdot.teo_dot / teo.teo) / ${2.0 * math.Pi}
       |       END AS inst_freq,
       |  CASE WHEN teo.teo > 0 AND tdot.teo_dot > 0
       |       THEN teo.teo / sqrt(tdot.teo_dot) END AS inst_amp
       |FROM teo JOIN tdot ON tdot.id = teo.id AND tdot.eid = teo.eid""".stripMargin
  }

  // -------------------------------------------------------------------
  // ts_transform — reference core.py:537/541 (timeshift, timescale)
  // and core.py:543 (fold): the affine time-axis transforms as pure
  // projections; t_shift = days since series start, t_scale doubles
  // the time axis, phase folds at 1 day.
  // -------------------------------------------------------------------
  def tsTransform(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val t0 = s.groupBy("id").agg(min("t").as("t0"))
    s.join(broadcast(t0), "id")
      .select(col("id"), col("eid"),
        ((col("t") - col("t0")) / 86400.0).as("t_shift_days"),
        (col("t") * 2.0).as("t_scaled"),
        (((col("t") - col("t0")) / 86400.0) % 1.0).as("phase"))
  }

  val tsTransformSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |t0 AS (SELECT id, min(t) AS t0 FROM s GROUP BY id)
       |SELECT s.id, s.eid,
       |  (s.t - t0.t0) / 86400.0 AS t_shift_days,
       |  s.t * 2.0 AS t_scaled,
       |  ((s.t - t0.t0) / 86400.0) % 1.0 AS phase
       |FROM s JOIN t0 USING (id)""".stripMargin

  // -------------------------------------------------------------------
  // ts_roll — reference core.py (Signal.roll): numpy-style circular
  // shift of the value axis by k samples per series. Rank within the
  // series, then self-join rank -> (rank-1+k) mod n + 1 — both sides
  // of the join share the (id)-keyed exchange, and the rolled pairing
  // is deterministic via the (t, eid) rank order.
  // -------------------------------------------------------------------
  val RollK = 3

  def tsRoll(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("t", "eid")
    val ranked = Tables.series(spark, dir)
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
    val src = ranked.select(col("id").as("id2"), col("r").as("r2"),
      col("y").as("y_roll"))
    ranked.join(src, col("id") === col("id2") &&
        ((col("r") - 1 + RollK) % col("n")) + 1 === col("r2"))
      .select(col("id"), col("eid"), col("y_roll"))
  }

  val tsRollSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |ranked AS (SELECT id, eid, y,
       |  cast(row_number() OVER (PARTITION BY id ORDER BY t, eid)
       |    AS BIGINT) AS r,
       |  cast(count(*) OVER (PARTITION BY id) AS BIGINT) AS n
       |  FROM s)
       |SELECT a.id, a.eid, b.y AS y_roll
       |FROM ranked a JOIN ranked b
       |  ON a.id = b.id AND ((a.r - 1 + $RollK) % a.n) + 1 = b.r""".stripMargin

  // -------------------------------------------------------------------
  // ts_stats_by_type — the series data model generalizes to compound
  // keys: (user, event_type) as the series identity. Same one-pass
  // profile as ts_stats, keyed twice.
  // -------------------------------------------------------------------
  def tsStatsByType(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100.0, 0).cast("long")).cast("double") /
          count(lit(1)) / 100.0).as("mean_raw"))
      .select(col("user_id"), col("event_type"), col("n"),
        round(col("mean_raw"), 6).as("mean_y"))

  val tsStatsByTypeSql: String =
    """SELECT user_id, event_type, count(*) AS n,
      |  round(cast(sum(cast(round(value*100.0) AS BIGINT)) AS double)
      |        / count(*) / 100.0, 6) AS mean_y
      |FROM events GROUP BY 1, 2""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("ts_interpolate_na", tsInterpolateNa, tsInterpolateNaSql),
    Query("psd_downsample", psdDownsample, psdDownsampleSql),
    Query("ts_teo_instfreq", tsTeoInstfreq, tsTeoInstfreqSql),
    Query("ts_transform", tsTransform, tsTransformSql),
    Query("ts_roll", tsRoll, tsRollSql),
    Query("ts_stats_by_type", tsStatsByType, tsStatsByTypeSql))
}
