package graft.tsa

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Supersmoother — Friedman's variable-span smoother (SLAC PUB-3477,
  * 1984; the Reimann 1994 refinement is the reference's spectral.py:8
  * roadmap TODO: "check out Supersmoother"). The reference ships
  * nothing; graft implements the method Spark-first, EXCEEDING the
  * reference's surface on its own roadmap (as with VMD / BGLST / the
  * phase.py roadmap periodograms).
  *
  * Per series (ordered by t): three local LINEAR fits over sliding
  * symmetric neighbourhoods — "tweeter" 5, "midrange" 11, "woofer" 23
  * rows (graft declares ROW-count spans: Spark window frames take
  * constant bounds, and fixed neighbour counts are the natural
  * distributed analogue of supsmu's fractional spans) — each scored
  * by its leave-one-out cross-validated absolute residual
  * |y_i − fit_i| / (1 − h_ii), the CV curves smoothed at the midrange
  * span, and the span with the smallest smoothed CV error selected
  * PER POINT. Output = the winning span's fit (graft omits supsmu's
  * fractional-span interpolation pass — span choice is discrete).
  *
  * Everything is window aggregates over ONE partitionBy(id) ordered
  * exchange — no joins, no explosion, whole-stage-codegen'd; the
  * oracle replays the identical frames. Time enters the normal
  * equations CENTERED per series (tc = t − t0, see the round-2 GLS
  * note): epoch-scale t² sums would cancel catastrophically.
  */
object Supersmooth {

  private val SPANS = Seq(2, 5, 11) // half-widths: 5, 11, 23 rows

  def tsSupersmooth(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val t0 = s.groupBy("id").agg(min("t").as("t0"))
    var df = s.join(broadcast(t0), "id")
      .select(col("id"), col("eid"), (col("t") - col("t0")).as("tc"),
        col("y"))
    val ord = Window.partitionBy("id").orderBy("tc", "eid")
    for (h <- SPANS) {
      val w = ord.rowsBetween(-h, h)
      df = df
        .withColumn(s"n_$h", count(lit(1)).over(w).cast("double"))
        .withColumn(s"st_$h", sum("tc").over(w))
        .withColumn(s"sy_$h", sum("y").over(w))
        .withColumn(s"stt_$h", sum(col("tc") * col("tc")).over(w))
        .withColumn(s"sty_$h", sum(col("tc") * col("y")).over(w))
    }
    for (h <- SPANS) {
      val n = col(s"n_$h"); val st = col(s"st_$h"); val sy = col(s"sy_$h")
      val stt = col(s"stt_$h"); val sty = col(s"sty_$h")
      val den = n * stt - st * st
      val slope = when(den > 0.0, (n * sty - st * sy) / den).otherwise(0.0)
      df = df
        .withColumn(s"fit_$h",
          sy / n + slope * (col("tc") - st / n))
        // leverage of the local linear fit at tc_i
        .withColumn(s"lev_$h",
          lit(1.0) / n + when(den > 0.0,
            n * (col("tc") - st / n) * (col("tc") - st / n) / den)
            .otherwise(0.0))
        .withColumn(s"cv_$h",
          abs(col("y") - col(s"fit_$h")) /
            greatest(lit(1.0) - col(s"lev_$h"), lit(1e-3)))
    }
    // smooth each span's CV curve at the midrange span (h = 5)
    val wm = ord.rowsBetween(-5, 5)
    for (h <- SPANS)
      df = df.withColumn(s"scv_$h", avg(col(s"cv_$h")).over(wm))
    val best =
      when(col("scv_2") <= col("scv_5") && col("scv_2") <= col("scv_11"),
        struct(lit(5).as("span"), col("fit_2").as("yhat")))
        .when(col("scv_5") <= col("scv_11"),
          struct(lit(11).as("span"), col("fit_5").as("yhat")))
        .otherwise(struct(lit(23).as("span"), col("fit_11").as("yhat")))
    df.withColumn("b", best)
      .select(col("id"), col("eid"), col("tc"),
        col("b.span").as("span"), round(col("b.yhat"), 4).as("yhat"))
  }

  val tsSupersmoothSql: String = {
    // `OVER w_h` (no parens) REFERENCES the named window; `OVER (w_h)`
    // would try to COPY it, which SQL forbids for framed windows.
    val moments = SPANS.map { h =>
      s"""cast(count(*) OVER w_$h AS double) AS n_$h,
         |  sum(tc) OVER w_$h AS st_$h, sum(y) OVER w_$h AS sy_$h,
         |  sum(tc * tc) OVER w_$h AS stt_$h,
         |  sum(tc * y) OVER w_$h AS sty_$h""".stripMargin
    }.mkString(",\n  ")
    val winDefs = SPANS.map { h =>
      s"w_$h AS (PARTITION BY id ORDER BY tc, eid ROWS BETWEEN " +
        s"$h PRECEDING AND $h FOLLOWING)"
    }.mkString(",\n  ")
    val fits = SPANS.map { h =>
      s"""sy_$h / n_$h + (CASE WHEN n_$h * stt_$h - st_$h * st_$h > 0.0
         |    THEN (n_$h * sty_$h - st_$h * sy_$h)
         |         / (n_$h * stt_$h - st_$h * st_$h) ELSE 0.0 END)
         |    * (tc - st_$h / n_$h) AS fit_$h,
         |  abs(y - (sy_$h / n_$h
         |    + (CASE WHEN n_$h * stt_$h - st_$h * st_$h > 0.0
         |       THEN (n_$h * sty_$h - st_$h * sy_$h)
         |            / (n_$h * stt_$h - st_$h * st_$h) ELSE 0.0 END)
         |    * (tc - st_$h / n_$h)))
         |  / greatest(1.0 - (1.0 / n_$h
         |    + (CASE WHEN n_$h * stt_$h - st_$h * st_$h > 0.0
         |       THEN n_$h * (tc - st_$h / n_$h) * (tc - st_$h / n_$h)
         |            / (n_$h * stt_$h - st_$h * st_$h) ELSE 0.0 END)),
         |    1e-3) AS cv_$h""".stripMargin
    }.mkString(",\n  ")
    val scvs = SPANS.map { h =>
      s"avg(cv_$h) OVER (PARTITION BY id ORDER BY tc, eid ROWS " +
        s"BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS scv_$h"
    }.mkString(",\n  ")
    s"""WITH s AS (${Tables.seriesSql}),
       |t0 AS (SELECT id, min(t) AS t0 FROM s GROUP BY id),
       |c AS (SELECT s.id, s.eid, s.t - t0.t0 AS tc, s.y
       |      FROM s JOIN t0 USING (id)),
       |mom AS (SELECT id, eid, tc, y,
       |  $moments
       |  FROM c WINDOW
       |  $winDefs),
       |ft AS (SELECT id, eid, tc, y,
       |  $fits
       |  FROM mom),
       |sc AS (SELECT id, eid, tc,
       |  fit_2, fit_5, fit_11,
       |  $scvs
       |  FROM ft)
       |SELECT id, eid, tc,
       |  CASE WHEN scv_2 <= scv_5 AND scv_2 <= scv_11 THEN 5
       |       WHEN scv_5 <= scv_11 THEN 11 ELSE 23 END AS span,
       |  round(CASE WHEN scv_2 <= scv_5 AND scv_2 <= scv_11 THEN fit_2
       |             WHEN scv_5 <= scv_11 THEN fit_5
       |             ELSE fit_11 END, 4) AS yhat
       |FROM sc""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("ts_supersmooth", tsSupersmooth, tsSupersmoothSql))
}
