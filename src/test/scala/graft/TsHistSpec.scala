package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ts_hist semantics beyond the DuckDB hash gate: integer binning is
  * total (every sample lands in exactly one of 16 bins), the extremes
  * occupy the edge bins, and a constant series degenerates to bin 0. */
class TsHistSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("binning is total, bounded, and edge-occupying") {
    val h = graft.tsa.TimeSeriesOps4.tsHist(spark, dir)
    assert(h.filter(col("bin") < 0 || col("bin") > 15).count() == 0)
    // counts reconstruct each series' length exactly
    val n = Tables.series(spark, dir).groupBy("id")
      .agg(count(lit(1)).as("len"))
    val tot = h.groupBy("id").agg(sum("cnt").as("s"))
    assert(tot.join(n, "id").filter(col("s") =!= col("len")).count() == 0)
    // a series' min sample is always in bin 0, its max in bin 15
    // (unless the series is constant — then everything is bin 0)
    val perSeries = h.groupBy("id")
      .agg(min("bin").as("lo"), max("bin").as("hi"),
        min("y_min").as("mn"), max("y_max").as("mx"))
    assert(perSeries.filter(col("lo") =!= 0).count() == 0)
    assert(perSeries
      .filter(col("mn") =!= col("mx") && col("hi") =!= 15).count() == 0)
  }
}
