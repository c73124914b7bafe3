package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real-data parity for the reference's TWO remaining public fixtures
  * (round 12, VERDICT item 6 — closes the data/ surface end-to-end):
  *
  *  - `sunspots.npy` (data/__init__.py:25): WDC-SILSO daily total
  *    sunspot number, Jan 1818 – Jun 2021, bad measurements −1;
  *  - `tsi.npy` (data/__init__.py:46): PMOD composite total solar
  *    irradiance, Nov 1978 – Mar 2012, bad measurements −99.
  *
  * Both load READ-ONLY through the npy DataSource, mask their bad
  * values through the `ts_interpolate_na` forward-fill semantics
  * (core.py:664 — ffill with bfill for a leading gap), and must
  * recover the published ~11-year Schwabe solar cycle on the default
  * auto grid. Cancels (rather than fails) when the reference checkout
  * is absent — the engine itself never depends on it.
  */
class RefData2ParitySpec extends AnyFunSuite with GraftSpark {

  private val dataDir = "/root/reference/src/periodicity/data"


  /** Load a (2, N) fixture (row 0 = t, row 1 = y), mask y < `badBelow`
    * as NA, apply the ts_interpolate_na ffill (bfill for the leading
    * run), convert t to epoch seconds via `toSec`, and write a temp
    * events.parquet readable by Tables.series. */
  private def buildDir(npy: String, badBelow: Double,
      toSec: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : String = {
    val d = java.nio.file.Files.createTempDirectory("graft_refdata2").toString
    val raw = spark.read.format("graft.sources.NpyDataSource")
      .load(s"$dataDir/$npy")
    val byRow = raw.groupBy("idx").pivot("row", Seq(0L, 1L)).sum("value")
      .withColumnRenamed("0", "t_raw").withColumnRenamed("1", "y_raw")
    val w = Window.orderBy("idx")
    val filled = byRow
      .withColumn("ym",
        when(col("y_raw") < badBelow, lit(null)).otherwise(col("y_raw")))
      .withColumn("y_ffill", last("ym", ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("y_bfill", first("ym", ignoreNulls = true)
        .over(w.rowsBetween(0, Window.unboundedFollowing)))
      .withColumn("y", coalesce(col("y_ffill"), col("y_bfill")))
    filled.select(
        col("idx").cast("long").as("event_id"),
        (toSec(col("t_raw")) * 1e9).cast("long").as("ts"),
        lit(7L).as("user_id"), lit("solar").as("event_type"),
        col("y").as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/ev")
    val f = new java.io.File(s"$d/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$d/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    d
  }

  private val YearSec = 365.25 * 86400.0

  test("sunspots.npy: ~11 yr Schwabe cycle on the auto grid, " +
    "-1 bad values masked via the ts_interpolate_na ffill") {
    assume(new java.io.File(s"$dataDir/sunspots.npy").exists(),
      "reference data not present")
    // t is in DECIMAL YEARS (1818.001 … 2021.495); 74326 daily samples
    // carry ~18 cycles. Month-mean pre-binning (the standard SILSO
    // smoothing; a groupBy over the masked series) keeps the GLS trig
    // pass at ~2.4k samples without touching the cycle band.
    val dir = buildDir("sunspots.npy", 0.0,
      t => (t - lit(1818.0)) * lit(YearSec))
    val monthly = Tables.series(spark, dir)
      .groupBy(floor(col("t") / lit(YearSec / 12.0)).as("m"))
      .agg(avg("y").as("ym"), min("t").as("tm"))
    val n = monthly.count()
    assert(n > 2000, s"expected ~2442 month bins, got $n")
    // feed the binned series back through the SAME gls pipeline via a
    // temp events table (the engine's own series contract)
    val d2 = java.nio.file.Files.createTempDirectory("graft_ss_m").toString
    monthly.select(col("m").cast("long").as("event_id"),
        (col("tm") * 1e9).cast("long").as("ts"),
        lit(7L).as("user_id"), lit("solar").as("event_type"),
        col("ym").as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/ev")
    val f = new java.io.File(s"$d2/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$d2/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val best = spectral.GlsAuto.glsAutogridBest(spark, d2).collect()
    assert(best.length == 1)
    val periodYears = best(0).getDouble(1) / YearSec
    val power = best(0).getDouble(2)
    info(f"sunspot GLS peak: $periodYears%.2f yr, power $power%.3f")
    assert(periodYears > 9.5 && periodYears < 12.5,
      s"expected the ~11 yr solar cycle, got $periodYears yr")
    assert(power > 0.3, s"cycle peak should dominate, power=$power")
  }

  test("tsi.npy: the solar-cycle irradiance modulation on the auto " +
    "grid, -99 bad values masked via the ts_interpolate_na ffill") {
    assume(new java.io.File(s"$dataDir/tsi.npy").exists(),
      "reference data not present")
    // t is in DAYS relative to the PMOD epoch (−409.5 … 11776.5);
    // shift non-negative so epoch-second ts stays unsigned-friendly
    val dir = buildDir("tsi.npy", -90.0,
      t => (t + lit(410.0)) * lit(86400.0))
    val best = spectral.GlsAuto.glsAutogridBest(spark, dir).collect()
    assert(best.length == 1)
    val periodYears = best(0).getDouble(1) / YearSec
    val power = best(0).getDouble(2)
    info(f"TSI GLS peak: $periodYears%.2f yr, power $power%.3f")
    // 33.4 yr of PMOD data hold ~3 Schwabe cycles; the GLS fundamental
    // sits on the cycle (published ~11 yr), not on the rotation band
    assert(periodYears > 8.0 && periodYears < 14.0,
      s"expected the ~11 yr cycle, got $periodYears yr")
    assert(power > 0.3, s"cycle peak should dominate, power=$power")
  }
}
