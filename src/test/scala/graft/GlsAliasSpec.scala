package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The documented purpose of gls_best_prominence (reference
  * core.py:948-963 period_at_highest_prominence), exercised on the
  * classic ground-based failure mode: daily-cadence (jittered)
  * sampling of a sub-day rotation signal on top of a slow activity
  * cycle (15 d sine) plus a linear trend. The cycle+trend red
  * structure — merged with the near-1-day signal's long-period
  * sampling alias — makes the 15 d peak the TALLEST interior peak,
  * so the height-ranked pick (gls_best_period) is captured by it;
  * prominence subtracts each peak's surrounding base, and the 15 d
  * peak's left base rides the trend-elevated red slope toward the
  * k=1 edge, so the prominence-ranked pick rejects it and recovers
  * the true period. (Scenario tuned against the committed DuckDB
  * oracle: the divergence holds across amplitude 0.6–1.4 of the
  * trend at cycle amplitude 1.0, so the pinned point sits mid-
  * plateau, not on a knife edge.)
  */
class GlsAliasSpec extends AnyFunSuite with GraftSpark {

  private val Day = 86400.0
  private val T0 = 1.704067200e9 // 2024-01-01
  private val PTrue = 0.95 * Day

  private lazy val aliasDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_alias").toString
    val n = 90
    val ts = Array.tabulate(n)(k =>
      T0 + k * Day + 0.05 * Day * math.sin(k * 2.3))
    val span = ts(n - 1) - ts(0)
    val rows = (0 until n).map { k =>
      val t = ts(k)
      val y = math.sin(2 * math.Pi * t / PTrue) +
        1.0 * math.sin(2 * math.Pi * t / (15.0 * Day) + 0.4) +
        1.0 * ((t - ts(0)) / span - 0.5) * 2.0
      (9100L + k, (t * 1e9).toLong, 91L, "tick", y, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    val f = new java.io.File(s"$dir/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("height-ranked pick is captured by the cycle/trend structure") {
    val p = spectral.Gls.glsBestPeriod(spark, aliasDir)
      .filter(col("id") === 91L)
      .select("best_period").collect()(0).getDouble(0)
    assert(p > 5.0 * Day,
      s"expected the height pick to fall for the 15 d structure, got " +
        s"$p s (${p / Day} d) — scenario no longer exercises the failure")
  }

  test("prominence-ranked pick rejects the edge and recovers 0.95 d") {
    val p = spectral.FSeriesOps.glsBestProminence(spark, aliasDir)
      .filter(col("id") === 91L)
      .select("best_period").collect()(0).getDouble(0)
    assert(p > 0.85 * Day && p < 1.1 * Day,
      s"expected ~0.95 d from the prominence pick, got $p s (${p / Day} d)")
  }
}
