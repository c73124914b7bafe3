package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verbatim-analog ports of the reference's GLS default-grid tests
  * (tests/test_spectral.py) against `gls_autogrid`:
  *
  *  - test_gls_default_frequency_grid (:7-27): frequencies sorted,
  *    fmin = df/2 (half a cycle within the baseline), last frequency
  *    rounds to the pseudo-Nyquist fs/2, uniform spacing df.
  *  - test_can_find_periods (:30-35): a 10-sample-period sine over 100
  *    unit-spaced samples peaks at period 10.0 exactly (the true
  *    frequency lands ON the auto grid: f = fmin + 49·df).
  */
class GlsAutoSpec extends AnyFunSuite with GraftSpark {

  /** user 21: 26 samples at 0.1 s (the reference's grid fixture —
    * baseline 2.5 s, fs = 10 Hz); user 22: sin(2π·k/10) over 100
    * samples at 1 s (the period-recovery fixture). */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_glsauto").toString
    val rows =
      (for (k <- 0 until 26) yield
        (21000L + k, k * 100000000L, 21L, "tick",
          math.sin(2 * math.Pi * k / 26.0), "{}")) ++
      (for (k <- 0 until 100) yield
        (22000L + k, k * 1000000000L, 22L, "tick",
          math.sin(2 * math.Pi * k / 10.0), "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/ev")
    val f = new java.io.File(s"$d/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$d/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    d
  }

  private lazy val out: Map[Long, Seq[(Long, Double, Double)]] = {
    import org.apache.spark.sql.functions._
    spectral.GlsAuto.glsAutogrid(spark, dir)
      .select(col("id").cast("long"), col("k").cast("long"),
        col("freq_uhz"), col("power"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .groupBy(_._1).map { case (id, a) =>
        id -> a.map(_._2).sortBy(_._1).toSeq }
  }

  test("default grid: fmin = df/2, last = fs/2, uniform spacing (test_spectral.py:7)") {
    val g = out(21L)
    val freqs = g.map(_._2) // µHz, k-sorted
    assert(freqs == freqs.sorted, "frequencies are sorted")
    // baseline 2.5 s, n=5 → df = 0.08 Hz = 80000 µHz; fmin = df/2
    assert(math.abs(freqs.head - 40000.0) < 1e-3,
      s"fmin = df/2, got ${freqs.head}")
    // pseudo-Nyquist: fs/2 = 5 Hz (reference: np.round(freq[-1], 6))
    assert(math.abs(freqs.last - 5000000.0) < 1e-3,
      s"fmax = fs/2, got ${freqs.last}")
    val spacings = freqs.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(spacings.forall(s => math.abs(s - 80000.0) < 1e-2),
      "uniform grid with spacing df")
    assert(g.size == 63, s"arange(fmin, fmax+df, df) length, got ${g.size}")
  }

  test("finds the injected period exactly on the auto grid (test_spectral.py:30)") {
    val g = out(22L)
    val (_, fstar, pstar) = g.maxBy(_._3)
    assert(pstar > 0.9, s"normalized peak power ~1, got $pstar")
    val period = 1e6 / fstar // µHz → s
    assert(math.abs(period - 10.0) < 1e-6,
      s"period_at_highest_peak == 10.0, got $period")
  }

  test("gls_autogrid_best reports period_at_highest_peak == 10.0") {
    import org.apache.spark.sql.functions._
    val r = spectral.GlsAuto.glsAutogridBest(spark, dir)
      .filter(col("id") === 22L).collect()
    assert(r.length == 1)
    assert(r(0).getDouble(1) == 10.0,
      s"best_period == 10.0, got ${r(0).getDouble(1)}")
  }
}
