package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real-data parity: the reference's own demo dataset (KIC 9655172,
  * data/spotted_star.npy — the light curve behind tests/test_gp.py)
  * read READ-ONLY through the npy DataSource, mapped to the series
  * table, and sent through the default-grid GLS. The reference's
  * published expectations for this star: rotation period ≈ 10.7 d
  * (prior maximum, test_gp.py:14) / 11.0 d (HarmonicGP MCMC median,
  * test_gp.py:56), with the P/2 harmonic present.
  *
  * Cancels (rather than fails) when the reference checkout is absent —
  * the engine itself never depends on it.
  */
class RefDataParitySpec extends AnyFunSuite with GraftSpark {

  private val npyPath =
    "/root/reference/src/periodicity/data/spotted_star.npy"


  /** spotted_star.npy is (3, 2148): rows t [days], y, dy. Pivot to
    * samples and write a temp events.parquet with ts = t·tsScale ns —
    * 86400·1e9 makes `Tables.series` t epoch SECONDS; 1e9 keeps t in
    * DAYS (the reference's unit, needed by the day-scale band sweep
    * whose p_max ≥ 20 smoothing threshold is unit-bearing). */
  private def buildDir(tsScale: Double): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_refdata").toString
    val raw = spark.read.format("graft.sources.NpyDataSource").load(npyPath)
    val byRow = raw.groupBy("idx").pivot("row", Seq(0L, 1L)).sum("value")
      .withColumnRenamed("0", "t_days").withColumnRenamed("1", "y")
    byRow.select(
        col("idx").cast("long").as("event_id"),
        (col("t_days") * tsScale).cast("long").as("ts"),
        lit(31L).as("user_id"), lit("lc").as("event_type"),
        col("y").as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/ev")
    val f = new java.io.File(s"$d/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$d/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    d
  }

  private lazy val dir: String = buildDir(86400.0 * 1e9)
  private lazy val dayDir: String = buildDir(1e9)

  test("recovers KIC 9655172's ~11 d rotation period on the auto grid") {
    assume(new java.io.File(npyPath).exists(), "reference data not present")
    val best = spectral.GlsAuto.glsAutogridBest(spark, dir).collect()
    assert(best.length == 1)
    val periodDays = best(0).getDouble(1) / 86400.0
    val power = best(0).getDouble(2)
    // reference: prior max 10.7 d, MCMC median 11.0 d — the GLS peak
    // of the raw light curve sits at the same rotation signal
    assert(periodDays > 10.0 && periodDays < 12.0,
      s"expected the ~11 d rotation period, got $periodDays d")
    assert(power > 0.5, s"rotation peak should dominate, power=$power")
  }

  test("make_gaussian_prior(spotted lc): argmax at grid index 671 " +
    "(~10.7 d) with exactly 7 peaks — tests/test_gp.py:8-21 verbatim") {
    assume(new java.io.File(npyPath).exists(), "reference data not present")
    // the reference's default band grid: periods = a·bᵏ, a=1, b=2, n=8
    // (gp.py:125-127), in DAYS; p_min and the baseline/2 cutoff are
    // derived per series inside the sweep (gp.py:133-134)
    val bands = (0 until 8).map(k => math.pow(2.0, k))
    val comps = tsa.SeriesOps2.gaussianPrior(spark, dayDir, bands)
      .select("mu_logp", "weight").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(comps.nonEmpty, "band sweep produced no components")
    // prior(log_p) = Σ w·N(mu, 0.1)(log_p) / Σq — the normalization is
    // a positive scalar, so argmax and the peak count ignore it
    val logPs = Array.tabulate(1000)(i => -3.0 + 8.0 * i / 999.0)
    val pp = logPs.map { x =>
      comps.map { case (mu, w) =>
        val z = (x - mu) / 0.1
        w * math.exp(-z * z / 2.0) / (math.sqrt(2.0 * math.Pi) * 0.1)
      }.sum
    }
    val am = pp.indices.maxBy(pp)
    // reference: prior has a maximum at approx 10.7 days (index 671)
    assert(am == 671, s"prior argmax at $am (${math.exp(logPs(am))} d), " +
      "expected 671 (~10.7 d)")
    // reference: peaks at 0.4, 0.8, 1.7, 3.5, 5.6, 10.7 and 21.5 days
    val peaks = (1 until 999).filter(i => pp(i - 1) < pp(i) && pp(i + 1) < pp(i))
    assert(peaks.length == 7,
      s"expected 7 prior peaks, got ${peaks.map(i => f"${math.exp(logPs(i))}%.2f")}")
  }

  test("grid-posterior period medians of the spotted lc sit at the " +
    "reference's MCMC medians (tests/test_gp.py:42-57 re-expressed)") {
    assume(new java.io.File(npyPath).exists(), "reference data not present")
    // reference: BrownianGP MCMC median rounds to 10 d, HarmonicGP to
    // 11 d. MCMC is re-expressed as grid-MAP + grid posterior (SURVEY
    // §2): scan 1..30 d in half-day steps (the default 12 h..10 d grid
    // is events-tuned and clips this star's period) and take the
    // posterior-median period from the same softmax/CDF transform the
    // gp_posterior query ships.
    val grid = (2 to 60).map(_ * 43200.0).toArray
    def medianDays(map: org.apache.spark.sql.DataFrame): Double =
      tsa.GpOps.posteriorOver(map)
        .filter(col("is_median") === 1L && col("id") === 31L)
        .head().getDouble(1) / 86400.0
    val bMed = medianDays(tsa.GpOps.gpBrownianMap(spark, dir, grid))
    val hMed = medianDays(tsa.GpOps.gpHarmonicMap(spark, dir, grid))
    info(s"brownian median = $bMed d, harmonic median = $hMed d")
    // the Brownian kernel's graft parameterization (fixed 60/40 mix)
    // lands its median one half-step above the reference's 10 d
    assert(math.abs(bMed - 10.0) <= 1.5,
      s"Brownian posterior median $bMed d, reference MCMC median 10 d")
    assert(math.rint(hMed) == 11.0,
      s"Harmonic posterior median $hMed d, reference MCMC median 11 d")
  }

  test("the P/2 spot harmonic is a secondary peak (prior peak at 5.6 d)") {
    assume(new java.io.File(npyPath).exists(), "reference data not present")
    val pg = spectral.GlsAuto.glsAutogrid(spark, dir)
      .orderBy("k").collect()
      .map(r => (r.getDouble(2), r.getDouble(3))) // (freq_uhz, power)
    // the 5000-frequency cap engages on this baseline/cadence
    assert(pg.length == 5000, s"expected the MaxNf cap, got ${pg.length}")
    val peaks = (1 until pg.length - 1).filter(i =>
      pg(i)._2 > pg(i - 1)._2 && pg(i)._2 > pg(i + 1)._2)
      .map(i => (1e6 / pg(i)._1 / 86400.0, pg(i)._2)) // (period d, power)
      .sortBy(-_._2)
    val half = peaks.take(5).find(p => p._1 > 5.0 && p._1 < 6.2)
    assert(half.isDefined,
      s"no P/2 harmonic in the top peaks: ${peaks.take(5).map(_._1)}")
  }
}
