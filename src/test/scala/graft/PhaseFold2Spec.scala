package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic recovery for the reference's ROADMAP periodograms
  * (phase.py:11-15 TODOs — AOV, conditional entropy, Gregory-Loredo):
  * each must recover an injected period from structure the method is
  * designed for — magnitude variance across phase bins (AOV), phase-
  * conditional magnitude concentration (CE), and periodic clustering
  * of the event TIMES themselves (GL, whose native domain is event
  * arrivals, not magnitudes).
  */
class PhaseFold2Spec extends AnyFunSuite with GraftSpark {

  private val T0 = 1.704067200e9 // 2024-01-01
  private val P = 172800.0       // 2 d — exactly grid j = 8 (6 h · 8)

  /** user 1: 2 d sinusoid sampled 30 d every 2 h (AOV / CE target);
    * user 2: events CLUSTERED in the first fifth of each 2 d cycle at
    * jittered off-grid times — uniform magnitudes, periodic ARRIVALS
    * (the GL target; AOV/CE read magnitudes, GL reads times).
    */
  private lazy val synDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pf2").toString
    val sine = for {
      k <- 0 until 360
      t = T0 + k * 7200.0
    } yield (10000L + k, (t * 1e9).toLong, 1L, "tick",
      10.0 + 3.0 * math.sin(2 * math.Pi * t / P), "{}")
    // 5 arrivals per 2 d cycle, jittered OFF the sampling grid into
    // the first fifth of the cycle — on-grid times would (correctly)
    // alias to the grid period itself, see the gl_best test below
    val rng = new scala.util.Random(7)
    val clustered = for {
      cyc <- 0 until 15
      e <- 0 until 5
      t = T0 + cyc * P + rng.nextDouble() * (0.2 * P)
    } yield (20000L + cyc * 5 + e, (t * 1e9).toLong, 2L, "tick", 1.0, "{}")
    (sine ++ clustered)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    val f = new java.io.File(s"$dir/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("aov_best recovers the injected 2 d period (ANOVA peak)") {
    val best = spectral.PhaseFold2.aovBest(spark, synDir)
      .filter(col("id") === 1L).collect()(0)
    assert(best.getDouble(1) == P,
      s"expected AOV argmax at $P, got ${best.getDouble(1)}")
  }

  test("ce_best recovers the injected 2 d period (entropy minimum)") {
    val best = spectral.PhaseFold2.ceBest(spark, synDir)
      .filter(col("id") === 1L).collect()(0)
    assert(best.getDouble(1) == P,
      s"expected CE argmin at $P, got ${best.getDouble(1)}")
  }

  test("gl_best reads ARRIVAL structure: cycle-clustered times score " +
    "their cycle, grid-sampled times score the grid") {
    val g = spectral.PhaseFold2.glBest(spark, synDir)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    val (p2, odds2) = g(2L)
    assert(p2 == P,
      s"expected GL argmax at $P for clustered arrivals, got $p2")
    assert(odds2 > 10.0,
      s"expected decisive ln-odds for clustered arrivals, got $odds2")
    // user 1's magnitudes carry the 2 d sine but its TIMES are a
    // uniform 2 h grid — itself a maximally periodic arrival process.
    // GL (correctly) ignores magnitudes and locks onto the shortest
    // commensurate fold: the 6 h trial period holds exactly 3 samples
    // per cycle, collapsing all 360 arrivals onto 3 phases.
    val (p1, odds1) = g(1L)
    assert(p1 == 21600.0,
      s"expected grid-commensurate GL argmax at 6 h, got $p1")
    assert(odds1 > odds2,
      s"a perfect grid is MORE periodic than a loose cluster " +
        s"($odds1 vs $odds2)")
  }

  test("periodograms cover the full 60-period grid per series") {
    assert(spectral.PhaseFold2.aovPeriodogram(spark, synDir)
      .filter(col("id") === 1L).count() == 60)
    assert(spectral.PhaseFold2.cePeriodogram(spark, synDir)
      .filter(col("id") === 1L).count() == 60)
    assert(spectral.PhaseFold2.glOdds(spark, synDir)
      .filter(col("id") === 1L).count() == 60)
  }
}
