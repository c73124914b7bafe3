package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Supersmoother semantic recovery (spectral.py:8 roadmap — Friedman
  * 1984): on a noisy sine the variable-span smooth must cut the MSE
  * against the clean signal well below the raw noise, and the span
  * selector must favour wide spans on the smooth series but tighten
  * on a series with a sharp local feature.
  */
class SupersmoothSpec extends AnyFunSuite with GraftSpark {

  private val T0 = 1.704067200e9
  private val P = 1728000.0 // 20 d — slow against the 2 h sampling

  private def clean(t: Double): Double =
    10.0 + 3.0 * math.sin(2 * math.Pi * t / P)

  private lazy val synDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ssm").toString
    val rng = new scala.util.Random(3)
    val noise = Array.fill(360)(rng.nextGaussian() * 0.8)
    val rows = (for {
      k <- 0 until 360
      t = T0 + k * 7200.0
    } yield (1000L + k, (t * 1e9).toLong, 1L, "tick",
      clean(t) + noise(k), "{}")) ++
      // user 2: flat line with a single sharp step at k = 180 — the
      // woofer span smears a step, so the CV selector must switch to
      // a narrower span in the step's neighbourhood
      (for {
        k <- 0 until 360
        t = T0 + k * 7200.0
      } yield (2000L + k, (t * 1e9).toLong, 2L, "tick",
        (if (k >= 180) 20.0 else 0.0) + noise((k + 180) % 360) * 0.1, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    val f = new java.io.File(s"$dir/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("noisy sine: supersmooth MSE vs truth ≪ raw noise MSE") {
    val out = tsa.Supersmooth.tsSupersmooth(spark, synDir)
      .filter(col("id") === 1L)
      .select("tc", "yhat").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(out.length == 360)
    val mseS = out.map { case (tc, yh) =>
      math.pow(yh - clean(T0 + tc), 2) }.sum / out.length
    // raw noise variance is 0.8² = 0.64; the smooth must beat 0.1
    assert(mseS < 0.1, s"supersmooth MSE $mseS not < 0.1")
  }

  test("span selector: wide spans on the smooth sine, narrow near " +
    "the step discontinuity") {
    val spans = tsa.Supersmooth.tsSupersmooth(spark, synDir)
      .groupBy("id", "span").count()
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap.withDefaultValue(0L)
    // sine: woofer (23) must be the modal choice, tweeter the rarest
    assert(spans((1L, 23)) > spans((1L, 11)) &&
      spans((1L, 11)) > spans((1L, 5)),
      s"expected span usage 23 > 11 > 5 on the smooth sine, got $spans")
    // the step series must use the tweeter somewhere near the jump
    assert(spans((2L, 5)) > 0,
      s"expected tweeter picks near the step, got $spans")
  }
}
