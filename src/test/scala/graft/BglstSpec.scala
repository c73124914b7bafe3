package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BGLST semantic recovery: on a series with a strong secular trend
  * plus a sinusoid, the trend-aware Bayesian periodogram must recover
  * the injected period and the injected slope, while plain GLS (no
  * trend term in its model) is confounded toward the longest grid
  * periods — the published motivation for BGLST (Olspert et al. 2018).
  */
class BglstSpec extends AnyFunSuite with GraftSpark {

  private val T0 = 1.704067200e9 // 2024-01-01
  private val P = 432000.0       // 5 d — exactly grid k = 6 (30 d / 5 d)
  private val Slope = 10.0       // y-units per day
  private val Amp = 10.0

  /** 40 days hourly: sine ⊕ strong linear trend (total drift 400 =
    * 40× the amplitude), plus a trendless control of the same sine. */
  private lazy val synDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bglst").toString
    val rows = for {
      (uid, gen) <- Seq(
        (1L, (t: Double) => 100.0 + Amp * math.sin(2 * math.Pi * t / P) +
          Slope * (t - T0) / 86400.0),
        (2L, (t: Double) => 100.0 + Amp * math.sin(2 * math.Pi * t / P)))
      k <- 0 until 960
      t = T0 + k * 3600.0
    } yield (uid * 10000 + k, (t * 1e9).toLong, uid, "tick", gen(t), "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    val f = new java.io.File(s"$dir/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("bglst_best recovers the injected period UNDER the trend " +
    "and the injected slope itself") {
    val best = spectral.Bglst.bglstBest(spark, synDir)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    val (p1, s1) = best(1L)
    assert(p1 == P, s"trended series: expected period $P, got $p1")
    assert(math.abs(s1 - Slope) < 0.05,
      s"expected fitted trend ≈ $Slope /day, got $s1")
    val (p2, s2) = best(2L)
    assert(p2 == P, s"control series: expected period $P, got $p2")
    assert(math.abs(s2) < 0.05,
      s"control series has no trend, got slope $s2")
  }

  test("plain GLS is confounded by the trend that BGLST absorbs") {
    // same data through the no-trend model: the 80-unit drift swamps
    // the 10-unit sine, so raw GLS power concentrates at the longest
    // grid periods instead of 5 d — the defect BGLST exists to fix.
    val glsTop = spectral.Gls.glsPeriodogram(spark, synDir)
      .filter(col("id") === 1L)
      .orderBy(col("power").desc, col("k").asc)
      .select("k").limit(1).collect()(0).getLong(0)
    assert(glsTop < 6L,
      s"expected trend-dominated GLS argmax below k=6 (5 d), got k=$glsTop")
    // and BGLST's per-frequency posterior puts the k=6 line at the top
    val bgTop = spectral.Bglst.bglstPeriodogram(spark, synDir)
      .filter(col("id") === 1L && col("logp") === 0.0)
      .select("k").collect().map(_.getLong(0))
    assert(bgTop.sameElements(Array(6L)),
      s"expected unique BGLST maximum at k=6, got ${bgTop.mkString(",")}")
  }
}
