package graft

import graft.tsa.SeriesOps2
import org.scalatest.funsuite.AnyFunSuite

/** The `ceemdan_dump` hash gate demands FULL bit-equality, yet the
  * noise tier still evaluates libm ln/cos/sqrt on BOTH engines before
  * the 1e-6 rint quantization (tsa/CeemdanSql.scala): a JVM-vs-C 1-ulp
  * drift flips a noise cell only if a draw lands essentially ON a
  * rint half-even tie (scaled value at k + 0.5). That residual risk is
  * documented; this spec MONITORS it — for every Box-Muller draw the
  * gate corpora actually consume, assert the scaled value sits farther
  * than 1e-6 from the nearest .5 tie (≈1e-12 in value space against
  * the 5e-7 grid, >10³× any plausible cross-libm drift). A future
  * testdata refresh that mints a near-tie draw fails HERE, loudly,
  * instead of silently breaking the driver's hash gate.
  */
class CeemdanNoiseTieSpec extends AnyFunSuite with GraftSpark {

  // Same margin scale as the gate's documented risk analysis: ties
  // flip under ~1e-9 drift, so 1e-6 clearance is 3 orders of safety.
  private val MinTieDistance = 1e-6

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"no ceemdan noise draw sits within 1e-6 of a rint tie at $sf") {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(s"$dir/events.parquet").exists())
      // Draw enumeration only needs (id, subsampled length): mirror
      // ceemdanCore's stride subsample. The σ==0 and <16 filters only
      // SHRINK the consumed set, so scanning the superset is a
      // strictly stronger guard.
      val lens = Tables.series(spark, dir)
        .groupBy("id").count().collect()
        .map(r => (r.getLong(0), r.getLong(1).toInt))
      val inv = 1.0 / (1L << 60).toDouble
      var minDist = Double.MaxValue
      var worst = ""
      for ((id, len) <- lens) {
        val stride = math.max(1, len / 256)
        val n = (len - 1) / stride + 1
        for (r <- 0 until 10; i <- 0 until n) {
          val u1 = (SeriesOps2.h60Jvm(s"${id}_${r}_${i}_a").toDouble + 1.0) * inv
          val u2 = SeriesOps2.h60Jvm(s"${id}_${r}_${i}_b").toDouble * inv
          val g = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
          val scaled = g * 1e6
          val dist = math.abs(scaled - math.floor(scaled) - 0.5)
          if (dist < minDist) {
            minDist = dist
            worst = s"id=$id r=$r i=$i g=$g"
          }
        }
      }
      assert(minDist > MinTieDistance,
        s"noise draw within $minDist of a rint half-even tie ($worst): " +
          "the ceemdan_dump bit-equality gate is at risk on this corpus")
    }
  }
}
