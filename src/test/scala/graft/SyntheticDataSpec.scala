package graft

import org.scalatest.funsuite.AnyFunSuite

/** Recovery assertions over the generated reference-signal sources
  * (reference data/__init__.py) — each generator's defining structure
  * must be recoverable from the emitted table, mirroring what the
  * reference's own tests/demos key off. (The value-level gate is the
  * DuckDB hash compare; these pin the SEMANTICS.)
  */
class SyntheticDataSpec extends AnyFunSuite with GraftSpark {

  private def signal(df: org.apache.spark.sql.DataFrame): Array[Double] =
    df.orderBy("n").collect().map(_.getDouble(1))

  /** Periodogram |Y(f)|² at f = k/n cycles/sample, k = 1..n/2−1. */
  private def power(y: Array[Double]): Array[Double] = {
    val n = y.length
    val mean = y.sum / n
    Array.tabulate(n / 2 - 1) { k0 =>
      val f = (k0 + 1).toDouble / n
      var c = 0.0; var s = 0.0
      var i = 0
      while (i < n) {
        val w = 2.0 * math.Pi * f * i
        c += (y(i) - mean) * math.cos(w)
        s += (y(i) - mean) * math.sin(w)
        i += 1
      }
      c * c + s * s
    }
  }

  private def bandSum(p: Array[Double], n: Int, lo: Double, hi: Double): Double =
    p.indices.collect {
      case k if (k + 1).toDouble / n >= lo && (k + 1).toDouble / n <= hi =>
        p(k)
    }.sum

  test("syn_bpsk concentrates power in the carrier band (f_c = 0.05)") {
    val y = signal(sources.SyntheticData.synBpsk(spark, ""))
    assert(y.length == 1000)
    val p = power(y)
    val inBand = bandSum(p, y.length, 0.03, 0.07)
    val outBand = bandSum(p, y.length, 0.13, 0.17)
    val total = p.sum
    // BPSK PSD is sinc²-shaped around the carrier with main-lobe
    // half-width 1/t_bit = 0.1: the carrier band must dominate both an
    // equal-width out-of-band window and a meaningful share of total
    assert(inBand > 3.0 * outBand,
      s"carrier band $inBand not > 3× out-of-band $outBand")
    assert(inBand > 0.3 * total, s"carrier band holds ${inBand / total} of total")
  }

  test("syn_atoms_fm sweeps the FM band and carries the 5/16 atom") {
    val y = signal(sources.SyntheticData.synAtomsFm(spark, ""))
    assert(y.length == 2000)
    val p = power(y)
    val total = p.sum
    // FM sinusoid sweeps f ∈ [9/128, 3/32] = [0.0703, 0.0938]
    val fm = bandSum(p, y.length, 0.06, 0.105)
    assert(fm > 0.4 * total, s"FM band holds only ${fm / total} of total power")
    // Gaussian atom 1 rings at 5/16 = 0.3125 around n = 500
    val atom = bandSum(p, y.length, 0.30, 0.325)
    assert(atom > 0.01 * total, s"5/16 atom band holds ${atom / total}")
  }

  test("syn_duffing zero-crossing density rises with the chirp") {
    val y = signal(sources.SyntheticData.synDuffing(spark, ""))
    assert(y.length == 1024)
    def crossings(a: Array[Double]): Int =
      a.sliding(2).count(w => w(0).sign != w(1).sign && w(1) != 0.0)
    val first = crossings(y.slice(0, 341))
    val last = crossings(y.slice(683, 1024))
    // instantaneous frequency ≈ n/32768·(1 + 0.6·cos φ): the last third
    // must oscillate much faster than the first
    assert(last > 2 * first,
      s"crossings last third $last not > 2× first third $first")
  }
}
