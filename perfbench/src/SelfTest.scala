package graft.perfbench

import java.util.Locale

/** Checks of the benchmark's own arithmetic and output formatting; run
  * by `perfbench/selftest.py`. Prints one line per check and exits
  * non-zero on any failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var failures = 0
    def check(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    import Harness.{json, median, num, percentile, tailPercentile}

    // tail rule: the highest of {99,95,90,75,50} leaving >= 10 samples above
    Seq(10 -> 100, 19 -> 100, 20 -> 50, 39 -> 50, 40 -> 75, 99 -> 75,
      100 -> 90, 199 -> 90, 200 -> 95, 999 -> 95, 1000 -> 99).foreach {
      case (n, p) => check(s"tailPercentile($n) == $p", tailPercentile(n) == p)
    }
    val xs = (1 to 40).map(_.toDouble)
    check("nearest-rank p75 of 1..40 is 30 (10 samples above)",
      percentile(xs, 75) == 30.0 && xs.count(_ > 30.0) == 10)
    check("nearest-rank p50 of 1..40 is 20", percentile(xs, 50) == 20.0)
    check("p100 is the maximum", percentile(xs.reverse, 100) == 40.0)
    check("median of an even sample averages the middle pair",
      median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // number formatting must not follow the default locale
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      check("String.format under de_DE would write a comma",
        String.format("%.3f", Double.box(1.5)) == "1,500")
      check("num(1234.5678) == 1234.5678 under de_DE", num(1234.5678) == "1234.5678")
      check("num(0.000123) keeps its digits under de_DE", num(0.000123) == "0.000123")
      check("num(2.0) == 2", num(2.0) == "2")
      check("num(1e-12) is a JSON exponent", num(1e-12) == "1e-12")
      check("json escapes quotes and control characters",
        json(Seq("a" -> "x\"y\nz")) == "{\"a\":\"x\\\"y\\u000az\"}")
      check("json writes doubles with '.' under de_DE",
        json(Seq("v" -> 0.25, "w" -> Seq(1.5, 2.0))) == "{\"v\":0.25,\"w\":[1.5,2]}")
    } finally Locale.setDefault(saved)

    check("covered() merges overlapping job intervals",
      LayerMetrics.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 25L) == 20L)

    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("all checks passed")
  }
}
