package graft

import org.scalatest.funsuite.AnyFunSuite

/** Canonical equality is what lets Spark's CacheManager substitute a
  * persisted instance of a heavy intermediate into every later subplan
  * that computes the same thing. That only works if two invocations
  * of the same operator build `sameResult` plans — which a capturing
  * lambda inside perSeries silently breaks (fresh closure instance per
  * call → different MapGroups.func → no substitution, and the "cached"
  * query recomputes from scratch). This spec pins the invariant. */
class PlanReuseSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def same(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)

  test("two ceemdan invocations are canonically equal plans") {
    assert(same(tsa.SeriesOps2.ceemdan(spark, dir),
      tsa.SeriesOps2.ceemdan(spark, dir)))
  }

  test("two emd_imfs invocations are canonically equal plans") {
    assert(same(tsa.SeriesOps.emdImfs(spark, dir),
      tsa.SeriesOps.emdImfs(spark, dir)))
  }

  test("persisted ceemdan is substituted into a later invocation") {
    val cached = tsa.SeriesOps2.ceemdan(spark, dir).persist()
    try {
      cached.count()
      val again = tsa.SeriesOps2.ceemdan(spark, dir)
      val planStr = again.queryExecution.executedPlan.toString
      assert(planStr.contains("InMemoryTableScan"),
        s"cache not substituted:\n$planStr")
    } finally cached.unpersist()
  }

  test("two acf_band_quality invocations are canonically equal plans") {
    assert(same(tsa.SeriesOps2.acfBandQuality(spark, dir),
      tsa.SeriesOps2.acfBandQuality(spark, dir)))
  }

  test("persisted acf_band_quality is substituted into gaussian_prior") {
    val cached = tsa.SeriesOps2.acfBandQuality(spark, dir).persist()
    try {
      cached.count()
      val prior = tsa.SeriesOps2.gaussianPrior(spark, dir)
      val planStr = prior.queryExecution.executedPlan.toString
      assert(planStr.contains("InMemoryTableScan"),
        s"cache not substituted:\n$planStr")
    } finally cached.unpersist()
  }

  test("two gp_harmonic_map invocations are canonically equal plans") {
    // would fail if gridMapFn's closure were rebuilt per invocation
    assert(same(tsa.GpOps.gpHarmonicMap(spark, dir),
      tsa.GpOps.gpHarmonicMap(spark, dir)))
  }

  test("persisted gp_harmonic_map is substituted into gp_predict") {
    val cached = tsa.GpOps.gpHarmonicMap(spark, dir).persist()
    try {
      cached.count()
      val pred = tsa.GpOps.gpPredict(spark, dir)
      val planStr = pred.queryExecution.executedPlan.toString
      assert(planStr.contains("InMemoryTableScan"),
        s"harmonic map cache not substituted into gp_predict:\n$planStr")
    } finally cached.unpersist()
  }

  test("two ivfRanked invocations are canonically equal plans") {
    assert(same(sim.Similarity.ivfRanked(spark, dir),
      sim.Similarity.ivfRanked(spark, dir)))
  }

  test("persisted ivfRanked is substituted into BOTH its consumers " +
    "inside ann_ivf_topk (cells + probes)") {
    // ann_ivf_topk derives two frames from the ranked quantizer; if
    // substitution fails the Lloyd chain runs TWICE per execution —
    // the round-11 bench regression (0.45 → 1.01 s)
    val cached = sim.Similarity.ivfRanked(spark, dir).persist()
    try {
      cached.count()
      val q = sim.Similarity.annIvfTopk(spark, dir)
      val planStr = q.queryExecution.executedPlan.toString
      val hits = "InMemoryTableScan".r.findAllIn(planStr).length
      assert(hits >= 2,
        s"expected >=2 InMemoryTableScan (cells + probes), got $hits:\n" +
          planStr.take(4000))
    } finally cached.unpersist()
  }
}
