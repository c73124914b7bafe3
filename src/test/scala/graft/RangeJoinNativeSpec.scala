package graft

import graft.plans.{RangeJoin, RangeJoinNative}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The native sweep-line range join must agree row-for-row with the
  * binned compose formulation (RangeJoin.binned) — both also check
  * against the DuckDB inequality-join oracle via the driver — and its
  * physical plan must be the sort-merge shape: one hash exchange per
  * side, the custom exec present, no bin explode, no nested-loop or
  * cartesian fallback. */
class RangeJoinNativeSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("native range join equals the binned formulation on the corpus") {
    val native = RangeJoinNative.eventsWindowJoinNative(spark, dir)
    val binned = RangeJoin.eventsWindowJoin(spark, dir)
    assert(native.columns.toSeq == binned.columns.toSeq)
    assert(native.count() == binned.count())
    assert(native.exceptAll(binned).count() == 0)
    assert(binned.exceptAll(native).count() == 0)
    assert(native.count() > 0, "degenerate corpus: no windows matched")
  }

  test("sweep-line semantics: overlap, nesting, eviction, key bounds") {
    import spark.implicits._
    // intervals per key: overlapping, nested, disjoint, and an
    // interval whose twin key must NOT leak across the key boundary
    val ref = Seq(
      (1L, 101L, 0.0, 10.0),   // contains t=0..10
      (1L, 102L, 5.0, 15.0),   // overlaps 101 on [5,10]
      (1L, 103L, 6.0, 7.0),    // nested inside both
      (1L, 104L, 50.0, 60.0),  // disjoint, later
      (2L, 201L, 0.0, 10.0)    // other key, same span as 101
    ).toDF("id", "rid", "lo", "hi")
    val probe = Seq(
      (1L, 0.0), (1L, 5.0), (1L, 6.5), (1L, 10.0), (1L, 12.0),
      (1L, 20.0), (1L, 55.0), (2L, 6.5), (3L, 6.5)
    ).toDF("id", "t")
    val got = RangeJoinNative.join(probe, ref, "id", "t", "lo", "hi",
        Seq("rid"))
      .select("id", "t", "rid").as[(Long, Double, Long)]
      .collect().toSet
    val want = Set(
      (1L, 0.0, 101L),
      (1L, 5.0, 101L), (1L, 5.0, 102L),
      (1L, 6.5, 101L), (1L, 6.5, 102L), (1L, 6.5, 103L),
      (1L, 10.0, 101L), (1L, 10.0, 102L), // inclusive hi
      (1L, 12.0, 102L),
      (1L, 55.0, 104L), // 101-103 evicted; 104 admitted later
      (2L, 6.5, 201L))  // key 1's intervals must not leak to key 2
    assert(got == want,
      s"missing: ${want.diff(got)}; extra: ${got.diff(want)}")
  }

  test("physical plan: RangeJoinExec, one hash exchange per side, " +
    "no explode and no nested-loop fallback") {
    val df = RangeJoinNative.eventsWindowJoinNative(spark, dir)
    df.count() // finalize AQE so the executed plan is the real one
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val plan = unwrap(df.queryExecution.executedPlan)
    val execs = plan.collectWithSubqueries {
      case e: RangeJoinNative.RangeJoinExec => e }
    assert(execs.nonEmpty, s"RangeJoinExec missing from:\n$plan")
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val below = execs.head.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[HashPartitioning] => s }
    assert(below.size == 2,
      s"unexpected hash exchanges under RangeJoinExec:\n$plan")
    val planStr = plan.toString
    assert(!planStr.contains("Generate explode"),
      s"native path must not fall back to the bin explode:\n$planStr")
    assert(!planStr.contains("BroadcastNestedLoopJoin") &&
      !planStr.contains("CartesianProduct"),
      s"native path must not fall back to a product join:\n$planStr")
  }
}
