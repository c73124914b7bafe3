package graft

import graft.plans.{AsOf, AsOfNative}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** The native Catalyst as-of join must agree row-for-row with the
  * compose-operator formulation (AsOf.join) — they also both check
  * against the DuckDB ASOF JOIN oracle via the driver — and its
  * physical plan must be the sort-merge shape: one exchange per side,
  * the custom exec present, no window or union. */
class AsOfNativeSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("native as-of equals the compose formulation") {
    val native = AsOfNative.eventsAsofNative(spark, dir)
    val compose = AsOf.eventsAsofPurchase(spark, dir)
    assert(native.columns.toSeq == compose.columns.toSeq)
    assert(native.count() == compose.count())
    assert(native.exceptAll(compose).count() == 0)
    assert(compose.exceptAll(native).count() == 0)
  }

  test("null carry: probe rows before any reference row get nulls") {
    import org.apache.spark.sql.functions._
    val native = AsOfNative.eventsAsofNative(spark, dir)
    val compose = AsOf.eventsAsofPurchase(spark, dir)
    assert(native.filter(col("asof_purchase_value").isNull).count() ==
      compose.filter(col("asof_purchase_value").isNull).count())
  }

  test("AsOfKeyPushdown pushes key predicates into both parquet scans") {
    import org.apache.spark.sql.functions._
    val native = AsOfNative.eventsAsofNative(spark, dir)
      .filter(col("id") === 3L)
    val compose = AsOf.eventsAsofPurchase(spark, dir)
      .filter(col("id") === 3L)
    assert(native.count() == compose.count())
    assert(native.exceptAll(compose).count() == 0)
    // the filter must reach the scans: both sides' PushedFilters carry
    // the user_id predicate (id aliases user_id below the as-of node)
    val planStr = native.queryExecution.executedPlan.toString
    val pushedScans = planStr.split("PushedFilters: ").drop(1)
      .count(_.takeWhile(_ != ']').contains("EqualTo(user_id,3)"))
    assert(pushedScans == 2,
      s"expected user_id pushdown in both scans:\n$planStr")
    // and no Filter may remain above the as-of exec
    def unwrapA(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val above = unwrapA(native.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.collectFirst { case e: AsOfNative.AsOfJoinExec => e }.isDefined
        => f
    }
    assert(above.isEmpty, s"residual filter above AsOfJoinExec:\n$planStr")
  }

  test("physical plan: AsOfJoinExec with one exchange per side") {
    val df = AsOfNative.eventsAsofNative(spark, dir)
    df.count() // finalize AQE so the executed plan is the real one
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val plan = unwrap(df.queryExecution.executedPlan)
    val execs = plan.collectWithSubqueries {
      case e: AsOfNative.AsOfJoinExec => e }
    assert(execs.nonEmpty, s"AsOfJoinExec missing from:\n$plan")
    // under the as-of exec: exactly one key hash-shuffle per side (the
    // RoundRobin exchanges are Tables.table's deliberate single-file
    // fan-out, not part of the join)
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val below = execs.head.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[HashPartitioning] => s }
    assert(below.size == 2, s"unexpected hash exchanges under AsOfJoinExec:\n$plan")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, "native path must not fall back to window carry")
  }
}
