package graft

import graft.plans.{AsOfKeyPushdown, AsOfNative, RangeJoinNative}
import org.apache.spark.sql.catalyst.optimizer.PushDownPredicates
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Session` owns the engine's session requirements: `setup` is
  * idempotent, the native joins register graft's strategies on a
  * session nobody set up (a caller-owned one), and the spec session
  * carries every `Session.conf` value. */
class SessionSpec extends AnyFunSuite with GraftSpark {

  test("setup twice registers each strategy and rule exactly once") {
    val s = spark.newSession()
    Session.setup(s)
    Session.setup(s)
    val ex = s.experimental
    Seq(AsOfNative.AsOfJoinStrategy, RangeJoinNative.RangeJoinStrategy)
      .foreach(st => assert(ex.extraStrategies.count(_ == st) == 1, st))
    Seq(AsOfKeyPushdown, PushDownPredicates)
      .foreach(r => assert(ex.extraOptimizations.count(_ == r) == 1, r))
  }

  test("native joins plan their execs on sessions that never saw setup") {
    // one fresh session per join: either join's setup would register
    // the other's strategy too
    def frames() = {
      val s = spark.newSession()
      assert(s.experimental.extraStrategies.isEmpty)
      (s.createDataFrame(Seq((1L, 10.0), (1L, 20.0), (2L, 10.0)))
        .toDF("id", "t"),
        s.createDataFrame(Seq((1L, 5.0, 15.0, 7.0))).toDF("id", "lo", "hi", "v"))
    }
    val (probe, ref) = frames()
    val asof = AsOfNative.join(probe, ref.withColumnRenamed("lo", "t"),
      "id", "t", Seq("v"))
    assert(asof.queryExecution.sparkPlan
      .collect { case e: AsOfNative.AsOfJoinExec => e }.size == 1)
    assert(asof.filter(col("asof_v") === 7.0).count() == 2)
    val (probe2, ref2) = frames()
    val range = RangeJoinNative.join(probe2, ref2, "id", "t", "lo", "hi",
      Seq("v"))
    assert(range.queryExecution.sparkPlan
      .collect { case e: RangeJoinNative.RangeJoinExec => e }.size == 1)
    assert(range.count() == 1)
  }

  test("the spec session carries every Session.conf value") {
    Session.conf.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
