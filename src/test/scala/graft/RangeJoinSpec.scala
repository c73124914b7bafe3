package graft

import graft.plans.RangeJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The binned range join must agree with the direct inequality-join
  * formulation (which Spark plans as a nested loop — correct but
  * unscalable) and must itself plan as an equi-join. */
class RangeJoinSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def bruteForce() = {
    val ev = Tables.series(spark, dir).select("id", "t", "y")
    val raw = Tables.table(spark, dir, "events")
    val p = raw
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("pid"), col("event_id").as("peid"),
        Tables.tSeconds(raw).as("lo"))
      .withColumn("hi", col("lo") + lit(RangeJoin.WindowSecs))
    ev.join(p, col("id") === col("pid") &&
        col("t") >= col("lo") && col("t") <= col("hi"))
      .groupBy(col("id"), col("peid"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("y") * 100.0, 0).cast("long")).cast("double")
          / 100.0).as("sum_y"))
  }

  test("binned range join equals the nested-loop formulation") {
    val binned = RangeJoin.eventsWindowJoin(spark, dir)
    val brute = bruteForce()
    assert(binned.count() == brute.count())
    assert(binned.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(binned).count() == 0)
  }

  test("binned plan contains no nested-loop or cartesian join") {
    val plan = RangeJoin.eventsWindowJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("every window is non-empty and contains its own purchase") {
    val bad = RangeJoin.eventsWindowJoin(spark, dir)
      .filter(col("n_events") < 1).count()
    assert(bad == 0)
  }
}
