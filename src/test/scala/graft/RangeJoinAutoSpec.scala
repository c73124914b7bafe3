package graft

import graft.plans.{RangeJoin, RangeJoinAuto, RangeJoinNative}
import graft.plans.RangeJoinAuto.{BinnedAtWidth, BinnedCoarse, NativeSweep, RefStats}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The dispatcher must (a) route each measured workload shape
  * (SCALING.md round 14, `graft.RangeStress`) to the formulation that
  * survives it at scale, and (b) never change the row set — the
  * choice is a physical-plan property only. */
class RangeJoinAutoSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("dispatch rule: uniform widths -> binned at p50") {
    val c = RangeJoinAuto.choose(RefStats(1800.0, 1800.0, 40L, 10.0))
    assert(c == BinnedAtWidth(1800.0))
    // ratio just under the knee stays binned even with mild spread
    assert(RangeJoinAuto.choose(RefStats(600.0, 2300.0, 40L, 10.0)) ==
      BinnedAtWidth(600.0))
  }

  test("dispatch rule: heterogeneous widths, no hot key -> native") {
    val c = RangeJoinAuto.choose(RefStats(6000.0, 500000.0, 40L, 10.0))
    assert(c == NativeSweep)
    // relative skew without absolute occupancy is NOT hot: 640 >> 64x
    // mean but a 640-interval key is microseconds of task work
    assert(RangeJoinAuto.choose(RefStats(6000.0, 500000.0, 640L, 10.0))
      == NativeSweep)
  }

  test("dispatch rule: heterogeneous widths + hot key -> coarse bin " +
    "(binning doubles as time-axis salting)") {
    val c = RangeJoinAuto.choose(RefStats(6000.0, 500000.0, 2001L, 10.0))
    assert(c == BinnedCoarse(500000.0))
    // hot only in absolute terms but not vs the mean (uniformly dense
    // keys): stays native — no single task is an outlier
    assert(RangeJoinAuto.choose(
      RefStats(6000.0, 500000.0, 2001L, 1500.0)) == NativeSweep)
  }

  test("measured refStats on the corpus routes the uniform 30-min " +
    "workload to binned at the window width") {
    val raw = Tables.table(spark, dir, "events")
    val purchases = raw.filter(col("event_type") === "purchase")
      .select(col("user_id").as("id"), col("event_id").as("peid"),
        Tables.tSeconds(raw).as("lo"))
      .withColumn("hi", col("lo") + lit(RangeJoin.WindowSecs))
    val s = RangeJoinAuto.refStats(purchases, "id", "lo", "hi")
    assert(RangeJoinAuto.choose(s) == BinnedAtWidth(RangeJoin.WindowSecs))
  }

  test("the choice never changes the row set: auto == binned == native " +
    "on the gate workload") {
    val auto = RangeJoinAuto.eventsWindowJoinAuto(spark, dir)
    val fixedB = RangeJoin.eventsWindowJoin(spark, dir)
    val fixedN = RangeJoinNative.eventsWindowJoinNative(spark, dir)
    assert(auto.columns.toSeq == fixedB.columns.toSeq)
    assert(auto.count() == fixedB.count() && auto.count() > 0)
    assert(auto.exceptAll(fixedB).count() == 0)
    assert(fixedB.exceptAll(auto).count() == 0)
    assert(auto.exceptAll(fixedN).count() == 0)
  }

  test("heterogeneous synthetic workload dispatches to native and " +
    "matches the binned row set anyway") {
    import spark.implicits._
    // widths alternate 1 s / 10 000 s -> p99/p50 far past the knee
    val ref = (1 to 200).map { i =>
      (i.toLong % 7, i.toLong, i * 100.0,
        i * 100.0 + (if (i % 2 == 0) 1.0 else 10000.0))
    }.toDF("id", "rid", "lo", "hi")
    val probe = (1 to 2000).map { i =>
      (i.toLong % 7, i * 11.0)
    }.toDF("id", "t")
    val s = RangeJoinAuto.refStats(ref, "id", "lo", "hi")
    assert(RangeJoinAuto.choose(s) == NativeSweep, s"stats were $s")
    val auto = RangeJoinAuto.join(probe, ref, "id", "t", "lo", "hi",
      Seq("rid"))
    val binned = RangeJoin.binned(probe, ref, "id", "t", "lo", "hi", 500.0)
      .select("id", "t", "rid")
    assert(auto.count() == binned.count())
    assert(auto.exceptAll(binned).count() == 0)
    assert(binned.exceptAll(auto).count() == 0)
  }
}
