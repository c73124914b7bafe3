package graft

import graft.plans.RangeJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The binned range join must agree with the direct inequality-join
  * formulation (which Spark plans as a nested loop — correct but
  * unscalable) at any bin width, emit each (probe, interval) pair
  * once, and must itself plan as an equi-join. */
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

  /** (id, t, rid) rows of `df`, sorted: a multiset, so a pair emitted
    * twice (once per bin) shows up as a difference. */
  private def pairs(df: DataFrame): Seq[(Long, Double, Long)] = {
    import spark.implicits._
    df.select(col("id"), col("t"), col("rid"))
      .as[(Long, Double, Long)].collect().toSeq.sorted
  }

  test("overlap, nesting, inclusive hi, eviction and key bounds at any bin") {
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
    val want = Seq(
      (1L, 0.0, 101L),
      (1L, 5.0, 101L), (1L, 5.0, 102L),
      (1L, 6.5, 101L), (1L, 6.5, 102L), (1L, 6.5, 103L),
      (1L, 10.0, 101L), (1L, 10.0, 102L), // inclusive hi
      (1L, 12.0, 102L),
      (1L, 55.0, 104L), // 101-103 ended; 104 starts later
      (2L, 6.5, 201L)   // key 1's intervals must not leak to key 2
    ).sorted
    Seq(2.0, 100.0).foreach { bin =>
      val got = pairs(RangeJoin.binned(probe, ref, "id", "t", "lo", "hi", bin))
      assert(got == want, s"bin $bin: got $got")
    }
  }

  test("mixed 1 s / 10,000 s widths, with and without a hot key: every " +
    "bin equals the direct inequality join") {
    import spark.implicits._
    val ref = (1 to 200).map { i =>
      (i.toLong % 7, i.toLong, i * 100.0,
        i * 100.0 + (if (i % 2 == 0) 1.0 else 10000.0))
    }.toDF("id", "rid", "lo", "hi")
    val probe = (1 to 2000).map(i => (i.toLong % 7, i * 11.0)).toDF("id", "t")
    // one hot key owns every 5th interval (both widths) and every 2nd
    // probe point
    val hotRef = ref.union(
      ref.filter(col("rid") % 5 === 0).withColumn("id", lit(-1L)))
    val hotProbe = probe.union(
      probe.filter(col("t").cast("long") % 2 === 0).withColumn("id", lit(-1L)))
    Seq("uniform keys" -> (probe, ref), "hot key" -> (hotProbe, hotRef))
      .foreach { case (tag, (p, r)) =>
        val want = pairs(p.join(r.withColumnRenamed("id", "rkey"),
          col("id") === col("rkey") &&
            col("t") >= col("lo") && col("t") <= col("hi")))
        assert(want.nonEmpty, tag)
        Seq(1.0, 500.0, 10000.0).foreach { bin =>
          val got = pairs(RangeJoin.binned(p, r, "id", "t", "lo", "hi", bin))
          assert(got == want, s"$tag, bin $bin: ${got.size} vs ${want.size} pairs")
        }
      }
  }
}
