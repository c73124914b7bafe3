package graft

import graft.plans.AsOf
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed as-of join (union + IGNORE NULLS window carry) must
  * match a direct Scala as-of lookup, let a key predicate reach both
  * parquet scans, and plan as one key exchange and one sort feeding
  * one window carry. */
class AsOfSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("as-of rows equal a direct latest-reference lookup") {
    import spark.implicits._
    val refRows = Seq(
      (1L, 10.0, 100.0), (1L, 20.0, 200.0), (1L, 30.0, 300.0),
      (2L, 12.0, 500.0))
    val probeRows = Seq(
      (1L, 5.0, 1L),  // before key 1's first reference: nulls
      (1L, 10.0, 2L), // reference at the same t matches
      (1L, 25.0, 3L), // 20 wins over 10: the latest reference
      (1L, 40.0, 4L),
      (2L, 11.0, 5L), // key 1's t=10 reference must not leak here
      (2L, 15.0, 6L),
      (3L, 50.0, 7L)) // a key with no references at all
    val got = AsOf.join(probeRows.toDF("id", "t", "pid"),
        refRows.toDF("id", "t", "v"), "id", "t", Seq("v"))
      .select("pid", "asof_t", "asof_v")
      .as[(Long, Option[Double], Option[Double])]
      .collect().sortBy(_._1).toSeq
    val want = probeRows.map { case (id, t, pid) =>
      val hit = refRows.filter(r => r._1 == id && r._2 <= t).maxByOption(_._2)
      (pid, hit.map(_._2), hit.map(_._3))
    }
    assert(got == want)
  }

  test("a key predicate above the as-of join reaches both parquet scans") {
    val planStr = AsOf.eventsAsofPurchase(spark, dir)
      .filter(col("id") === 3L)
      .queryExecution.executedPlan.toString
    val pushedScans = planStr.split("PushedFilters: ").drop(1)
      .count(_.takeWhile(_ != ']').contains("EqualTo(user_id,3)"))
    assert(pushedScans == 2,
      s"expected user_id pushdown in both scans:\n$planStr")
  }

  test("physical plan: one key exchange and one sort feeding the " +
    "window carry, no join and no generate") {
    val df = AsOf.eventsAsofPurchase(spark, dir)
    df.count() // finalize AQE so the executed plan is the real one
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // ONE Window carries asof_t and every value column
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size == 1, s"expected one window carry:\n$plan")
    windows.foreach { w =>
      assert(w.partitionSpec.flatMap(_.references.map(_.name)) == Seq("id"),
        s"window must partition by the key only:\n$plan")
    }
    assert(plan.collect { case s: SortExec => s }.size == 1,
      s"expected one sort:\n$plan")
    // the round-robin exchanges are Tables.table's single-file fan-out,
    // not part of the join
    def hashExchanges(p: SparkPlan) =
      p.collect { case s: ShuffleExchangeExec => s.outputPartitioning }
        .collect { case h: HashPartitioning => h }
    val all = hashExchanges(plan)
    assert(all.size == 1, s"expected one hash exchange:\n$plan")
    assert(hashExchanges(windows.last).size == 1,
      s"the hash exchange must feed the window:\n$plan")
    assert(all.head.references.map(_.name).toSeq == Seq("id"),
      s"the exchange must be keyed on id:\n$plan")
    val bad = plan.collect {
      case j: BaseJoinExec => j
      case g: GenerateExec => g
    }
    assert(bad.isEmpty, s"unexpected join or generate:\n$plan")
  }
}
