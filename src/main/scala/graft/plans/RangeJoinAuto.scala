package graft.plans

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cost-based formulation dispatch for range (interval) joins.
  *
  * The library carries two physically different interval joins with
  * disjoint failure modes, measured head-to-head in SCALING.md
  * (round 14, and the sf0.1 re-measurement "One formulation per
  * join", where the sweep never beat a coarse bin on wall time):
  *
  *  - [[RangeJoin.binned]] — equi-join cost class, whole-stage
  *    codegen, and the bin axis doubles as time-axis salting for hot
  *    keys; but the reference side explodes onto width/bin + 1 shuffle
  *    rows, so a mis-tuned bin under heterogeneous widths multiplies
  *    shuffle bytes (38× measured at a median-tuned bin over
  *    [1 min, 7 d] widths).
  *  - [[RangeJoinNative]] — amplification-free sweep-line merge with
  *    memory ∝ concurrently-open intervals; but its key-only
  *    clustering serializes a hot key into one task, like any
  *    sort-merge join on a skewed key.
  *
  * Neither dominates: the right choice is a property of the WORKLOAD
  * (width heterogeneity × key skew), which is exactly the kind of
  * decision an engine should make from data, not the caller from
  * guesswork — warehouses expose this as range-join bin hints; here it
  * is one O(|ref|) statistics pass (width quantiles + max key
  * occupancy, both single aggregations over the smaller side) feeding
  * a three-way rule. The decision NEVER changes results — all three
  * formulations are row-set-identical (RangeJoinNativeSpec /
  * RangeJoinSpec cross-checks) — so the sampling pass's approximate
  * quantiles cannot perturb the hash gate, only the plan.
  */
object RangeJoinAuto {

  /** The chosen physical formulation, exposed for tests/EXPLAIN-style
    * introspection. */
  sealed trait Choice { def describe: String }
  case class BinnedAtWidth(bin: Double) extends Choice {
    def describe = f"binned(bin=$bin%.0f s = p50 width; near-uniform widths)"
  }
  case class BinnedCoarse(bin: Double) extends Choice {
    def describe = f"binned(bin=$bin%.0f s = p99 width; heterogeneous + hot key)"
  }
  case object NativeSweep extends Choice {
    def describe = "native sweep-line (heterogeneous widths, no hot key)"
  }

  /** Reference-side workload statistics (one aggregation each). */
  case class RefStats(p50Width: Double, p99Width: Double,
      maxKeyCount: Long, meanKeyCount: Double)

  /** Width heterogeneity above which a single bin = p50 width starts
    * to pay real amplification: explode factor is bounded by
    * p99/p50 + 1 on 99% of intervals, so 4 keeps the tail under ~5
    * rows/interval — the same order as the uniform case's 2. */
  val WidthRatioMax = 4.0
  /** A key is "hot" when its interval count is both far above the
    * mean (relative skew) and large in absolute terms (a 50-interval
    * key maxes out one task's work at microseconds — only absolute
    * occupancy serializes a task for long enough to matter). */
  val HotSkewRatio = 64.0
  val HotAbsFloor = 1000L

  /** The dispatch rule, pure so specs pin it directly. */
  def choose(s: RefStats): Choice = {
    val p50 = math.max(s.p50Width, 1e-9)
    if (s.p99Width / p50 <= WidthRatioMax) BinnedAtWidth(math.max(s.p50Width, 1.0))
    else if (s.maxKeyCount > HotAbsFloor &&
      s.maxKeyCount > HotSkewRatio * math.max(s.meanKeyCount, 1.0))
      BinnedCoarse(math.max(s.p99Width, 1.0))
    else NativeSweep
  }

  /** One pass over `ref` for width quantiles, one partial-aggregated
    * pass for key occupancy. At 100 TB the ref side of an interval
    * join is the (much) smaller side — campaign/session/window
    * inventories — and this is two scans of it before a join that
    * reads it at least once more; the alternative is a human guessing
    * the bin width per workload. */
  def refStats(ref: DataFrame, key: String, lo: String,
      hi: String): RefStats = {
    val w = ref.agg(
      percentile_approx(col(hi) - col(lo), array(lit(0.5), lit(0.99)),
        lit(10000)).as("q"))
      .select(col("q").getItem(0), col("q").getItem(1)).collect()(0)
    if (w.isNullAt(0)) RefStats(1.0, 1.0, 0L, 0.0) // empty ref: any form
    else {
      val k = ref.groupBy(col(key)).count()
        .agg(max("count"), avg("count")).collect()(0)
      RefStats(w.getDouble(0), w.getDouble(1), k.getLong(0), k.getDouble(1))
    }
  }

  /** Interval-containment join with engine-chosen physical form; same
    * surface and row set as [[RangeJoin.binned]] / [[RangeJoinNative.join]]. */
  def join(probe: DataFrame, ref: DataFrame, key: String, time: String,
      lo: String, hi: String, valueCols: Seq[String]): DataFrame = {
    val choice = choose(refStats(ref, key, lo, hi))
    probe.sparkSession.sparkContext.setJobDescription(
      s"range-join auto: ${choice.describe}")
    choice match {
      case BinnedAtWidth(bin) =>
        RangeJoin.binned(probe, ref, key, time, lo, hi, bin)
          .select((probe.columns ++ valueCols).map(col).toIndexedSeq: _*)
      case BinnedCoarse(bin) =>
        RangeJoin.binned(probe, ref, key, time, lo, hi, bin)
          .select((probe.columns ++ valueCols).map(col).toIndexedSeq: _*)
      case NativeSweep =>
        RangeJoinNative.join(probe, ref, key, time, lo, hi, valueCols)
    }
  }

  /** Gate twin of `events_window_join` through the dispatcher: the
    * uniform 30-min workload must route to BinnedAtWidth(1800) and
    * reproduce the same oracle rows as both fixed formulations. */
  def eventsWindowJoinAuto(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.series(spark, dir)
    val raw = Tables.table(spark, dir, "events")
    val purchases = raw
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("id"),
        col("event_id").as("peid"),
        Tables.tSeconds(raw).as("lo"))
      .withColumn("hi", col("lo") + lit(RangeJoin.WindowSecs))
    join(ev.select("id", "t", "y"), purchases, "id", "t", "lo", "hi",
        Seq("peid"))
      .groupBy("id", "peid")
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("y") * 100.0, 0).cast("long")).cast("double")
          / 100.0).as("sum_y"))
  }

  val queries: Seq[Query] = Seq(
    Query("events_window_join_auto", eventsWindowJoinAuto,
      RangeJoin.eventsWindowJoinSql))
}
