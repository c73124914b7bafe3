package graft.plans

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binned range (interval) join. Spark plans an inequality-only join
  * condition as a broadcast-nested-loop or cartesian product — O(n·m)
  * per key and a non-starter at 100 TB. The standard scale-out
  * formulation (used by every warehouse's range-join optimization, and
  * published as the "binned overlap join" pattern): quantize the range
  * dimension into fixed-width bins, explode each interval onto the
  * bins it covers, equi-join probe points to intervals on
  * (key, bin), and re-check the exact predicate as a residual filter.
  *
  * Cost model: shuffle both sides on (key, bin) — same cost class as
  * any equi-join — and per-task work proportional to bin occupancy,
  * not key-group size², so a hot key no longer implies a quadratic
  * task. Each probe row lands in exactly ONE bin, so a (probe,
  * interval) pair meets at most once and no dedup pass is needed.
  *
  * Choosing `bin` (measured at sf0.1 on 4 cores, SCALING.md
  * "One formulation per join"). Intervals explode onto width/bin + 1
  * bins, the only row inflation:
  *  - uniform widths: bin = width, exactly 2 rows per interval (the
  *    `events_window_join` gate);
  *  - mixed widths: bin at or above the p99 width. Over widths
  *    log-uniform in [1 min, 7 d], bin = 1 d or 7 d explodes 1.1–1.8×
  *    and ran in 0.28–0.32 s, while bin = 30 min (≈ the median width)
  *    explodes 38× and ran in 0.93–0.99 s. The native sweep
  *    ([[RangeJoinNative]]) took 0.27–0.47 s;
  *  - a hot key: still a coarse bin (0.40–0.59 s against the sweep's
  *    0.84–0.97 s). Binning salts the key along time, so its output
  *    splits across its (key, bin) cells instead of one task.
  * A coarse bin's risk is occupancy: when many intervals AND probes
  * share one (key, bin) cell, the residual filter's work is their
  * product, in one task.
  */
object RangeJoin {

  /** Join `probe` rows (point `time`) to `ref` rows (interval
    * [`lo`, `hi`], inclusive) sharing `key`. Output: all probe columns
    * plus `ref`'s non-key columns, one row per (probe, containing
    * interval). */
  def binned(probe: DataFrame, ref: DataFrame, key: String, time: String,
      lo: String, hi: String, bin: Double): DataFrame = {
    require(bin > 0, "bin width must be positive")
    val pb = probe.withColumn("_pbin", floor(col(time) / bin))
    val rb = ref.withColumn("_rbin",
      explode(sequence(floor(col(lo) / bin), floor(col(hi) / bin))))
    pb.join(rb,
        pb(key) === rb(key) && pb("_pbin") === rb("_rbin") &&
          pb(time) >= rb(lo) && pb(time) <= rb(hi))
      .drop(rb(key)).drop("_pbin", "_rbin")
  }

  /** Query: per-purchase 30-minute attribution window — for every
    * purchase, how many events (and how much total signal) the same
    * user produced in [t, t+1800]. The purchase row itself is an event
    * at the window start, so every window is non-empty and the inner
    * join is deterministic. */
  val WindowSecs = 1800.0

  def eventsWindowJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.series(spark, dir)
    val raw = Tables.table(spark, dir, "events")
    val purchases = raw
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("id"),
        col("event_id").as("peid"),
        Tables.tSeconds(raw).as("lo"))
      .withColumn("hi", col("lo") + lit(WindowSecs))
    binned(ev.select("id", "t", "y"), purchases, "id", "t", "lo", "hi",
        bin = WindowSecs)
      .groupBy("id", "peid")
      .agg(count(lit(1)).as("n_events"),
        // y is exact cents: integer-cent sums are order-independent
        // and bit-identical in both engines (no rounding needed)
        (sum(round(col("y") * 100.0, 0).cast("long")).cast("double")
          / 100.0).as("sum_y"))
  }

  val eventsWindowJoinSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |p AS (SELECT user_id AS id, event_id AS peid,
       |  cast(epoch_us(ts) AS double)/1000000.0 AS lo
       |  FROM events WHERE event_type = 'purchase')
       |SELECT p.id, p.peid, count(*) AS n_events,
       |  cast(sum(cast(round(s.y*100.0) AS BIGINT)) AS double)/100.0
       |    AS sum_y
       |FROM p JOIN s ON s.id = p.id
       |  AND s.t >= p.lo AND s.t <= p.lo + $WindowSecs
       |GROUP BY 1, 2""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("events_window_join", eventsWindowJoin, eventsWindowJoinSql))
}
