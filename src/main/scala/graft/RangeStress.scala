package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Heterogeneous-interval stress for the two range-join formulations
  * (diagnostics main — not a gate query).
  *
  * The gate workload (`events_window_join*`) has UNIFORM 30-min
  * windows, so the binned form runs at its best case: bin = width,
  * amplification exactly 2 rows/interval. Real attribution/campaign
  * workloads carry mixed widths (minutes → days), and then no single
  * bin width is right: bin ≈ median width explodes the wide tail onto
  * width/bin + 1 bins (shuffle amplification), bin ≈ max width makes
  * every probe residual-scan all intervals sharing its giant bin
  * (occupancy amplification). The sweep-line native operator
  * ([[plans.RangeJoinNative]]) has neither knob: one exchange per
  * side, memory ∝ concurrently-open intervals per key.
  *
  * This main derives a mixed-width interval set from the sf events
  * table — per-purchase width log-uniform in [60 s, maxW], maxW
  * default 7 days, deterministic from event_id via xxhash64 — and
  * times binned (bin = 30 min / 1 day / maxW) vs native on the same
  * aggregate-only sink, cross-checking that all formulations return
  * identical aggregates.
  *
  * `runMain graft.RangeStress [maxWidthSecs]`
  */
object RangeStress {

  /** xxhash64 → uniform double in [0, 1), deterministic per event id
    * (wrap-around multiply is off-limits under ANSI mode, so the
    * codegen'd built-in mixer stands in for splitmix64). */
  private def frac(c: org.apache.spark.sql.Column) =
    shiftrightunsigned(xxhash64(c), 11).cast("double") /
      lit((1L << 53).toDouble)

  def main(args: Array[String]): Unit = {
    val maxW = if (args.nonEmpty) args(0).toDouble else 604800.0
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val probe = Tables.series(spark, sfDir).select("id", "t", "y")
      .persist()
    val raw = Tables.table(spark, sfDir, "events")
    val lnLo = math.log(60.0)
    val lnHi = math.log(maxW)
    val ref = raw.filter(col("event_type") === "purchase")
      .select(col("user_id").as("id"), col("event_id").as("peid"),
        Tables.tSeconds(raw).as("lo"))
      .withColumn("hi", col("lo") +
        exp(lit(lnLo) + frac(col("peid")) * lit(lnHi - lnLo)))
      .persist()
    val nProbe = probe.count()
    val nRef = ref.count()
    println(s"== probe rows $nProbe, intervals $nRef, widths " +
      s"log-uniform [60 s, $maxW s] ==")

    // the shared aggregate-only sink: output cost identical across
    // formulations, so timing differences are join-strategy cost
    def sink(j: DataFrame): (Long, Long) = {
      val r = j.agg(count(lit(1)),
        sum(round(col("y") * 100.0, 0).cast("long"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    def timed(label: String, mk: () => DataFrame): (Long, Long) = {
      val check = sink(mk()) // warm-up + the correctness probe
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); sink(mk())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"$label%-42s median ${times(1)}%7.2f s  " +
        f"(${times.mkString(", ")})  pairs=${check._1}")
      check
    }

    // Hot-key phase: ONE key owns every 10th interval and every 2nd
    // probe point — the adversarial shape for bin tuning. A
    // max-width bin co-locates that key's whole interval inventory
    // with its whole probe stream in one (key, bin) cell, so the
    // residual filter does occupancy × probes work in ONE task; a
    // median-width bin avoids that but explodes the wide tail onto
    // width/bin + 1 shuffle rows. The sweep-line has neither failure
    // mode: its active buffer holds only OPEN intervals, every one of
    // which matches the probe under the cursor (admission requires
    // lo <= t, eviction removes hi < t), so per-probe work is
    // output-bound, not occupancy-bound.
    val hotProbe = probe.filter(pmod(col("t").cast("long"), lit(2)) === 0)
      .withColumn("id", lit(-1L))
    val hotRef = ref.filter(pmod(col("peid"), lit(10)) === 0)
      .withColumn("id", lit(-1L))
    val allProbe = probe.union(hotProbe).persist()
    val allRef = ref.union(hotRef).persist()
    println(s"== hot phase: +1 key with ${hotRef.count()} intervals, " +
      s"${hotProbe.count()} probes ==")

    def phase(tag: String, p: DataFrame, r: DataFrame): Unit = {
      val n = r.count()
      val results = Seq(
        "binned bin=1800" ->
          (() => plans.RangeJoin.binned(p, r, "id", "t", "lo", "hi", 1800.0)),
        "binned bin=86400" ->
          (() => plans.RangeJoin.binned(p, r, "id", "t", "lo", "hi", 86400.0)),
        s"binned bin=$maxW" ->
          (() => plans.RangeJoin.binned(p, r, "id", "t", "lo", "hi", maxW)),
        "native sweep-line" ->
          (() => plans.RangeJoinNative.join(
            p, r, "id", "t", "lo", "hi", Seq("peid")))
      ).map { case (label, mk) =>
        // exploded reference rows = the binned form's shuffle tax
        if (label.startsWith("binned")) {
          val bin = label.split("=")(1).toDouble
          val rows = r.agg(sum(floor(col("hi") / bin) -
            floor(col("lo") / bin) + 1)).collect()(0).getLong(0)
          println(f"[$tag] $label%-28s exploded ref rows $rows%,d " +
            f"(${rows.toDouble / n}%.1f x)")
        }
        label -> timed(s"[$tag] $label", mk)
      }
      val agg0 = results.head._2
      results.foreach { case (label, agg) =>
        require(agg == agg0,
          s"$label disagrees: $agg vs ${results.head._1}'s $agg0")
      }
      println(s"== [$tag] all ${results.size} formulations agree: " +
        s"pairs=${agg0._1}, sum=${agg0._2} ==")
    }
    phase("uniform-keys", probe, ref)
    phase("hot-key", allProbe, allRef)
    spark.stop()
  }
}
