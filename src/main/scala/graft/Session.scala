package graft

import graft.plans.{AsOfKeyPushdown, AsOfNative, RangeJoinNative}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.PushDownPredicates

/** The engine's session requirements, in one place: the settings the
  * queries' results or plans depend on, the local session every graft
  * main and spec builds, and the runtime registration of graft's
  * Catalyst strategies and rules. */
object Session {

  val conf: Map[String, String] = Map(
    // Tables.tsMicros' NTZ→instant cast is the identity only in UTC,
    // and the DuckDB oracles read timestamps as UTC
    "spark.sql.session.timeZone" -> "UTC",
    // a timestamp[ns] parquet refresh must reach Tables.tsMicros'
    // LongType branch, not die in the reader with "Illegal Parquet
    // type" (inert for timestamp[us] data)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // keep gls_fap's 104-buffer aggregate inside whole-stage codegen
    "spark.sql.codegen.maxFields" -> "300",
    // keep the GLS bootstrap's ~1200 (id, b) trig-sum groups per
    // partition hash-aggregated (default 128 keys, then sort-based)
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096",
    // AQE coalesces by BYTES, but per-series kernels (IIR/sift/
    // Cholesky) are CPU-heavy at tiny byte sizes: the default 1 MB
    // floor serializes them onto 1-2 threads; inert at real scale
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  /** A local session on `cpus` cores (default `SPARK_GRAFT_CPUS`, else
    * every core) with one shuffle partition per core, no UI and
    * [[conf]]. */
  def builder(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config(conf)

  /** Idempotently register graft's planner strategies and optimizer
    * rules on `spark`, which may be a session graft does not own (the
    * driver hands us its SparkSession): `experimental` is the public
    * runtime registration point. The native joins call this, so no
    * caller has to. */
  def setup(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    ex.extraStrategies ++= Seq(AsOfNative.AsOfJoinStrategy,
      RangeJoinNative.RangeJoinStrategy).filterNot(ex.extraStrategies.contains)
    if (!ex.extraOptimizations.contains(AsOfKeyPushdown))
      // extraOptimizations run as the LAST optimizer batch (fixed
      // point over just these rules), after the standard pushdown
      // batch is done — so pair the as-of rule with Catalyst's own
      // PushDownPredicates to carry the re-positioned filter the rest
      // of the way to the scan
      ex.extraOptimizations ++= Seq(AsOfKeyPushdown, PushDownPredicates)
  }
}
