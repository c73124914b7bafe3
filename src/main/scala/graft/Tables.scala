package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet loaders for the driver-generated star schema + events /
  * documents / embeddings tables (see TESTDATA.md).
  *
  * All graft operators consume the "series view" of `events`:
  * one row per sample of one of many independent series —
  * (id = series key, t = epoch seconds as double, y = value).
  * This is the Spark-native analogue of the reference's single
  * in-memory `TSeries` (reference core.py:460): the 100 TB axis is
  * the number of series, so every operator is keyed by `id` and
  * scales linearly with executors.
  */
object Tables {
  /** Fact tables arrive as ONE small parquet file locally, which Spark
    * reads as a single partition — every downstream expansion would
    * run in one task. Fan facts out to the full core count up front
    * (on a real cluster the many-file layout provides this for free;
    * the shuffle here is a few MB). Dimension tables stay as-is — they
    * broadcast. */
  private val factTables =
    Set("lineitem", "orders", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (factTables(name)) df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** Epoch-MICROSECONDS of an events frame's `ts` column, adaptive to
    * whatever physical type the data generator shipped:
    *
    *  - parquet timestamp[ns] read under
    *    `spark.sql.legacy.parquet.nanosAsLong` (or a raw int64-ns
    *    column, as the specs synthesize) resolves as LongType →
    *    truncate ns → µs with integer `div 1000`, the same truncation
    *    DuckDB applies reading ns into its µs timestamps;
    *  - parquet timestamp[us] resolves as TIMESTAMP / TIMESTAMP_NTZ →
    *    `unix_micros` (exact: Spark stores timestamps as µs-since-epoch
    *    internally, and [[graft.Session]] pins the session TZ to UTC
    *    — perfbench's settings.json sets the same — so the
    *    NTZ→instant cast is the identity).
    *
    * Both branches land on the identical integer µs that DuckDB's
    * `epoch_us(ts)` oracle twin produces, so `t = µs / 1e6` stays
    * bit-identical on both sides regardless of how the testdata was
    * generated. Hard-coding either branch is a data-contract bug: the
    * round-7 testdata refresh flipped ns→µs and took out every
    * series-based query at analysis time. */
  def tsMicros(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case TimestampType => unix_micros(col("ts"))
    case TimestampNTZType =>
      // The NTZ→instant cast goes through the session time zone; only
      // UTC makes it the identity the oracle's epoch_us assumes. Fail
      // loudly instead of silently shifting every epoch.
      val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
      require(tz == "UTC",
        s"events.ts is TIMESTAMP_NTZ but spark.sql.session.timeZone=$tz " +
          "— the NTZ→instant cast is only epoch-exact under UTC")
      unix_micros(col("ts").cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported type $other — expected int64 (ns) " +
        "or timestamp[us]/timestamp[ns]")
  }

  /** `ts` as epoch seconds (double) — the shared `µs / 1e6` division
    * both engines apply, so the result is bit-identical to the
    * oracle's `cast(epoch_us(ts) as double)/1e6`. */
  def tSeconds(df: DataFrame): Column =
    tsMicros(df).cast("double") / 1000000.0

  /** events as a many-series table: id=user_id, t=epoch secs, y=value. */
  def series(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    ev.select(
      col("user_id").as("id"),
      tSeconds(ev).as("t"),
      col("value").as("y"),
      col("event_id").as("eid"))
  }

  /** Oracle-side twin of [[series]] (DuckDB `epoch_us` is already
    * dtype-agnostic: µs timestamps pass through, ns truncate). */
  val seriesSql: String =
    "SELECT user_id AS id, cast(epoch_us(ts) AS double)/1000000.0 AS t, " +
      "value AS y, event_id AS eid FROM events"
}
