package graft.relational

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics breadth: semi-structured JSON extraction and
  * ranked top-k — the everyday shapes around the periodicity core. */
object EventsOps {

  /** Parse the `props` JSON column and aggregate the extracted metric
    * per event type (semi-structured pushdown-friendly projection). */
  def eventsJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("kv"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("kv").as("sum_k"),
        round(sum("kv").cast("double") / count(lit(1)), 6).as("avg_k"),
        min("kv").as("min_k"), max("kv").as("max_k"))

  val eventsJsonExtractSql: String =
    """SELECT event_type, count(*) AS n,
      |  cast(sum(cast(json_extract_string(props, '$.k') AS BIGINT))
      |       AS BIGINT) AS sum_k,
      |  round(cast(sum(cast(json_extract_string(props, '$.k') AS BIGINT))
      |        AS double) / count(*), 6) AS avg_k,
      |  min(cast(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(cast(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1""".stripMargin

  /** Top-5 users by total value within each event type (rank over an
    * exact-cents sum; user id breaks ties deterministically). */
  def eventsTopkUsers(spark: SparkSession, dir: String): DataFrame = {
    val sums = Tables.table(spark, dir, "events")
      .groupBy("event_type", "user_id")
      .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") /
        100.0).as("total"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("total").desc, col("user_id").asc)
    sums.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("event_type"), col("user_id"),
        round(col("total"), 2).as("total"), col("rank"))
  }

  val eventsTopkUsersSql: String =
    """WITH sums AS (
      |  SELECT event_type, user_id,
      |    cast(sum(cast(round(value*100.0) AS BIGINT)) AS double) / 100.0
      |      AS total
      |  FROM events GROUP BY 1, 2),
      |rk AS (SELECT event_type, user_id, total,
      |  row_number() OVER (PARTITION BY event_type
      |                     ORDER BY total DESC, user_id ASC) AS rank
      |  FROM sums)
      |SELECT event_type, user_id, round(total, 2) AS total,
      |  cast(rank AS BIGINT) AS rank
      |FROM rk WHERE rank <= 5""".stripMargin

  /** Exact interpolated quantiles (percentile_cont semantics) of the
    * value distribution per event type — Spark's `percentile` and
    * DuckDB's `quantile_cont` share the definition exactly, so this
    * sits under the hash gate. Exact quantiles sort within each
    * group; at 100 TB swap in `percentile_approx` (t-digest, one
    * mergeable pass) — the query shape is identical, only the
    * accuracy/cost trade moves. */
  def eventsQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        (round(expr("percentile(value, 0.5)"), 4) + lit(0.0)).as("p50"),
        (round(expr("percentile(value, 0.95)"), 4) + lit(0.0)).as("p95"),
        (round(expr("percentile(value, 0.99)"), 4) + lit(0.0)).as("p99"),
        count(lit(1)).as("n"))

  val eventsQuantilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) + 0.0 AS p50,
      |  round(quantile_cont(value, 0.95), 4) + 0.0 AS p95,
      |  round(quantile_cont(value, 0.99), 4) + 0.0 AS p99,
      |  count(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------
  // events_funnel — ordered conversion funnel view → click → purchase:
  // each stage's timestamp must strictly follow the previous stage's
  // FIRST occurrence for the same user. Three user-keyed min
  // aggregations chained by joins; each stage's survivor set only
  // shrinks, so the joins get cheaper down the funnel and every side
  // is user-count-sized (AQE broadcasts the shrinking stage tables at
  // scale). Integer-µs timestamps keep both engines exact.
  // -------------------------------------------------------------------
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.table(spark, dir, "events")
    val e = ev.select(col("user_id"), col("event_type"),
      Tables.tsMicros(ev).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("v_us"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") > col("v_us"))
      .groupBy("user_id").agg(min("us").as("c_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") > col("c_us"))
      .groupBy("user_id").agg(min("us").as("p_us"))
    // one per-user funnel row (each stage frame is already unique per
    // user), counted conditionally — the union-of-three-frames +
    // countDistinct form re-aggregated every stage chain (round 12)
    val u = v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
    u.agg(count("v_us").as("n1"), count("c_us").as("n2"),
        count("p_us").as("n3"))
      .select(explode(array(
        struct(lit("1_view").as("stage"), col("n1").as("n_users")),
        struct(lit("2_click").as("stage"), col("n2").as("n_users")),
        struct(lit("3_purchase").as("stage"), col("n3").as("n_users"))))
        .as("s"))
      .select(col("s.stage"), col("s.n_users"))
  }

  val eventsFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS v_us FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.us) AS c_us
      |  FROM e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.us > v.v_us GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.us) AS p_us
      |  FROM e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.us > c.c_us GROUP BY 1),
      |st AS (
      |  SELECT '1_view' AS stage, user_id FROM v
      |  UNION ALL SELECT '2_click', user_id FROM c
      |  UNION ALL SELECT '3_purchase', user_id FROM p)
      |SELECT stage, count(DISTINCT user_id) AS n_users
      |FROM st GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------
  // events_retention — cohort retention: users grouped by their
  // first-active day, counted on each later active day offset. Two
  // user-keyed aggregations + one join; output is cohorts × offsets
  // (calendar-sized, never user-sized). Day ids from exact-integer
  // FLOOR division on both engines: Spark `div` AND DuckDB integer
  // `//` both truncate toward zero (checked: -1 // 86400000000 = 0
  // in DuckDB), which would bucket every pre-1970 partial day into
  // day 0's cohort — so BOTH sides floor explicitly via the
  // positive-mod identity ((us − posmod(us, day)) is an exact
  // multiple, so the integer division is exact and sign-safe).
  // -------------------------------------------------------------------
  private val DayUs = 86400000000L

  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.table(spark, dir, "events")
    val d = ev.select(col("user_id"), Tables.tsMicros(ev).as("us"))
      .select(col("user_id"),
        expr(s"(us - pmod(us, $DayUs)) div $DayUs").as("day"))
      .distinct()
    val f = d.groupBy("user_id").agg(min("day").as("cohort_day"))
    d.join(f, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  val eventsRetentionSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT user_id,
       |    (epoch_us(ts) - ((epoch_us(ts) % $DayUs + $DayUs) % $DayUs))
       |      // $DayUs AS day
       |  FROM events),
       |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
       |SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
       |  count(DISTINCT d.user_id) AS n_users
       |FROM d JOIN f ON f.user_id = d.user_id
       |GROUP BY 1, 2""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("events_json_extract", eventsJsonExtract, eventsJsonExtractSql),
    Query("events_topk_users", eventsTopkUsers, eventsTopkUsersSql),
    Query("events_quantiles", eventsQuantiles, eventsQuantilesSql),
    Query("events_funnel", eventsFunnel, eventsFunnelSql),
    Query("events_retention", eventsRetention, eventsRetentionSql))
}
