package graft.plans

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — the canonical time-series operator Spark lacks as a
  * built-in. graft's formulation composes existing operators (prompt
  * preference (a)): union the probe and reference rows, sort within
  * the key partition by time with reference rows first on ties, and
  * carry the latest reference row forward with an IGNORE NULLS window.
  * ONE shuffle on the key, no range explosion, no skew amplification —
  * at 100 TB this is a single repartition+sort, the same cost class as
  * any keyed window.
  *
  * The DuckDB oracle uses its native ASOF JOIN, so the two
  * formulations check each other.
  */
object AsOf {

  /** Left as-of join: for every probe row, the most recent reference
    * row with ref.t <= probe.t within the same key. `valueCols` are
    * carried from the reference side. */
  def join(probe: DataFrame, ref: DataFrame, key: String, time: String,
      valueCols: Seq[String]): DataFrame = {
    val pTagged = probe.withColumn("_is_ref", lit(0))
      .withColumn("_ref_t", lit(null).cast("double"))
    val rTagged = ref.select(
      (col(key) +: col(time).as(time) +: valueCols.map(col)): _*)
      .withColumn("_is_ref", lit(1))
      .withColumn("_ref_t", col(time))
    val allCols = (probe.columns :+ "_is_ref" :+ "_ref_t") ++ valueCols
    val unioned = pTagged
      .select(allCols.distinct.map(c =>
        if (pTagged.columns.contains(c)) col(c)
        else lit(null).cast(ref.schema(c).dataType).as(c)): _*)
      .unionByName(rTagged.select(allCols.distinct.map(c =>
        if (rTagged.columns.contains(c)) col(c)
        else lit(null).cast(probe.schema(c).dataType).as(c)): _*))
    // ref rows sort BEFORE probe rows at equal t => t_ref <= t matches
    val w = Window.partitionBy(key).orderBy(col(time), col("_is_ref").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    def carry(c: String) =
      last(when(col("_is_ref") === 1, col(c)), ignoreNulls = true).over(w)
    // one select of every carried column: Catalyst plans ONE Window
    // over the sort (a withColumn per column stacks one per column)
    val carried = unioned.select((col("*") +: carry("_ref_t").as("_asof_t") +:
      valueCols.map(c => carry(c).as(s"asof_$c"))): _*)
    carried.filter(col("_is_ref") === 0)
      .drop(("_is_ref" +: "_ref_t" +: valueCols): _*)
      .withColumnRenamed("_asof_t", "asof_t")
  }

  /** Query: time since each user's most recent prior purchase (the
    * purchase row itself matches as-of too — distance 0). */
  def eventsAsofPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.series(spark, dir)
    val raw = Tables.table(spark, dir, "events")
    val purchases = raw
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("id"),
        Tables.tSeconds(raw).as("t"),
        col("value").as("purchase_value"))
    join(ev.select("id", "t", "eid"), purchases, "id", "t",
      Seq("purchase_value"))
      .select(col("id"), col("eid"),
        round(col("t") - col("asof_t"), 6).as("since_purchase"),
        col("asof_purchase_value"))
  }

  val eventsAsofPurchaseSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |p AS (SELECT user_id AS id,
       |  cast(epoch_us(ts) AS double)/1000000.0 AS pt,
       |  value AS purchase_value
       |  FROM events WHERE event_type = 'purchase')
       |SELECT s.id, s.eid,
       |  round(s.t - p.pt, 6) AS since_purchase,
       |  p.purchase_value AS asof_purchase_value
       |FROM s ASOF LEFT JOIN p
       |  ON s.id = p.id AND s.t >= p.pt""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("events_asof_purchase", eventsAsofPurchase, eventsAsofPurchaseSql))
}
