package graft.relational

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classic relational analytics over the star schema — exercises the
  * engine's join/aggregation strategy (broadcast dims, partial aggs,
  * AQE) at bench scale. Monetary sums use exact DECIMAL accumulation
  * so the oracle compare is bit-exact, then round back to double.
  */
object Tpch {

  // q1_pricing — lineitem pricing summary (TPC-H Q1 shape).
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(30,4)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(30,4)")).cast("double").as("sum_base"),
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,6)")).cast("double"), 4).as("sum_disc_price"),
        // exact integer sums (qty is whole, discount is cents) so the
        // pre-round average is the same double in both engines
        round(sum(round(col("l_quantity"), 0).cast("long")).cast("double") /
          count(lit(1)), 6).as("avg_qty"),
        round(sum(round(col("l_discount") * 100.0, 0).cast("long"))
          .cast("double") / count(lit(1)) / 100.0, 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q1PricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  cast(sum(cast(l_quantity AS decimal(30,4))) AS double) AS sum_qty,
      |  cast(sum(cast(l_extendedprice AS decimal(30,4))) AS double) AS sum_base,
      |  round(cast(sum(cast(l_extendedprice * (1.0 - l_discount)
      |        AS decimal(30,6))) AS double), 4) AS sum_disc_price,
      |  round(cast(sum(cast(round(l_quantity) AS BIGINT)) AS double)
      |        / count(*), 6) AS avg_qty,
      |  round(cast(sum(cast(round(l_discount*100.0) AS BIGINT)) AS double)
      |        / count(*) / 100.0, 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY 1, 2""".stripMargin

  // q3_shipping — top revenue open orders (TPC-H Q3 shape);
  // customer/orders broadcast against the lineitem fact.
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.table(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = Tables.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(30,6)")).cast("double"), 4).as("revenue"))
      .filter(col("revenue") > 50000.0)

  }

  val q3ShippingSql: String =
    """SELECT l_orderkey, o_orderdate,
      |  round(cast(sum(cast(l_extendedprice * (1.0 - l_discount)
      |        AS decimal(30,6))) AS double), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY 1, 2
      |HAVING round(cast(sum(cast(l_extendedprice * (1.0 - l_discount)
      |       AS decimal(30,6))) AS double), 4) > 50000.0""".stripMargin

  // q10_returns — revenue lost to returned items per customer (TPC-H
  // Q10 shape): lineitem(R) ⋈ orders ⋈ customer ⋈ nation, top 20 by
  // revenue. The returnflag predicate prunes the fact FIRST; customer
  // and nation broadcast. orders is a fact table (~SF×1.5M rows) so it
  // carries no broadcast hint — AQE picks broadcast when the pruned
  // side is small enough and shuffle-hash/sort-merge at cluster scale.
  // The top-k compiles to TakeOrderedAndProject (per-partition 20-row
  // heaps, driver merges 20-row results — no single-partition shuffle
  // of the full aggregate); the rank column is then a window over the
  // 20 surviving rows only. Deterministic via rounded revenue +
  // custkey.
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.table(spark, dir, "nation")
    val cust = Tables.table(spark, dir, "customer")
    val ord = Tables.table(spark, dir, "orders")
    val li = Tables.table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(30,6)")).cast("double"), 4).as("revenue"))
    val top = agg
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
    val w = Window.orderBy(col("revenue").desc, col("c_custkey").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  val q10ReturnsSql: String =
    """WITH agg AS (SELECT c_custkey, c_name, n_name,
      |  round(cast(sum(cast(l_extendedprice * (1.0 - l_discount)
      |        AS decimal(30,6))) AS double), 4) AS revenue
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_returnflag = 'R'
      |  GROUP BY 1, 2, 3)
      |SELECT c_custkey, c_name, n_name, revenue, cast(rank AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (
      |        ORDER BY revenue DESC, c_custkey ASC) AS rank FROM agg)
      |WHERE rank <= 20""".stripMargin

  // q5_region_rev — revenue by nation within a region (TPC-H Q5
  // shape, adapted: no c_nationkey=s_nationkey colocation constraint
  // since supplier assignment is synthetic). All dims broadcast.
  def q5RegionRev(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.table(spark, dir, "region")
    val nation = Tables.table(spark, dir, "nation")
    val supplier = Tables.table(spark, dir, "supplier")
    val li = Tables.table(spark, dir, "lineitem")
    li.join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(30,6)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q5RegionRevSql: String =
    """SELECT r_name, n_name,
      |  round(cast(sum(cast(l_extendedprice * (1.0 - l_discount)
      |        AS decimal(30,6))) AS double), 4) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2""".stripMargin

  // q6_selective — TPC-H Q6 shape: pure scan+filter+agg; every
  // predicate and the 4-column projection push to the parquet scan.
  def q6Selective(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24.0)
      .agg(round(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(30,6)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n"))

  val q6SelectiveSql: String =
    """SELECT
      |  round(cast(sum(cast(l_extendedprice * l_discount
      |        AS decimal(30,6))) AS double), 4) AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.03 AND 0.07
      |  AND l_quantity < 24.0""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q1_pricing", q1Pricing, q1PricingSql),
    Query("q3_shipping", q3Shipping, q3ShippingSql),
    Query("q5_region_rev", q5RegionRev, q5RegionRevSql),
    Query("q6_selective", q6Selective, q6SelectiveSql),
    Query("q10_returns", q10Returns, q10ReturnsSql))
}
