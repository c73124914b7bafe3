package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage: the engine round-trips its tables through
  * csv and json in addition to the native parquet, preserving schema
  * and values (the reference only reads bundled .npy files —
  * format-pluggable IO is part of the Spark-native surface). */
class SourcesSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("series survives a csv sink/source round-trip") {
    val s = Tables.series(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    s.write.mode("overwrite").option("header", "true").csv(tmp)
    val back = spark.read.option("header", "true")
      .schema(s.schema).csv(tmp)
    assert(back.count() == s.count())
    val a = s.agg(sum("y")).collect()(0).getDouble(0)
    val b = back.agg(sum("y")).collect()(0).getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("documents survive a json sink/source round-trip") {
    val d = Tables.table(spark, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
    d.write.mode("overwrite").json(tmp)
    val back = spark.read.schema(d.schema).json(tmp)
    assert(back.count() == d.count())
    assert(back.agg(sum(length(col("text")))).collect()(0).getLong(0) ==
      d.agg(sum(length(col("text")))).collect()(0).getLong(0))
  }

  test("partitioned parquet sink prunes partitions on read") {
    val e = Tables.table(spark, dir, "events")
      .withColumn("etype", col("event_type"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    e.write.mode("overwrite").partitionBy("etype").parquet(tmp)
    val pruned = spark.read.parquet(tmp).filter(col("etype") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      e.filter(col("event_type") === "click").count())
    // partition filter must reach the scan, not a post-filter
    assert(plan.contains("PartitionFilters: [isnotnull(etype") ||
      plan.contains("PartitionFilters: [(etype"),
      s"partition pruning missing in plan:\n$plan")
  }

  test("bucketed tables join with no shuffle on either side") {
    // The 100 TB co-location story: facts bucketed on the join key at
    // write time join WITHOUT an exchange — the join reads bucket i of
    // both tables in the same task. Broadcast is disabled so the test
    // exercises the bucketed sort-merge path, not a small-table
    // shortcut.
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    Tables.table(spark, dir, "lineitem")
      .write.mode("overwrite").format("parquet")
      .option("path", s"$tmp/li").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    Tables.table(spark, dir, "orders")
      .write.mode("overwrite").format("parquet")
      .option("path", s"$tmp/ord").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      // exactly ONE exchange: the post-join groupBy. The join itself
      // must read co-located buckets with no hashpartitioning below.
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).size
      assert(exchanges == 1, s"expected only the agg exchange:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("SelectedBucketsCount") ||
        plan.contains("Bucketed: true"), s"bucketed read not used:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }
}
