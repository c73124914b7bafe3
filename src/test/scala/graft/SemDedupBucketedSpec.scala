package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB posture behind the round-12 TWO-LEVEL SemDeDup,
  * made checkable the same way IvfBucketedSourceSpec pins the IVF
  * path: at production scale the k-means assignment is trained once
  * and the corpus is WRITTEN `bucketBy(cluster)`. Then (a) auditing
  * or re-deduping a subset of cells prunes whole buckets at the
  * SOURCE, and (b) the within-cell stages of `dedup_semantic` — the
  * occupancy-cap window AND the per-cell membership stats — arrive
  * pre-clustered and need no exchange. This spec writes the sf0.001
  * assignment that way and asserts all three properties from
  * executed physical plans.
  */
class SemDedupBucketedSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("cluster-bucketed assignment: cell filters prune buckets; the " +
    "cap window and cell stats are exchange-free") {
    val tmp = java.nio.file.Files.createTempDirectory("sem_bucketed").toString
    val table = "semdedup_corpus_bucketed_spec"
    try {
      val asg = graft.sim.SemDedup.assign(spark, dir)
        .select("vec_id", "cluster", "c2c")
      Tables.table(spark, dir, "embeddings").join(asg, "vec_id")
        .write.mode("overwrite").format("parquet")
        .bucketBy(16, "cluster").sortBy("cluster")
        .option("path", s"$tmp/corpus").saveAsTable(table)

      // (a) a maintenance query over 4 of the 16 bucket files reads
      // only those buckets (cluster ids hash into 16 buckets; the
      // filter prunes at the FILE level, before any row is read)
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val probe = spark.table(table)
        .filter(col("cluster").isin(1L, 3L, 5L, 7L))
      probe.collect()
      val scan = probe.queryExecution.executedPlan.toString
      assert(scan.contains("SelectedBucketsCount: 4 out of 16"), scan)

      // (b) the occupancy-cap window (the WindowGroupLimit that
      // bounds dedup_semantic's pair stage) runs on the bucketed
      // scan's HashPartitioning(cluster) — no exchange anywhere
      val w = Window.partitionBy("cluster").orderBy("vec_id")
      val capped = spark.table(table)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 256)
        .select("vec_id", "cluster", "c2c")
      capped.collect()
      val capPlan = capped.queryExecution.executedPlan.toString
      assert(!capPlan.contains("Exchange"), capPlan)

      // (c) per-cell membership stats (the emb_kmeans maintenance
      // shape) are likewise exchange-free
      val occ = spark.table(table).groupBy("cluster")
        .agg(count(lit(1)).as("n"), avg("c2c").as("mean_c2c"))
      occ.collect()
      val occPlan = occ.queryExecution.executedPlan.toString
      assert(!occPlan.contains("Exchange"), occPlan)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
