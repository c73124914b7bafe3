package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB posture behind ann_ivf_topk's survey claim, made
  * checkable: the IVF cell id is a physical bucketing key. Writing
  * the corpus `bucketBy(cell)` means (a) a probe's cell filter prunes
  * whole buckets at the SOURCE (the scan reads NPROBE/NC of the
  * files, not all of them), and (b) per-cell work arrives
  * pre-clustered, so grouping by cell needs no exchange. This spec
  * writes the sf0.001 corpus that way and asserts both properties
  * from the executed physical plan.
  */
class IvfBucketedSourceSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("cell-bucketed corpus: probes prune buckets; per-cell agg is exchange-free") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_bucketed").toString
    val table = "ivf_corpus_bucketed_spec"
    try {
      val cells = graft.sim.Similarity.ivfRanked(spark, dir)
        .filter(col("crank") === 1).select("vec_id", "cell")
      Tables.table(spark, dir, "embeddings").join(cells, "vec_id")
        .write.mode("overwrite").format("parquet")
        .bucketBy(16, "cell").sortBy("cell")
        .option("path", s"$tmp/corpus").saveAsTable(table)

      // (a) a probe targeting 4 cells reads at most 4 of the 16
      // buckets. DisableUnnecessaryBucketedScan only weighs the
      // partitioning benefit, not pruning, so a filter-only probe
      // needs autoBucketedScan off to keep the bucketed read.
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val probe = spark.table(table).filter(col("cell").isin(1L, 3L, 5L, 7L))
      probe.collect()
      val scan = probe.queryExecution.executedPlan.toString
      assert(scan.contains("SelectedBucketsCount: 4 out of 16"), scan)

      // (b) per-cell occupancy (the IVF maintenance query) shuffles
      // nothing: the bucketed scan's HashPartitioning(cell) already
      // satisfies the aggregation's clustering requirement
      val occ = spark.table(table).groupBy("cell").agg(count(lit(1)).as("n"))
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
