package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two biggest 100 TB scan-reduction levers, pinned on executed
  * plans over a realistic Hive-partitioned events layout
  * (sources/PartitionedEvents): static partition pruning must shrink
  * the FILE LISTING (not post-filter rows), and a dim-filtered join
  * on the partition key must trigger dynamic partition pruning. */
class PartitionPruningSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"
  private lazy val factPath =
    sources.PartitionedEvents.ensure(spark, dir,
      java.nio.file.Files.createTempDirectory("graft_dpp").toString
        + "/events_by_day")

  /** All FileSourceScanExec nodes of an EXECUTED plan. AQE wraps
    * finished stages in QueryStageExec LEAF nodes, so a plain
    * collect stops above every scan — recurse through them. */
  private def findScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] = {
    val here = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findScans(q.plan)
      case _ => Seq.empty
    }
    here ++ p.children.flatMap(findScans)
  }

  private def scans(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // execute so AQE finalizes and metrics fill
    findScans(df.queryExecution.executedPlan)
  }

  test("static partition filter prunes the file listing") {
    val full = spark.read.parquet(factPath)
    val days = full.select("day").distinct().count()
    assert(days > 3, s"need several day partitions, got $days")

    // the read-back partition column is directory-name-inferred (INT)
    val oneDay = full.select(min("day")).collect()(0)
      .get(0).asInstanceOf[Number].longValue
    val pruned = spark.read.parquet(factPath)
      .filter(col("day") === oneDay).groupBy("event_type").count()
    val scan = scans(pruned).head
    val filesRead = scan.metrics("numFiles").value
    val allFiles = scans(full.groupBy("event_type").count())
      .head.metrics("numFiles").value
    assert(filesRead < allFiles,
      s"listing not pruned: read $filesRead of $allFiles files")
    // the day predicate must be a PARTITION filter on the scan, with
    // no residual data filter doing the work row-by-row
    assert(scan.partitionFilters.exists(_.references.exists(
      _.name == "day")), s"no partition filter on scan: $scan")
  }

  test("dim-filtered join triggers dynamic partition pruning") {
    val dim = sources.PartitionedEvents.calendarDim(spark, dir)
    val q = sources.PartitionedEvents.dppJoin(spark, factPath, dim)
    val rows = q.collect()
    assert(rows.nonEmpty, "dpp probe returned no rows")

    val factScan = scans(q).find(_.output.exists(_.name == "value")).get
    // the executed fact scan must carry a DynamicPruningExpression on
    // the day partition column
    assert(factScan.partitionFilters.map(_.toString)
      .exists(_.contains("dynamicpruning")),
      s"no dynamic pruning on fact scan; partitionFilters = " +
        factScan.partitionFilters.mkString(", "))
    // and it must actually reduce the partitions read: one weekday
    // keeps ~1/7 of the day directories
    val expected = sources.PartitionedEvents.calendarDim(spark, dir)
      .filter(col("dow") === 3).count()
    val filesRead = factScan.metrics("numFiles").value
    val allFiles = scans(spark.read.parquet(factPath)
      .groupBy("event_type").count()).head.metrics("numFiles").value
    assert(filesRead < allFiles,
      s"dpp read $filesRead of $allFiles files (expected ~$expected days)")
    // correctness: same result as the statically-filtered equivalent
    val staticRows = spark.read.parquet(factPath)
      .join(broadcast(dim.filter(col("dow") === 3)), "day")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val gotRows = rows.map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotRows == staticRows)
  }
}
