package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** corpus_pipeline semantics beyond the hash gate: the composed card
  * is total over trainable docs, each recorded reason agrees with its
  * source stage, and keep is exactly reasons == "". */
class PipelineSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("total over non-benchmark docs; keep == no recorded reason") {
    val p = graft.text.Pipeline.corpusPipeline(spark, dir)
    val nTrainable = Tables.table(spark, dir, "documents")
      .filter(col("doc_id") % 50 =!= 0).count()
    assert(p.count() == nTrainable)
    assert(p.filter(col("doc_id") % 50 === 0).count() == 0)
    assert(p.filter(col("keep") =!= (col("reasons") === "")).count() == 0)
    // the pipeline actually both keeps and drops on this corpus
    assert(p.filter(col("keep")).count() > 0)
    assert(p.filter(!col("keep")).count() > 0)
  }

  test("pipeline pack: bins hold exactly the survivors' token mass") {
    val keep = graft.text.Pipeline.corpusPipeline(spark, dir)
      .filter(col("keep")).select("doc_id")
    val keptTok = Tables.table(spark, dir, "documents")
      .join(keep, "doc_id")
      .select(size(org.apache.spark.sql.functions.filter(
        split(col("text"), " "), t => t =!= lit(""))).cast("long").as("n"))
      .filter(col("n") > 0)
    val (nKept, tokKept) = (keptTok.count(),
      keptTok.agg(sum("n")).head().getLong(0))
    val pack = graft.text.Pipeline.corpusPipelinePack(spark, dir)
    val agg = pack.agg(sum("n_docs"), sum("n_tokens"), min("bin")).head()
    assert(agg.getLong(0) == nKept)
    assert(agg.getLong(1) == tokKept)
    assert(agg.getLong(2) == 0L, "the tape starts at bin 0")
    // the tape is contiguous: every bin below the last is present
    val bins = pack.select("bin").collect().map(_.getLong(0)).sorted.toSeq
    assert(bins == bins.indices.map(_.toLong))
  }

  test("every reason agrees with its source stage") {
    val p = graft.text.Pipeline.corpusPipeline(spark, dir)
      .select(col("doc_id"), col("reasons")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(",").toSet - ""))
      .toMap
    val qDrop = graft.text.Quality.corpusQualityFilter(spark, dir)
      .filter(!col("keep")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val contam = graft.text.Bloom.corpusBloomContamination(spark, dir)
      .filter(col("flagged")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val dupLosers = graft.dedup.Dedup.dedupClusters(spark, dir)
      .withColumn("rep", min("doc_id").over(Window.partitionBy("cluster_id")))
      .filter(col("doc_id") =!= col("rep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dupLosers.nonEmpty, "testdata should carry near-dup clusters")
    p.foreach { case (id, reasons) =>
      assert(reasons.contains("quality") == qDrop.contains(id), s"doc $id")
      assert(reasons.contains("contaminated") == contam.contains(id),
        s"doc $id")
      assert(reasons.contains("duplicate") == dupLosers.contains(id),
        s"doc $id")
    }
  }
}
