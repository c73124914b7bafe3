package graft

import graft.sim.{IvfPq, Pq, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-PQ composition, beyond the DuckDB hash gate: the probed-cell
  * restriction must actually prune (candidates ⊂ flat-PQ candidates),
  * and the composed search must still recover most of the exact-L2
  * top-5 despite scoring only NPROBE/NC of the corpus from compressed
  * codes. */
class IvfPqSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("probed-cell restriction prunes the ADC candidate pool") {
    // candidates that survive the cell filter, per query
    val ranked = Similarity.ivfRanked(spark, dir)
    val cells = ranked.filter(col("crank") === 1)
      .select(col("vec_id"), col("cell"))
    val probes = ranked.filter(col("vec_id") < 10 && col("crank") <= 4)
      .select(col("vec_id").as("qid"), col("cell"))
    val nCand = cells.join(probes, "cell")
      .filter(col("qid") =!= col("vec_id")).count()
    val corpus = Tables.table(spark, dir, "embeddings").count()
    // flat PQ scores every (query, corpus) pair; IVF-PQ must score
    // strictly less — with NPROBE=4 of NC=16 cells, well under the
    // whole corpus per query (cells are uneven, so allow ≤ 60%)
    assert(nCand < 10L * (corpus - 1),
      s"no pruning: $nCand candidate pairs for ${10L * (corpus - 1)}")
    assert(nCand.toDouble / (10.0 * (corpus - 1)) <= 0.6,
      s"weak pruning: ${nCand.toDouble / (10.0 * (corpus - 1))}")
  }

  test("IVF-PQ recalls most of the exact-L2 top-5") {
    val cp = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        col("col").cast("double").as("v"))
    val q = cp.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("i"), col("v").as("qv"))
    val exact = q.join(cp.select(col("vec_id").as("cid"), col("i"),
        col("v").as("cv")), "i")
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid")
      .agg(sum(pow(col("qv") - col("cv"), 2.0)).as("l2"))
      .withColumn("r", row_number().over(
        Window.partitionBy("qid").orderBy(col("l2").asc, col("cid").asc)))
      .filter(col("r") <= 5)
      .select("qid", "cid")
    val got = IvfPq.annIvfpqTopk(spark, dir).select("qid", "cid")
    val hit = exact.intersect(got).count().toDouble
    val total = exact.count().toDouble
    // the probe step can drop a true neighbour that sits in an
    // unprobed cell — Faiss-typical recall for nprobe=1/4 of cells
    assert(hit / total >= 0.6,
      s"recall@5 = ${hit / total} (hit=$hit of $total)")
  }

  test("every result row is 5-ranked, self-free, and from probed cells") {
    val res = IvfPq.annIvfpqTopk(spark, dir)
    assert(res.filter(col("qid") === col("cid")).count() == 0)
    val perQ = res.groupBy("qid").agg(count(lit(1)).as("k"),
      max("rank").as("mr"))
    assert(perQ.filter(col("k") =!= 5 || col("mr") =!= 5).count() == 0)
    // each returned candidate must live in one of its query's probes
    val ranked = Similarity.ivfRanked(spark, dir)
    val cells = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("cid"), col("cell"))
    val probes = ranked.filter(col("vec_id") < 10 && col("crank") <= 4)
      .select(col("vec_id").as("qid"), col("cell"))
    val outside = res.join(cells, "cid").join(probes,
      Seq("qid", "cell"), "left_anti")
    assert(outside.count() == 0, "result outside the probed cells")
  }
}
