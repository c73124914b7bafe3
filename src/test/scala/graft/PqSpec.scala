package graft

import graft.sim.Pq
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization family, beyond the DuckDB hash gate: the code
  * table must be a complete compressed index, and the two-stage
  * search (ADC shortlist → exact re-rank) must recover most of the
  * exact-L2 top-5. */
class PqSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("code table: 8 codes per vector, codes within the codebook") {
    val codes = Pq.embPqCodes(spark, dir)
    val n = Tables.table(spark, dir, "embeddings").count()
    assert(codes.count() == n * 8)
    val perVec = codes.groupBy("vec_id").agg(count(lit(1)).as("k"))
    assert(perVec.filter(col("k") =!= 8).count() == 0)
    assert(codes.filter(col("code") < 0 || col("code") >= 64).count() == 0)
  }

  test("two-stage search recalls most of the exact-L2 top-5") {
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
    val got = Pq.annPqTopk(spark, dir).select("qid", "cid")
    val hit = exact.intersect(got).count().toDouble
    val total = exact.count().toDouble
    assert(hit / total >= 0.7,
      s"recall@5 = ${hit / total} (hit=$hit of $total)")
  }
}
