package graft

import graft.sim.EmbeddingStats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural/numeric properties of the embedding-statistics family,
  * beyond the DuckDB hash gate: the Gram matrix must be a plausible
  * Gram matrix, and the power iteration must actually converge to an
  * eigenvector (small Rayleigh residual), not just reproduce itself.
  */
class EmbeddingStatsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("gram: full upper triangle with non-negative diagonal") {
    val g = EmbeddingStats.embGram(spark, dir)
    val d = 64L
    assert(g.count() == d * (d + 1) / 2)
    assert(g.filter(col("i") > col("j")).count() == 0)
    assert(g.filter(col("i") === col("j") && col("g") < 0).count() == 0)
  }

  test("dim stats: 64 dims, full corpus count, sd >= 0") {
    val s = EmbeddingStats.embDimStats(spark, dir)
    val n = Tables.table(spark, dir, "embeddings").count()
    assert(s.count() == 64)
    assert(s.filter(col("n") =!= n || col("sd") < 0).count() == 0)
  }

  test("abtt: Pythagoras — proj² + resid² recovers each vector's norm²") {
    val ab = EmbeddingStats.embAbtt(spark, dir)
    val comps = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), explode(col("embedding")).as("x"))
      .groupBy("vec_id")
      .agg(sum(col("x").cast("double") * col("x").cast("double")).as("n2"))
    // v is unit up to 6-dp rounding, so ‖x‖² = proj² + resid² within
    // the rounding budget (≤1e-4 after sqrt/6-dp round on ~unit norms)
    val bad = ab.join(comps, "vec_id")
      .filter(abs(col("proj") * col("proj") + col("resid") * col("resid")
        - col("n2")) > 1e-3)
    assert(bad.count() == 0)
    assert(ab.count() == Tables.table(spark, dir, "embeddings").count())
  }

  test("pc1 is a unit vector with small Rayleigh residual") {
    val v = EmbeddingStats.embPc1(spark, dir)
    val norm = v.agg(sum(col("pc1") * col("pc1"))).head.getDouble(0)
    assert(math.abs(norm - 1.0) < 1e-4, s"‖v‖²=$norm")
    // residual ‖Gv − λv‖ / ‖Gv‖ with λ = vᵀGv (Rayleigh quotient):
    // small ⇒ v is (numerically) an eigenvector of G
    val g = EmbeddingStats.embGram(spark, dir)
    val gfull = g.select(col("i"), col("j"), col("g")).unionAll(
      g.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g")))
      .select(col("i"), col("j"), col("g").cast("double").as("gv"))
    val gv = gfull.join(v.withColumnRenamed("i", "j")
        .withColumnRenamed("pc1", "vj"), "j")
      .groupBy("i").agg(sum(col("gv") * col("vj")).as("u"))
      .join(v, "i")
    val row = gv.agg(
      sum(col("u") * col("pc1")).as("lambda"),
      sum(col("u") * col("u")).as("gv2")).head
    val lambda = row.getDouble(0)
    val gv2 = row.getDouble(1)
    val resid2 = gv.select(
      sum(pow(col("u") - lit(lambda) * col("pc1"), 2.0))).head.getDouble(0)
    assert(math.sqrt(resid2 / gv2) < 1e-4,
      s"relative Rayleigh residual ${math.sqrt(resid2 / gv2)}")
  }
}
