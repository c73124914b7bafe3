package graft

import graft.functions.CosineSim
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused CosineSim expression matches the composed zip_with /
  * aggregate formulation (both codegen'd and interpreted paths). */
class CosineSimSpec extends AnyFunSuite with GraftSpark {

  test("cosine_sim matches zip_with dot product on embeddings") {
    CosineSim.register(spark)
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      .filter(col("ida") < 5)
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("eb"))
      .filter(col("idb").between(5, 15))
    val both = a.crossJoin(b)
      .withColumn("fused", expr("cosine_sim(ea, eb)"))
      .withColumn("composed", expr(
        """aggregate(zip_with(ea, eb, (x, y) -> cast(x AS double) * cast(y AS double)),
          |          0.0D, (acc, v) -> acc + v)
          |/ (sqrt(aggregate(ea, 0.0D, (a2, x) -> a2 + cast(x AS double) * cast(x AS double)))
          |   * sqrt(aggregate(eb, 0.0D, (a2, x) -> a2 + cast(x AS double) * cast(x AS double))))
        """.stripMargin))
      .select("fused", "composed").collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("cosine_sim of a vector with itself is 1") {
    CosineSim.register(spark)
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val rows = emb.select(expr("cosine_sim(embedding, embedding)").as("c"))
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("cosine_sim accepts a double-array side (IVF centroid path)") {
    CosineSim.register(spark)
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    // float embedding vs its exact double copy: identical direction
    val rows = emb.limit(20)
      .withColumn("dbl", expr("transform(embedding, x -> cast(x AS double))"))
      .select(expr("cosine_sim(embedding, dbl)").as("fd"),
        expr("cosine_sim(dbl, dbl)").as("dd"),
        expr("cosine_sim(embedding, embedding)").as("ff"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12, s"float×double ${r.getDouble(0)}")
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12, s"double×double ${r.getDouble(1)}")
      assert(r.getDouble(0) === r.getDouble(2))
    }
  }
}
