package graft

import graft.text.CorpusOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural properties of the packing / mixing operators, beyond
  * the DuckDB hash gate. */
class CorpusOpsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("pack: token mass is conserved and bins tile the tape") {
    val docs = Tables.table(spark, dir, "documents")
      .select(size(filter(split(col("text"), " "), t => t =!= lit("")))
        .cast("long").as("ntok"))
      .filter(col("ntok") > 0)
    val totTokens = docs.agg(sum("ntok")).head().getLong(0)
    val nDocs = docs.count()
    val r = CorpusOps.corpusPack(spark, dir).cache()
    val agg = r.agg(sum("n_tokens"), sum("n_docs"), max("bin")).head()
    assert(agg.getLong(0) == totTokens, "token mass not conserved")
    assert(agg.getLong(1) == nDocs, "every non-empty doc packs somewhere")
    // concat-and-chunk leaves no gaps: every doc's start is the
    // previous doc's end, so occupied bins are the contiguous prefix
    // 0..(totTokens-1) div 512 — possibly minus bins where no doc
    // STARTS (a long doc can span several); the max bin is bounded by
    // the tape length
    assert(agg.getLong(2) <= (totTokens - 1) / 512, "bin beyond tape end")
    assert(r.filter(col("n_split") > col("n_docs")).count() == 0)
    r.unpersist()
  }

  test("pack: invariant to input partitioning (prefix sum is by key, not layout)") {
    val a = CorpusOps.corpusPack(spark, dir).collect().toSet
    val b = CorpusOps.corpusPack(spark, dir)
      .repartition(7).collect().toSet
    assert(a == b)
  }

  test("temperature: shares sum to 1 and small sources are upsampled") {
    val r = CorpusOps.corpusTemperature(spark, dir).cache()
    val s = r.agg(sum("share")).head().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-4, s"shares sum to $s")
    // T < 1 flattens the mixture: the smallest source must see more
    // epochs than the largest (upsampled relative to natural rate)
    val rows = r.orderBy(col("n_docs")).collect()
    assert(rows.head.getAs[Double]("epochs") >
      rows.last.getAs[Double]("epochs"))
    // epochs is share / natural-share: weighted by n it averages to 1
    val chk = r.select(sum(col("epochs") * col("n_docs")).as("e"),
      sum("n_docs").as("n")).head()
    assert(math.abs(chk.getDouble(0) / chk.getLong(1) - 1.0) < 1e-4)
    r.unpersist()
  }
}
