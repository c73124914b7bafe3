package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** corpus_bloom_contamination semantics beyond the hash gate: the
  * Bloom filter NEVER misses a true benchmark shingle (the direction
  * decontamination cares about), its false-positive mass is bounded,
  * and the packed words respect the 62-bit envelope (no sign bit in
  * either engine). */
class BloomSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  /** Exact per-doc benchmark-membership counts (the same split and
    * self-exclusion-free membership the bloom op scores). */
  private def exactCounts = {
    val sh = graft.text.TextOps.shingles(spark, dir)
    val bench = sh.filter(col("doc_id") % 50 === 0).select("h").distinct()
    sh.filter(col("doc_id") % 50 =!= 0)
      .join(bench, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
  }

  test("no false negatives; FP mass bounded") {
    val bloom = graft.text.Bloom.corpusBloomContamination(spark, dir)
    val j = bloom.join(exactCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"), col("n_bloom"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
      .collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3),
        s"doc ${r.getLong(0)}: bloom missed a true member") }
    val fp = j.map(r => r.getLong(2) - r.getLong(3)).sum.toDouble
    val tot = j.map(r => r.getLong(1)).sum.toDouble
    assert(fp / tot < 0.01, s"FP rate ${fp / tot} too high for m/n sizing")
    // the planted contamination is actually detected on this corpus
    assert(j.exists(_.getLong(3) > 0))
  }

  test("flagged == (n_bloom > 0) and packed words stay in 62 bits") {
    val bloom = graft.text.Bloom.corpusBloomContamination(spark, dir)
    assert(bloom.filter(col("flagged") =!= (col("n_bloom") > 0)).count() == 0)
    val words = graft.text.Bloom.bloomWords(spark, dir)
    assert(words.count() <=
      graft.text.Bloom.MBits / graft.text.Bloom.WordBits + 1)
    assert(words.filter(col("bits") < 0L ||
      col("w") < 0L || col("w") > graft.text.Bloom.MBits / 62).count() == 0)
  }
}
