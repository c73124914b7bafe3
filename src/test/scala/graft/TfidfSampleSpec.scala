package graft

import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural properties of the TF-IDF top-terms and stratified-sample
  * operators, beyond the DuckDB hash gate. */
class TfidfSampleSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("tfidf: at most 5 terms per doc, rn contiguous, scores non-increasing") {
    val r = TextOps.textTfidfTop(spark, dir)
    // rn follows the (score desc, tok asc) window order, so score must
    // be non-increasing in rn within every doc
    val next = r.withColumn("next_score", lead("score", 1).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("rn")))
    assert(next.filter(col("score") < col("next_score")).count() == 0)
    val perDoc = r.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("rn").as("mx"), min("rn").as("mn"))
    assert(perDoc.filter(col("n") > 5 || col("mx") =!= col("n") ||
      col("mn") =!= 1).count() == 0)
  }

  test("tfidf: a term present in every doc scores tf (idf = 1 exactly)") {
    // smooth idf: df = N -> ln((1+N)/(1+N)) + 1 = 1, so score == tf.
    val n = Tables.table(spark, dir, "documents").count()
    val everywhere = TextOps.textTfidfTop(spark, dir)
      .filter(col("df") === n)
    val bad = everywhere
      .filter(abs(col("score") - col("tf").cast("double")) > 1e-9)
    assert(bad.count() == 0)
  }

  test("unigram logprob: lp_mean < 0, ppl = exp(-lp_mean), every doc scored") {
    val r = TextOps.textUnigramLogprob(spark, dir)
    assert(r.count() == Tables.table(spark, dir, "documents").count())
    // every token probability is < 1 (no token is the whole corpus),
    // so the mean log-probability is strictly negative
    assert(r.filter(col("lp_mean") >= 0).count() == 0)
    // ppl is the 4-dp rounding of exp(−lp_mean) up to lp_mean's own
    // 6-dp rounding: allow that slack
    val off = r.filter(
      abs(col("ppl") - exp(-col("lp_mean"))) > col("ppl") * 2e-5 + 1e-3)
    assert(off.count() == 0)
  }

  test("contamination: fractions in [0,1], n_contam <= n_sh, self-match excluded") {
    val r = TextOps.textContamination(spark, dir)
    assert(r.filter(col("contam_frac") < 0 || col("contam_frac") > 1).count() == 0)
    assert(r.filter(col("n_contam") > col("n_sh")).count() == 0)
    // a benchmark doc whose shingles appear in no OTHER benchmark doc
    // must not be flagged by its own shingles: benchmark docs can only
    // be contaminated via cross-doc matches, so with distinct shingles
    // per doc, n_contam < n_sh unless a true cross-duplicate exists.
    // Weak but self-match-sensitive: a buggy self-join would set
    // n_contam == n_sh for EVERY benchmark doc.
    val bench = r.filter(col("doc_id") % 50 === 0)
    assert(bench.filter(col("n_contam") === col("n_sh")).count() <
      bench.count())
  }

  test("sample is deterministic and respects per-language rate buckets") {
    val a = TextOps.corpusSample(spark, dir)
    val b = TextOps.corpusSample(spark, dir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // every kept row's bucket is under its language's rate
    val overCap = a.filter(col("bucket") >=
      when(col("pred_lang") === "en", 10).otherwise(50)).count()
    assert(overCap == 0)
  }

  test("sample rate lands near the configured percentages") {
    val lid = TextOps.textLangid(spark, dir)
      .groupBy("pred_lang").agg(count(lit(1)).as("total"))
    val kept = TextOps.corpusSample(spark, dir)
      .groupBy("pred_lang").agg(count(lit(1)).as("kept"))
    val rates = lid.join(kept, "pred_lang")
      .select(col("pred_lang"),
        (col("kept").cast("double") / col("total")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // h60 buckets are uniform; with a few hundred docs per stratum the
    // observed rate should be within ±8 points of the target
    rates.foreach { case (lang, r) =>
      val target = if (lang == "en") 0.10 else 0.50
      assert(math.abs(r - target) < 0.12, s"$lang rate $r vs $target")
    }
  }
}
