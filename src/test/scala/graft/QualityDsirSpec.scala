package graft

import graft.text.{Dsir, Quality}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the quality/DSIR family beyond the DuckDB hash gate:
  * entropy against hand-computed values, CCNet bucket monotonicity,
  * DSIR's target-model preference, and the Gumbel-top-k sample being
  * exactly the weight-ordered head of the corpus. */
class QualityDsirSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def docsOf(rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("qds").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    docsDir = tmp
  }
  private var docsDir: String = _

  test("entropy: single-char doc is 0, uniform doc is ln(k)") {
    docsOf(Seq((0L, "aaaa"), (1L, "abcd"), (2L, "aabb")))
    val r = Quality.textEntropy(spark, docsDir)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r(0L) == ((4L, 1L, 1.0, 0.0)))
    assert(math.abs(r(1L)._4 - math.log(4.0)) < 1e-5)
    assert(math.abs(r(2L)._4 - math.log(2.0)) < 1e-5)
    assert(r(2L)._3 == 0.5) // top char frac of aabb
  }

  test("entropy matches a direct recount on the real corpus") {
    val got = Quality.textEntropy(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(4))).toMap
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
    docs.take(25).foreach { row =>
      val id = row.getLong(0); val t = row.getString(1)
      val counts = t.groupBy(identity).map(_._2.length)
      val L = t.length.toDouble
      val h = math.log(L) - counts.map(c => c * math.log(c)).sum / L
      val (nc, ent) = got(id)
      assert(nc == t.length)
      assert(math.abs(ent - h) < 1e-4, s"doc $id: $ent vs $h")
    }
  }

  test("ccnet buckets: per lang, head ppl <= middle ppl <= tail ppl") {
    val b = Quality.corpusCcnetBuckets(spark, dir)
    val stats = b.filter(col("bucket") =!= "unsampled")
      .groupBy("lang", "bucket").agg(min("ppl").as("lo"), max("ppl").as("hi"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    stats.keys.map(_._1).toSeq.distinct.foreach { lang =>
      for (h <- stats.get((lang, "head")); m <- stats.get((lang, "middle")))
        assert(h._1 <= m._2, s"$lang head above middle")
      for (m <- stats.get((lang, "middle")); t <- stats.get((lang, "tail")))
        assert(m._1 <= t._2, s"$lang middle above tail")
      // heads end at or below where tails begin
      for (h <- stats.get((lang, "head")); t <- stats.get((lang, "tail")))
        assert(h._2 <= t._1, s"$lang head max ${h._2} > tail min ${t._1}")
    }
    // every corpus doc is bucketed exactly once
    assert(b.count() == Tables.table(spark, dir, "documents").count())
  }

  test("ccnet sample: head/middle/unsampled all pass, tail at hash<10") {
    val b = Quality.corpusCcnetBuckets(spark, dir)
      .select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val kept = Quality.corpusCcnetSample(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(b.map(_._2).toSet.contains("tail"))
    b.foreach { case (id, bucket) =>
      val expect =
        if (bucket != "tail") true
        else graft.text.TextOps.h60Of(id.toString) % 100 < 10
      assert(kept.contains(id) == expect, s"doc $id bucket $bucket") }
    // the tail is genuinely downsampled, not emptied or passed through
    val tailIds = b.filter(_._2 == "tail").map(_._1)
    val tailKept = tailIds.count(kept.contains)
    assert(tailKept > 0 && tailKept < tailIds.length)
  }

  test("quality filter: keep <=> no rules, rules justified by signals") {
    val f = Quality.corpusQualityFilter(spark, dir)
    assert(f.filter(col("keep") =!= (col("rules") === "")).count() == 0)
    // both classes non-degenerate on the real corpus
    val kept = f.filter(col("keep")).count()
    val total = f.count()
    assert(kept > 0 && kept < total, s"degenerate filter: $kept/$total")
    assert(total == Tables.table(spark, dir, "documents").count())
    // spot-check one rule end-to-end: every 'short'-flagged doc really
    // has < 20 tokens and every unflagged doc >= 20
    val short = f.select(col("doc_id"),
      col("rules").contains("short").as("flagged"))
      .join(graft.text.TextOps.textTokenCount(spark, dir)
        .select("doc_id", "n_tokens"), "doc_id")
    assert(short.filter(col("flagged") =!= (col("n_tokens") < 20))
      .count() == 0)
  }

  test("dsir weights prefer target-distribution documents") {
    val w = Dsir.corpusDsirWeights(spark, dir)
      .select(col("doc_id"), (col("logw") / col("n_feat")).as("pf"))
    val tgt = w.filter(col("doc_id") % 50 === 0).agg(avg("pf")).head.getDouble(0)
    val raw = w.filter(col("doc_id") % 50 =!= 0).agg(avg("pf")).head.getDouble(0)
    assert(tgt > raw,
      s"target per-feature logw $tgt not above raw $raw")
  }

  test("dsir sample is the exact gumbel-key-ordered head, deterministically") {
    val s1 = Dsir.corpusDsirSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    val s2 = Dsir.corpusDsirSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(s1.toSeq == s2.toSeq, "sample not deterministic")
    // brute-force reference: full key ranking without the limit
    val h = graft.dedup.Dedup.h60(
      concat_ws("", lit("dsir:"), col("doc_id").cast("string")))
    val u = (h.cast("double") + 0.5) / 1152921504606846976.0
    val all = Dsir.corpusDsirWeights(spark, dir)
      .withColumn("key", round(col("logw") - log(-log(u)), 6))
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
      .sortBy(x => (-x._2, x._1)).take(1000).sortBy(_._1)
    assert(s1.toSeq == all.toSeq, "limit head differs from full ranking")
  }
}
