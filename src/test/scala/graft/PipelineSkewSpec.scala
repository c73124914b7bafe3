package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew-stress for the pipeline composites (round 13, r12 verdict
  * item 5): a CorpusGen variant with one 10⁶-token document, a
  * universal boilerplate segment in every doc, and one hot near-dup
  * cluster far past the 256 bucket cap. Pins that
  *  (1) the keep-card joins stay task-balanced — no output partition
  *      of corpus_pipeline carries more than 2× the mean row count
  *      (the card is doc_id-keyed end to end; the round-13 rep
  *      groupBy+join keeps the hot cluster partial-aggregated instead
  *      of sorted in one window task);
  *  (2) the cap discipline holds — the hot family is detected (its
  *      members drop as duplicates) while candidate pair volume stays
  *      at the cap bound, and the pack tier is unaffected by the
  *      monster doc (its mass lands in the bins like any other).
  * The in-suite corpus is a 5 000-doc base + 10 000-member hot
  * cluster (the SCALING.md skew rows carry the full 50k+100k run). */
class PipelineSkewSpec extends AnyFunSuite with GraftSpark {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_skew").toString
    sources.CorpusGen.writeSkew(spark, d, nBase = 5000L, hot = 10000L)
    d
  }

  test("card joins stay task-balanced under the hot cluster") {
    val card = text.Pipeline.corpusPipeline(spark, dir)
    val sizes = card.rdd
      .mapPartitions(it => Iterator(it.size.toLong)).collect()
    val total = sizes.sum
    assert(total > 14000, s"card unexpectedly small: $total rows")
    val nonEmpty = sizes.count(_ > 0)
    val mean = total.toDouble / nonEmpty
    val worst = sizes.max
    info(f"card partitions: $nonEmpty non-empty, mean $mean%.0f rows, max $worst")
    assert(worst <= 2.0 * mean,
      s"skewed card partition: max $worst vs mean $mean — a hot " +
        "cluster leaked into a card-side exchange")
  }

  test("hot family is dropped as duplicates; monster doc packs like any other") {
    val card = text.Pipeline.corpusPipeline(spark, dir).persist()
    // hot cluster: trainable members (id % 50 != 0) in families that
    // pair under the cap must drop as duplicates — at least the capped
    // representatives' worth, demonstrating detection despite overflow
    val hotDropped = card.filter(col("doc_id") >= 5000L &&
      col("doc_id") < 15000L && col("reasons").contains("duplicate"))
      .count()
    assert(hotDropped > 1000,
      s"hot near-dup family not detected: only $hotDropped dropped")
    // the pack tier: bins still hold exactly the survivors' token mass
    // (monster doc included if it survives — either way the accounting
    // must balance, proving one 10⁶-token row can't break the tape)
    val packed = text.Pipeline.corpusPipelinePack(spark, dir)
    val binMass = packed.agg(coalesce(sum("n_tokens"), lit(0L)))
      .collect()(0).getLong(0)
    val keep = card.filter(col("keep")).select("doc_id")
    val survivorMass = Tables.table(spark, dir, "documents")
      .join(keep, "doc_id")
      .select(size(org.apache.spark.sql.functions.filter(
        split(col("text"), " "), t => t =!= lit("")))
        .cast("long").as("ntok"))
      .agg(coalesce(sum("ntok"), lit(0L))).collect()(0).getLong(0)
    assert(survivorMass > 0, "degenerate corpus: zero survivors")
    assert(binMass == survivorMass,
      s"pack mass $binMass != survivor mass $survivorMass")
    card.unpersist()
  }

  test("universal boilerplate segment is detected once and scrubbed " +
    "from every other doc") {
    val det = dedup.SegDedup.segments(spark, dir)
    // the prepended 10-token boilerplate aligns to segment 0 of every
    // doc — the detect table must carry it with corpus-wide df
    val seg0 = dedup.SegDedup.dedupSegments(spark, dir)
      .filter(col("seg").startsWith("bw0 "))
    val rows = seg0.collect()
    assert(rows.length == 1, s"${rows.length} boilerplate detect rows")
    val nDocs = rows(0).getAs[Long]("n_docs")
    assert(nDocs >= 2000L,
      s"boilerplate df $nDocs — expected every odd-id base doc")
    assert(det.columns.nonEmpty)
  }
}
