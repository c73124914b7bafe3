package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two multimodal decode tiers must agree: the batch mapPartitions
  * path (the mapInPandas-analogue a real codec plugs into) has to
  * reproduce the codegen'd expression path's metadata exactly, and its
  * batching must genuinely happen (one codec init per ≤64-row group,
  * not per row).
  */
class MultimodalSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("batch decode reproduces the expression path row-for-row") {
    import org.apache.spark.sql.functions._
    val expr = text.TextOps.multimodalExtract(spark, dir)
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("width"), col("height"))
    val batch = multimodal.Multimodal.multimodalBatch(spark, dir)
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("width"), col("height"))
    assert(expr.count() == batch.count())
    val diff = expr.exceptAll(batch).count() + batch.exceptAll(expr).count()
    assert(diff == 0, s"$diff rows differ between the decode tiers")
  }

  test("batch decode actually batches (bounded, multi-row groups)") {
    import org.apache.spark.sql.functions._
    val sizes = multimodal.Multimodal.multimodalBatch(spark, dir)
      .agg(min("batch_size"), max("batch_size")).collect()(0)
    assert(sizes.getInt(1) <= multimodal.Multimodal.BatchSize,
      s"batch of ${sizes.getInt(1)} exceeds the cap")
    assert(sizes.getInt(1) >= 2,
      "no multi-row batch formed — the codec init is per-row, not amortized")
  }

  test("frame sampling emits NFrames evenly spaced frames per document") {
    import org.apache.spark.sql.functions._
    val f = multimodal.Multimodal.multimodalFrames(spark, dir)
    val perDoc = f.groupBy("doc_id").count()
      .filter(col("count") =!= multimodal.Multimodal.NFrames).count()
    assert(perDoc == 0, s"$perDoc docs without exactly NFrames frames")
    val bad = f.filter(col("offset") < 0 || col("frame_idx") >= lit(4) ||
      col("offset") > col("frame_idx") * 16384).count()
    assert(bad == 0)
  }

  test("resize plan: box-bounded, never upscales, preserves aspect " +
    "within floor granularity, matches the batch tier's dims") {
    import org.apache.spark.sql.functions._
    val r = multimodal.Multimodal.multimodalResize(spark, dir)
    val T = multimodal.Multimodal.TargetSide
    // the long side lands exactly on the box; the short side floors
    val badBox = r.filter(
      (greatest(col("width"), col("height")) > T &&
        greatest(col("out_w"), col("out_h")) =!= T) ||
        (greatest(col("width"), col("height")) <= T &&
          (col("out_w") =!= col("width") || col("out_h") =!= col("height"))))
      .count()
    assert(badBox == 0, s"$badBox rows violate the resize box contract")
    val upscaled = r.filter(col("out_w") > col("width") ||
      col("out_h") > col("height") || col("px_dropped") < 0).count()
    assert(upscaled == 0)
    // aspect: floor(short·T/long) is within 1 of exact proportionality
    val skewed = r.filter(greatest(col("width"), col("height")) > T &&
      abs(least(col("out_w"), col("out_h")).cast("double") -
        least(col("width"), col("height")).cast("double") * T /
          greatest(col("width"), col("height"))) > 1.0).count()
    assert(skewed == 0, s"$skewed rows break aspect within floor granularity")
    // the dims this plan consumes ARE the batch tier's decoded dims
    val bm = multimodal.Multimodal.multimodalBatchMeta(spark, dir)
      .select(col("doc_id"), col("width").as("bw"), col("height").as("bh"))
    assert(r.join(bm, "doc_id")
      .filter(col("width") =!= col("bw") || col("height") =!= col("bh"))
      .count() == 0, "resize dims diverge from the batch decode tier")
  }
}
