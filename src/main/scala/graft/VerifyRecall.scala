package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minhash-LSH recall measurement under the bucket-occupancy cap
  * (round-13, r12 verdict item 6 — the "no silent caps" discipline
  * applied to the last capped family without a recall number):
  * against the CorpusGen corpora's OWN ground truth (the generator's
  * content-family relation — every true (near-)duplicate pair is
  * within-family, re-derived from the row seeds, never from the
  * candidate generator under test), compute the exact shingle
  * Jaccard of all within-family pairs and measure what fraction of
  * true pairs at J ≥ τ the capped band join emits, next to the
  * UNCAPPED band join (isolating cap loss from the banding S-curve
  * 1−(1−J⁴)⁴, which is the design recall of 4×4 minhash LSH and not
  * a defect). J = 1.0 pairs share all four band keys, so uncapped
  * recall there must be exactly 1 — any shortfall is the cap.
  *
  * Prints one JSON line per threshold; WARNS LOUDLY when cap pruning
  * drops > 1% of true pairs. Recorded per-corpus in SCALING.md.
  *
  * Usage: runMain graft.VerifyRecall <corpusDir>
  */
object VerifyRecall {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nDocs = Tables.table(spark, dir, "documents").count()
    val fam = sources.CorpusGen.families(spark, nDocs)
    // within-family pairs: the candidate truth universe (families are
    // a handful of docs each — the join is keyed and bounded; log the
    // worst family so a pathological generator change can't silently
    // square)
    val famSizes = fam.groupBy("family").agg(count(lit(1)).as("k"))
    val maxFam = famSizes.agg(max("k")).head().getLong(0)
    println(s"""{"corpus":"$dir","docs":$nDocs,"max_family":$maxFam}""")
    val pairs = fam.as("a").join(fam.as("b"),
        col("a.family") === col("b.family") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    // exact shingle Jaccard of every within-family pair
    val sh = dedup.Dedup.shingles(spark, dir).persist()
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = pairs
      .join(sh.select(col("doc_id").as("id1"), col("shingle")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("shingle")),
        Seq("id2", "shingle"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("ninter"))
      .join(cnt.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(cnt.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("ninter").cast("double") /
          (col("n1") + col("n2") - col("ninter"))).as("j"))
      .persist()
    truth.count()

    val capped = dedup.Dedup
      .minhashCand(spark, dir, dedup.Dedup.MaxBucket).persist()
    val uncapped = dedup.Dedup
      .minhashCand(spark, dir, Int.MaxValue).persist()
    println(s"""{"cand_capped":${capped.count()},""" +
      s""""cand_uncapped":${uncapped.count()}}""")

    def matched(c: DataFrame, tau: Double): Long =
      truth.filter(col("j") >= tau).join(c, Seq("id1", "id2")).count()
    var capWarned = false
    for (tau <- Seq(0.5, 0.85, 1.0)) {
      val nTrue = truth.filter(col("j") >= tau).count()
      val mC = matched(capped, tau)
      val mU = matched(uncapped, tau)
      val capLoss = if (nTrue == 0) 0.0 else (mU - mC).toDouble / nTrue
      println(f"""{"tau":$tau,"true_pairs":$nTrue,""" +
        f""""matched_capped":$mC,"matched_uncapped":$mU,""" +
        f""""recall_capped":${if (nTrue == 0) 1.0 else mC.toDouble / nTrue}%.4f,""" +
        f""""recall_uncapped":${if (nTrue == 0) 1.0 else mU.toDouble / nTrue}%.4f,""" +
        f""""cap_loss":$capLoss%.4f}""")
      if (capLoss > 0.01) {
        capWarned = true
        System.err.println(f"WARNING: occupancy cap (MaxBucket=" +
          f"${dedup.Dedup.MaxBucket}) drops ${capLoss * 100}%.2f%% of " +
          f"true J>=$tau pairs on $dir — widen the bands or raise the " +
          "cap for this corpus shape")
      }
    }
    if (!capWarned)
      println(s"""{"cap_ok":true,"max_bucket":${dedup.Dedup.MaxBucket}}""")
    spark.stop()
  }
}
