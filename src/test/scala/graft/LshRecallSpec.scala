package graft

import org.scalatest.funsuite.AnyFunSuite

/** Minhash-LSH recall under the bucket-occupancy cap, brute-forced at
  * test scale (round 13, r12 verdict item 6 — the PhashSpec recall
  * discipline applied to the minhash family): exact Jaccard over ALL
  * pairs of a 2 000-doc CorpusGen corpus is the ground truth, and the
  * capped candidate generator both dedup_minhash_lsh and
  * dedup_ngram_jaccard share must (1) emit EVERY J = 1.0 pair — four
  * identical band keys make exact duplicates structurally unmissable
  * when no bucket overflows — and (2) lose NOTHING to the cap here
  * (capped == uncapped candidate sets at this scale). A second,
  * deliberately cap-overflowed corpus (300 identical docs > MaxBucket
  * = 256) pins that the measurement DETECTS cap pruning loudly: the
  * loss is exactly 1 − C(256,2)/C(300,2), well past a 1% recall
  * loss. */
class LshRecallSpec extends AnyFunSuite with GraftSpark {

  /** Row-local mirror of the shingle pipeline (the bandKeysOf
    * tokenization: lowercase space-split non-empty, distinct word
    * 3-grams). */
  private def shingleSet(text: String): Set[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split(" ", -1).filter(_.nonEmpty)
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  private def candSet(dir: String, cap: Int): Set[(Long, Long)] =
    dedup.Dedup.minhashCand(spark, dir, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("CorpusGen corpus: J=1.0 recall is exactly 1 and the cap is " +
    "lossless below occupancy") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_recall").toString
    sources.CorpusGen.write(spark, dir, 2000L, 10L)
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), shingleSet(r.getString(1))))
      .filter(_._2.nonEmpty)
    // brute-force exact-Jaccard truth over all C(2000,2) pairs
    var true50 = Set.empty[(Long, Long)]
    var true100 = Set.empty[(Long, Long)]
    for (i <- docs.indices; k <- i + 1 until docs.length) {
      val j = jaccard(docs(i)._2, docs(k)._2)
      if (j >= 0.5) {
        val key = if (docs(i)._1 < docs(k)._1) (docs(i)._1, docs(k)._1)
          else (docs(k)._1, docs(i)._1)
        true50 += key
        if (j == 1.0) true100 += key
      }
    }
    assert(true100.nonEmpty, "generator planted no exact duplicates")
    assert(true50.size > true100.size, "no near duplicates to measure")
    val capped = candSet(dir, dedup.Dedup.MaxBucket)
    val uncapped = candSet(dir, Int.MaxValue)
    // no bucket overflows at 2 000 docs ⇒ the cap is lossless
    assert(capped == uncapped,
      s"cap pruned ${uncapped.diff(capped).size} pairs below occupancy")
    // exact duplicates share all four band keys ⇒ recall exactly 1
    val missedExact = true100.diff(capped)
    assert(missedExact.isEmpty, s"J=1.0 pairs missed: $missedExact")
    // near-dup recall at J>=0.5 follows the 4x4 banding S-curve
    // 1-(1-J^4)^4; the planted near copies sit at J~0.85 where design
    // recall is ~0.95 — require the measured value above a loose 0.6
    // floor (few-pair binomial noise) and REPORT it
    val recall50 = true50.intersect(capped).size.toDouble / true50.size
    info(f"recall at J>=0.5: $recall50%.3f over ${true50.size} true pairs")
    assert(recall50 >= 0.6, f"recall $recall50%.3f below the design floor")
  }

  test("cap-overflowed bucket: the measurement detects >1% true-pair " +
    "loss and bounds it exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_capstress").toString
    // 300 identical docs (> MaxBucket = 256) + 200 distinct fillers
    val dup = "spark line column order small sort fast value scan hash"
    val rows = (0L until 300L).map(i => (i, dup)) ++
      (300L until 500L).map(i => (i,
        // fully token-disjoint fillers: zero shared shingles, so the
        // truth set is EXACTLY the C(300,2) identical pairs
        (0 until 8).map(k => s"t${i}x$k").mkString(" ")))
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val capped = candSet(dir, dedup.Dedup.MaxBucket)
    val uncapped = candSet(dir, Int.MaxValue)
    val nTrue = 300L * 299L / 2           // C(300,2) identical pairs
    val nKept = 256L * 255L / 2           // C(256,2) within the cap
    assert(uncapped.size.toLong == nTrue,
      s"uncapped should emit all $nTrue true pairs, got ${uncapped.size}")
    assert(capped.size.toLong == nKept,
      s"capped should emit exactly $nKept pairs, got ${capped.size}")
    val capLoss = (uncapped.size - capped.size).toDouble / nTrue
    info(f"cap loss on the overflowed bucket: ${capLoss * 100}%.1f%%")
    assert(capLoss > 0.01,
      "the >1% loud-log condition must fire on this corpus")
    // the representatives that survive the cap still pair with each
    // other, so the duplicate CLUSTER remains detected
    assert(capped.nonEmpty)
  }
}
