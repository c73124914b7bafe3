package graft

import graft.text.CorpusOps
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}
import org.scalatest.funsuite.AnyFunSuite

/** corpus_pack vs an INDEPENDENT in-memory packer: the DuckDB oracle
  * twin replays the same two-phase prefix-sum algebra, so it cannot
  * catch an error in the algebra itself. This spec packs generated
  * corpora with a direct sequential tape walk (no chunks, no windows)
  * and requires the distributed plan to agree bin-for-bin — including
  * sparse doc_ids (chunks of unequal size) and docs longer than a
  * whole bin (multi-boundary straddles).
  */
class CorpusPackPropertySpec extends AnyFunSuite with GraftSpark {

  private val B = 512

  private val params = Parameters.default
    .withMinSuccessfulTests(25)
    .withInitialSeed(org.scalacheck.rng.Seed(42L))

  /** sequential reference: walk docs in doc_id order, keep a running
    * tape offset, attribute each doc to the bin where it starts. */
  private def refPack(docs: Seq[(Long, Int)])
      : Map[Long, (Long, Long, Long, Long)] = {
    var start = 0L
    val acc = scala.collection.mutable.Map
      .empty[Long, (Long, Long, Long, Long)]
    for ((id, n) <- docs.sortBy(_._1) if n > 0) {
      val bin = start / B
      val split = if ((start + n - 1) / B > bin) 1L else 0L
      val (d, t, s, f) = acc.getOrElse(bin, (0L, 0L, 0L, Long.MaxValue))
      acc(bin) = (d + 1, t + n, s + split, math.min(f, id))
      start += n
    }
    acc.toMap
  }

  // doc_ids sparse (exercises unequal 64-id chunks); token counts span
  // empty docs to >2 bins (multi-boundary straddles)
  private val corpusGen: Gen[List[(Long, Int)]] = for {
    n <- Gen.choose(1, 120)
    ids <- Gen.pick(n, 0L until 4096L)
    lens <- Gen.listOfN(n, Gen.frequency(
      (1, Gen.const(0)), (6, Gen.choose(1, 80)), (2, Gen.choose(400, 1300))))
  } yield ids.toList.zip(lens)

  test("distributed pack equals the sequential tape walk") {
    import spark.implicits._
    val prop = Prop.forAll(corpusGen) { docs =>
      val df = docs.map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
        .toDF("doc_id", "text").repartition(5)
      val got = CorpusOps.packTape(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toMap
      got == refPack(docs)
    }
    val r = check(params, prop)
    assert(r.passed, s"property failed: ${r.status}")
  }

  // Million-doc corpus: exercises the RECURSIVE prefix-sum nesting
  // (three chunk levels genuinely populated: 10^6 docs → 15625 → 245
  // → 4 chunk-total rows) against the same sequential tape walk.
  // Drives packFromCounts directly so no 10^6-string corpus is built.
  test("nested prefix sum packs a million-doc corpus correctly") {
    import spark.implicits._
    val n = 1000000L
    // deterministic pseudo-random lengths incl. zeros and straddlers;
    // sparse ids (every 3rd missing) so chunks are unequal
    def len(id: Long): Long = {
      val h = id * 2654435761L
      val m = ((h >>> 16) % 97L + 94L * ((h >>> 40) % 13L) / 12L)
      if (h % 11L == 0L) 0L else if (h % 211L == 0L) 400L + (h >>> 8) % 900L else m % 81L
    }
    val docs = (0L until n).filter(_ % 3 != 2).map(id => (id, len(id)))
    val got = CorpusOps.packFromCounts(
        docs.toDF("doc_id", "ntok").repartition(8))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // sequential reference walk
    var start = 0L
    val ref = scala.collection.mutable.Map
      .empty[Long, (Long, Long, Long, Long)]
    for ((id, tk) <- docs if tk > 0) {
      val bin = start / B
      val split = if ((start + tk - 1) / B > bin) 1L else 0L
      val (d, t, s, f) = ref.getOrElse(bin, (0L, 0L, 0L, Long.MaxValue))
      ref(bin) = (d + 1, t + tk, s + split, math.min(f, id))
      start += tk
    }
    assert(got.size == ref.size, s"bins got=${got.size} ref=${ref.size}")
    assert(got == ref.toMap)
  }
}
