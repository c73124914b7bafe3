package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** multimodal_phash semantics beyond the hash gate: the signature
  * matches a row-local Scala recomputation bit-for-bit, identical
  * payloads meet at Hamming 0 in the pairs output, and the 6×10 band
  * pigeonhole delivers every Hamming ≤ 5 pair (checked brute-force
  * over the whole sf0.001 signature set). */
class PhashSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def phashOf(text: String): Long = {
    val n = text.length
    (0 until 60).foldLeft(0L) { (acc, i) =>
      val start = (i.toLong * n / 60).toInt
      val win = text.substring(start, math.min(start + 8, n))
      val luma = graft.text.TextOps.h60Of(win) % 256
      acc + (if (luma >= 128) 1L << i else 0L)
    }
  }

  test("signature == row-local recomputation; 60-bit envelope") {
    val got = graft.multimodal.Phash.multimodalPhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val eligible = docs.filter(_._2.length >= 60)
    assert(got.size == eligible.length)
    eligible.foreach { case (id, t) =>
      assert(got(id) == phashOf(t), s"doc $id signature mismatch") }
    assert(got.values.forall(p => p >= 0 && p < (1L << 60)))
  }

  test("pair hammings are exact; pigeonhole recall over all sigs") {
    val sigs = graft.multimodal.Phash.multimodalPhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sigOf = sigs.toMap
    val pairs = graft.multimodal.Phash.multimodalPhashPairs(spark, dir)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.nonEmpty, "banding should produce candidates here")
    // every emitted pair is ordered and carries the exact popcount
    pairs.foreach { case ((a, b), hd) =>
      assert(a < b)
      assert(hd == java.lang.Long.bitCount(sigOf(a) ^ sigOf(b)).toLong,
        s"pair ($a,$b) hamming wrong") }
    // every Hamming<=5 pair is banded into the candidate set
    // (brute force over the full sf0.001 signature set)
    for (i <- sigs.indices; k <- i + 1 until sigs.length) {
      val (a, sa) = sigs(i); val (b, sb) = sigs(k)
      val hd = java.lang.Long.bitCount(sa ^ sb)
      if (hd <= 5) {
        val key = if (a < b) (a, b) else (b, a)
        assert(pairs.get(key).contains(hd.toLong),
          s"pigeonhole miss: $key hd=$hd")
      }
    }
  }

  test("wide signature: word 1 == multimodal_phash; 120-bit pigeonhole") {
    val wide = graft.multimodal.Phash.multimodalPhashWide(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    val lo60 = graft.multimodal.Phash.multimodalPhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(wide.length == lo60.size)
    wide.foreach { case (id, (lo, hi)) =>
      assert(lo == lo60(id), s"doc $id: wide word 1 != 60-bit phash")
      assert(hi >= 0 && hi < (1L << 60)) }
    val sigOf = wide.toMap
    val pairs = graft.multimodal.Phash.multimodalPhashWidePairs(spark, dir)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case ((a, b), hd) =>
      val (la, ha) = sigOf(a); val (lb, hb) = sigOf(b)
      assert(hd == (java.lang.Long.bitCount(la ^ lb) +
        java.lang.Long.bitCount(ha ^ hb)).toLong) }
    val sigs = wide
    for (i <- sigs.indices; k <- i + 1 until sigs.length) {
      val (a, (la, ha)) = sigs(i); val (b, (lb, hb)) = sigs(k)
      val hd = java.lang.Long.bitCount(la ^ lb) +
        java.lang.Long.bitCount(ha ^ hb)
      if (hd <= 5) {
        val key = if (a < b) (a, b) else (b, a)
        assert(pairs.get(key).contains(hd.toLong),
          s"120-bit pigeonhole miss: $key hd=$hd")
      }
    }
  }

  test("widened 4x15 geometry: exact hammings + Hamming<=3 pigeonhole") {
    val sigOf = graft.multimodal.Phash.multimodalPhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = graft.multimodal.Phash
      .multimodalPhashPairs(spark, dir, 4, 15).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case ((a, b), hd) =>
      assert(a < b)
      assert(hd == java.lang.Long.bitCount(sigOf(a) ^ sigOf(b)).toLong) }
    val sigs = sigOf.toArray
    for (i <- sigs.indices; k <- i + 1 until sigs.length) {
      val (a, sa) = sigs(i); val (b, sb) = sigs(k)
      val hd = java.lang.Long.bitCount(sa ^ sb)
      if (hd <= 3) {
        val key = if (a < b) (a, b) else (b, a)
        assert(pairs.get(key).contains(hd.toLong),
          s"4x15 pigeonhole miss: $key hd=$hd")
      }
    }
  }
}
