package graft

import org.scalatest.funsuite.AnyFunSuite

/** dedup_substring semantics (Lee et al. 2021 re-expression): a run of
  * >= 8 consecutive tokens shared ACROSS documents is a duplicated
  * span; overlapping gram hits merge into one maximal span; within-doc
  * repetition alone does not count; disjoint shared runs stay
  * separate spans. */
class DedupSubstringSpec extends AnyFunSuite with GraftSpark {

  private def corpus(docs: Seq[String]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sub").toString
    docs.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents")
    val f = new java.io.File(s"$dir/documents")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  private val shared = (0 until 10).map(i => s"s$i").mkString(" ") // 10 tokens

  test("a 10-token cross-doc run merges its 3 gram hits into ONE span") {
    val d0 = ((0 until 5).map(i => s"a$i") :+ shared).mkString(" ") +
      " " + (0 until 5).map(i => s"b$i").mkString(" ")
    val d1 = ((0 until 3).map(i => s"c$i") :+ shared).mkString(" ") +
      " " + (0 until 7).map(i => s"d$i").mkString(" ")
    val d2 = (0 until 20).map(i => s"e$i").mkString(" ") // no dup
    val out = dedup.Dedup.dedupSubstring(spark, corpus(Seq(d0, d1, d2)))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(out.keySet == Set(0L, 1L), s"docs with spans: ${out.keySet}")
    // 10 shared tokens = grams at 3 consecutive starts -> 1 span of 10
    assert(out(0L) == ((1L, 10L, 10L, 20L, 0.5)), s"doc0: ${out(0L)}")
    assert(out(1L) == ((1L, 10L, 10L, 20L, 0.5)), s"doc1: ${out(1L)}")
  }

  test("within-doc repetition alone is NOT a duplicated span") {
    val rep = s"$shared ${(0 until 4).map(i => s"f$i").mkString(" ")} $shared"
    val other = (0 until 15).map(i => s"g$i").mkString(" ")
    val out = dedup.Dedup.dedupSubstring(spark, corpus(Seq(rep, other)))
    assert(out.count() == 0)
  }

  test("clean removes every covered token and only covered tokens") {
    val d0 = ((0 until 5).map(i => s"a$i") :+ shared).mkString(" ") +
      " " + (0 until 5).map(i => s"b$i").mkString(" ")
    val d1 = ((0 until 3).map(i => s"c$i") :+ shared).mkString(" ") +
      " " + (0 until 7).map(i => s"d$i").mkString(" ")
    val out = dedup.Dedup.dedupSubstringClean(spark, corpus(Seq(d0, d1)))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // BOTH copies of the shared run go (all-copies removal semantics)
    val c0 = (0 until 5).map(i => s"a$i") ++ (0 until 5).map(i => s"b$i")
    val c1 = (0 until 3).map(i => s"c$i") ++ (0 until 7).map(i => s"d$i")
    assert(out(0L) == ((c0.mkString(" "), 10L, 10L)), s"doc0: ${out(0L)}")
    assert(out(1L) == ((c1.mkString(" "), 10L, 10L)), s"doc1: ${out(1L)}")
  }

  test("clean keeps an undup'd doc whole and DROPS a fully-dup'd one") {
    val whole = (0 until 12).map(i => s"w$i").mkString(" ")
    val out = dedup.Dedup.dedupSubstringClean(
        spark, corpus(Seq(shared, shared, whole)))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // fully-duplicated docs leave the corpus entirely
    assert(out.keySet == Set(2L), s"kept docs: ${out.keySet}")
    assert(out(2L) == ((whole, 12L, 0L)))
  }

  test("two disjoint shared runs stay two spans") {
    val run2 = (0 until 8).map(i => s"t$i").mkString(" ") // exactly 8
    // gap of 9 unique tokens (> SubW) between the runs in each doc
    val d0 = shared + " " + (0 until 9).map(i => s"p$i").mkString(" ") +
      " " + run2
    val d1 = shared + " " + (0 until 9).map(i => s"q$i").mkString(" ") +
      " " + run2
    val out = dedup.Dedup.dedupSubstring(spark, corpus(Seq(d0, d1)))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // 10-token span + 8-token span, 18 dup tokens, longest 10
    assert(out(0L) == ((2L, 18L, 10L)), s"doc0: ${out(0L)}")
    assert(out(1L) == ((2L, 18L, 10L)), s"doc1: ${out(1L)}")
  }
}
