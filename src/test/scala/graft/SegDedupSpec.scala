package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** dedup_segments semantics beyond the DuckDB hash gate: the
  * segmentation is total, the detect table is honest (df ≥ 2, occ ≥
  * df), and the clean pass reproduces an independent sequential
  * keep-first sweep over the whole sf0.001 corpus — every doc's
  * reassembled text, not a sample. */
class SegDedupSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("segmentation is total: ceil(tokens/10) segments per doc") {
    val segN = graft.dedup.SegDedup.dedupSegmentsClean(spark, dir)
      .select(col("doc_id"), col("n_seg"))
    val tokN = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val joined = segN.join(tokN, "doc_id")
    assert(joined.count() > 0)
    assert(joined
      .filter(col("n_seg") =!= expr("(n_tok + 9) div 10")).count() == 0)
  }

  test("detect table: every row df >= 2 and n_occ >= n_docs") {
    val det = graft.dedup.SegDedup.dedupSegments(spark, dir)
    assert(det.count() > 0, "testdata should carry repeated segments")
    assert(det.filter(col("n_docs") < 2).count() == 0)
    assert(det.filter(col("n_occ") < col("n_docs")).count() == 0)
  }

  test("clean pass == independent sequential keep-first sweep") {
    // reference implementation, entirely driver-side Scala
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val segsOf = (text: String) =>
      text.toLowerCase.split(" ", -1).filter(_.nonEmpty)
        .grouped(10).map(_.mkString(" ")).toVector
    val byDoc = docs.map { case (id, t) => (id, segsOf(t)) }
    // boilerplate: segment string in >= 2 distinct docs; keeper = min doc
    val df = scala.collection.mutable.Map[String, Set[Long]]()
    byDoc.foreach { case (id, segs) =>
      segs.distinct.foreach(s => df(s) = df.getOrElse(s, Set()) + id) }
    val keeper = df.collect { case (s, ids) if ids.size >= 2 => (s, ids.min) }
    val expected = byDoc.map { case (id, segs) =>
      val kept = segs.filter(s => keeper.get(s).forall(_ == id))
      (id, (segs.length.toLong, kept.length.toLong, kept.mkString(" ")))
    }.toMap
    val got = graft.dedup.SegDedup.dedupSegmentsClean(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == expected.filter(_._2._1 > 0).keySet)
    got.foreach { case (id, v) =>
      assert(v == expected(id), s"doc $id: got $v expected ${expected(id)}") }
    // and the sweep genuinely removed something on this corpus
    assert(got.values.exists(v => v._2 < v._1))
  }
}
