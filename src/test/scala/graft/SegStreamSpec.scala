package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Stream–static segment-scrub twin: the row-local segmentation
  * mirror must be bit-identical to the batch window pipeline, a
  * corpus replay must reproduce the batch clean output exactly, and
  * a NEW doc carrying known boilerplate must be scrubbed on arrival
  * (the deny-list posture). */
class SegStreamSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("row-local segmentation mirror == batch window pipeline") {
    val batch = graft.dedup.SegDedup.segments(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
    val local = docs.flatMap { r =>
      graft.dedup.SegDedup.segmentsOf(r.getString(1)).zipWithIndex.map {
        case (s, i) =>
          (r.getLong(0), i.toLong, s, graft.text.TextOps.h60Of(s)) }
    }.toSet
    assert(local == batch, s"local=${local.size} batch=${batch.size}")
  }

  test("corpus replayed through the stream == batch clean output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val boiler = graft.dedup.SegDedup.dedupSegments(spark, dir)
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => StreamingOps.Doc(r.getLong(0), r.getString(1)))
    val input = MemoryStream[StreamingOps.Doc]
    // three micro-batches to exercise cross-batch aggregation state
    docs.grouped((docs.length + 2) / 3).foreach(g => input.addData(g.toSeq))
    val q = StreamingOps.segmentScrubStream(input.toDS(), boiler)
      .writeStream.outputMode("complete")
      .format("memory").queryName("segscrub_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT * FROM segscrub_out").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val want = graft.dedup.SegDedup.dedupSegmentsClean(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == want, s"stream=${got.size} batch=${want.size}")
  }

  test("a NEW doc with known boilerplate is scrubbed on arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val boiler = graft.dedup.SegDedup.dedupSegments(spark, dir)
    // pick one recorded boilerplate segment and surround it with
    // fresh tokens in a doc_id the inventory has never seen
    val seg = boiler.select("seg").head().getString(0)
    val fresh = "zzqx " * 10
    val doc = StreamingOps.Doc(999999L, s"${fresh.trim} $seg")
    val input = MemoryStream[StreamingOps.Doc]
    input.addData(Seq(doc))
    val q = StreamingOps.segmentScrubStream(input.toDS(), boiler)
      .writeStream.outputMode("complete")
      .format("memory").queryName("segscrub_new")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val r = spark.sql("SELECT * FROM segscrub_new").collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 2L, "two segments expected")
    assert(r(0).getLong(2) == 1L, "the known-boilerplate segment drops")
    assert(r(0).getString(3) == fresh.trim)
  }
}
