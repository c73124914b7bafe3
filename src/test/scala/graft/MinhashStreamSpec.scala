package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming near-dedup twin: (1) its row-local Scala band keys
  * are bit-identical to the batch minhash band pipeline over the full
  * sf0.001 corpus, and (2) near-duplicates are detected across
  * micro-batches through keyed bucket state. */
class MinhashStreamSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("Scala band keys == batch minhash band keys on the whole corpus") {
    val batch = graft.dedup.Dedup
      .minhashBands(spark, dir, Int.MaxValue)
      .select("doc_id", "band", "bkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
    val local = docs.flatMap { r =>
      graft.dedup.Dedup.bandKeysOf(r.getString(1))
        .map { case (b, k) => (r.getLong(0), b, k) }
    }.toSet
    assert(local == batch,
      s"local=${local.size} batch=${batch.size} " +
        s"onlyLocal=${(local -- batch).take(3)} onlyBatch=${(batch -- local).take(3)}")
  }

  test("near-dups pair across micro-batches; unrelated docs don't") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different content about spark catalyst optimizer internals here"
    val input = MemoryStream[StreamingOps.Doc]
    val q = StreamingOps.nearDedupStream(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out")
      .trigger(Trigger.AvailableNow())
    input.addData(StreamingOps.Doc(1, a), StreamingOps.Doc(2, b))
    val run1 = q.start(); run1.processAllAvailable(); run1.stop()
    // batch 2: an exact near-dup of doc 1 arrives later
    input.addData(StreamingOps.Doc(3, a))
    val run2 = q.start(); run2.processAllAvailable(); run2.stop()
    val pairs = spark.sql(
      "SELECT DISTINCT id1, id2 FROM neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L)), pairs.toString)
  }
}
