package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Stream–static DSIR scoring twin: the row-local feature mirror must
  * be bit-identical to the batch pipeline, and replaying the corpus
  * through the stream must reproduce the batch weights exactly. */
class DsirStreamSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("row-local feature buckets are bit-identical to the batch plan") {
    val batch = graft.text.Dsir.features(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
    val local = docs.flatMap { r =>
      graft.text.Dsir.featureBucketsOf(r.getString(1))
        .map { case (b, c) => (r.getLong(0), b, c) }
    }.toSet
    assert(local == batch, s"local=${local.size} batch=${batch.size}")
  }

  test("corpus replayed through the stream reproduces batch weights") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lam = graft.text.Dsir.lambdaTable(spark, dir)
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => StreamingOps.Doc(r.getLong(0), r.getString(1)))
    val input = MemoryStream[StreamingOps.Doc]
    // three micro-batches to exercise cross-batch aggregation state
    docs.grouped((docs.length + 2) / 3).foreach(g => input.addData(g.toSeq))
    val q = StreamingOps.dsirScoreStream(input.toDS(), lam)
      .writeStream.outputMode("complete")
      .format("memory").queryName("dsir_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT * FROM dsir_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.text.Dsir.corpusDsirWeights(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"stream=${got.size} batch=${want.size}")
  }

  test("model-unseen buckets take the OOV lambda") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a one-row static table: every other bucket is OOV
    val lam = Seq((0L, 500000L)).toDF("b", "lam")
    val input = MemoryStream[StreamingOps.Doc]
    input.addData(StreamingOps.Doc(7L, "alpha beta gamma"))
    val q = StreamingOps.dsirScoreStream(input.toDS(), lam,
      oovLamMicro = -1000000L)
      .writeStream.outputMode("complete")
      .format("memory").queryName("dsir_oov")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val row = spark.sql("SELECT * FROM dsir_oov").collect().head
    val feats = graft.text.Dsir.featureBucketsOf("alpha beta gamma")
    assert(row.getLong(1) == feats.values.sum)
    val expected = feats.map { case (b, c) =>
      c * (if (b == 0L) 500000L else -1000000L)
    }.sum / 1e6
    assert(math.abs(row.getDouble(2) - expected) < 1e-9)
  }
}
