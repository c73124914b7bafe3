package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Event, Vec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Failure-recovery parity for the stateful streaming twins (round
  * 13, r12 verdict item 7): kill the query mid-stream — INCLUDING
  * with data already offered but not yet processed — restart from the
  * same checkpoint directory, and pin the total emit set equal to the
  * uninterrupted run's. The restarted half runs under a DIFFERENT
  * micro-batch split (everything pending arrives as one batch), so
  * the test simultaneously pins batch-split invariance under the
  * twins' ordered-arrival contracts. The sink is parquet (the
  * fault-tolerant file sink with its exactly-once commit log), not
  * the non-fault-tolerant memory sink, so recovery covers sink
  * idempotence too — the production restart path end to end. */
class StreamingRestartSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def corpus: Seq[Event] = {
    import spark.implicits._
    val ev = Tables.table(spark, dir, "events")
    ev.select(col("event_id"), timestamp_micros(Tables.tsMicros(ev)).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_restart_$tag").toString

  /** Drive `mk` over `batches`; when `killAfter` is set, stop the
    * query after fully processing that many batches AND offering one
    * more un-processed batch (the arrived-while-down case), then
    * restart from the same checkpoint and drain the rest. Returns the
    * parquet sink rows. */
  private def drive[T: org.apache.spark.sql.Encoder](
      batches: Seq[Seq[T]], killAfter: Option[Int], tag: String)(
      mk: org.apache.spark.sql.Dataset[T] => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val out = tmp(s"${tag}_out")
    val ckpt = tmp(s"${tag}_ckpt")
    def start() = mk(input.toDS()).writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    var q = start()
    batches.zipWithIndex.foreach { case (b, i) =>
      input.addData(b)
      killAfter match {
        case Some(k) if i == k =>
          // data offered, NOT processed — the pipeline dies with this
          // batch pending, restarts, and must pick it up from the
          // checkpointed offsets
          q.stop()
          q = start()
          q.processAllAvailable()
        case _ => q.processAllAvailable()
      }
    }
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(out)
  }

  test("sessionize: kill mid-stream + checkpoint restart == " +
    "uninterrupted run") {
    import spark.implicits._
    val batches = {
      val all = corpus
      val n = all.size
      (0 until 4).map(i => all.slice(i * n / 4, (i + 1) * n / 4))
    }
    def sess(in: org.apache.spark.sql.Dataset[Event]): DataFrame =
      StreamingOps.sessionize(in, gapSec = 1800, useTimeout = false).toDF()
    def key(df: DataFrame): Map[(Long, Long), (Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val clean = key(drive(batches, None, "sess_a")(sess))
    val killed = key(drive(batches, Some(2), "sess_b")(sess))
    assert(clean.nonEmpty, "no closed sessions emitted")
    assert(killed.keySet == clean.keySet,
      s"emit sets differ after restart: " +
        s"extra=${killed.keySet.diff(clean.keySet).take(5)} " +
        s"missing=${clean.keySet.diff(killed.keySet).take(5)}")
    clean.foreach { case (k, v) =>
      assert(killed(k) == v, s"session $k differs after restart") }
  }

  test("semantic dedup: kill mid-stream + checkpoint restart == " +
    "uninterrupted drop set") {
    import spark.implicits._
    val coarse = arrays(sim.SemDedup.coarseCentroids(spark, dir), 1)
    val fine = arrays(sim.SemDedup.fineCentroids(spark, dir), 16)
    val all = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[Vec].collect().sortBy(_.vec_id).toSeq
    val n = all.size
    val batches = (0 until 3).map(i => all.slice(i * n / 3, (i + 1) * n / 3))
    def sem(in: org.apache.spark.sql.Dataset[Vec]): DataFrame =
      StreamingOps.semanticDedupStream(in, coarse, fine).toDF()
    def drops(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val clean = drops(drive(batches, None, "sem_a")(sem))
    val killed = drops(drive(batches, Some(1), "sem_b")(sem))
    assert(clean.nonEmpty, "corpus produced no semantic drops")
    assert(killed == clean,
      s"drop sets differ after restart: clean=$clean killed=$killed")
  }

  private def arrays(df: DataFrame, keyMul: Int)
      : Array[(Long, Array[Double])] = {
    val rows = df.collect().map { r =>
      val code = r.getAs[Number]("code").longValue
      val key = if (keyMul == 1) code
        else code * keyMul + r.getAs[Number]("f").longValue
      (key, r.getAs[Number]("i").intValue,
        r.getAs[Number]("cv").doubleValue)
    }
    rows.groupBy(_._1).toArray.sortBy(_._1).map { case (key, rs) =>
      val arr = new Array[Double](rs.map(_._2).max + 1)
      rs.foreach { case (_, i, cv) => arr(i) = cv }
      (key, arr)
    }
  }
}
