package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-wide batch parity for the aggregate/join/session streaming
  * twins (round 10): the whole sf0.001 events corpus is driven through
  * each streaming plan via MemoryStream and compared against the
  * equivalent batch computation — extending the bit-identical parity
  * discipline the row-local twins already had (MinhashStreamSpec, the
  * decontamination and LM-score pins in StreamingSpec) to the three
  * STATEFUL twins, so all nine are parity-pinned, not example-tested.
  */
class StreamingParitySpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  /** events as the streaming Event shape, (ts, event_id)-ordered so
    * single-batch MemoryStream delivery is deterministic. */
  private def corpus: Seq[Event] = {
    import spark.implicits._
    val ev = Tables.table(spark, dir, "events")
    ev.select(col("event_id"), timestamp_micros(Tables.tsMicros(ev)).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
  }

  private def runToTable(df: DataFrame, name: String, mode: String): Unit = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
  }

  test("windowed agg over the whole corpus equals the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(corpus)
    runToTable(StreamingOps.windowedAgg(input.toDS()), "par_win", "complete")
    val got = spark.sql(
      "SELECT window.start, event_type, n, sum_value FROM par_win")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val exp = corpus.toDS()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start"), col("event_type"), col("n"),
        col("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == exp.keySet,
      s"window/type sets differ: ${got.keySet.diff(exp.keySet)} vs " +
        s"${exp.keySet.diff(got.keySet)}")
    for ((k, (n, s)) <- exp) {
      assert(got(k)._1 == n, s"count mismatch at $k: ${got(k)._1} != $n")
      assert(got(k)._2 == s, s"sum mismatch at $k: ${got(k)._2} != $s")
    }
  }

  test("interval join over the whole corpus equals the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = corpus
    val p = MemoryStream[Event]
    val c = MemoryStream[Event]
    p.addData(all.filter(_.event_type == "purchase"))
    c.addData(all.filter(_.event_type == "click"))
    runToTable(StreamingOps.purchaseClickJoin(p.toDS(), c.toDS()),
      "par_join", "append")
    val got = spark.sql("SELECT p_user, p_ts, p_value, c_ts FROM par_join")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
        r.getTimestamp(3))).sorted(Ordering.by(
        (x: (Long, java.sql.Timestamp, Double, java.sql.Timestamp)) =>
          (x._1, x._2.getTime, x._4.getTime)))
    val pb = all.filter(_.event_type == "purchase").toDS()
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    val cb = all.filter(_.event_type == "click").toDS()
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val exp = pb.join(cb, col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select("p_user", "p_ts", "p_value", "c_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
        r.getTimestamp(3))).sorted(Ordering.by(
        (x: (Long, java.sql.Timestamp, Double, java.sql.Timestamp)) =>
          (x._1, x._2.getTime, x._4.getTime)))
    assert(got.length == exp.length,
      s"pair counts differ: ${got.length} vs ${exp.length}")
    assert(got.sameElements(exp), "interval-join pair sets differ")
    assert(got.nonEmpty, "corpus produced no purchase-click pairs")
  }

  test("sessionize over the whole corpus equals batch sessions minus " +
      "each user's open last session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(corpus)
    runToTable(StreamingOps.sessionize(input.toDS(), gapSec = 1800,
      useTimeout = false).toDF(), "par_sess", "append")
    val got = spark.sql(
      "SELECT user_id, session_start, n_events, sum_value FROM par_sess")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), math.rint(r.getDouble(3) * 1e4) / 1e4)).toMap
    // batch twin: events_sessionize, with each user's LAST session
    // dropped (it is still open in streaming state at corpus end) and
    // t_start floored to the twin's epoch-second granularity (no
    // sf0.001 gap flips across the 1800 s boundary under truncation —
    // checked at authoring time, and n_events equality below would
    // catch a flip)
    val batch = tsa.TimeSeriesOps.eventsSessionize(spark, dir)
      .withColumn("last_sess",
        max("session").over(org.apache.spark.sql.expressions.Window
          .partitionBy("id")))
      .filter(col("session") < col("last_sess"))
      .select(col("id"), floor(col("t_start")).cast("long").as("start_s"),
        col("n_events"), col("sum_y"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == batch.keySet,
      s"session sets differ: ${got.keySet.diff(batch.keySet)} vs " +
        s"${batch.keySet.diff(got.keySet)}")
    for ((k, (n, s)) <- batch) {
      assert(got(k)._1 == n, s"n_events mismatch at $k: ${got(k)._1} != $n")
      assert(math.abs(got(k)._2 - s) <= 1e-4,
        s"sum mismatch at $k: ${got(k)._2} != $s")
    }
    assert(batch.nonEmpty, "no closed sessions in the corpus")
  }
}
