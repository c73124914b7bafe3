package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming twins driven synchronously via MemoryStream. */
class StreamingSpec extends AnyFunSuite with GraftSpark {

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed aggregation counts events per 5-minute window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 1, "click", 2.0),
      Event(2, ts(1), 1, "click", 3.0),
      Event(3, ts(7), 2, "view", 1.0))
    val q = StreamingOps.windowedAgg(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT event_type, n, sum_value FROM win_out ORDER BY event_type")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "click" && rows(0).getLong(1) == 2 &&
      rows(0).getDouble(2) == 5.0)
    assert(rows(1).getString(0) == "view" && rows(1).getLong(1) == 1)
  }

  test("streaming exact dedup keeps one row per content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.Doc]
    input.addData(
      StreamingOps.Doc(1, "alpha beta"),
      StreamingOps.Doc(2, "gamma"),
      StreamingOps.Doc(3, "alpha beta"), // exact dup of 1
      StreamingOps.Doc(4, "alpha beta"), // exact dup of 1
      StreamingOps.Doc(5, "delta"))
    val q = StreamingOps.dedupeStream(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT text FROM dedup_out").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(0)).toSet == Set("alpha beta", "gamma", "delta"))
  }

  test("stream-static LM scoring matches the batch model; OOV takes the floor") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static model: the sf0.001 corpus unigram LM
    val lm = graft.text.TextOps.unigramModel(spark, "/root/testdata/sf0.001")
    val known = lm.limit(2).collect() // two real (tok, lp) rows
    val t1 = known(0).getString(0); val lp1 = known(0).getLong(1)
    val t2 = known(1).getString(0); val lp2 = known(1).getLong(1)
    val input = MemoryStream[StreamingOps.Doc]
    input.addData(
      StreamingOps.Doc(1, s"$t1 $t2"),
      StreamingOps.Doc(2, s"$t1 zzzzz-never-a-token"))
    val q = StreamingOps.scoreDocs(input.toDS(), lm)
      .writeStream.outputMode("update")
      .format("memory").queryName("lm_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT * FROM lm_out ORDER BY doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 2)
    assert(math.abs(out(0).getDouble(2) - (lp1 + lp2) / 2.0 / 1e6) < 1e-6)
    // doc 2: one known token + one OOV at the -20 nat floor
    assert(math.abs(out(1).getDouble(2) - (lp1 - 20000000L) / 2.0 / 1e6) < 1e-6)
  }

  test("streaming decontamination: Scala shingles == batch; benchmark copy flags 1.0") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // (1) row-local shingle hashes are bit-identical to the batch plan
    val batch = graft.text.TextOps.shingles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
    val local = docs.flatMap(r =>
      graft.text.TextOps.shingleHashesOf(r.getString(1))
        .map(h => (r.getLong(0), h))).toSet
    assert(local == batch, s"local=${local.size} batch=${batch.size}")
    // (2) a stream doc copying a benchmark doc scores contam_frac 1.0
    val bench = graft.text.TextOps.benchShingleSet(spark, dir)
    val benchText = docs.find(r => r.getLong(0) % 50 == 0 &&
      graft.text.TextOps.shingleHashesOf(r.getString(1)).nonEmpty)
      .get.getString(1)
    val input = MemoryStream[StreamingOps.Doc]
    input.addData(
      StreamingOps.Doc(9001, benchText),
      StreamingOps.Doc(9002, "nine totally novel tokens that never appear " +
        "anywhere in the benchmark corpus at all honestly"))
    val q = StreamingOps.contaminationStream(input.toDS(), bench)
      .writeStream.outputMode("update")
      .format("memory").queryName("contam_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT doc_id, contam_frac FROM contam_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(9001L) == 1.0, out.toString)
    assert(out(9002L) == 0.0, out.toString)
  }

  test("stream-stream interval join matches clicks in the preceding hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    purchases.addData(Event(100, ts(30), 1, "purchase", 9.99))
    clicks.addData(
      Event(1, ts(5), 1, "click", 0.0),  // 25 min before: match
      Event(2, ts(29), 1, "click", 0.0), // 1 min before: match
      Event(3, ts(31), 1, "click", 0.0), // AFTER the purchase: no match
      Event(4, ts(10), 2, "click", 0.0)) // other user: no match
    val q = StreamingOps.purchaseClickJoin(purchases.toDS(), clicks.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("joined_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT c_ts FROM joined_out ORDER BY c_ts").collect()
    assert(rows.length == 2, s"expected 2 matched clicks, got ${rows.length}")
    assert(rows.map(_.getTimestamp(0)).toSeq == Seq(ts(5), ts(29)))
  }

  test("stateful sessionization closes sessions on gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // session 1: minutes 0,1,2; gap > 10 min; session 2: minutes 20,21
    input.addData(
      Event(1, ts(0), 7, "click", 1.0),
      Event(2, ts(1), 7, "click", 1.0),
      Event(3, ts(2), 7, "click", 1.0),
      Event(4, ts(20), 7, "click", 2.0),
      Event(5, ts(21), 7, "click", 2.0))
    val q = StreamingOps.sessionize(input.toDS(), gapSec = 600,
        useTimeout = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    // only the FIRST session is closed (second still open in state)
    val rows = spark.sql("SELECT * FROM sess_out").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("n_events") == 3)
    assert(rows(0).getAs[Double]("sum_value") == 3.0)
  }

  test("streaming as-of enrichment carries the latest reference across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val probes = MemoryStream[Event]
    val refs = MemoryStream[Event]
    // batch 1: purchase at min 5; probes at min 3 (before any ref ->
    // null match) and min 10 (matches the min-5 purchase)
    probes.addData(
      Event(1, ts(3), 1, "click", 0.0),
      Event(2, ts(10), 1, "click", 0.0))
    refs.addData(Event(100, ts(5), 1, "purchase", 9.99))
    // default microbatch trigger: AvailableNow would terminate after
    // the first batch and drop the cross-batch state assertion
    val q = StreamingOps.asofEnrich(probes.toDS(), refs.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out")
      .start()
    q.processAllAvailable()
    // batch 2: newer purchase at min 20; probes at min 19 (still the
    // min-5 purchase, held in state from batch 1) and min 25 (new one)
    probes.addData(
      Event(3, ts(19), 1, "click", 0.0),
      Event(4, ts(25), 1, "click", 0.0))
    refs.addData(Event(101, ts(20), 1, "purchase", 19.99))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM asof_out ORDER BY eid").collect()
    assert(rows.length == 4)
    assert(rows(0).isNullAt(rows(0).fieldIndex("asof_t")))
    assert(rows(1).getAs[Double]("asof_value") == 9.99)
    assert(rows(2).getAs[Double]("asof_value") == 9.99)
    assert(rows(3).getAs[Double]("asof_value") == 19.99)
  }

  test("streaming GLS periodogram recovers an injected 6 cycles/day tone " +
    "and matches the closed form exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // one user, one 1-day window starting 2024-01-01: a 2-minute
    // cadence sinusoid at 6 cycles/day with a DC offset (the single-
    // pass algebraic centering must remove it)
    val t0ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 720).map { i =>
      val sec = i * 120L
      Event(i.toLong, new java.sql.Timestamp(t0ms + sec * 1000L), 1L,
        "lc", 5.0 + 2.0 * math.sin(2.0 * math.Pi * 6.0 * sec / 86400.0))
    }
    input.addData(events: _*)
    val q = StreamingOps.streamingGls(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("gls_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT k, n, power FROM gls_out ORDER BY k").collect()
    assert(rows.length == 24, s"expected the 24-frequency grid, got ${rows.length}")
    assert(rows.forall(_.getLong(1) == 720L))
    val power = rows.map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(power.maxBy(_._2)._1 == 6,
      s"argmax at k=${power.maxBy(_._2)._1}, expected the injected k=6")
    assert(power(6) > 0.99, s"clean sinusoid should have power ~1: ${power(6)}")
    // exact cross-check against a direct Zechmeister-Kurster
    // computation with the same window-start phase reference
    val tc = (0 until 720).map(i => (i * 120).toDouble)
    val y = tc.map(s => 5.0 + 2.0 * math.sin(2.0 * math.Pi * 6.0 * s / 86400.0))
    val ym = y.sum / y.length
    val yc = y.map(_ - ym)
    val yy = yc.map(v => v * v).sum / y.length
    (1 to 24).foreach { k =>
      val om = 2.0 * math.Pi * k / 86400.0
      val (cw, sw) = (tc.map(s => math.cos(om * s)), tc.map(s => math.sin(om * s)))
      def mean(xs: Seq[Double]) = xs.sum / xs.length
      val (cM, sM) = (mean(cw), mean(sw))
      val c2 = mean(tc.map(s => math.cos(2 * om * s)))
      val s2 = mean(tc.map(s => math.sin(2 * om * s)))
      val ch = mean(yc.zip(cw).map(p => p._1 * p._2))
      val sh = mean(yc.zip(sw).map(p => p._1 * p._2))
      val tan2 = (s2 - 2 * sM * cM) / (c2 - (cM * cM - sM * sM))
      val c2w = 1.0 / math.sqrt(1.0 + tan2 * tan2)
      val s2w = tan2 * c2w
      val cwv = math.sqrt(0.5) * math.sqrt(1.0 + c2w)
      val swv = math.sqrt(0.5) * math.signum(s2w) * math.sqrt(1.0 - c2w)
      val ycp = ch * cwv + sh * swv
      val ysp = sh * cwv - ch * swv
      val cc = 0.5 * (1.0 + c2 * c2w + s2 * s2w) -
        (cM * cwv + sM * swv) * (cM * cwv + sM * swv)
      val ss = 0.5 * (1.0 - c2 * c2w - s2 * s2w) -
        (sM * cwv - cM * swv) * (sM * cwv - cM * swv)
      val expect = (ycp * ycp / cc + ysp * ysp / ss) / yy
      assert(math.abs(power(k) - expect) < 2e-6,
        s"k=$k: streaming ${power(k)} vs direct $expect")
    }
  }
}
