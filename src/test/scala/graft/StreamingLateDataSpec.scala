package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Doc, Event, SemDrop, Vec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Out-of-order and past-horizon micro-batch cases for the STATEFUL
  * streaming twins (round 12, VERDICT item 8): the corpus-wide parity
  * specs replay IN-ORDER streams; these pin what each twin guarantees
  * — and documents it cannot guarantee — when arrival order breaks.
  */
class StreamingLateDataSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def ev(eid: Long, uid: Long, t: Long, v: Double = 1.0): Event =
    Event(eid, new java.sql.Timestamp(t * 1000L), uid, "click", v)

  /** One RUNNING query, one processAllAvailable() per addData — this
    * guarantees each element of `batches` is its own micro-batch
    * (pre-adding everything under AvailableNow can fuse them into one
    * batch, which would silently un-test the cross-batch semantics). */
  private def runSessions(batches: Seq[Seq[Event]]): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val name = s"sess_late_${System.nanoTime()}"
    val q = StreamingOps.sessionize(input.toDS(), useTimeout = false)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
    val run = q.start()
    batches.foreach { b => input.addData(b); run.processAllAvailable() }
    run.stop()
    spark.sql(s"SELECT session_start, n_events, sum_value FROM $name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
  }

  test("sessionize: intra-batch disorder is exact (event-time sort)") {
    // same events, shuffled within ONE batch — the closed session
    // (flushed by a far-future opener) matches the in-order result
    val events = Seq(ev(1, 5, 100), ev(2, 5, 400), ev(3, 5, 900))
    val opener = ev(9, 5, 100000)
    val ordered = runSessions(Seq(events :+ opener))
    val shuffled = runSessions(Seq(Seq(ev(3, 5, 900), ev(1, 5, 100),
      ev(2, 5, 400), opener)))
    assert(ordered == Seq((100L, 3L, 3.0)), ordered.toString)
    assert(shuffled == ordered, s"$shuffled != $ordered")
  }

  test("sessionize: a cross-batch late event inside the open session's " +
    "reach is absorbed without regressing the inactivity clock") {
    // batch 1 advances the session to lastSeen=1500; batch 2 delivers a
    // LATE t=700 (≥ start − gap) plus an on-time t=3200 (3200−1500 ≤
    // gap ONLY because lastSeen must not regress to 700 — the round-11
    // clock-regression bug would have split here); batch 3 flushes
    val got = runSessions(Seq(
      Seq(ev(1, 5, 100), ev(2, 5, 1500)),
      Seq(ev(3, 5, 700), ev(4, 5, 3200)),
      Seq(ev(9, 5, 100000))))
    // batch semantics over the full set {100,700,1500,3200}: ONE
    // session (every gap ≤ 1800) — the stream converges to it
    assert(got == Seq((100L, 4L, 4.0)), got.toString)
  }

  test("sessionize: a late event older than the open session's reach " +
    "is DROPPED (watermark-drop analogue), never mis-assigned") {
    // batch 1 closes session {100} implicitly when t=50000 opens a new
    // session; batch 2 delivers t=300 — its batch session is already
    // emitted, and absorbing it into the OPEN session (start 50000)
    // would corrupt that one; the contract drops it
    val got = runSessions(Seq(
      Seq(ev(1, 5, 100)),
      Seq(ev(2, 5, 50000)),
      Seq(ev(3, 5, 300)),
      Seq(ev(9, 5, 100000))))
    assert(got == Seq((100L, 1L, 1.0), (50000L, 1L, 1.0)), got.toString)
  }

  test("semantic dedup: arrival order does NOT change the drop set " +
    "below the occupancy cap (hash-shuffled micro-batches == batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.SemDedup
    def toArrays(rows: Array[(Long, Int, Double)]) =
      rows.groupBy(_._1).toArray.sortBy(_._1).map { case (k, rs) =>
        val a = new Array[Double](rs.length)
        rs.foreach { case (_, i, cv) => a(i) = cv }
        (k, a)
      }
    val coarse = toArrays(SemDedup.coarseCentroids(spark, dir).collect()
      .map(r => (r.getAs[Number]("code").longValue,
        r.getAs[Number]("i").intValue, r.getAs[Number]("cv").doubleValue)))
    val fine = toArrays(SemDedup.fineCentroids(spark, dir).collect()
      .map(r => (r.getAs[Number]("code").longValue * 16 +
        r.getAs[Number]("f").longValue,
        r.getAs[Number]("i").intValue, r.getAs[Number]("cv").doubleValue)))
    val all = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[Vec].collect()
      // deterministic NON-vec_id order: multiplicative hash shuffle
      .sortBy(v => v.vec_id * 0x9e3779b97f4a7c15L)
    // precondition for the order-free claim: no cell reaches the cap
    val cellSizes = all.groupBy(v =>
      SemDedup.assignOf(v.embedding, coarse, fine)._1).map(_._2.length)
    assert(cellSizes.max < 256, s"cap reached (${cellSizes.max}) — " +
      "this test only pins the below-cap guarantee")
    val input = MemoryStream[Vec]
    val q = StreamingOps.semanticDedupStream(input.toDS(), coarse, fine)
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_late_drops")
    val third = all.length / 3
    val run = q.start()
    Seq(all.slice(0, third), all.slice(third, 2 * third),
      all.drop(2 * third)).foreach { b =>
      input.addData(b.toSeq); run.processAllAvailable()
    }
    run.stop()
    val got = spark.sql("SELECT vec_id FROM sem_late_drops")
      .as[Long].collect().toSet
    val batchDropped = SemDedup.dedupSemantic(spark, dir).collect()
      .filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(got == batchDropped,
      s"extra=${got.diff(batchDropped)} missing=${batchDropped.diff(got)}")
  }

  test("near-dedup: the candidate pair set is arrival-order-invariant " +
    "below the bucket cap (hash-shuffled micro-batches == in-order)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1)))
    // expected pairs from the row-local band keys (MinhashStreamSpec
    // pins those against the batch pipeline): co-bucketed id pairs
    val byBucket = docs.flatMap(d =>
      graft.dedup.Dedup.bandKeysOf(d.text).map { case (b, k) =>
        ((b, k), d.doc_id)
      }).groupBy(_._1).map(_._2.map(_._2).sorted)
    assert(byBucket.map(_.length).max < graft.dedup.Dedup.MaxBucket,
      "cap reached — this test only pins the below-cap guarantee")
    val expected = byBucket.flatMap(ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length)
        yield (ids(i), ids(j))).toSet
    def runPairs(stream: Seq[Doc], name: String): Set[(Long, Long)] = {
      val input = MemoryStream[Doc]
      val q = StreamingOps.nearDedupStream(input.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
      val third = stream.length / 3
      val run = q.start()
      Seq(stream.slice(0, third), stream.slice(third, 2 * third),
        stream.drop(2 * third)).foreach { b =>
        input.addData(b); run.processAllAvailable()
      }
      run.stop()
      spark.sql(s"SELECT DISTINCT id1, id2 FROM $name").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val shuffled = runPairs(
      docs.sortBy(d => d.doc_id * 0x9e3779b97f4a7c15L).toSeq, "nd_shuf")
    assert(shuffled == expected,
      s"extra=${shuffled.diff(expected).take(3)} " +
        s"missing=${expected.diff(shuffled).take(3)}")
  }

  test("semantic dedup AT the occupancy cap: stream admits FIRST-" +
    "ARRIVED, batch admits LOWEST vec_ids — divergence pinned") {
    // The scaladoc documents this boundary: below the cap the twins
    // agree (test above); at the cap they diverge by construction.
    // Five identical vectors, one cell, cap 3. Batch would admit
    // {1,2,3} (lowest ids) and drop {2,3}; the stream sees micro-batch
    // [5,4] first (in-batch vec_id sort admits 4 then 5) and then
    // [1,2,3] of which only 1 fits — so its drop set is {5,4}.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val coarse = Array((0L, Array(0.0, 0.0)))
    val fine = Array((0L, Array(0.0, 0.0)))
    val emb = Array(1f, 1f)
    val input = MemoryStream[Vec]
    val q = StreamingOps.semanticDedupStream(input.toDS(), coarse, fine,
        maxCell = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_cap_drops")
    val run = q.start()
    Seq(Seq(Vec(5, emb), Vec(4, emb)), Seq(Vec(1, emb), Vec(2, emb),
      Vec(3, emb))).foreach { b => input.addData(b); run.processAllAvailable() }
    run.stop()
    val got = spark.sql("SELECT vec_id FROM sem_cap_drops")
      .as[Long].collect().toSet
    assert(got == Set(4L, 5L),
      s"cap-boundary admission drifted from the documented contract: $got")
  }
}
