package graft

import graft.functions.GlsMoments
import graft.spectral.Gls
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** The GlsMoments aggregate behind `gls_periodogram` and
  * `streamingGls`: one state row per (window, user), outputs
  * bit-identical to the declarative "explode k, then `avg`s"
  * formulation it replaced (kept below as the reference), the
  * buffer contract, and the periodogram's plan shape. */
class GlsMomentsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"
  private val Days = 3
  private val Users = 4
  private val t0ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Seeded events over Days day-windows × Users users, split into
    * `batches` slices that each touch every (window, user). */
  private def seededBatches(seed: Long, batches: Int): Seq[Seq[Event]] = {
    val rnd = new scala.util.Random(seed)
    val events = for {
      d <- 0 until Days; u <- 1 to Users; i <- 0 until 5 * batches
    } yield {
      val sec = d * 86400L + rnd.nextInt(86400)
      Event(0L, new java.sql.Timestamp(t0ms + sec * 1000L), u.toLong, "x",
        10.0 * rnd.nextDouble() + u)
    }
    events.zipWithIndex.map { case (e, i) => e.copy(event_id = i.toLong) }
      .groupBy(_.event_id % batches).toSeq.sortBy(_._1).map(_._2)
  }

  /** Run a stream twin over `batches` in complete mode; returns the
    * final output and each batch's state-row total. */
  private def runStream(name: String, batches: Seq[Seq[Event]])(
      twin: Dataset[Event] => DataFrame): (Array[Row], Seq[Long]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = twin(input.toDS()).writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try {
      val rows = batches.map { b =>
        input.addData(b)
        q.processAllAvailable()
        q.lastProgress.stateOperators(0).numRowsTotal
      }
      (spark.table(name).collect(), rows)
    } finally q.stop()
  }

  /** The declarative stream twin GlsMoments replaced: explode the nf
    * harmonics, then one (window, user, k) group of `avg`s each. */
  private def declarativeStreamingGls(events: Dataset[Event],
      nf: Int = 24): DataFrame = {
    val omega = lit(2.0 * math.Pi * (1.0 / 86400.0)) * col("k") * col("tc")
    val m = events
      .withWatermark("ts", "10 minutes")
      .withColumn("w", window(col("ts"), "1 day"))
      .withColumn("k", explode(array((1 to nf).map(lit): _*)))
      .withColumn("tc",
        col("ts").cast("double") - col("w.start").cast("double"))
      .select(col("w"), col("user_id"), col("k"),
        cos(omega).as("cw"), sin(omega).as("sw"),
        cos(omega * 2.0).as("c2w"), sin(omega * 2.0).as("s2w"),
        col("value").as("y"))
      .groupBy(col("w"), col("user_id"), col("k"))
      .agg(count(lit(1)).as("n"),
        avg("cw").as("C"), avg("sw").as("S"),
        avg("c2w").as("C2"), avg("s2w").as("S2"),
        avg("y").as("ym"), avg(col("y") * col("y")).as("y2"),
        avg(col("y") * col("cw")).as("ycw"),
        avg(col("y") * col("sw")).as("ysw"))
      .withColumn("Ch", col("ycw") - col("ym") * col("C"))
      .withColumn("Sh", col("ysw") - col("ym") * col("S"))
      .withColumn("YY", col("y2") - col("ym") * col("ym"))
      .filter(col("n") >= 4 && col("YY") > 0.0)
    Gls.glsPower(m)
      .select(col("w.start").as("window_start"), col("user_id"), col("k"),
        col("n"), col("power"))
  }

  /** The declarative batch moments GlsMoments replaced: a broadcast
    * cross join with the grid, then a (id, k) group of `avg`s. */
  private def declarativeMoments(spark: SparkSession, dir: String): DataFrame = {
    val freqs = spark.range(1, Gls.NF + 1).toDF("k")
    val omega = lit(2.0 * math.Pi * Gls.DF) * col("k") * col("tc")
    Gls.centered(spark, dir)
      .crossJoin(broadcast(freqs))
      .select(col("id"), col("k"),
        cos(omega).as("cw"), sin(omega).as("sw"),
        cos(omega * 2.0).as("c2w"), sin(omega * 2.0).as("s2w"),
        col("yc"))
      .groupBy("id", "k")
      .agg(avg("cw").as("C"), avg("sw").as("S"),
        avg(col("yc") * col("cw")).as("Ch"),
        avg(col("yc") * col("sw")).as("Sh"),
        avg("c2w").as("C2"), avg("s2w").as("S2"),
        avg(col("yc") * col("yc")).as("YY"))
  }

  /** Every field of every row, doubles as their raw bits. */
  private def bits(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case other => other
    }).sortBy(_.map(_.toString).mkString("|"))

  test("streamingGls keeps one state row per (window, user)") {
    val (_, stateRows) = runStream("gls_moments_state",
      seededBatches(7L, 3))(StreamingOps.streamingGls(_))
    assert(stateRows == Seq.fill(3)((Days * Users).toLong),
      s"state rows per batch: $stateRows")
  }

  test("streamingGls output is bit-identical to the declarative avgs") {
    val batches = seededBatches(11L, 3)
    val (got, _) = runStream("gls_moments_new", batches)(
      StreamingOps.streamingGls(_))
    val (want, _) = runStream("gls_moments_ref", batches)(
      declarativeStreamingGls(_))
    assert(want.length == Days * Users * 24)
    assert(spark.table("gls_moments_new").schema ==
      spark.table("gls_moments_ref").schema)
    assert(bits(got) == bits(want))
  }

  test("gls_periodogram moments and powers are bit-identical to the declarative avgs") {
    val cols = Seq("id", "k", "C", "S", "Ch", "Sh", "C2", "S2", "YY")
    val got = Gls.moments(spark, dir).select(cols.map(col): _*)
    val want = declarativeMoments(spark, dir).select(cols.map(col): _*)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    val wantRows = want.collect()
    assert(wantRows.nonEmpty)
    assert(bits(got.collect()) == bits(wantRows))
    val pg = Gls.glsPeriodogram(spark, dir).collect()
    val pgRef = Gls.glsPower(declarativeMoments(spark, dir))
      .select("id", "k", "power").collect()
    assert(bits(pg) == bits(pgRef))
  }

  private val agg = GlsMoments(BoundReference(0, DoubleType, nullable = true),
    BoundReference(1, DoubleType, nullable = true), 2.0 * math.Pi / 86400.0, 5)

  private def fed(rows: Seq[(Any, Any)]): Array[Double] =
    rows.foldLeft(agg.createAggregationBuffer()) { case (b, (t, y)) =>
      agg.update(b, InternalRow(t, y))
    }

  private val sample = Seq[(Any, Any)]((0.0, 1.5), (3600.0, -2.25),
    (7260.5, 4.0), (43210.0, 0.125))

  test("buffer: serialize round-trips, merging an empty buffer is a no-op") {
    val b = fed(sample)
    assert(b.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      agg.deserialize(agg.serialize(b))
        .map(java.lang.Double.doubleToRawLongBits).toSeq)
    val merged = agg.merge(b.clone(), agg.createAggregationBuffer())
    assert(merged.toSeq == b.toSeq)
    val mergedInto = agg.merge(agg.createAggregationBuffer(), b)
    assert(mergedInto.toSeq == b.toSeq)
  }

  test("buffer: a null tc or y is skipped, as avg skips it") {
    val withNulls = sample.take(2) ++ Seq[(Any, Any)]((null, 3.0),
      (1800.0, null), (null, null)) ++ sample.drop(2)
    assert(fed(withNulls).toSeq == fed(sample).toSeq)
    val out = agg.eval(fed(withNulls)).asInstanceOf[InternalRow]
    assert(out.getLong(0) == sample.size)
    val empty = agg.eval(fed(Seq((null, 1.0)))).asInstanceOf[InternalRow]
    assert(empty.getLong(0) == 0L && empty.isNullAt(1) && empty.isNullAt(2))
  }

  test("gls_periodogram plans no nested-loop join and aggregates on id alone") {
    val plan = Gls.glsPeriodogram(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"nested-loop join in:\n$plan")
    val momentAggs = plan.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(
        _.aggregateFunction.isInstanceOf[GlsMoments]) => a
    }
    assert(momentAggs.size == 2, s"expected a partial and a final:\n$plan")
    momentAggs.foreach { a =>
      assert(a.groupingExpressions.map(_.references.map(_.name).toSeq) ==
        Seq(Seq("id")), s"moments must aggregate on id alone:\n$plan")
    }
  }
}
