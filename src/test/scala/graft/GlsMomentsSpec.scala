package graft

import graft.functions.GlsMoments
import graft.spectral.Gls
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** The GlsMoments aggregate behind `gls_periodogram`, `streamingGls`,
  * `gls_window`, `gls_weighted` and `psd_dft`: one state row per
  * (window, user), outputs bit-identical to the declarative
  * formulations it replaced (kept below as the references), the
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

  private def freqs(spark: SparkSession): DataFrame =
    spark.range(1, Gls.NF + 1).toDF("k")

  /** gls_window's moments before GlsMoments: a broadcast cross join
    * with the grid, then (id, k) groups of avg(cos), avg(sin), … */
  private def crossJoinWindowMoments(spark: SparkSession,
      dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val t0 = s.groupBy("id").agg(min("t").as("t0"))
    val omega = lit(2.0 * math.Pi * Gls.DF) * col("k") * (col("t") - col("t0"))
    s.join(broadcast(t0), "id")
      .crossJoin(broadcast(freqs(spark)))
      .select(col("id"), col("k"),
        cos(omega).as("cw"), sin(omega).as("sw"),
        cos(omega * 2.0).as("c2w"), sin(omega * 2.0).as("s2w"))
      .groupBy("id", "k")
      .agg(avg("cw").as("Ch"), avg("sw").as("Sh"),
        avg("c2w").as("C2"), avg("s2w").as("S2"),
        lit(0.0).as("C"), lit(0.0).as("S"), lit(1.0).as("YY"))
  }

  /** gls_weighted's moments before GlsMoments: the cross join, then
    * (id, k) groups of sum(wt · …) / sum(wt). */
  private def crossJoinWeightedMoments(spark: SparkSession,
      dir: String): DataFrame = {
    val s = Tables.series(spark, dir).withColumn("wt", lit(1.0) / col("y"))
    val stats = s.groupBy("id").agg(min("t").as("t0"),
      (sum(col("wt") * col("y")) / sum("wt")).as("ymean"))
    val omega = lit(2.0 * math.Pi * Gls.DF) * col("k") * (col("t") - col("t0"))
    s.join(broadcast(stats), "id")
      .crossJoin(broadcast(freqs(spark)))
      .select(col("id"), col("k"), col("wt"),
        cos(omega).as("cw"), sin(omega).as("sw"),
        cos(omega * 2.0).as("c2w"), sin(omega * 2.0).as("s2w"),
        (col("y") - col("ymean")).as("yc"))
      .groupBy("id", "k")
      .agg((sum(col("wt") * col("cw")) / sum("wt")).as("C"),
        (sum(col("wt") * col("sw")) / sum("wt")).as("S"),
        (sum(col("wt") * col("yc") * col("cw")) / sum("wt")).as("Ch"),
        (sum(col("wt") * col("yc") * col("sw")) / sum("wt")).as("Sh"),
        (sum(col("wt") * col("c2w")) / sum("wt")).as("C2"),
        (sum(col("wt") * col("s2w")) / sum("wt")).as("S2"),
        (sum(col("wt") * col("yc") * col("yc")) / sum("wt")).as("YY"))
  }

  /** psd_dft before GlsMoments: the cross join, then (id, k) groups of
    * sum(re), sum(im) and the power from them. */
  private def crossJoinDft(spark: SparkSession, dir: String): DataFrame = {
    val omega = lit(2.0 * math.Pi * Gls.DF) * col("k") * col("tc")
    Gls.centered(spark, dir)
      .crossJoin(broadcast(freqs(spark)))
      .select(col("id"), col("k"),
        (col("yc") * cos(omega)).as("re"), (col("yc") * sin(omega)).as("im"))
      .groupBy("id", "k")
      .agg(sum("re").as("Ch"), sum("im").as("Sh"),
        round(sum("re") * sum("re") + sum("im") * sum("im"), 3).as("power"))
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

  private val momentCols = Seq("id", "k", "C", "S", "Ch", "Sh", "C2", "S2", "YY")

  /** `cols` of `got` and `want` agree in type and in every raw bit. */
  private def assertSameBits(got: DataFrame, want: DataFrame,
      cols: Seq[String]): Unit = {
    val (g, w) = (got.select(cols.map(col): _*), want.select(cols.map(col): _*))
    assert(g.schema.map(_.dataType) == w.schema.map(_.dataType))
    val wantRows = w.collect()
    assert(wantRows.nonEmpty)
    assert(bits(g.collect()) == bits(wantRows))
  }

  test("gls_window moments and powers are bit-identical to the cross-join avgs") {
    assertSameBits(Gls.windowMoments(spark, dir),
      crossJoinWindowMoments(spark, dir), momentCols)
    assertSameBits(Gls.glsWindow(spark, dir),
      Gls.glsPower(crossJoinWindowMoments(spark, dir)), Seq("id", "k", "power"))
  }

  test("gls_weighted moments and powers are bit-identical to the cross-join sums") {
    assertSameBits(Gls.weightedMoments(spark, dir),
      crossJoinWeightedMoments(spark, dir), momentCols)
    assertSameBits(Gls.glsWeighted(spark, dir),
      Gls.glsPower(crossJoinWeightedMoments(spark, dir)),
      Seq("id", "k", "power"))
  }

  test("psd_dft sums and powers are bit-identical to the cross-join sums") {
    assertSameBits(Gls.dftSums(spark, dir), crossJoinDft(spark, dir),
      Seq("id", "k", "Ch", "Sh"))
    assertSameBits(Gls.psdDft(spark, dir), crossJoinDft(spark, dir),
      Seq("id", "k", "power"))
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

  /** An eval result with every double as its raw bits. */
  private def rawBits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: GenericInternalRow => r.values.toSeq.map(rawBits)
    case a: GenericArrayData => a.array.toSeq.map(rawBits)
    case other => other
  }

  private def fold(a: GlsMoments, rows: Seq[InternalRow]): Array[Double] =
    rows.foldLeft(a.createAggregationBuffer())((b, r) => a.update(b, r))

  private val samples = sample.map { case (t: Double, y: Double) => (t, y) }

  test("buffer: a weight of 1 gives the unweighted bits; others divide by the weight sum") {
    val weighted =
      agg.copy(weight = Some(BoundReference(2, DoubleType, nullable = true)))
    val ones = samples.map { case (t, y) => InternalRow(t, y, 1.0) }
    assert(rawBits(weighted.eval(fold(weighted, ones))) ==
      rawBits(agg.eval(fed(sample))))
    val ws = Seq(2.0, 0.5, 1.0 / 3.0, 7.25)
    val out = weighted.eval(fold(weighted, samples.zip(ws).map {
      case ((t, y), w) => InternalRow(t, y, w) })).asInstanceOf[InternalRow]
    val sw = ws.sum
    for (k <- 1 to 5) {
      val h = out.getArray(3).getStruct(k - 1, 7)
      val om = samples.map { case (t, _) => (agg.omega * k) * t }
      // (w·y)·c and w·c2, summed in input order, over Σw
      val ycos = samples.zip(ws).zip(om)
        .map { case (((_, y), w), o) => (w * y) * math.cos(o) }.sum / sw
      val c2 = ws.zip(om).map { case (w, o) => w * math.cos(o * 2.0) }.sum / sw
      assert(h.getDouble(5) == ycos && h.getDouble(3) == c2, s"harmonic $k")
    }
  }

  test("buffer: sums returns the raw sums, and null over no rows") {
    val summed = agg.copy(sums = true)
    val out = summed.eval(fed(sample)).asInstanceOf[InternalRow]
    assert(out.getLong(0) == sample.size)
    for (k <- 1 to 5) {
      val h = out.getArray(3).getStruct(k - 1, 7)
      val om = samples.map { case (t, y) => (y, (agg.omega * k) * t) }
      assert(h.getDouble(5) == om.map { case (y, o) => y * math.cos(o) }.sum)
      assert(h.getDouble(6) == om.map { case (y, o) => y * math.sin(o) }.sum)
      assert(h.getDouble(1) == om.map { case (_, o) => math.cos(o) }.sum)
    }
    val empty = summed.eval(fed(Seq((null, 1.0)))).asInstanceOf[InternalRow]
    assert(empty.getLong(0) == 0L &&
      empty.getArray(3).getStruct(0, 7).isNullAt(5))
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
