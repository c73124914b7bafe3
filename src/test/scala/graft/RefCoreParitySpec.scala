package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the remaining reference core-contract tests
  * (tests/test_core.py) not covered elsewhere — closing the 16/16
  * reference-test mirror:
  *
  *  - test_time_array_is_always_sorted (:7): TSeries sorts samples by
  *    time at construction. The distributed analogue is INPUT-ORDER
  *    INVARIANCE: parquet row order is arbitrary at scale (task
  *    scheduling, file splits), so every per-series operator must
  *    order by (t, eid) itself, never trust arrival order.
  *  - test_input_arrays_with_different_sizes (:13): constructing from
  *    inconsistent inputs raises. The analogue is the events data
  *    contract: an unsupported ts physical type must fail LOUDLY at
  *    analysis, not silently misparse (Tables.tsMicros).
  *  - test_baseline (:25) / test_dt (:18,:29): baseline = t·(n−1) on
  *    an arange grid, dt defined only for uniform sampling — pinned on
  *    SeriesMath.medianDt plus the GLS autogrid's baseline-derived
  *    frequency step (gls_autogrid is the operator that consumes
  *    baseline, GlsAuto.scala:12).
  */
class RefCoreParitySpec extends AnyFunSuite with GraftSpark {

  private val T0 = 1.704067200e9

  /** Two parquet copies of the same 2-series data: one time-sorted,
    * one written in a scrambled row order (and different partition
    * count, so Spark's scan order differs too). */
  private lazy val (sortedDir, shuffledDir): (String, String) = {
    import spark.implicits._
    val rows = for {
      uid <- Seq(1L, 2L)
      k <- 0 until 120
      t = T0 + k * 7200.0
    } yield (uid * 1000 + k, (t * 1e9).toLong, uid, "tick",
      10.0 + 3.0 * math.sin(2 * math.Pi * t / 172800.0) +
        (uid * 37 + k * 17) % 13 * 0.05, "{}")
    def write(rs: Seq[(Long, Long, Long, String, Double, String)],
              parts: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ord").toString
      rs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(parts).write.mode("overwrite").parquet(s"$dir/ev")
      val fs = new java.io.File(s"$dir/ev")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      if (fs.length == 1) {
        java.nio.file.Files.move(fs.head.toPath,
          java.nio.file.Paths.get(s"$dir/events.parquet"))
      } else {
        val sub = new java.io.File(s"$dir/events.parquet")
        sub.mkdir()
        fs.zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/events.parquet/part$i.parquet"))
        }
      }
      dir
    }
    val shuffled = new scala.util.Random(11).shuffle(rows)
    (write(rows, 1), write(shuffled, 3))
  }

  test("per-series operators are input-order invariant " +
    "(ref test_core.py:7 — TSeries sorts by time)") {
    // ts_derivative is lag-based (maximally order-sensitive),
    // gls_best_period aggregates trig moments, ts_acf windows lags.
    for (q <- Seq("ts_derivative", "ts_acf", "gls_best_period")) {
      val a = SparkEntry.queries(q)(spark, sortedDir)
      val cols = a.columns.map(col)
      val s = a.orderBy(cols: _*).collect().toSeq
      val u = SparkEntry.queries(q)(spark, shuffledDir)
        .orderBy(cols: _*).collect().toSeq
      assert(s == u, s"$q differs between sorted and shuffled input")
      assert(s.nonEmpty, s"$q returned no rows")
    }
  }

  test("unsupported ts physical type fails loudly at analysis " +
    "(ref test_core.py:13 — inconsistent inputs raise)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bad").toString
    Seq((1L, "2024-01-01", 1L, "tick", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/ev")
    val f = new java.io.File(s"$dir/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val e = intercept[IllegalArgumentException] {
      Tables.series(spark, dir).collect()
    }
    assert(e.getMessage.contains("unsupported"),
      s"expected the ts data-contract message, got: ${e.getMessage}")
  }

  test("baseline and dt contracts (ref test_core.py:18,25,29)") {
    // median_dt of nonuniform gaps {2,1} is their median 1.5
    assert(tsa.SeriesMath.medianDt(Array(1.0, 3.0, 4.0)) == 1.5)
    // arange(10): baseline 9, uniform dt 1 — and a nonuniform slice
    // of it has NO single dt (median_dt falls between the gap sizes)
    val t10 = Array.tabulate(10)(_.toDouble)
    assert(t10.last - t10.head == 9.0)
    assert(tsa.SeriesMath.medianDt(t10) == 1.0)
    val sliced = Array(2.0, 5.0, 6.0)
    val mdt = tsa.SeriesMath.medianDt(sliced)
    assert(mdt != 1.0 && sliced.sliding(2).exists(p => p(1) - p(0) != mdt),
      "a nonuniform slice must not report a uniform dt")
  }
}
