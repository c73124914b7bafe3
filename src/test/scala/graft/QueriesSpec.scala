package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs on sf0.001 and produces a sane frame;
  * semantic spot checks on a few operators. The full value-level gate
  * is the driver's DuckDB oracle (tools/check_oracle.py). */
class QueriesSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val q = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet.diff(q)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and returns rows on sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("gls_best_period periods are inside the trial grid") {
    import org.apache.spark.sql.functions._
    val df = spectral.Gls.glsBestPeriod(spark, dir)
    val bad = df.filter(col("best_period") > 2592000.0 ||
      col("best_period") < 2592000.0 / 200).count()
    assert(bad == 0)
  }

  test("ts_downsample preserves total sample count") {
    import org.apache.spark.sql.functions._
    val total = tsa.TimeSeriesOps.tsDownsample(spark, dir)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(total == Tables.series(spark, dir).count())
  }

  test("dedup_exact finds no duplicates in the synthetic corpus") {
    import org.apache.spark.sql.functions._
    val dups = dedup.Dedup.dedupExact(spark, dir)
      .filter(col("n_copies") > 1).count()
    assert(dups == 0)
  }

  test("ann_cosine_topk returns exactly k neighbors per query") {
    val df = sim.Similarity.annCosineTopk(spark, dir)
    val counts = df.groupBy("qid").count().collect()
    assert(counts.forall(_.getLong(1) == 5))
  }

  test("approximate ANN paths keep recall against the exact baseline") {
    def topsets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "cid").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet
        }
    val exact = topsets(sim.Similarity.annCosineTopk(spark, dir))
    def meanRecall(approx: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, e) =>
        e.intersect(approx.getOrElse(q, Set.empty)).size.toDouble / e.size
      }
      rs.sum / rs.size
    }
    // round-7 Lloyd-refined quantizer: recall@5 = 0.94 at sf0.001,
    // exactly matching the round-6 seeded quantizer (no decrease); the
    // tight bound pins that the refinement never costs recall here
    val ivf = meanRecall(topsets(sim.Similarity.annIvfTopk(spark, dir)))
    assert(ivf >= 0.9, s"IVF recall@5 fell to $ivf (0.94 at authoring, " +
      "seeded and Lloyd-refined alike)")
    val lsh = meanRecall(topsets(sim.Similarity.annLshTopk(spark, dir)))
    assert(lsh >= 0.15, s"LSH recall@5 fell to $lsh (0.34 at authoring)")
  }

  test("ceemdan orthogonality diagonal is exactly 1") {
    import org.apache.spark.sql.functions._
    val bad = tsa.SeriesOps2.ceemdanOrthogonality(spark, dir)
      .filter(col("mi") === col("mj") && col("orth") =!= 1.0).count()
    assert(bad == 0, s"$bad diagonal entries with corr != 1")
  }

  test("emd modes reconstruct bounded residue") {
    import org.apache.spark.sql.functions._
    // modes exist for most series and values are finite
    val df = tsa.SeriesOps.emdImfs(spark, dir)
    assert(df.filter(col("y").isNull || isnan(col("y"))).count() == 0)
  }

  test("ceemdan compose bit-matches the in-memory ensemble kernel") {
    import org.apache.spark.sql.functions._
    // round-10 recovery pin: ceemdan is now a declarative compose over
    // ceemdan_dump (imf_k = residue_k - mu_k with the r-ordered fold).
    // This compares the ENTIRE sf0.001 output against ceemdanCore's
    // imfs computed driver-side - bit-exact including the final rint
    // (i.e. Spark bround == math.rint at the 1e-6 grid on this data).
    val series = Tables.series(spark, dir)
      .select("id", "t", "y", "eid").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    val exp = series.flatMap { case (id, rows) =>
      val s = rows.sortBy(r => (r._2, r._4))
      tsa.SeriesOps2.ceemdanCore(id, s.map(_._2), s.map(_._3)) match {
        case None => Seq.empty
        case Some((t, imfs, sigma, _, _)) =>
          imfs.zipWithIndex.flatMap { case (m, k) =>
            t.indices.map(i =>
              (id, k, t(i)) -> (math.rint(m(i) * sigma * 1e6) / 1e6))
          }
      }
    }
    val got = tsa.SeriesOps2.ceemdan(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)) -> r.getDouble(3))
      .toMap
    assert(got.size == exp.size, s"rows: got ${got.size} exp ${exp.size}")
    for ((key, e) <- exp) {
      assert(got(key) == e, s"ceemdan mismatch at $key: got=${got(key)} exp=$e")
    }
  }

  test("ts_interp_spline bit-matches the in-memory spline kernel") {
    import org.apache.spark.sql.functions._
    // end-to-end cross-check of the distributed pipeline (knot dedup,
    // segment as-of, polynomial eval, 6 dp round) against
    // SeriesMath.splineEval run driver-side on the same series
    val id = Tables.series(spark, dir).agg(min("id")).collect()(0).getLong(0)
    val samples = Tables.series(spark, dir).filter(col("id") === id)
      .select("t", "y", "eid").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      .sortBy(r => (r._1, r._3))
    val kt = scala.collection.mutable.ArrayBuffer[Double]()
    val ky = scala.collection.mutable.ArrayBuffer[Double]()
    for ((t, y, _) <- samples if kt.isEmpty || t > kt.last) { kt += t; ky += y }
    val got = tsa.TimeSeriesOps4.tsInterpSpline(spark, dir)
      .filter(col("id") === id).select("t", "y_spline").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    assert(got.nonEmpty, s"no spline grid rows for series $id")
    val exp = tsa.SeriesMath.splineEval(kt.toArray, ky.toArray, got.map(_._1))
      .map(v => BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    for (((t, g), e) <- got.zip(exp)) {
      assert(g == e, s"spline mismatch at t=$t: query=$g kernel=$e")
    }
  }
}
