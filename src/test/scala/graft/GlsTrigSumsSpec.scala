package graft

import graft.functions.GlsTrigSums
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The imperative GlsTrigSums aggregate matches the declarative
  * formulation it replaced: per-harmonic averages of y·cos(kωt),
  * y·sin(kωt) (and the signal-independent c/s/double-angle moments)
  * against 2·NF separate `avg` expressions over direct trig calls. */
class GlsTrigSumsSpec extends AnyFunSuite with GraftSpark {

  // the registered grid: the functions are registered once per
  // session, with the bootstrap's fixed ω and nf
  private val Nf = GlsTrigSums.Nf
  private val Om = GlsTrigSums.Omega

  // the recurrence drifts from direct cos(kωt) by O(k·ulp); the
  // averages then differ by at most ~1e-12 relative — far inside the
  // 6 dp rounding every consumer applies
  private val Tol = 1e-9

  test("gls_trig_y matches per-harmonic declarative averages") {
    GlsTrigSums.register(spark)
    val df = Tables.series(spark, "/root/testdata/sf0.001")
      .select(col("id"), col("t").as("tc"), col("y"))
    val imp = df.groupBy("id").agg(expr("gls_trig_y(tc, y)").as("ar"))
    val decls = (1 to Nf).flatMap { k =>
      Seq(avg(col("y") * cos(lit(Om * k) * col("tc"))).as(s"yc$k"),
        avg(col("y") * sin(lit(Om * k) * col("tc"))).as(s"ys$k"))
    } ++ Seq(
      (sum(round(col("y") * 100.0, 0).cast("long")).cast("double") /
        count(lit(1)) / 100.0).as("ym"),
      avg(col("y") * col("y")).as("y2"))
    val dec = df.groupBy("id").agg(decls.head, decls.tail: _*)
    val joined = imp.join(dec, "id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val ar = r.getSeq[Double](r.fieldIndex("ar"))
      assert(ar.length == 2 * Nf + 2)
      (1 to Nf).foreach { k =>
        assert(math.abs(ar(k - 1) - r.getDouble(r.fieldIndex(s"yc$k"))) < Tol,
          s"yc$k: ${ar(k - 1)} vs ${r.getDouble(r.fieldIndex(s"yc$k"))}")
        assert(math.abs(ar(Nf + k - 1) - r.getDouble(r.fieldIndex(s"ys$k"))) < Tol,
          s"ys$k")
      }
      assert(ar(2 * Nf) === r.getDouble(r.fieldIndex("ym")), "ym must be exact")
      assert(math.abs(ar(2 * Nf + 1) - r.getDouble(r.fieldIndex("y2"))) < Tol)
    }
  }

  test("gls_trig_base matches the four signal-independent moment sets") {
    GlsTrigSums.register(spark)
    val df = Tables.series(spark, "/root/testdata/sf0.001")
      .select(col("id"), col("t").as("tc"))
    val imp = df.groupBy("id").agg(expr("gls_trig_base(tc)").as("ar"))
    val decls = (1 to Nf).flatMap { k =>
      val c = cos(lit(Om * k) * col("tc"))
      val s = sin(lit(Om * k) * col("tc"))
      Seq(avg(c).as(s"ca$k"), avg(s).as(s"sa$k"),
        avg(c * c - s * s).as(s"cb$k"),
        avg(lit(2.0) * s * c).as(s"sb$k"))
    }
    val dec = df.groupBy("id").agg(decls.head, decls.tail: _*)
    val joined = imp.join(dec, "id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val ar = r.getSeq[Double](r.fieldIndex("ar"))
      assert(ar.length == 4 * Nf)
      (1 to Nf).foreach { k =>
        assert(math.abs(ar(k - 1) - r.getDouble(r.fieldIndex(s"ca$k"))) < Tol)
        assert(math.abs(ar(Nf + k - 1) - r.getDouble(r.fieldIndex(s"sa$k"))) < Tol)
        assert(math.abs(ar(2 * Nf + k - 1) - r.getDouble(r.fieldIndex(s"cb$k"))) < Tol)
        assert(math.abs(ar(3 * Nf + k - 1) - r.getDouble(r.fieldIndex(s"sb$k"))) < Tol)
      }
    }
  }

  test("partial-merge path: result is partitioning-independent") {
    GlsTrigSums.register(spark)
    val df = Tables.series(spark, "/root/testdata/sf0.001")
      .select(col("id"), col("t").as("tc"), col("y"))
    val one = df.coalesce(1).groupBy("id")
      .agg(expr("gls_trig_y(tc, y)").as("ar"))
    val many = df.repartition(16, col("tc")).groupBy("id")
      .agg(expr("gls_trig_y(tc, y)").as("ar"))
    val j = one.join(many.withColumnRenamed("ar", "ar2"), "id").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val a = r.getSeq[Double](r.fieldIndex("ar"))
      val b = r.getSeq[Double](r.fieldIndex("ar2"))
      a.zip(b).foreach { case (x, y2) =>
        assert(math.abs(x - y2) < Tol, s"$x vs $y2")
      }
    }
  }
}
