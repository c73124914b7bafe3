package graft

import org.scalatest.funsuite.AnyFunSuite

/** Oracle SQL strings that use constant ranges where DuckDB cannot
  * take lateral bounds (ts_fill_gaps' 6 h-bin grid, ts_interp's 5 h
  * grid). A testdata refresh that leaves those ranges must fail HERE,
  * loudly, instead of silently breaking the oracle compare.
  * (text_fingerprint's 16384-char position constant is GONE — round
  * 14 replaced it with a per-doc string_split + lead-window form that
  * is linear and uncapped; see TextOps.textFingerprintSql.) */
class OracleConstantsSpec extends AnyFunSuite with GraftSpark {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  test("testdata contract: Tables.series analyzes and t is finite " +
    "(both ts dtypes: timestamp[us]/[ns] parquet and raw int64-ns)") {
    // Round 7 postmortem: the generator flipped events.ts from
    // timestamp[ns] to timestamp[us] and the hard-coded `ts div 1000`
    // read path failed ANALYSIS on every series query — 113 tests went
    // red with one cryptic shared error. This spec is the loud, named
    // failure for the next refresh: if it fires, fix Tables.tsMicros.
    import org.apache.spark.sql.functions._
    for (dir <- dirs) {
      val s = Tables.series(spark, dir) // throws here if ts dtype unhandled
      val r = s.agg(count(when(col("t").isNull || col("t").isNaN, 1)),
        min(col("t")), max(col("t"))).collect()(0)
      assert(r.getLong(0) == 0L, s"$dir: null/NaN t values")
      // epoch seconds must land in a sane era (2000..2100), i.e. the
      // µs→s scaling is right — a ns-as-µs misread would be ~1e3 off
      assert(r.getDouble(1) > 9.46e8 && r.getDouble(2) < 4.1e9,
        s"$dir: t range [${r.getDouble(1)}, ${r.getDouble(2)}] not epoch " +
          "seconds — Tables.tsMicros scaling is wrong for this dtype")
    }
  }

  test("events time range stays inside the fill_gaps grid constant") {
    import org.apache.spark.sql.functions._
    for (dir <- dirs) {
      val r = Tables.series(spark, dir)
        .agg(floor(min(col("t")) / 21600.0).cast("long"),
          ceil(max(col("t")) / 21600.0).cast("long")).collect()(0)
      assert(r.getLong(0) >= 70000L && r.getLong(1) <= 90000L,
        s"$dir: 6h bins [${r.getLong(0)}, ${r.getLong(1)}] outside the " +
          "oracle's generate_series(70000, 90000) — widen tsFillGapsSql")
    }
  }

  test("events time range stays inside the ts_interp grid constant") {
    import org.apache.spark.sql.functions._
    for (dir <- dirs) {
      val r = Tables.series(spark, dir)
        .agg(floor(min(col("t")) / 18000.0).cast("long"),
          ceil(max(col("t")) / 18000.0).cast("long")).collect()(0)
      assert(r.getLong(0) >= 84000L && r.getLong(1) <= 108000L,
        s"$dir: 5h steps [${r.getLong(0)}, ${r.getLong(1)}] outside the " +
          "oracle's generate_series(84000, 108000) — widen tsInterpSql")
    }
  }

  test("h60 three-way equivalence: JVM kernel == Spark expression " +
    "(the DuckDB twin shares the md5 spec by construction)") {
    // The ceemdan noise tier (tsa.SeriesOps2.h60Jvm — digest top-60-
    // bits fast path) must agree with the Spark h60 column expression
    // (dedup.Dedup.h60 — conv(substring(md5,1,15),16,10)) that the
    // rest of the repo pins against DuckDB's ('0x'||substr(md5,1,15))
    // cast. Drift here silently de-synchronizes every ceemdan gate.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val samples = (for {
      id <- Seq(0L, 1L, 42L, 123456789L); r <- 0 until 3; i <- 0 until 5
      s <- Seq("a", "b")
    } yield s"${id}_${r}_${i}_$s").toSeq
    val viaSpark = samples.toDF("s")
      .select(col("s"), graft.dedup.Dedup.h60(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    samples.foreach { s =>
      assert(graft.tsa.SeriesOps2.h60Jvm(s) == viaSpark(s),
        s"h60 mismatch for '$s'")
    }
  }
}
