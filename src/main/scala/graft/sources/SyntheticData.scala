package graft.sources

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-signal source tables — the reference's
  * `data/` factories (reference data/__init__.py) re-expressed as
  * GENERATED tables: `spark.range` + column expressions, so a 10⁹-row
  * signal materializes distributed (no driver loop, no file), and the
  * identical `generate_series` arithmetic runs in DuckDB — generated
  * sources sit under the full hash gate like any parquet-backed table.
  *
  * The reference's random pieces are made deterministic the same way
  * the engine's other stochastic ops are (gls_fap resampling): the
  * shared md5-derived h60 hash replaces np.random, so every engine —
  * and every cluster run — generates the same signal.
  *
  * - syn_bpsk (data/__init__.py:67): BPSK over a real channel — ±1
  *   symbols held t_bit samples × carrier cos(2π·f_c·n); symbol signs
  *   from h60(bit index), noise floor omitted (the reference default
  *   n0_db = −inf). t_bit = 10, n_bits = 100, f_c = 0.05.
  * - syn_atoms_fm (data/__init__.py:126): two Gaussian atoms at
  *   different timeshifts/frequencies plus an FM sinusoid sweeping
  *   [9/128, 3/32] cycles/sample with a 1000-sample modulation.
  * - syn_duffing (data/__init__.py:154): damped Duffing wave with
  *   chirp frequency f(t) ≈ t/32768·(1 + 0.6·cos φ(t)).
  */
object SyntheticData {

  // -------------------------------------------------------------------
  // syn_bpsk
  // -------------------------------------------------------------------
  private val TBit = 10
  private val NBits = 100
  private val Fc = 0.05

  def synBpsk(spark: SparkSession, dir: String): DataFrame = {
    val sign = when(
      pmod(graft.dedup.Dedup.h60(
        concat_ws("", lit("bpsk_"), expr(s"n div $TBit"))), lit(2)) === 0,
      lit(1.0)).otherwise(lit(-1.0))
    spark.range(0, TBit.toLong * NBits).toDF("n")
      .select(col("n"),
        (round(sign * cos(lit(2.0 * math.Pi * Fc) * col("n")), 6) + lit(0.0))
          .as("y"))
  }

  val synBpskSql: String = {
    val h = graft.dedup.Dedup.h60Sql(s"'bpsk_' || (g.n // $TBit)")
    s"""SELECT g.n,
       |  round(CASE WHEN $h % 2 = 0 THEN 1.0 ELSE -1.0 END
       |        * cos(${2.0 * math.Pi * Fc} * g.n), 6) + 0.0 AS y
       |FROM generate_series(0, ${TBit * NBits - 1}) AS g(n)""".stripMargin
  }

  // -------------------------------------------------------------------
  // syn_atoms_fm — constants folded in Scala and shared as double
  // literals so both engines multiply identical values.
  // -------------------------------------------------------------------
  private val FMax = 3.0 / 32.0
  private val FMin = 9.0 / 128.0
  private val Phi = -math.acos((3.0 * FMin - FMax) / (FMax + FMin))
  private val C0 = Phi - math.sin(Phi) // phi − sin(phi), constant
  private val FMid2Pi = 2.0 * math.Pi * (FMax + FMin) / 2.0
  private val FDev = (FMax - FMin) / 2.0 * 1000.0

  def synAtomsFm(spark: SparkSession, dir: String): DataFrame = {
    val n = col("n").cast("double")
    val x1 = lit(3.0) * exp(-((n - 500.0) / 100.0) * ((n - 500.0) / 100.0)) *
      cos(lit(2.0 * math.Pi * 5.0 / 16.0) * (n - 1000.0))
    val x2 = cos(lit(FMid2Pi) * (n - 1000.0) +
      lit(FDev) * (sin(lit(2.0 * math.Pi / 1000.0) * n) + lit(C0)))
    val x3 = exp(-((n - 1000.0) / 200.0) * ((n - 1000.0) / 200.0)) *
      cos(lit(2.0 * math.Pi * 7.0 / 256.0) * (n - 1000.0))
    spark.range(1, 2001).toDF("n")
      .select(col("n"), (round(x1 + x2 + x3, 6) + lit(0.0)).as("y"))
  }

  val synAtomsFmSql: String =
    s"""SELECT g.n,
       |  round(
       |    3.0 * exp(-((g.n - 500.0)/100.0)*((g.n - 500.0)/100.0))
       |        * cos(${2.0 * math.Pi * 5.0 / 16.0} * (g.n - 1000.0))
       |    + cos($FMid2Pi * (g.n - 1000.0)
       |          + $FDev * (sin(${2.0 * math.Pi / 1000.0} * g.n) + $C0))
       |    + exp(-((g.n - 1000.0)/200.0)*((g.n - 1000.0)/200.0))
       |        * cos(${2.0 * math.Pi * 7.0 / 256.0} * (g.n - 1000.0)),
       |  6) + 0.0 AS y
       |FROM generate_series(1, 2000) AS g(n)""".stripMargin

  // -------------------------------------------------------------------
  // syn_two_tones — SustainedPlusGappedPureTones (data/__init__.py:105):
  // a sustained 0.065-cycle/sample tone plus a gapped 0.255 tone over
  // [500, 750) — the signal the reference's own CEEMDAN test
  // (tests/test_decomposition.py) separates into exactly two IMFs.
  // -------------------------------------------------------------------
  def twoTonesY(n: org.apache.spark.sql.Column,
      gapStart: Int, gapEnd: Int): org.apache.spark.sql.Column =
    sin(lit(2.0 * math.Pi * 0.065) * n) +
      when(n >= gapStart && n < gapEnd,
        sin(lit(2.0 * math.Pi * 0.255) * (n - gapStart.toDouble)))
        .otherwise(lit(0.0))

  def synTwoTones(spark: SparkSession, dir: String): DataFrame =
    spark.range(0, 1000).toDF("n")
      .select(col("n"),
        (round(twoTonesY(col("n").cast("double"), 500, 750), 6) + lit(0.0))
          .as("y"))

  val synTwoTonesSql: String =
    s"""SELECT g.n,
       |  round(sin(${2.0 * math.Pi * 0.065} * g.n)
       |    + CASE WHEN g.n >= 500 AND g.n < 750
       |           THEN sin(${2.0 * math.Pi * 0.255} * (g.n - 500.0))
       |           ELSE 0.0 END, 6) + 0.0 AS y
       |FROM generate_series(0, 999) AS g(n)""".stripMargin

  // -------------------------------------------------------------------
  // syn_duffing — inner phase t²/512 + 32 is exact in doubles (powers
  // of two), so the libm inputs are bit-identical on both engines.
  // -------------------------------------------------------------------
  def synDuffing(spark: SparkSession, dir: String): DataFrame = {
    val t = col("n").cast("double")
    val inner = t * t / 512.0 + 32.0
    val y = exp(-t / 256.0) *
      cos(lit(math.Pi / 64.0) * inner +
        lit(0.3) * sin(lit(math.Pi / 32.0) * inner))
    spark.range(0, 1024).toDF("n")
      .select(col("n"), (round(y, 6) + lit(0.0)).as("y"))
  }

  val synDuffingSql: String =
    """SELECT g.n,
      |  round(exp(-g.n/256.0) * cos(pi()/64.0 * (g.n*g.n/512.0 + 32.0)
      |        + 0.3 * sin(pi()/32.0 * (g.n*g.n/512.0 + 32.0))), 6) + 0.0 AS y
      |FROM generate_series(0, 1023) AS g(n)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("syn_bpsk", synBpsk, synBpskSql),
    Query("syn_atoms_fm", synAtomsFm, synAtomsFmSql),
    Query("syn_two_tones", synTwoTones, synTwoTonesSql),
    Query("syn_duffing", synDuffing, synDuffingSql))
}
