package graft.tsa

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Variational Mode Decomposition — BEYOND the reference's shipped
  * surface: decomposition.py:206 declares `VMD` as an empty stub on
  * the reference's own roadmap (decomposition.py:9 TODO). The
  * algorithm is public — Dragomiretskiy & Zosso, "Variational Mode
  * Decomposition", IEEE TSP 62(3), 2014: decompose a signal into K
  * modes with compact spectral support by ADMM, alternating Wiener
  * updates of the mode spectra û_k(ω) = (f̂ − Σ_{j≠k} û_j) /
  * (1 + 2α(ω − ω_k)²) with center-of-gravity updates of ω_k.
  *
  * graft conventions (the stub defines no semantics to match):
  * K = 3 modes, bandwidth α = 2000, τ = 0 (no dual ascent — the
  * Wiener filters partition the spectrum without the Lagrangian
  * polish), a FIXED 30-iteration Gauss-Seidel sweep (deterministic —
  * no data-dependent stop), one-sided spectrum on the 6 h uniform
  * resample truncated to a power of two (≤1024), ω_k initialized
  * uniformly at (k+½)/2K cycles/sample. Modes reconstruct by
  * Hermitian mirroring + inverse FFT.
  *
  * Same per-series mapGroups shape as EMD/LMD/CEEMDAN: the 100 TB
  * axis is series COUNT; each kernel is O(K·n·iter + n log n) on a
  * ≤1024-point array. `vmd_modes` is the rows-only kernel tier;
  * `vmd_energy` gates its values through the driver hash (exact
  * integer-unit sums over the dump — the lmd_energy discipline).
  */
object Vmd {

  private val K = 3
  private val Alpha = 2000.0
  private val Iter = 30
  private val Dt = 21600.0

  private val vmdFn
      : (Long, Array[Double], Array[Double]) => Iterator[
        (Long, Int, Double, Double, Double)] =
    (id, t0, y0) => {
      val (gt, gy) = SeriesOps.resampleUniform(t0, y0, Dt)
      val n = math.min(Integer.highestOneBit(math.max(gt.length, 1)), 1024)
      if (n < 16) Iterator.empty
      else {
        val mean = gy.take(n).sum / n
        val re = new Array[Double](n)
        val im = new Array[Double](n)
        var i0 = 0
        while (i0 < n) { re(i0) = gy(i0) - mean; i0 += 1 }
        SeriesMath.fft(re, im, inverse = false)
        val h = n / 2
        val ur = Array.ofDim[Double](K, h + 1)
        val ui = Array.ofDim[Double](K, h + 1)
        val om = Array.tabulate(K)(k => (k + 0.5) / (2.0 * K))
        var it = 0
        while (it < Iter) {
          var k = 0
          while (k < K) {
            var num = 0.0
            var den = 0.0
            var i = 0
            while (i <= h) {
              var sr = 0.0
              var si = 0.0
              var j = 0
              while (j < K) {
                if (j != k) { sr += ur(j)(i); si += ui(j)(i) }
                j += 1
              }
              val nu = i.toDouble / n
              val dnu = nu - om(k)
              val w = 1.0 + 2.0 * Alpha * (dnu * dnu)
              ur(k)(i) = (re(i) - sr) / w
              ui(k)(i) = (im(i) - si) / w
              val p = ur(k)(i) * ur(k)(i) + ui(k)(i) * ui(k)(i)
              num += nu * p
              den += p
              i += 1
            }
            if (den > 0.0) om(k) = num / den
            k += 1
          }
          it += 1
        }
        (0 until K).iterator.flatMap { k =>
          val mr = new Array[Double](n)
          val mi = new Array[Double](n)
          var i = 0
          while (i <= h) { mr(i) = ur(k)(i); mi(i) = ui(k)(i); i += 1 }
          i = 1
          while (i < h) {
            mr(n - i) = ur(k)(i)
            mi(n - i) = -ui(k)(i)
            i += 1
          }
          SeriesMath.fft(mr, mi, inverse = true)
          (0 until n).iterator.map(j =>
            (id, k, gt(j), math.rint(mr(j) * 1e6) / 1e6,
              math.rint(om(k) * 1e9) / 1e9))
        }
      }
    }

  /** vmd_modes — rows (id, mode, t, u, omega): the per-mode time
    * series and its converged center frequency (cycles/sample on the
    * 6 h grid). Rows-only kernel tier; values gated via vmd_energy. */
  def vmdModes(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.perSeries(spark, dir)(vmdFn)
      .toDF("id", "mode", "t", "u", "omega")

  /** vmd_energy — per-(series, mode) summary with EXACT integer-unit
    * aggregation (lmd_energy discipline): u is 1e-6-quantized at the
    * dump, so sums of 1e-6 units (amplitude) and squared 1e-3 units
    * (energy — the coarser grid keeps n·u² inside int64) are
    * order-independent; omega and max|u| are per-group constants /
    * exact maxes. DERIVED-INPUT oracle replays the sums over the
    * vmd_modes parquet dump — putting the ADMM kernel's values under
    * the driver hash. */
  def vmdEnergy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    vmdModes(spark, dir)
      .select(col("id"), col("mode"), col("omega"), col("u"),
        round(col("u") * 1e6, 0).cast("long").as("uu"),
        round(col("u") * 1e3, 0).cast("long").as("uk"))
      .groupBy("id", "mode")
      .agg(count(lit(1)).as("n"),
        sum(col("uu").cast("decimal(38,0)")).cast("long").as("u_sum_u"),
        sum((col("uk") * col("uk")).cast("decimal(38,0)")).cast("long")
          .as("e_sum_k2"),
        max(abs(col("u"))).as("u_max"),
        max(col("omega")).as("omega"))
  }

  val vmdEnergySql: String =
    """WITH m AS (
      |  SELECT *, cast(round(u * 1000000.0) AS BIGINT) AS uu,
      |    cast(round(u * 1000.0) AS BIGINT) AS uk
      |  FROM read_parquet('__GRAFT_OUT__/vmd_modes/*.parquet'))
      |SELECT id, mode, count(*) AS n,
      |  cast(sum(uu) AS BIGINT) AS u_sum_u,
      |  cast(sum(uk * uk) AS BIGINT) AS e_sum_k2,
      |  max(abs(u)) AS u_max,
      |  max(omega) AS omega
      |FROM m GROUP BY id, mode""".stripMargin

  /** vmd_modes, HASH-GATED (round 11): the WHOLE chain — resample,
    * forward FFT, the fixed-30-iteration Gauss-Seidel ADMM, Hermitian
    * mirror, inverse FFT — replayed cell-exactly in DuckDB.
    *
    * Structure: the shared hht FFT machinery (SeriesOps.fftTwiddleCtes
    * / fftBitrev / fftLevel — Scala-literal twiddles, recursive
    * butterfly levels) runs the forward transform; the ADMM loop is a
    * `list_reduce` fold over 30 iteration tokens whose accumulator is
    * ONE flat DOUBLE[] state [ur(0..K−1) ‖ ui(0..K−1) ‖ ω(0..K−1)]
    * (the CholeskySql transient-fold lesson), with an inner fold over
    * the K modes — each mode step rebuilds the state via one
    * list_transform whose CASE regions hold the new Wiener-filtered
    * spectrum (fr − Σ_{j≠k} u_j sums written 0.0-seeded in the
    * kernel's ascending-j order so even signed zeros agree) and the
    * center-of-gravity ω update (num/den as ascending-bin folds over
    * the NEW spectrum, exactly the kernel's accumulation order). The
    * per-mode inverse transform reuses the same twiddle tables with
    * dir = 1. Validated cell-exact (u AND ω) against the Spark dump
    * at sf0.01 (28 800/28 800 rows) before wiring. */
  val vmdModesSql: String = {
    val H = "(n // 2)"
    val HP = "(n // 2 + 1)"
    val OM = s"(2 * $K * $HP)"
    def urOff(k: String) = s"($k * $HP)"
    def uiOff(k: String) = s"(($K + $k) * $HP)"
    val kk = "CAST(xk[1] AS BIGINT)"
    val j1 = s"(CASE WHEN $kk = 0 THEN 1 ELSE 0 END)"
    val j2 = s"(CASE WHEN $kk = 2 THEN 1 ELSE 2 END)"
    def sr(i: String) =
      s"(0.0 + s[$j1 * $HP + $i + 1] + s[$j2 * $HP + $i + 1])"
    def si(i: String) =
      s"(0.0 + s[($K + $j1) * $HP + $i + 1] + s[($K + $j2) * $HP + $i + 1])"
    def w(i: String) = {
      val nu = s"(CAST($i AS DOUBLE) / n)"
      val dnu = s"($nu - s[$OM + $kk + 1])"
      // 2.0 * α folds exactly (2.0 * 2000.0 = 4000.0 is an exact
      // double), so the literal matches the kernel's product
      s"(1.0 + ${2.0 * Alpha} * ($dnu * $dnu))"
    }
    def newUr(i: String) = s"((fr[$i + 1] - ${sr(i)}) / ${w(i)})"
    def newUi(i: String) = s"((fi[$i + 1] - ${si(i)}) / ${w(i)})"
    def p(i: String) =
      s"(${newUr(i)} * ${newUr(i)} + ${newUi(i)} * ${newUi(i)})"
    val num = s"list_reduce(list_prepend(0.0, list_transform(range($HP)," +
      s" ib -> (CAST(ib AS DOUBLE) / n) * ${p("ib")})), (a, b) -> a + b)"
    val den = s"list_reduce(list_prepend(0.0, list_transform(range($HP)," +
      s" ib -> ${p("ib")})), (a, b) -> a + b)"
    val modeStep =
      s"""list_transform(range(len(s)), x -> CASE
         |  WHEN x >= ${urOff(kk)} AND x < ${urOff(kk)} + $HP
         |    THEN ${newUr(s"(x - ${urOff(kk)})")}
         |  WHEN x >= ${uiOff(kk)} AND x < ${uiOff(kk)} + $HP
         |    THEN ${newUi(s"(x - ${uiOff(kk)})")}
         |  WHEN x = $OM + $kk
         |    THEN CASE WHEN $den > 0.0 THEN $num / $den ELSE s[x + 1] END
         |  ELSE s[x + 1] END)""".stripMargin
    val iterStep =
      s"""list_reduce(
         |  list_prepend(st0,
         |    list_transform(range($K), kx -> [CAST(kx AS DOUBLE)])),
         |  (s, xk) -> $modeStep)""".stripMargin
    val admm =
      s"""list_reduce(
         |  list_prepend(init,
         |    list_transform(range($Iter), itx -> [CAST(itx AS DOUBLE)])),
         |  (st0, xi) -> $iterStep)""".stripMargin
    val pwLens = Seq(16, 32, 64, 128, 256, 512, 1024)
    s"""WITH RECURSIVE ${SeriesOps2.resampleCtes(fracFirst = true)},
       |gl AS (
       |  SELECT id, list(gy ORDER BY j) AS garr, list(tg ORDER BY j) AS tarr
       |  FROM tickv GROUP BY 1),
       |pw AS (SELECT unnest([${pwLens.mkString(", ")}]) AS n),
       |tr AS (SELECT gl.id, max(pw.n) AS n
       |  FROM gl JOIN pw ON pw.n <= len(gl.garr) GROUP BY 1),
       |xm AS (SELECT gl.id, tr.n, gl.tarr, gl.garr,
       |    list_reduce(list_prepend(0.0, gl.garr[1:tr.n]), (a, b) -> a + b)
       |      / tr.n AS mean
       |  FROM gl JOIN tr ON tr.id = gl.id),
       |xd AS (SELECT id, n, tarr, ${SeriesOps.fftBitsCase} AS bits,
       |    list_transform(garr[1:n], v -> v - mean) AS xr
       |  FROM xm),
       |${SeriesOps.fftTwiddleCtes},
       |bf AS MATERIALIZED (
       |  SELECT id, n, tarr, bits,
       |    list_transform(range(n), q -> xr[(${SeriesOps.fftBitrev("q")}) + 1]) AS rel,
       |    list_transform(range(n), q -> CAST(0.0 AS DOUBLE)) AS iml
       |  FROM xd),
       |ff AS (
       |  SELECT id, n, tarr, bits, 2 AS len, rel, iml FROM bf
       |  UNION ALL
       |  SELECT f.id, f.n, f.tarr, f.bits, f.len * 2,
       |    ${SeriesOps.fftLevel(reExpr = true)},
       |    ${SeriesOps.fftLevel(reExpr = false)}
       |  FROM ff f JOIN twl tl ON tl.len = f.len AND tl.dir = 0
       |  WHERE f.len <= f.n),
       |fs AS MATERIALIZED (
       |  SELECT id, n, tarr, bits,
       |    rel[1 : n // 2 + 1] AS fr, iml[1 : n // 2 + 1] AS fi
       |  FROM ff WHERE len = 2 * n),
       |ini AS (SELECT id, n, tarr, bits, fr, fi,
       |    list_transform(range(2 * $K * $HP + $K), x ->
       |      CASE WHEN x >= $OM
       |        THEN (CAST(x - $OM AS DOUBLE) + 0.5) / ${2.0 * K}
       |        ELSE 0.0 END) AS init
       |  FROM fs),
       |admm AS MATERIALIZED (SELECT id, n, tarr, bits,
       |    $admm AS st
       |  FROM ini),
       |mk(k) AS (VALUES ${(0 until K).map(k => s"($k)").mkString(", ")}),
       |mm AS MATERIALIZED (SELECT a.id, mk.k, a.n, a.tarr, a.bits,
       |    list_transform(range(a.n), q -> CASE WHEN q <= $H
       |      THEN st[${urOff("mk.k")} + q + 1]
       |      ELSE st[${urOff("mk.k")} + (a.n - q) + 1] END) AS sre,
       |    list_transform(range(a.n), q -> CASE WHEN q <= $H
       |      THEN st[${uiOff("mk.k")} + q + 1]
       |      ELSE -st[${uiOff("mk.k")} + (a.n - q) + 1] END) AS sim,
       |    roundbankers(st[$OM + mk.k + 1] * 1000000000.0, 0)
       |      / 1000000000.0 AS omega
       |  FROM admm a, mk),
       |bi2 AS MATERIALIZED (
       |  SELECT id, k, n, tarr, bits, omega,
       |    list_transform(range(n), q -> sre[(${SeriesOps.fftBitrev("q")}) + 1]) AS rel,
       |    list_transform(range(n), q -> sim[(${SeriesOps.fftBitrev("q")}) + 1]) AS iml
       |  FROM mm),
       |fi2 AS (
       |  SELECT id, k, n, tarr, bits, omega, 2 AS len, rel, iml FROM bi2
       |  UNION ALL
       |  SELECT f.id, f.k, f.n, f.tarr, f.bits, f.omega, f.len * 2,
       |    ${SeriesOps.fftLevel(reExpr = true)},
       |    ${SeriesOps.fftLevel(reExpr = false)}
       |  FROM fi2 f JOIN twl tl ON tl.len = f.len AND tl.dir = 1
       |  WHERE f.len <= f.n),
       |res2 AS (SELECT id, k, n, tarr, omega,
       |    list_transform(rel, v -> v / n) AS rel
       |  FROM fi2 WHERE len = 2 * n)
       |SELECT id, CAST(k AS INTEGER) AS mode, tarr[q.q + 1] AS t,
       |  roundbankers(rel[q.q + 1] * 1000000.0, 0) / 1000000.0 AS u,
       |  omega
       |FROM res2, LATERAL (SELECT unnest(range(n)) AS q) q""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("vmd_modes", vmdModes, vmdModesSql),
    Query("vmd_energy", vmdEnergy, vmdEnergySql))
}
