package graft.tsa

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second batch of per-series operators: LMD, CEEMDAN, ACF period
  * quality, and the GP log-period prior. Same mapGroups shape as
  * SeriesOps (one shuffle keyed by series id). */
object SeriesOps2 {

  private def perSeries[T <: Product: scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, dir: String)(
      f: (Long, Array[Double], Array[Double]) => Iterator[T]) = {
    import spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[T] =
      org.apache.spark.sql.Encoders.product[T]
    Tables.series(spark, dir)
      .select(col("id").cast("long"), col("t"), col("y"),
        col("eid").cast("long"))
      .as[(Long, Double, Double, Long)]
      .groupByKey(_._1)
      // structural-equality wrapper — see SeriesOps.SeriesFunc
      .flatMapGroups(SeriesOps.SeriesFunc(f))
  }

  /** Uniform resample (6 h grid) shared by the filters below. */
  private def resample(t: Array[Double], y: Array[Double], dt: Double)
      : (Array[Double], Array[Double]) = {
    if (t.length < 2) return (t, y)
    val k0 = math.ceil(t(0) / dt).toLong
    val k1 = math.floor(t(t.length - 1) / dt).toLong
    val n = (k1 - k0 + 1).toInt
    if (n <= 0) return (Array.empty, Array.empty)
    val gt = new Array[Double](n); val gy = new Array[Double](n)
    var j = 0; var i = 0
    while (j < n) {
      val tg = (k0 + j) * dt
      while (i < t.length - 2 && t(i + 1) < tg) i += 1
      gt(j) = tg
      gy(j) = y(i) + (y(i + 1) - y(i)) * (tg - t(i)) / (t(i + 1) - t(i))
      j += 1
    }
    (gt, gy)
  }

  // -------------------------------------------------------------------
  // lmd_modes — reference decomposition.py:120 (LMD): product
  // functions A·F by zero-order-hold local mean/envelope smoothing.
  // -------------------------------------------------------------------
  private def lmdSift(t: Array[Double], y: Array[Double])
      : (Array[Double], Array[Double]) = {
    val pk = SeriesMath.findPeaks(y, includeEdges = true)
    val dp = SeriesMath.findDips(y, includeEdges = false)
    val ext = (pk ++ dp).distinct.sorted
    if (ext.length < 3) return null
    val n = y.length
    val mu = new Array[Double](n); val env = new Array[Double](n)
    // zero-order hold between consecutive extrema (ref: roll+fill)
    var e = 0
    var i = 0
    while (i < n) {
      while (e < ext.length - 2 && ext(e + 1) <= i) e += 1
      val a = y(ext(e)); val b = y(ext(math.min(e + 1, ext.length - 1)))
      mu(i) = 0.5 * (a + b)
      env(i) = 0.5 * math.abs(a - b)
      i += 1
    }
    // triangle smoothing, window ~ max extrema spacing / 3 (ref :150)
    var window = 3
    if (ext.length > 1) {
      var mx = 0
      var k = 1
      while (k < ext.length) { mx = math.max(mx, ext(k) - ext(k - 1)); k += 1 }
      window = math.max(3, mx / 3 | 1)
      if (window % 2 == 0) window += 1
    }
    def smooth(a: Array[Double]): Array[Double] = {
      val half = window / 2
      Array.tabulate(n) { j =>
        var s = 0.0; var w = 0.0
        var k = -half
        while (k <= half) {
          val idx = j + k
          if (idx >= 0 && idx < n) {
            val wt = (half + 1 - math.abs(k)).toDouble
            s += a(idx) * wt; w += wt
          }
          k += 1
        }
        s / w
      }
    }
    var smu = mu; var senv = env
    var it = 0
    while (it < 12) { smu = smooth(smu); it += 1 }
    it = 0
    while (it < 12) { senv = smooth(senv); it += 1 }
    (smu, senv)
  }

  def lmdModes(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir) { (id, t0, y0) =>
      val (gt, gy) = resample(t0, y0, 21600.0)
      if (gt.length < 8) Iterator.empty
      else {
        var residue = gy.clone()
        var modes = List.empty[(Array[Double], Array[Double])] // (A, F)
        var monotonic = false
        while (!monotonic && modes.length < 4) {
          var f = residue.clone()
          val amp = Array.fill(f.length)(1.0)
          var it = 0; var done = false
          while (it < 10 && !done) {
            lmdSift(gt, f) match {
              case null => done = true; if (it == 0) monotonic = true
              case (mu, env) =>
                var i = 0
                while (i < f.length) {
                  val e = if (math.abs(env(i)) < 1e-12) 1e-12 else env(i)
                  f(i) = (f(i) - mu(i)) / e
                  amp(i) *= e
                  i += 1
                }
                if (f.forall(v => math.abs(v) - 1.0 < 1e-6)) done = true
            }
            it += 1
          }
          if (!monotonic) {
            val fc = f.map(v => math.max(-1.0, math.min(1.0, v)))
            modes = modes :+ ((amp, fc))
            var i = 0
            while (i < residue.length) { residue(i) -= amp(i) * fc(i); i += 1 }
            monotonic =
              SeriesMath.findPeaks(residue, includeEdges = false).isEmpty ||
                SeriesMath.findDips(residue, includeEdges = false).isEmpty
          }
        }
        modes.iterator.zipWithIndex.flatMap { case ((a, f), k) =>
          gt.indices.iterator.map(i =>
            (id, k, gt(i), math.rint(a(i) * 1e6) / 1e6,
              math.rint(f(i) * 1e6) / 1e6))
        }
      }
    }.toDF("id", "mode", "t", "amp", "fm")

  // -------------------------------------------------------------------
  // ceemdan — reference decomposition.py:210 (CEEMDAN): ensemble EMD
  // with adaptive deterministic noise, stateless per (series,
  // realization, sample) so results are reproducible cluster-wide
  // AND replayable cross-engine. Round-11 promotion move: the former
  // splitmix64 stream needed 64-bit wrap-around arithmetic (not
  // portable to the oracle) and its Box-Muller ran libm log/cos whose
  // JVM-vs-C ulps preclude bit-replay. Both fall to the gls_fap
  // discipline: uniforms from the SHARED md5 hash h60 (bit-identical
  // on both engines), Box-Muller on top, and the result QUANTIZED on
  // the repo's 1e-6 rint grid — the ~1e-15 cross-engine libm drift
  // would have to land within ~1e-15 of a 5e-7 tie boundary to flip a
  // cell (≪1e-9 per draw), the same tolerance class every quantized
  // gate in this file already carries. Downstream of the quantized
  // noise, every operation (spline sifts, means, stds) is IEEE
  // rational arithmetic the DuckDB twin replays operand-exactly.
  // -------------------------------------------------------------------
  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** First 15 hex chars of md5(s) as a long — the h60 twin. The top
    * 60 bits of the digest ARE the first 15 hex chars, so read the
    * first 8 bytes big-endian and drop the low nibble (no hex-string
    * round-trip: this runs 2× per noise draw in the ceemdan kernel). */
  private[graft] def h60Jvm(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** N(0,1) draw g(id,r,i) = rint(1e6·√(−2 ln u1)·cos(2π u2))/1e6 with
    * u1 = (h60(id_r_i_a)+1)/2^60 ∈ (0,1], u2 = h60(id_r_i_b)/2^60.
    * The 2^60 scaling is a pure exponent shift (exact), and int64 →
    * double rounds identically on both engines. */
  private[graft] def gaussianNoise(id: Long, r: Int, n: Int): Array[Double] = {
    val inv = 1.0 / (1L << 60).toDouble
    Array.tabulate(n) { i =>
      val u1 = (h60Jvm(s"${id}_${r}_${i}_a").toDouble + 1.0) * inv
      val u2 = h60Jvm(s"${id}_${r}_${i}_b").toDouble * inv
      val g = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      math.rint(g * 1e6) / 1e6
    }
  }

  /** CEEMDAN core shared by `ceemdan_dump` and the recovery spec:
    * returns the subsampled time grid, the NORMALIZED modes, sigma,
    * the normalized starting residue y/σ, and — per mode k, per
    * realization r — the ensemble inputs/outputs (noisy, extracted
    * mode) that the round-10 hash gate replays the averaging over. */
  private[graft] def ceemdanCore(id: Long, t0: Array[Double], yr: Array[Double])
      : Option[(Array[Double], List[Array[Double]], Double, Array[Double],
        List[IndexedSeq[(Array[Double], Array[Double])]])] = {
    val ensembleSize = 10
    val epsilon = 0.2
    // long series are stride-subsampled to <=256 points: the ensemble
    // costs ensembleSize × EMD per mode, and mode content at these
    // scales survives 3:1 decimation (documented graft semantics).
    val stride = math.max(1, t0.length / 256)
    val keep = t0.indices.by(stride).toArray
    val t = keep.map(t0)
    val y0 = keep.map(yr)
    if (t.length < 16) None
    else {
      val n = t.length
      val sigma = {
        val m = y0.sum / n
        math.sqrt(y0.map(v => (v - m) * (v - m)).sum / n)
      }
      // constant series: Spark would propagate Inf/NaN through the
      // sift while DuckDB's double division yields NULL — drop the
      // degenerate series deterministically on BOTH engines instead
      // (oracle twin: sg ... WHERE sd > 0)
      if (sigma == 0.0) return None
      val y = y0.map(_ / sigma)
      val noiseModes = (0 until ensembleSize).map { r =>
        SeriesMath.emd(t, gaussianNoise(id, r, n), maxModes = 4, maxIter = 15)
      }
      var residue = y.clone()
      var imfs = List.empty[Array[Double]]
      var reals = List.empty[IndexedSeq[(Array[Double], Array[Double])]]
      var stop = false
      while (!stop && imfs.length < 4) {
        val k = imfs.length
        val pairs = (0 until ensembleSize).map { r =>
          val noisy = residue.clone()
          if (noiseModes(r).length > k) {
            val beta = epsilon * {
              val m = residue.sum / n
              math.sqrt(residue.map(v => (v - m) * (v - m)).sum / n)
            }
            val nm = noiseModes(r)(k)
            val nsd = {
              val m = nm.sum / n
              math.sqrt(nm.map(v => (v - m) * (v - m)).sum / n)
            }
            val b = if (k == 0 && nsd > 0) beta / nsd else beta
            var i = 0
            while (i < n) { noisy(i) += b * nm(i); i += 1 }
          }
          val ms = SeriesMath.emd(t, noisy, maxModes = 1, maxIter = 15)
          val mode = if (ms.nonEmpty) ms.head else noisy.clone()
          (noisy, mode)
        }
        val mus = pairs.map { case (noisy, mode) =>
          Array.tabulate(n)(i => noisy(i) - mode(i))
        }
        val mu = Array.tabulate(n)(i =>
          mus.map(_(i)).sum / ensembleSize)
        imfs = imfs :+ Array.tabulate(n)(i => residue(i) - mu(i))
        reals = reals :+ pairs
        residue = mu
        val rimfs = SeriesMath.emd(t, residue, maxModes = 2, maxIter = 15)
        if (rimfs.length <= 1) stop = true
      }
      Some((t, imfs, sigma, y, reals))
    }
  }

  // -------------------------------------------------------------------
  // ceemdan_dump — the CEEMDAN kernel tier: per (mode k, realization
  // r, sample) the ensemble input `noisy` (residue + scaled noise
  // mode) and the single extracted `mode` from it, plus σ and the
  // normalized starting residue y/σ. HASH-GATED (round 11, full
  // bit-equality on the raw doubles): with the noise tier quantized
  // (see gaussianNoise above) both engines sift identical inputs, and
  // [[CeemdanSql.ceemdanDumpSql]] replays the ENTIRE ensemble — noise
  // synthesis, 10 per-realization noise EMDs, the four unrolled
  // per-mode blocks (β scaling, one-mode extraction sifts, r-ordered
  // ensemble mean, residue propagation, maxModes=2 stop checks) —
  // on the generalized emdRecGen recursion.
  // -------------------------------------------------------------------
  private val ceemdanDumpFn
      : (Long, Array[Double], Array[Double]) => Iterator[
        (Long, Int, Int, Double, Double, Double, Double, Double)] =
    (id, t0, yr) => {
      ceemdanCore(id, t0, yr) match {
        case None => Iterator.empty
        case Some((t, _, sigma, y0, reals)) =>
          reals.iterator.zipWithIndex.flatMap { case (pairs, k) =>
            pairs.iterator.zipWithIndex.flatMap { case ((noisy, mode), r) =>
              t.indices.iterator.map(i =>
                (id, k, r, t(i), noisy(i), mode(i), sigma, y0(i)))
            }
          }
      }
    }

  def ceemdanDump(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir)(ceemdanDumpFn)
      .toDF("id", "k", "r", "t", "noisy", "md", "sigma", "res0")

  // ceemdan itself, HASH-GATED (round 10): the loop's residue
  // propagation collapses — residue₀ = y/σ and residue_{k+1} = µ_k, so
  // imf_k = (k=0 ? y/σ : µ_{k-1}) − µ_k where µ_k(i) is the ensemble
  // mean Σ_r (noisy−mode) / 10 in REALIZATION ORDER (the kernel's
  // Seq.sum left fold). The realization axis is a FIXED r ∈ 0..9, so
  // the fold is a fixed-width column pivot: one conditional aggregate
  // per r in ONE groupBy(id, k, t), summed as the literal left-assoc
  // chain 0.0 + v0 + … + v9 — bit-identical to both the kernel's
  // 0.0-seeded Seq.sum and the oracle's list_prepend(0.0)/list_reduce,
  // with no per-group array allocation (round 10's collect_list/
  // array_sort/fold shape was the suite's dominant GC-pressure
  // amplifier: ~12× inflation under a loaded driver). The final
  // rounding is `rintCol` — the 2^52 magic-number round-half-even on
  // the BINARY double, exactly JVM math.rint and DuckDB
  // roundbankers(·,0), closing the bround decimal-repr edge (bround
  // ties on the SHORTEST DECIMAL repr, which can differ at a .5
  // decimal boundary whose binary value is not a tie). The recovery
  // spec pins compose ≡ kernel imfs bit-exactly, rint included.
  def ceemdan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = ceemdanDump(spark, dir)
    val vAggs = (0 until 10).map(r =>
      max(when(col("r") === r, col("noisy") - col("md"))).as(s"v$r"))
    val folded = d.groupBy("id", "k", "t")
      .agg(vAggs.head, vAggs.tail
        :+ first("sigma").as("sigma") :+ first("res0").as("res0"): _*)
      .withColumn("mu",
        (0 until 10).foldLeft(lit(0.0))(
          (acc, r) => acc + col(s"v$r")) / lit(10.0))
    val w = Window.partitionBy("id", "t").orderBy("k")
    folded
      .withColumn("prev", lag("mu", 1).over(w))
      .select(col("id"), col("k").as("mode"), col("t"),
        (SeriesMath.rintCol(
          (when(col("k") === 0, col("res0")).otherwise(col("prev"))
            - col("mu")) * col("sigma") * 1e6) / 1e6).as("y"))
  }

  val ceemdanSql: String =
    """WITH d AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/ceemdan_dump/*.parquet')),
      |mu AS (
      |  SELECT id, k, t,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(noisy - md ORDER BY r)), (a, b) -> a + b) / 10.0 AS mu,
      |    first(sigma) AS sigma, first(res0) AS res0
      |  FROM d GROUP BY 1, 2, 3),
      |p AS (SELECT *, lag(mu) OVER (PARTITION BY id, t ORDER BY k) AS prev
      |  FROM mu)
      |SELECT id, k AS mode, t,
      |  roundbankers((CASE WHEN k = 0 THEN res0 ELSE prev END - mu)
      |    * sigma * 1000000.0, 0) / 1000000.0 AS y
      |FROM p""".stripMargin

  /** ceemdan_post — reference decomposition.py:344-360 (CEEMDAN
    * .postprocessing): re-sift the noisy ensemble modes so each
    * refined mode is a true IMF — c_1 = EMD(mode_1, 1 mode), then
    * propagate the leftover q_k into the next mode and re-sift.
    *
    * Derives from the ceemdan OUTPUT table rather than re-running the
    * 10-realization ensemble: the Rilling sift criteria are pure
    * ratios (|mu/amp|), so EMD commutes with the sigma scaling already
    * folded into the emitted modes. At scale this turns the
    * postprocess into a cheap pass over the materialized ceemdan
    * intermediate (one k×single-mode sift per series), and a
    * persisted ceemdan plan substitutes straight into it. */
  def ceemdanPost(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ceemdan(spark, dir)
      .as[(Long, Int, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups(CeemdanPostFunc)
      .toDF("id", "mode", "t", "y")
  }

  /** Capture-free singleton (plan-equality across invocations — see
    * SeriesOps.SeriesFunc): rebuild the per-series mode arrays from
    * ceemdan rows, then the reference's re-sift recursion. */
  private object CeemdanPostFunc extends (
      (Long, Iterator[(Long, Int, Double, Double)])
        => IterableOnce[(Long, Int, Double, Double)]) with Serializable {
    override def apply(id: Long,
        it: Iterator[(Long, Int, Double, Double)])
        : IterableOnce[(Long, Int, Double, Double)] = {
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val ts = rows.map(_._3).distinct.sorted
        val n = ts.length
        val nModes = rows.map(_._2).max + 1
        val idx = ts.zipWithIndex.toMap
        val modes = Array.fill(nModes)(new Array[Double](n))
        rows.foreach(r => modes(r._2)(idx(r._3)) = r._4)
        val first = SeriesMath.emd(ts, modes(0), maxModes = 1, maxIter = 15)
        var ck = if (first.nonEmpty) first.head else modes(0)
        var qk = Array.tabulate(n)(i => modes(0)(i) - ck(i))
        val cImfs = scala.collection.mutable.ArrayBuffer(ck)
        var k = 1
        var broke = false
        while (k < nModes && !broke) {
          val dk = Array.tabulate(n)(i => qk(i) + modes(k)(i))
          val ms = SeriesMath.emd(ts, dk, maxModes = 1, maxIter = 15)
          if (ms.isEmpty) {
            cImfs += modes(k)
            broke = true
          } else {
            ck = ms.head
            qk = Array.tabulate(n)(i => dk(i) - ck(i))
            cImfs += ck
          }
          k += 1
        }
        cImfs.iterator.zipWithIndex.flatMap { case (m, j) =>
          ts.indices.iterator.map(i =>
            (id, j, ts(i), math.rint(m(i) * 1e6) / 1e6))
        }
      }
    }
  }

  /** ceemdan_orthogonality — reference decomposition.py:361-374
    * (orthogonality_matrix): pairwise Pearson correlation between
    * modes. A (id, t) self-join would evaluate the expensive ceemdan
    * mapGroups plan twice (closure identity defeats cache
    * substitution), so instead pivot the ≤4 modes to columns and emit
    * every pair correlation from ONE aggregation pass. */
  def ceemdanOrthogonality(spark: SparkSession, dir: String): DataFrame =
    orthogonalityOf(ceemdan(spark, dir))

  /** ceemdan_c_orthogonality — reference decomposition.py:361-374
    * (c_orthogonality_matrix): the same pairwise mode correlation over
    * the POST-PROCESSED modes — a pure compose over ceemdan_post, so
    * a persisted ceemdan plan serves this whole chain. */
  def ceemdanCOrthogonality(spark: SparkSession, dir: String): DataFrame =
    orthogonalityOf(ceemdanPost(spark, dir))

  /** DERIVED-INPUT oracle for the orthogonality queries: the ensemble
    * sift is not SQL-expressible, but the mode pivot + pairwise corr
    * over its output is — DuckDB replays it over the `src` parquet
    * Verify dumps in the same run (`__GRAFT_OUT__` substitution),
    * hash-checking everything downstream of the sift. corr rounds at
    * 4 dp on both sides (ts_corr precedent: both engines' single-pass
    * estimators agree well inside that granularity). */
  private def orthogonalitySql(src: String): String = {
    val maxModes = 4
    val cols = (0 until maxModes)
      .map(m => s"max(CASE WHEN mode = $m THEN y END) AS m$m")
      .mkString(",\n       |  ")
    val pairs = (for { i <- 0 until maxModes; j <- i until maxModes } yield
      s"SELECT id, CAST($i AS BIGINT) AS mi, CAST($j AS BIGINT) AS mj, " +
        s"round(corr(m$i, m$j), 4) + 0.0 AS orth FROM pv GROUP BY id")
      .mkString("\n       |UNION ALL\n       |")
    s"""WITH ce AS (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/$src/*.parquet')),
       |pv AS (SELECT id, t,
       |  $cols
       |  FROM ce GROUP BY 1, 2)
       |SELECT * FROM (
       |$pairs
       |) WHERE orth IS NOT NULL""".stripMargin
  }

  private def orthogonalityOf(modesDf: DataFrame): DataFrame = {
    val maxModes = 4
    val piv = modesDf
      .groupBy("id", "t")
      .pivot("mode", 0 until maxModes)
      .agg(first("y"))
    val pairs = for {
      i <- 0 until maxModes
      j <- i until maxModes
    } yield (round(corr(col(s"$i"), col(s"$j")), 4) + lit(0.0))
      .as(s"c_${i}_$j")
    val stacked = pairs.map(_ => "?").zip(
      for { i <- 0 until maxModes; j <- i until maxModes }
        yield s"${i}L, ${j}L, c_${i}_$j").map(_._2)
    piv.groupBy("id")
      .agg(pairs.head, pairs.tail: _*)
      .selectExpr("id",
        s"stack(${stacked.size}, ${stacked.mkString(", ")}) AS (mi, mj, orth)")
      .filter(col("orth").isNotNull)
  }

  // -------------------------------------------------------------------
  // acf_period_quality — reference core.py:809: band-pass to
  // [p_min, p_max], ACF, highest peak => best period + height, then
  // fit a·e^{-t/tau}·cos(2πt/P) by (log a, log tau) grid search
  // (deterministic replacement for scipy.optimize.minimize) and report
  // the quality factor. The kernel is shared with gaussian_prior —
  // object-level constants keep the perSeries lambdas capture-free
  // (plan-equality across invocations, see SeriesOps.SeriesFunc).
  // -------------------------------------------------------------------
  private val QDt = 21600.0
  private val QPMax = 432000.0
  private val QSos =
    SeriesMath.butterBandpassSos(5, 1.0 / QPMax, 1.0 / 86400.0, 1.0 / QDt)

  // The former in-kernel acf_harmonic_quality sweep (filter + ACF +
  // exp-cos fit inside one mapGroups) was promoted round 11: only the
  // IIR filtfilt is sequential, so acf_band_filter dumps the
  // per-band quantized filter output and the quality chain above runs
  // declaratively over it — the same split acf_period_quality made in
  // round 7, now with variable ml per band (8/16/32 lags).

  // Round 7: acf_period_quality is now DECLARATIVE over the
  // ts_butterworth dump (same order-5 [1 d, 5 d] band, same 6 h
  // resample) — the IIR filter is the only sequential step, so
  // everything after it (ACF, peak pick, exp-cos grid fit, quality)
  // runs as relational algebra and replays in DuckDB as a
  // DERIVED-INPUT oracle. Exactness strategy: y_filt is 1e-6-quantized
  // at the dump, so the ACF's numerator/denominator aggregate EXACT
  // integer-µ² products (decimal sum on the Spark side, hugeint in
  // DuckDB) and acf itself is bit-identical on both engines — the
  // peak pick and height need no rounding at all. Only the 40-term
  // RSS sum is order-dependent + libm-bearing, so it rounds at 6 dp
  // before the argmin (psd_curvefit precedent); ties break by
  // (ai, ti) grid order like the kernel's strict-< scan.
  def acfPeriodQuality(spark: SparkSession, dir: String): DataFrame =
    periodQualityChain(spark, SeriesOps.tsButterworth(spark, dir),
      ml = 40, pmax = QPMax)

  /** The post-filter acf_period_quality relational chain (ACF via
    * window leads, peak pick, 9×9 exp-cos grid fit) over a quantized
    * filter dump (id, t, y_filt), parameterized by the lag count and
    * the band's p_max so acf_band_quality's three prior bands
    * (ml = 8/16/32) reuse the exact shape acf_period_quality
    * established (ml = 40). */
  private def periodQualityChain(spark: SparkSession, bf: DataFrame,
      ml: Int, pmax: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dt = QDt
    val ML = ml
    val w = Window.partitionBy("id").orderBy("t")
    // Pin the post-IIR exchange width (gls_fap precedent): the
    // butterworth output is ~2 MB at sf0.1, so AQE would coalesce the
    // id exchange to 1-2 partitions and serialize everything below.
    val base = bf
      .repartition(spark.sessionState.conf.numShufflePartitions, col("id"))
      .select(col("id"), col("t"),
        round(col("y_filt") * 1e6, 0).cast("long").as("v"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("id")))
      .filter(col("n") >= ML)
    // num(lg) = Σ_k v_k·v_{k+lg}: the ml lag products run as ml window
    // leads + ml aggregate expressions in ONE groupBy(id) — the
    // (id, lg) unpivot happens AFTER aggregation (series count × ml
    // rows), so no n×ml row explosion and no self-join ever
    // materializes. n >= ml is enforced above, so ml ≡ 40 for every
    // surviving series (the reference's least(2·p_max/dt, n) cap).
    val withLeads = base.select(
      col("id") +: (0 until ML).map(i =>
        (col("v") * lead(col("v"), i).over(w))
          .cast("decimal(38,0)").as(s"p$i")): _*)
    val sums = withLeads.groupBy("id")
      .agg(sum(col("p0")).as("s0"),
        (1 until ML).map(i => sum(col(s"p$i")).as(s"s$i")): _*)
    val acfRows = sums.selectExpr("id",
      s"stack($ML, ${(0 until ML).map(i => s"$i, s$i").mkString(", ")})" +
        " as (lg, num)")
    // the lag-0 autocorrelation (the denominator) via first_value over
    // the (id)-keyed exchange instead of a separate self-join
    val wl = Window.partitionBy("id").orderBy("lg")
    val acf = acfRows
      .withColumn("den", first("num").over(wl))
      .select(col("id"), col("lg"),
        (col("num").cast("double") / col("den").cast("double")).as("acf"))
    // peak pick as a window max in the SAME pass (max struct = highest
    // acf, ties to the smallest lag), so the ACF subtree is computed
    // once instead of once per consumer
    val flagged = acf
      .withColumn("pv", lag("acf", 1).over(wl))
      .withColumn("nx", lead("acf", 1).over(wl))
      .withColumn("pk", when(col("lg") >= 1 && col("lg") < ML - 1 &&
        col("acf") > col("pv") && col("acf") > col("nx"),
        struct(col("acf").as("h"), (-col("lg")).as("nlg"))))
      .withColumn("bs", max(col("pk")).over(Window.partitionBy("id")))
      .filter(col("bs").isNotNull)
      .withColumn("best_period", (-col("bs.nlg")).cast("double") * dt)
      .withColumn("height", col("bs.h"))
    // The 9×9 (a, tau) grid in EXPANDED ALGEBRA (round 13 — the
    // round-12 verdict's memory fix): the model is m = aa·W_ti with
    // aa = exp(ai·0.35) a per-CELL constant and W_ti depending only
    // on (row, ti), so Σ(acf − aa·W)² = Σacf² − 2aa·Σ(acf·W_ti) +
    // aa²·ΣW_ti². The aggregate therefore carries 1 + 2×9 = 19 moment
    // sums instead of 81 per-cell RSS sums (with best_period/height,
    // 21 buffers vs 83 — the ~4× per-task HashAggregate width cut the
    // verdict prescribed), and the 81 cells become post-aggregation
    // scalar arithmetic. The argmin cell (rss asc, ai asc, ti asc —
    // the kernel's strict-< scan order) stays a horizontal least()
    // over 81 (rss, ai, ti) structs: one groupBy, no second shuffle.
    // The aa constants (and exp(ti·0.5)) are Scala-computed doubles
    // embedded as literals in BOTH engines' plans — round-trip-exact
    // in the SQL twin, so no cross-engine libm exp() enters the cell
    // constants (tighter than the pre-round-13 constant-fold).
    val cellGrid = for { ai <- -4 to 4; ti <- -4 to 4 } yield (ai, ti)
    def wTi(ti: Int) = {
      val tau = lit(2.0) * col("best_period") * lit(math.exp(ti * 0.5))
      exp(-(col("lg") * dt) / tau) *
        cos((lit(6.283185307179586) * (col("lg") * dt)) /
          col("best_period"))
    }
    val momentSums = sum(col("acf") * col("acf")).as("s_aa") +:
      (-4 to 4).flatMap { ti =>
        val w = wTi(ti)
        Seq(sum(col("acf") * w).as(s"c_${ti + 4}"),
          sum(w * w).as(s"q_${ti + 4}"))
      }
    val agg = flagged.groupBy("id").agg(
      max(col("best_period")).as("best_period"),
      momentSums :+ max(col("height")).as("height"): _*)
    val cand = cellGrid.map { case (ai, ti) =>
      val aa = math.exp(ai * 0.35)
      val rss = round(col("s_aa") - lit(2.0 * aa) * col(s"c_${ti + 4}")
        + lit(aa * aa) * col(s"q_${ti + 4}"), 6)
      // tau rides in the struct (past the (rss, ai, ti) sort key, so
      // ordering is unchanged — tau is a function of ti) with the SAME
      // embedded exp(ti·0.5) literal as the moments, keeping the
      // post-argmin tau bit-identical to the SQL twin's.
      struct(rss.as("rss"), lit(ai).as("ai"), lit(ti).as("ti"),
        (lit(2.0) * col("best_period") * lit(math.exp(ti * 0.5)))
          .as("tau"))
    }
    agg
      .withColumn("bc", least(cand: _*))
      .withColumn("tau", col("bc.tau"))
      .select(col("id"), col("best_period"),
        (round(col("height"), 6) + 0.0).as("height"),
        // rss is a 6dp-rounded difference of large moments (expanded
        // algebra) — a near-perfect cell fit can cancel to 0 or an
        // epsilon negative, which the old sum-of-squares form could
        // not; clamp before it enters the quality denominator
        // (identically in the SQL twin)
        (round((least(col("tau"), lit(20.0 * pmax)) / col("best_period")) *
          ((lit(ML.toLong) * col("height")) /
            greatest(col("bc.rss"), lit(1e-6))), 3) + 0.0)
          .as("quality"))
  }

  /** DuckDB twin of [[periodQualityChain]], parameterized the same
    * way (src query, lag count, band p_max); `selHead` prefixes the
    * final projection (band literal / period alias) so the band
    * variant can rename best_period → period. */
  private def periodQualityChainSql(src: String, ml: Int, pmax: Double,
      selHead: String): String = {
    // Expanded-algebra twins of the Spark moments (see
    // periodQualityChain): identical arithmetic trees, with
    // exp(ti·0.5) / 2·exp(ai·0.35) / exp(ai·0.35)² embedded as the
    // SAME Scala-computed double literals the Spark plan carries
    // (shortest-repr round-trip ⇒ bit-identical constants — no
    // cross-engine libm exp() in the cell constants).
    def wSql(ti: Int): String =
      s"exp(-(f.lg * $QDt) / (2.0 * b.best_period * " +
        s"${math.exp(ti * 0.5)})) * " +
        s"cos((6.283185307179586 * (f.lg * $QDt)) / b.best_period)"
    val momentSumsSql = (-4 to 4).map { ti =>
      s"  sum(f.acf * (${wSql(ti)})) AS c_${ti + 4},\n" +
        s"  sum((${wSql(ti)}) * (${wSql(ti)})) AS q_${ti + 4}"
    }.mkString(",\n")
    val cellBranchesSql = (for { ai <- -4 to 4; ti <- -4 to 4 } yield {
      val aa = math.exp(ai * 0.35)
      s"SELECT id, best_period, height, ml, $ai AS ai, $ti AS ti,\n" +
        s"    round(s_aa - ${2.0 * aa} * c_${ti + 4} + " +
        s"${aa * aa} * q_${ti + 4}, 6) AS rss,\n" +
        s"    2.0 * best_period * ${math.exp(ti * 0.5)} AS tau FROM mom"
    }).mkString("\n  UNION ALL ")
    s"""WITH bf AS ($src),
       |base AS (SELECT id, t,
       |  cast(round(y_filt * 1000000.0) AS BIGINT) AS v,
       |  row_number() OVER (PARTITION BY id ORDER BY t) - 1 AS k,
       |  count(*) OVER (PARTITION BY id) AS n
       |  FROM bf),
       |b2 AS (SELECT *, least($ml, n) AS ml FROM base WHERE n >= 40),
       |num AS (SELECT a.id, b.k - a.k AS lg,
       |  sum(a.v * b.v) AS num, max(a.ml) AS ml
       |  FROM b2 a JOIN b2 b
       |    ON a.id = b.id AND b.k >= a.k AND b.k - a.k < a.ml
       |  GROUP BY 1, 2),
       |acf AS (SELECT n.id, n.lg, n.ml,
       |  cast(n.num AS double) / cast(d.num AS double) AS acf
       |  FROM num n JOIN (SELECT id, num FROM num WHERE lg = 0) d
       |    ON n.id = d.id),
       |pk AS (SELECT *, lag(acf) OVER win AS pv, lead(acf) OVER win AS nx
       |  FROM acf WINDOW win AS (PARTITION BY id ORDER BY lg)),
       |best AS (SELECT * FROM (
       |  SELECT id, lg * CAST($QDt AS DOUBLE) AS best_period, acf AS height,
       |    row_number() OVER (PARTITION BY id ORDER BY acf DESC, lg ASC)
       |      AS rk
       |  FROM pk
       |  WHERE lg >= 1 AND lg < ml - 1 AND acf > pv AND acf > nx)
       |  WHERE rk = 1),
       |mom AS (SELECT f.id,
       |  max(b.best_period) AS best_period, max(b.height) AS height,
       |  max(f.ml) AS ml,
       |  sum(f.acf * f.acf) AS s_aa,
       |${momentSumsSql}
       |  FROM acf f JOIN best b ON b.id = f.id
       |  GROUP BY 1),
       |grid AS (
       |${cellBranchesSql}
       |),
       |win AS (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY rss ASC, ai ASC, ti ASC) AS rk2 FROM grid)
       |SELECT id, $selHead,
       |  round(height, 6) + 0.0 AS height,
       |  round((least(tau, ${20.0 * pmax}) / best_period)
       |        * ((ml * height) / greatest(rss, 1e-6)), 3) + 0.0 AS quality
       |FROM win WHERE rk2 = 1""".stripMargin
  }

  val acfPeriodQualitySql: String = periodQualityChainSql(
    "\n  SELECT * FROM read_parquet('__GRAFT_OUT__/ts_butterworth/*.parquet')",
    ml = 40, pmax = QPMax, selHead = "best_period")

  // -------------------------------------------------------------------
  // gaussian_prior — reference gp.py:69 (make_gaussian_prior): mixture
  // of gaussians on log-period from the ACF harmonic quality of
  // band-filtered versions of the signal; emits the mixture components
  // (fundamental + half/double harmonics). Weights follow the
  // reference exactly (gp.py:142-149): each band contributes its
  // acf_period_quality QUALITY factor q — NOT the raw normalized ACF
  // height, which is amplitude-blind (a band that filters the signal
  // AWAY still has a unit-normalized ACF, so height-weighting let
  // junk bands outvote the band actually containing the period; the
  // quality factor divides by the exp-cos fit RSS, which junk fails).
  // -------------------------------------------------------------------
  private val PriorBands = Array(86400.0, 172800.0, 345600.0) // p_max = a*b^k
  private val PriorSos = PriorBands.map(pmax =>
    SeriesMath.butterBandpassSos(5, 1.0 / pmax, 2.0 / pmax, 1.0 / QDt))
  private val FundHeight = 0.8

  /** acf_band_filter — the kernel tier of the prior's per-band sweep
    * (reference gp.py:125-141): each of the three prior bands'
    * order-5 band-pass filtfilt on the 6 h-resampled demeaned series,
    * 1e-6-quantized at the dump (the ts_butterworth discipline).
    * HASH-GATED: the oracle replays all three SOS cascades over ONE
    * shared demeaned/padded prelude (the pad and mean depend on the
    * signal only) with suffixed recursive CTEs. */
  private val acfBandFilterFn
      : (Long, Array[Double], Array[Double]) => Iterator[
        (Long, Long, Double, Double)] =
    (id, t0, y0) => {
      val (gt, gy) = resample(t0, y0, QDt)
      if (gt.length < 40) Iterator.empty
      else {
        val mean = gy.sum / gy.length
        PriorBands.iterator.zipWithIndex.flatMap { case (_, bi) =>
          val filt = SeriesMath.sosFiltFilt(PriorSos(bi), gy.map(_ - mean))
          gt.indices.iterator.map(i =>
            (id, bi.toLong, gt(i), math.rint(filt(i) * 1e6) / 1e6))
        }
      }
    }

  def acfBandFilter(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir)(acfBandFilterFn)
      .toDF("id", "band", "t", "y_filt")

  val acfBandFilterSql: String = {
    // pad = 3·(2·S+1) follows each band's SECTION COUNT (band 0's
    // Nyquist-touching upper edge degenerates to 6 sections → pad 39,
    // the others 5 → 33); equal pads share one ext instance
    val pads = PriorBands.indices.map(bi => 3 * (2 * PriorSos(bi).length + 1))
    val extBlocks = pads.distinct.map(p => SeriesOps.filtFiltExt(p, s"p$p"))
    val passes = PriorBands.indices.map(bi =>
      SeriesOps.filtFiltPasses(PriorSos(bi), s"b$bi", s"p${pads(bi)}"))
    val bandSelects = PriorBands.indices.map { bi =>
      SeriesOps.filtFiltSelect(s"b$bi",
        s"CAST($bi AS BIGINT) AS band, ", s"p${pads(bi)}")
    }
    s"""WITH RECURSIVE ${resampleCtes(fracFirst = false)},
       |${SeriesOps.filtFiltPrelude(40)},
       |${extBlocks.mkString(",\n")},
       |${passes.mkString(",\n")}
       |${bandSelects.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** acf_band_quality — the per-BAND acf_harmonic_quality sweep the
    * prior is built from. HASH-GATED (round 11): a declarative
    * [[periodQualityChain]] per band over the acf_band_filter dump
    * (ml = 2·p_max/dt = 8/16/32 lags), DERIVED-INPUT oracle replaying
    * the identical chain in DuckDB. Values moved from the old
    * raw-kernel emission to the chain's quantized/rounded discipline
    * (height 6 dp, quality 3 dp) — gaussian_prior composes THIS
    * output on both engines, so the mixture stays consistent. */
  def acfBandQuality(spark: SparkSession, dir: String): DataFrame = {
    val bf = acfBandFilter(spark, dir)
    PriorBands.zipWithIndex.map { case (pmax, bi) =>
      val ml = (2.0 * pmax / QDt).toInt
      periodQualityChain(spark,
        bf.filter(col("band") === bi).drop("band"), ml, pmax)
        .select(col("id"), lit(bi.toLong).as("band"),
          col("best_period").as("period"), col("height"), col("quality"))
    }.reduce(_ unionAll _)
  }

  val acfBandQualitySql: String =
    PriorBands.zipWithIndex.map { case (pmax, bi) =>
      val ml = (2.0 * pmax / QDt).toInt
      val chain = periodQualityChainSql(
        "\n  SELECT * FROM read_parquet(" +
          s"'__GRAFT_OUT__/acf_band_filter/*.parquet') WHERE band = $bi",
        ml = ml, pmax = pmax,
        selHead = s"CAST($bi AS BIGINT) AS band, best_period AS period")
      s"SELECT * FROM (\n$chain\n)"
    }.mkString("\nUNION ALL\n")

  /** Band-grid-parameterized sweep with the REFERENCE's semantics
    * (gp.py:125-141): a shared per-series p_min = max(min(bands)/10,
    * 3·median_dt), bands filtered to p_min < p < baseline/2, and
    * the verbatim acf_period_quality chain on the RAW sampling
    * (SeriesMath.acfPeriodQualityRef — no resample, prominence-based
    * peak pick, boxcar smoothing for p_max ≥ 20). Band unit must match
    * the series' time unit (the reference's own grid a·bᵏ k<8 is in
    * DAYS). The zero-arg overload keeps the events-tuned fixed-band
    * kernel (hash-gated dump contract) unchanged.
    *
    * Structural case class → repeated invocations with equal grids are
    * `sameResult` plans (SeriesOps.SeriesFunc discipline). */
  final case class RefBandSweepFn(bands: List[Double])
      extends ((Long, Array[Double], Array[Double]) =>
        Iterator[(Long, Long, Double, Double, Double)]) with Serializable {
    def apply(id: Long, t: Array[Double], y: Array[Double])
        : Iterator[(Long, Long, Double, Double, Double)] = {
      if (t.length < 2) return Iterator.empty
      val mdt = SeriesMath.medianDt(t)
      val baseline = t(t.length - 1) - t(0)
      val pMin = math.max(bands.min / 10.0, 3.0 * mdt) // gp.py:133
      bands.iterator.zipWithIndex
        .filter { case (p, _) => pMin < p && p < baseline / 2.0 }
        .flatMap { case (pmax, k) =>
          SeriesMath.acfPeriodQualityRef(t, y, pMin, pmax).map {
            case (per, height, quality) =>
              (id, k.toLong, per, height, quality)
          }.iterator
        }
    }
  }

  def acfBandQuality(spark: SparkSession, dir: String,
      bands: Seq[Double]): DataFrame =
    perSeries(spark, dir)(RefBandSweepFn(bands.toList))
      .toDF("id", "band", "period", "height", "quality")

  /** gaussian_prior — reference gp.py:142-149: the harmonic fan-out
    * (fundamental 0.8, half/double 0.1 each) over the per-band
    * qualities, now a pure relational compose over acf_band_quality —
    * its DERIVED-INPUT oracle replays log/weight arithmetic in DuckDB
    * over the acf_band_quality parquet Verify dumps. Rounding moved
    * from math.rint (half-even) to round() (both engines half-up at
    * irrational inputs — no representable 6 dp halves). */
  def gaussianPrior(spark: SparkSession, dir: String): DataFrame =
    priorComponents(acfBandQuality(spark, dir))

  /** The reference-parameterized twin: mixture components over the
    * [[RefBandSweepFn]] sweep (a·bᵏ day-scale grids, gp.py defaults
    * a=1 b=2 n=8). */
  def gaussianPrior(spark: SparkSession, dir: String,
      bands: Seq[Double]): DataFrame =
    priorComponents(acfBandQuality(spark, dir, bands))

  private def priorComponents(bq: DataFrame): DataFrame = {
    val q = greatest(col("quality"), lit(0.0))
    bq
      .select(col("id"), col("band"), explode(array(
        struct(lit(0L).as("harmonic"), log(col("period")).as("mu_raw"),
          (q * FundHeight).as("w_raw")),
        struct(lit(1L).as("harmonic"), log(col("period") / 2.0).as("mu_raw"),
          (q * ((1 - FundHeight) / 2)).as("w_raw")),
        struct(lit(2L).as("harmonic"), log(col("period") * 2.0).as("mu_raw"),
          (q * ((1 - FundHeight) / 2)).as("w_raw")))).as("h"))
      .select(col("id"), col("band"), col("h.harmonic").as("harmonic"),
        (round(col("h.mu_raw"), 6) + 0.0).as("mu_logp"),
        (round(col("h.w_raw"), 6) + 0.0).as("weight"))
  }

  val gaussianPriorSql: String =
    s"""WITH bq AS (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/acf_band_quality/*.parquet')),
       |q AS (SELECT id, band, period, greatest(quality, 0.0) AS q FROM bq)
       |SELECT id, band, harmonic,
       |  round(mu_raw, 6) + 0.0 AS mu_logp,
       |  round(w_raw, 6) + 0.0 AS weight
       |FROM (
       |  SELECT id, band, cast(0 AS BIGINT) AS harmonic,
       |    ln(period) AS mu_raw, q * $FundHeight AS w_raw FROM q
       |  UNION ALL
       |  SELECT id, band, cast(1 AS BIGINT),
       |    ln(period / 2.0), q * ${(1 - FundHeight) / 2} FROM q
       |  UNION ALL
       |  SELECT id, band, cast(2 AS BIGINT),
       |    ln(period * 2.0), q * ${(1 - FundHeight) / 2} FROM q)""".stripMargin

  // -------------------------------------------------------------------
  // ts_denoise — reference timefrequency.py:151 (denoise, family
  // "db4", mode "per"): periodized Daubechies-4 DWT, soft threshold on
  // every detail band, noise sigma from the finest detail band via
  // MAD/0.6745, threshold sigma*sqrt(2 ln n). The db4 taps are the
  // public Daubechies constants; g_m = (-1)^m h_{3-m} is the standard
  // orthogonal quadrature-mirror relation, so the synthesis scatter
  // x(i) += h((i-2k) mod N) a_k + g((i-2k) mod N) d_k reconstructs
  // exactly.
  // -------------------------------------------------------------------
  private val Db4H: Array[Double] = {
    val s3 = math.sqrt(3.0); val z = 4.0 * math.sqrt(2.0)
    Array((1 + s3) / z, (3 + s3) / z, (3 - s3) / z, (1 - s3) / z)
  }
  private val Db4G: Array[Double] =
    Array.tabulate(4)(m => (if (m % 2 == 0) 1.0 else -1.0) * Db4H(3 - m))

  def tsDenoise(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir) { (id, t0, y0) =>
      val (gt, gy) = resample(t0, y0, 21600.0)
      val n0 = gy.length
      if (n0 < 8) Iterator.empty
      else {
        // truncate to power of two for a clean periodized pyramid
        val n = Integer.highestOneBit(n0)
        var approx = gy.take(n).clone()
        var details = List.empty[Array[Double]]
        while (approx.length >= 8) {
          val len = approx.length
          val half = len / 2
          val a = new Array[Double](half)
          val d = new Array[Double](half)
          var k = 0
          while (k < half) {
            var sa = 0.0; var sd = 0.0; var m = 0
            while (m < 4) {
              val x = approx((2 * k + m) % len)
              sa += Db4H(m) * x
              sd += Db4G(m) * x
              m += 1
            }
            a(k) = sa; d(k) = sd
            k += 1
          }
          details = d :: details // head = coarsest after loop reversal
          approx = a
        }
        // sigma from the FINEST details (first band computed = last in
        // the reversed list)
        val fin = details.last.map(math.abs).sorted
        val mad = if (fin.isEmpty) 0.0
          else if (fin.length % 2 == 1) fin(fin.length / 2)
          else (fin(fin.length / 2 - 1) + fin(fin.length / 2)) / 2.0
        val sigma = mad / 0.6745
        val thr = sigma * math.sqrt(2.0 * math.log(n.toDouble))
        def soft(v: Double): Double =
          math.signum(v) * math.max(math.abs(v) - thr, 0.0)
        // inverse transform, coarsest level first
        var rec = approx
        for (dRaw <- details) {
          val d = dRaw.map(soft)
          val len = rec.length * 2
          val out = new Array[Double](len)
          var k = 0
          while (k < rec.length) {
            var m = 0
            while (m < 4) {
              out((2 * k + m) % len) += Db4H(m) * rec(k) + Db4G(m) * d(k)
              m += 1
            }
            k += 1
          }
          rec = out
        }
        (0 until n).iterator.map(i =>
          (id, gt(i), math.rint(rec(i) * 1e6) / 1e6))
      }
    }.toDF("id", "t", "y_denoised")

  // -------------------------------------------------------------------
  // ts_dwt_coeffs / ts_denoise_coeffs — the derived-input split of
  // ts_denoise: the sequential kernel is ONLY the periodized db4
  // pyramid; it dumps every coefficient (level 1 = finest detail band,
  // increasing = coarser; kind 'a' = the final approximation band).
  // The noise model — MAD sigma from the finest band, the universal
  // threshold sigma·sqrt(2 ln n), and the soft shrinkage of every
  // detail — is plain aggregation arithmetic, so it runs declaratively
  // over the dump and DuckDB replays it under the hash gate
  // (reference timefrequency.py:151-168). Only the transform itself
  // remains rows-only.
  // -------------------------------------------------------------------
  def tsDwtCoeffs(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir) { (id, t0, y0) =>
      val (_, gy) = resample(t0, y0, 21600.0)
      val n0 = gy.length
      if (n0 < 8) Iterator.empty
      else {
        val n = Integer.highestOneBit(n0)
        var approx = gy.take(n).clone()
        var out = List.empty[(Long, Int, Int, String, Double)]
        var lv = 0
        while (approx.length >= 8) {
          lv += 1
          val len = approx.length
          val half = len / 2
          val a = new Array[Double](half)
          var k = 0
          while (k < half) {
            var sa = 0.0; var sd = 0.0; var m = 0
            while (m < 4) {
              val x = approx((2 * k + m) % len)
              sa += Db4H(m) * x
              sd += Db4G(m) * x
              m += 1
            }
            a(k) = sa
            out = (id, lv, k, "d", sd) :: out
            k += 1
          }
          approx = a
        }
        val alv = lv
        approx.indices.foreach(k => out = (id, alv, k, "a", approx(k)) :: out)
        out.iterator
      }
    }.toDF("id", "level", "k", "kind", "c")

  def tsDenoiseCoeffs(spark: SparkSession, dir: String): DataFrame = {
    val dw = tsDwtCoeffs(spark, dir)
    val th = dw.filter(col("kind") === "d" && col("level") === 1)
      .groupBy("id")
      .agg((expr("percentile(abs(c), 0.5)") / lit(0.6745)).as("sigma"),
        (count(lit(1)) * 2).as("n"))
      .select(col("id"),
        (col("sigma") * sqrt(lit(2.0) * log(col("n")))).as("thr"))
    dw.join(th, "id")
      .select(col("id"), col("level"), col("k"), col("kind"),
        (round(when(col("kind") === "d",
          signum(col("c")) * greatest(abs(col("c")) - col("thr"), lit(0.0)))
          .otherwise(col("c")), 6) + lit(0.0)).as("c"))
  }

  val tsDenoiseCoeffsSql: String =
    """WITH dw AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/ts_dwt_coeffs/*.parquet')),
      |st AS (SELECT id, quantile_cont(abs(c), 0.5) / 0.6745 AS sigma,
      |  count(*) * 2 AS n
      |  FROM dw WHERE kind = 'd' AND level = 1 GROUP BY id),
      |th AS (SELECT id, sigma * sqrt(2.0 * ln(n)) AS thr FROM st)
      |SELECT dw.id, dw.level, dw.k, dw.kind,
      |  round(CASE WHEN dw.kind = 'd'
      |    THEN sign(c) * greatest(abs(c) - thr, 0.0) ELSE c END, 6)
      |    + 0.0 AS c
      |FROM dw JOIN th USING (id)""".stripMargin

  // -------------------------------------------------------------------
  // lmd_energy — per-(series, mode) summary of the LMD product
  // functions (reference decomposition.py:120): sample count, the
  // amplitude-envelope mass and the reconstructed-signal mass a(t)·f(t)
  // as exact integer 1e-6-unit sums (order-independent long adds; amp
  // and fm are 1e-6-quantized at the lmd_modes emit so the rounding
  // sees bit-identical doubles on both engines), plus max |f| — the FM
  // part must stay inside [-1, 1] by construction. One map-side-
  // combined groupBy over lmd_modes' output.
  //
  // DERIVED-INPUT oracle: DuckDB replays the sums over the lmd_modes
  // Verify dump — the LMD sift's (amp, fm) values enter the driver
  // hash gate (previously lmd_modes was spec-only).
  // -------------------------------------------------------------------
  def lmdEnergy(spark: SparkSession, dir: String): DataFrame = {
    val a = round(col("amp") * lit(1000000.0), 0).cast("long")
    val s = round(col("amp") * col("fm") * lit(1000000.0), 0).cast("long")
    lmdModes(spark, dir)
      .groupBy(col("id"), col("mode"))
      .agg(count(lit(1)).as("n"),
        sum(a).as("amp_sum_u"),
        sum(s).as("sig_sum_u"),
        max(abs(col("fm"))).as("fm_max"))
  }

  val lmdEnergySql: String =
    """WITH m AS (SELECT id, mode,
      |    cast(round(amp * 1000000.0) AS BIGINT) AS a,
      |    cast(round(amp * fm * 1000000.0) AS BIGINT) AS s,
      |    abs(fm) AS af
      |  FROM read_parquet('__GRAFT_OUT__/lmd_modes/*.parquet'))
      |SELECT id, mode, count(*) AS n,
      |  cast(sum(a) AS BIGINT) AS amp_sum_u,
      |  cast(sum(s) AS BIGINT) AS sig_sum_u,
      |  max(af) AS fm_max
      |FROM m GROUP BY id, mode""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lmd_modes" -> (lmdModes _),
    "lmd_energy" -> (lmdEnergy _),
    "ceemdan" -> (ceemdan _),
    "ceemdan_dump" -> (ceemdanDump _),
    "ceemdan_post" -> (ceemdanPost _),
    "ceemdan_orthogonality" -> (ceemdanOrthogonality _),
    "ceemdan_c_orthogonality" -> (ceemdanCOrthogonality _),
    "acf_period_quality" -> (acfPeriodQuality _),
    "acf_band_filter" -> (acfBandFilter _),
    "acf_band_quality" -> (acfBandQuality _),
    "gaussian_prior" -> (gaussianPrior _),
    "ts_dwt_coeffs" -> (tsDwtCoeffs _),
    "ts_denoise_coeffs" -> (tsDenoiseCoeffs _),
    "ts_denoise" -> (tsDenoise _))

  /** ts_dwt_coeffs, hash-gated (round 9): the periodized db4 pyramid
    * is a FIXED-DEPTH level recursion — a recursive CTE carrying one
    * list-valued row per series per level replays it bit-exactly
    * (each level is a list_transform whose 4-tap sums are written in
    * the kernel's m=0..3 order, taps embedded as round-tripping
    * double literals). The resample front-end mirrors the kernel's
    * exact pair selection (`while t(i+1) < tg` ⇒ segment index =
    * max(#samples strictly below tg − 1, 0)) and interpolation
    * expression — NOT the as-of carry formulation of ts_fill_gaps,
    * whose at-sample short-circuit differs in the last ulp. Details
    * for level L+1 derive post-hoc from level-L rows, so the
    * recursive term references the CTE once (DuckDB's constraint). */
  /** The uniform-resample front-end (the kernel `resample` above) as
    * bit-exact CTEs shared by the recursive-replay oracles
    * (ts_dwt_coeffs here, ts_butterworth in SeriesOps): `tickv` is
    * (id, j, tg, gy) — j the 0-based grid index, tg the grid time,
    * gy the kernel's interpolated value. Segment selection mirrors
    * the kernel's `while t(i+1) < tg` pointer: the pair index is
    * max(#samples strictly below tg − 1, 0) — NOT the as-of-carry
    * formulation of ts_fill_gaps, whose at-sample short-circuit
    * differs in the last ulp. */
  private[tsa] def resampleCtes(fracFirst: Boolean): String = {
    // SeriesOps2.resample computes y0 + ((y1−y0)·(tg−t0))/(t1−t0);
    // SeriesOps.resampleUniform computes the fraction FIRST — a
    // last-ulp association difference that an unrounded downstream
    // (hht_analytic's FFT) amplifies to 1e-13, so each oracle must
    // pick its kernel's association.
    val interp =
      if (fracFirst)
        "pr.y0 + (pr.y1 - pr.y0) * ((c.tg - pr.t0) / (pr.t1 - pr.t0))"
      else
        "pr.y0 + (pr.y1 - pr.y0) * (c.tg - pr.t0) / (pr.t1 - pr.t0)"
    s"""ser AS MATERIALIZED (${graft.Tables.seriesSql}),
       |pos AS (SELECT id, t, y,
       |    row_number() OVER (PARTITION BY id ORDER BY t, eid) - 1 AS p,
       |    count(*) OVER (PARTITION BY id) AS np
       |  FROM ser),
       |bounds AS (SELECT id,
       |    cast(ceil(min(t)/21600.0) AS bigint) AS k0,
       |    cast(floor(max(t)/21600.0) AS bigint) AS k1
       |  FROM pos WHERE np >= 2 GROUP BY id),
       |ticks AS (SELECT bounds.id, g.k - k0 AS j, g.k * CAST(21600.0 AS DOUBLE) AS tg
       |  FROM bounds, generate_series(70000, 90000) AS g(k)
       |  WHERE g.k BETWEEN bounds.k0 AND bounds.k1),
       |mg AS (
       |  SELECT id, t, 1 AS is_s,
       |    cast(NULL AS bigint) AS j, cast(NULL AS double) AS tg
       |  FROM pos
       |  UNION ALL SELECT id, tg AS t, 0 AS is_s, j, tg FROM ticks),
       |cnt AS (
       |  SELECT id, j, tg,
       |    sum(is_s) OVER (PARTITION BY id ORDER BY t, is_s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS below
       |  FROM mg QUALIFY is_s = 0),
       |pairs AS (
       |  SELECT id, p, t AS t0, y AS y0,
       |    lead(t) OVER w AS t1, lead(y) OVER w AS y1
       |  FROM pos WINDOW w AS (PARTITION BY id ORDER BY p)),
       |tickv AS MATERIALIZED (
       |  SELECT c.id, c.j, c.tg,
       |    $interp AS gy
       |  FROM cnt c JOIN pairs pr
       |    ON pr.id = c.id AND pr.p = greatest(c.below - 1, 0))"""
      .stripMargin
  }

  val tsDwtCoeffsSql: String = {
    def taps(c: Array[Double]) =
      (0 to 3).map(m =>
        s"+ ${SeriesMath.sqlDouble(c(m))} * arr[(2*k + $m) % len(arr) + 1]").mkString(" ")
    s"""WITH RECURSIVE ${resampleCtes(fracFirst = false)},
       |pw AS (SELECT unnest([8, 16, 32, 64, 128, 256, 512, 1024, 2048,
       |    4096, 8192, 16384, 32768, 65536, 131072, 262144]) AS n),
       |tcnt AS (SELECT id, count(*) AS c FROM ticks GROUP BY 1),
       |trunc AS (SELECT tcnt.id, max(pw.n) AS n
       |  FROM tcnt JOIN pw ON pw.n <= tcnt.c GROUP BY 1),
       |base AS (
       |  SELECT v.id, list(v.gy ORDER BY v.j) AS arr
       |  FROM tickv v JOIN trunc tr ON tr.id = v.id AND v.j < tr.n
       |  GROUP BY 1),
       |pyr AS (
       |  SELECT id, 0 AS level, arr FROM base
       |  UNION ALL
       |  SELECT id, level + 1,
       |    list_transform(range(len(arr) // 2), k ->
       |      0.0 ${taps(Db4H)})
       |  FROM pyr WHERE len(arr) >= 8),
       |dl AS (
       |  SELECT id, level + 1 AS level,
       |    list_transform(range(len(arr) // 2), k ->
       |      0.0 ${taps(Db4G)}) AS dlist
       |  FROM pyr WHERE len(arr) >= 8),
       |dr AS (SELECT id, level, generate_subscripts(dlist, 1) - 1 AS k,
       |    unnest(dlist) AS c
       |  FROM dl),
       |ar AS (SELECT id, level, generate_subscripts(arr, 1) - 1 AS k,
       |    unnest(arr) AS c
       |  FROM pyr WHERE len(arr) < 8)
       |SELECT id, cast(level AS INT) AS level, cast(k AS INT) AS k,
       |  'd' AS kind, c FROM dr
       |UNION ALL
       |SELECT id, cast(level AS INT) AS level, cast(k AS INT) AS k,
       |  'a' AS kind, c FROM ar""".stripMargin
  }

  /** ts_denoise, hash-gated (round 9): DERIVED-INPUT oracle over the
    * (itself hash-gated) ts_dwt_coeffs dump — soft-threshold the
    * detail bands, then replay the INVERSE periodized-db4 pyramid as
    * a recursive CTE walking levels coarsest→finest. Each output
    * element o of a level receives exactly two (k, m) contributions;
    * the kernel accumulates them in k-ascending order, which the
    * CASE on o reproduces (the wrap rows o<2 flip the order). The
    * final rint(·1e6)/1e6 maps to DuckDB roundbankers (both
    * half-even). */
  val tsDenoiseSql: String = {
    val h = Db4H; val g = Db4G
    // position of the second (larger-tap) contribution, periodic wrap
    val k2 = "(CASE WHEN o >= 2 THEN (o - 2) // 2" +
      " ELSE (o - 2 + 2 * len(i.arr)) // 2 END)"
    // contribution with taps (m = o%2) at k1 = o//2
    val cA =
      s"(CASE WHEN o % 2 = 0 THEN ${SeriesMath.sqlDouble(h(0))} ELSE ${SeriesMath.sqlDouble(h(1))} END)" +
        s" * i.arr[o // 2 + 1]" +
        s" + (CASE WHEN o % 2 = 0 THEN ${SeriesMath.sqlDouble(g(0))} ELSE ${SeriesMath.sqlDouble(g(1))} END)" +
        s" * sd.sdl[o // 2 + 1]"
    // contribution with taps (m = o%2 + 2) at k2
    val cB =
      s"(CASE WHEN o % 2 = 0 THEN ${SeriesMath.sqlDouble(h(2))} ELSE ${SeriesMath.sqlDouble(h(3))} END)" +
        s" * i.arr[$k2 + 1]" +
        s" + (CASE WHEN o % 2 = 0 THEN ${SeriesMath.sqlDouble(g(2))} ELSE ${SeriesMath.sqlDouble(g(3))} END)" +
        s" * sd.sdl[$k2 + 1]"
    s"""WITH RECURSIVE dw AS MATERIALIZED (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/ts_dwt_coeffs/*.parquet')),
       |st AS (SELECT id, quantile_cont(abs(c), 0.5) / 0.6745 AS sigma,
       |  count(*) * 2 AS n
       |  FROM dw WHERE kind = 'd' AND level = 1 GROUP BY id),
       |th AS (SELECT id, sigma * sqrt(2.0 * ln(n)) AS thr FROM st),
       |sdl AS MATERIALIZED (
       |  SELECT dw.id, dw.level,
       |    list(sign(c) * greatest(abs(c) - thr, 0.0) ORDER BY k) AS sdl
       |  FROM dw JOIN th ON th.id = dw.id
       |  WHERE kind = 'd' GROUP BY 1, 2),
       |inv AS (
       |  SELECT id, level, list(c ORDER BY k) AS arr
       |  FROM dw WHERE kind = 'a' GROUP BY 1, 2
       |  UNION ALL
       |  SELECT i.id, i.level - 1,
       |    list_transform(range(2 * len(i.arr)), o ->
       |      CASE WHEN o >= 2 THEN 0.0 + ($cB) + ($cA)
       |           ELSE 0.0 + ($cA) + ($cB) END)
       |  FROM inv i JOIN sdl sd ON sd.id = i.id AND sd.level = i.level
       |  WHERE i.level >= 1),
       |rec0 AS (SELECT id, arr FROM inv WHERE level = 0),
       |ser AS (${graft.Tables.seriesSql}),
       |bounds AS (SELECT id,
       |    cast(ceil(min(t)/21600.0) AS bigint) AS k0,
       |    cast(floor(max(t)/21600.0) AS bigint) AS k1
       |  FROM ser GROUP BY id HAVING count(*) >= 2),
       |ticks AS (SELECT bounds.id, gg.k - k0 AS j, gg.k * CAST(21600.0 AS DOUBLE) AS tg
       |  FROM bounds, generate_series(70000, 90000) AS gg(k)
       |  WHERE gg.k BETWEEN bounds.k0 AND bounds.k1)
       |SELECT r.id, tk.tg AS t,
       |  roundbankers(r.arr[tk.j + 1] * 1000000.0, 0) / 1000000.0
       |    AS y_denoised
       |FROM rec0 r JOIN ticks tk ON tk.id = r.id AND tk.j < len(r.arr)"""
      .stripMargin
  }

  /** ceemdan_post, hash-gated (round 10): the postprocessing re-sift
    * (decomposition.py:344-360) replays as a third sift recursion —
    * DERIVED-INPUT over the ceemdan Verify dump (the kernel consumes
    * ceemdan's ROUNDED output rows, so both engines start from
    * identical values). Stage k sifts d_k = q_k + modes(k) with
    * maxIter 15 / maxModes 1 via the shared siftStack; on acceptance
    * c_k is emitted and q_{k+1} = d_k − c_k carries to the next stage
    * (the stage input d_k rides the recursion's `rarr` slot); a broke
    * sift at k=0 emits modes(0) with a zero q (the kernel's
    * first.isEmpty fallback), and a broke sift at k ≥ 1 emits
    * modes(k) verbatim and stops the chain — exactly
    * CeemdanPostFunc. */
  val ceemdanPostSql: String =
    s"""WITH RECURSIVE cm AS MATERIALIZED (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/ceemdan/*.parquet')),
       |mdl AS MATERIALIZED (
       |  SELECT id, mode AS k, list(y ORDER BY t) AS md
       |  FROM cm GROUP BY 1, 2),
       |tsl AS MATERIALIZED (
       |  SELECT id, list(t ORDER BY t) AS tarr
       |  FROM (SELECT DISTINCT id, t FROM cm) dt GROUP BY 1),
       |nm AS MATERIALIZED (
       |  SELECT id, max(mode) + 1 AS nmodes FROM cm GROUP BY 1),
       |cpost AS (
       |  SELECT t.id, 0 AS k, 0 AS it, false AS accepted, true AS cont,
       |    n.nmodes, t.tarr, m.md AS marr, m.md AS rarr
       |  FROM tsl t
       |  JOIN nm n ON n.id = t.id
       |  JOIN mdl m ON m.id = t.id AND m.k = 0
       |  UNION ALL
       |  SELECT se.id,
       |    CASE WHEN se.accepted THEN se.k + 1 ELSE se.k END AS k,
       |    CASE WHEN se.accepted THEN 0 ELSE se.it + 1 END AS it,
       |    CASE WHEN se.accepted THEN false
       |         WHEN se.broke OR se.isimf OR se.it + 1 >= 15 THEN true
       |         ELSE false END AS accepted,
       |    CASE WHEN se.accepted THEN true
       |         WHEN se.broke AND se.k >= 1 THEN false
       |         ELSE true END AS cont,
       |    se.nmodes, se.tarr,
       |    CASE WHEN se.accepted THEN list_transform(range(se.n),
       |           q -> se.rarr[q+1] + mdn.md[q+1])
       |         WHEN se.broke AND se.k = 0 THEN se.rarr
       |         WHEN se.broke THEN mdc.md
       |         WHEN se.isimf THEN se.w
       |         ELSE se.sub END AS marr,
       |    CASE WHEN se.accepted THEN list_transform(range(se.n),
       |           q -> se.rarr[q+1] + mdn.md[q+1])
       |         WHEN se.broke AND se.k = 0 THEN list_transform(range(se.n),
       |           q -> se.rarr[q+1] - se.rarr[q+1])
       |         WHEN se.broke THEN se.rarr
       |         WHEN se.isimf THEN list_transform(range(se.n),
       |           q -> se.rarr[q+1] - se.w[q+1])
       |         WHEN se.it + 1 >= 15 THEN list_transform(range(se.n),
       |           q -> se.rarr[q+1] - (se.w[q+1] - se.muv[q+1]))
       |         ELSE se.rarr END AS rarr
       |  ${graft.tsa.SeriesOps.siftStack("cpost")}
       |  LEFT JOIN mdl mdc ON mdc.id = se.id AND mdc.k = se.k
       |  LEFT JOIN mdl mdn ON mdn.id = se.id AND mdn.k = se.k + 1
       |  WHERE CASE WHEN se.accepted
       |             THEN se.cont AND se.k + 1 < se.nmodes
       |             ELSE true END
       |)
       |SELECT e.id, CAST(e.k AS INTEGER) AS mode, e.tarr[q.q + 1] AS t,
       |  roundbankers(e.marr[q.q + 1] * 1000000.0, 0) / 1000000.0 AS y
       |FROM cpost e, LATERAL (SELECT unnest(range(len(e.marr))) AS q) q
       |WHERE e.accepted""".stripMargin

  /** lmd_modes, hash-gated (round 10): the LMD product-function sift
    * (decomposition.py:120; lmdSift above) replayed by the same
    * condition-terminated-recursion pattern as the EMD family — one
    * step per normalization iteration carrying (mode k, iter, f, amp,
    * residue). The sift itself is simpler than EMD's (no Thomas
    * solve): zero-order-hold local mean/envelope between merged
    * extrema, then 12 fixed triangle-smoothing passes each — the 12
    * passes are FIXED-count, so they unroll as 12 projection layers
    * per pass family, each element's clipped-window sum a 0.0-seeded
    * [s, w] flat-list fold over only the IN-RANGE taps (appending a
    * skipped tap as +0.0 would flip a −0.0 running sum, so the taps
    * are filtered, not zeroed). The layers are assembled by a fold —
    * after the emd experience, no hand-counted parentheses. */
  val lmdModesSql: String = {
    // One triangle-smoothing pass = TWO layers: an s-fold over plain
    // doubles, then the per-element division by the precomputed
    // window-clipped weight sum. The kernel's inner loop accumulates
    // s += a(idx)·wt and w += wt per tap — wt and w depend only on
    // (position, half), NOT the data, so the weight list and the
    // clipped weight sums are hoisted to ONE per-row computation
    // shared by all 24 passes (this plus plain-double fold elements
    // instead of per-tap [s, w] pair allocations took the sf0.01
    // oracle from 125 s to the tens).
    def smoothPass(prev: String, out: String) = Seq(
      s"""list_transform(range(n), jj -> list_reduce(
         |  list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(
         |      list_filter(range(-half, half + 1),
         |        kk -> jj + kk >= 0 AND jj + kk < n),
         |      kk -> $prev[jj + kk + 1] * wts[kk + half + 1])),
         |  (a, b) -> a + b)) AS s_$out""".stripMargin,
      s"""list_transform(range(n), jj -> s_$out[jj + 1] / wsum[jj + 1])
         |    AS $out""".stripMargin)
    val smoothLayers =
      (1 to 12).flatMap(j =>
        smoothPass(if (j == 1) "mu0" else s"pmu${j - 1}", s"pmu$j")) ++
      (1 to 12).flatMap(j =>
        smoothPass(if (j == 1) "env0" else s"penv${j - 1}", s"penv$j"))
    val layers: Seq[String] = Seq(
      // extrema of the working series (w = f for sifting rows, the
      // residue for accepted rows' monotonic check)
      """len(f) AS n,
        |  CASE WHEN accepted THEN rarr ELSE f END AS w""".stripMargin,
      """list_filter(range(1, n - 1),
        |    i -> w[i+1] > w[i] AND w[i+1] > w[i+2]) AS pki,
        |  list_filter(range(1, n - 1),
        |    i -> w[i+1] < w[i] AND w[i+1] < w[i+2]) AS dpi""".stripMargin,
      // merged ext indices: peaks WITH edges + interior dips (disjoint
      // sets, so the kernel's .distinct is a no-op)
      """list_sort(list_concat(list_concat(
        |    list_concat([CAST(0 AS BIGINT)], pki), [n - 1]), dpi)) AS ext,
        |  len(pki) = 0 OR len(dpi) = 0 AS mono""".stripMargin,
      "len(ext) < 3 AS isnull_",
      // zero-order hold segment index per sample (e advances while
      // ext(e+1) <= i, capped at len-2)
      """list_transform(range(n), i -> least(len(ext) - 2,
        |    len(list_filter(ext[2:], v -> v <= i)))) AS eL""".stripMargin,
      """list_transform(range(n), i -> w[ext[eL[i+1] + 1] + 1]) AS av,
        |  list_transform(range(n), i ->
        |    w[ext[least(eL[i+1] + 1, len(ext) - 1) + 1] + 1]) AS bv"""
        .stripMargin,
      """list_transform(range(n),
        |    i -> 0.5 * (av[i+1] + bv[i+1])) AS mu0,
        |  list_transform(range(n),
        |    i -> 0.5 * abs(av[i+1] - bv[i+1])) AS env0,
        |  list_max(list_transform(range(1, len(ext)),
        |    kk -> ext[kk+1] - ext[kk])) AS mx""".stripMargin,
      "greatest(3, (mx // 3) | 1) AS w0",
      """(CASE WHEN w0 % 2 = 0 THEN w0 + 1 ELSE w0 END) // 2 AS half"""
        .stripMargin,
      """list_transform(range(-half, half + 1),
        |    kk -> CAST(half + 1 - abs(kk) AS DOUBLE)) AS wts""".stripMargin,
      """list_transform(range(n), jj -> list_reduce(
        |  list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(
        |      list_filter(range(-half, half + 1),
        |        kk -> jj + kk >= 0 AND jj + kk < n),
        |      kk -> wts[kk + half + 1])),
        |  (a, b) -> a + b)) AS wsum""".stripMargin) ++
      smoothLayers ++ Seq(
      """list_transform(penv12, u ->
        |    CASE WHEN abs(u) < 1e-12 THEN 1e-12 ELSE u END) AS ee"""
        .stripMargin,
      """list_transform(range(n),
        |    q -> (f[q+1] - pmu12[q+1]) / ee[q+1]) AS f2,
        |  list_transform(range(n), q -> amp[q+1] * ee[q+1]) AS amp2"""
        .stripMargin,
      """len(list_filter(f2, v -> NOT (abs(v) - 1.0 < 1e-6))) = 0
        |    AS done2,
        |  list_transform(f2,
        |    v -> greatest(-1.0, least(1.0, v))) AS fc,
        |  list_transform(f,
        |    v -> greatest(-1.0, least(1.0, v))) AS fc0""".stripMargin)
    val stacked = layers.zipWithIndex.foldLeft("lmd r") {
      case (inner, (cols, i)) => s"(SELECT *, $cols FROM $inner) l$i"
    }
    s"""WITH RECURSIVE ${resampleCtes(fracFirst = false)},
       |gb AS MATERIALIZED (
       |  SELECT id, list(tg ORDER BY j) AS tarr, list(gy ORDER BY j) AS yarr
       |  FROM tickv GROUP BY 1 HAVING count(*) >= 8),
       |lmd AS (
       |  SELECT id, 0 AS k, 0 AS it, false AS accepted,
       |    tarr, yarr AS f,
       |    list_transform(yarr, x -> CAST(1.0 AS DOUBLE)) AS amp,
       |    yarr AS rarr
       |  FROM gb
       |  UNION ALL
       |  SELECT id,
       |    CASE WHEN accepted THEN k + 1 ELSE k END AS k,
       |    CASE WHEN accepted THEN 0 ELSE it + 1 END AS it,
       |    CASE WHEN accepted THEN false
       |         WHEN isnull_ OR done2 OR it + 1 >= 10 THEN true
       |         ELSE false END AS accepted,
       |    tarr,
       |    CASE WHEN accepted THEN rarr
       |         WHEN isnull_ THEN fc0
       |         WHEN done2 OR it + 1 >= 10 THEN fc
       |         ELSE f2 END AS f,
       |    CASE WHEN accepted THEN
       |           list_transform(f, x -> CAST(1.0 AS DOUBLE))
       |         WHEN isnull_ THEN amp ELSE amp2 END AS amp,
       |    CASE WHEN accepted THEN rarr
       |         WHEN isnull_ THEN list_transform(range(n),
       |           q -> rarr[q+1] - amp[q+1] * fc0[q+1])
       |         WHEN done2 OR it + 1 >= 10 THEN list_transform(range(n),
       |           q -> rarr[q+1] - amp2[q+1] * fc[q+1])
       |         ELSE rarr END AS rarr
       |  FROM $stacked
       |  WHERE CASE WHEN accepted
       |             THEN k + 1 < 4 AND len(pki) > 0 AND len(dpi) > 0
       |             ELSE NOT (isnull_ AND it = 0) END
       |)
       |SELECT e.id, CAST(e.k AS INTEGER) AS mode, e.tarr[q.q + 1] AS t,
       |  roundbankers(e.amp[q.q + 1] * 1000000.0, 0) / 1000000.0 AS amp,
       |  roundbankers(e.f[q.q + 1] * 1000000.0, 0) / 1000000.0 AS fm
       |FROM lmd e, LATERAL (SELECT unnest(range(len(e.f))) AS q) q
       |WHERE e.accepted""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "lmd_energy" -> lmdEnergySql,
    "lmd_modes" -> lmdModesSql,
    "ceemdan" -> ceemdanSql,
    "ceemdan_dump" -> CeemdanSql.ceemdanDumpSql,
    "ceemdan_post" -> ceemdanPostSql,
    "ts_dwt_coeffs" -> tsDwtCoeffsSql,
    "ts_denoise" -> tsDenoiseSql,
    "ceemdan_orthogonality" -> orthogonalitySql("ceemdan"),
    "ceemdan_c_orthogonality" -> orthogonalitySql("ceemdan_post"),
    "gaussian_prior" -> gaussianPriorSql,
    "acf_period_quality" -> acfPeriodQualitySql,
    "acf_band_filter" -> acfBandFilterSql,
    "acf_band_quality" -> acfBandQualitySql,
    "ts_denoise_coeffs" -> tsDenoiseCoeffsSql)
}
