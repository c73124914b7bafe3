package graft.tsa

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-series sequential operators — the algorithms that are genuinely
  * iterative (IIR filtering, EMD sifting, GP likelihoods) and cannot
  * be expressed as relational aggregations. Shape: ONE shuffle keyed
  * by series id (`groupByKey` + `mapGroups`), each group = one series
  * sorted in memory (series length ≪ executor memory; the 100 TB axis
  * is series count, which parallelizes linearly). No oracle SQL —
  * these register as rows-only checks per the driver contract.
  */
object SeriesOps {

  /** The per-series merge step as a case class rather than a lambda: a
    * lambda here would capture `f` as a fresh closure instance on every
    * operator invocation, making two calls of the SAME operator
    * canonically different plans — which silently defeats CacheManager
    * substitution of a persisted intermediate. A case class
    * compares equal by its `f` field, and the operator lambdas
    * are capture-free JVM-cached singletons, so two invocations now
    * produce `sameResult` plans (guarded by PlanReuseSpec). */
  private[graft] case class SeriesFunc[T](
      f: (Long, Array[Double], Array[Double]) => Iterator[T])
    extends ((Long, Iterator[(Long, Double, Double, Long)]) => IterableOnce[T]) {
    override def apply(id: Long,
        it: Iterator[(Long, Double, Double, Long)]): IterableOnce[T] = {
      // (t, eid) sort: deterministic under repartitioning when
      // timestamps collide (same tie-break as the window ops)
      val rows = it.toArray.sortBy(r => (r._2, r._4))
      f(id, rows.map(_._2), rows.map(_._3))
    }
  }

  /** Run `f(id, t[], y[])` over every series; emit its rows. Input is
    * sorted by (t, eid) — the eid tie-break makes every mapGroups op
    * deterministic under repartitioning even when timestamps collide
    * (same rule as the window ops). */
  private[tsa] def perSeries[T <: Product: scala.reflect.runtime.universe.TypeTag](
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
      .flatMapGroups(SeriesFunc(f))
  }

  /** Linear interpolation of (t, y) onto a uniform grid with step dt
    * (reference core.py:636 interp): the resample step before IIR
    * filtering, done per-series in the executor. */
  private[tsa] def resampleUniform(t: Array[Double], y: Array[Double], dt: Double)
      : (Array[Double], Array[Double]) = {
    if (t.length < 2) return (t, y)
    val k0 = math.ceil(t(0) / dt).toLong
    val k1 = math.floor(t(t.length - 1) / dt).toLong
    val n = (k1 - k0 + 1).toInt
    if (n <= 0) return (Array.empty, Array.empty)
    val gt = new Array[Double](n)
    val gy = new Array[Double](n)
    var j = 0
    var i = 0
    while (j < n) {
      val tg = (k0 + j) * dt
      while (i < t.length - 2 && t(i + 1) < tg) i += 1
      val frac = (tg - t(i)) / (t(i + 1) - t(i))
      gt(j) = tg
      gy(j) = y(i) + (y(i + 1) - y(i)) * frac
      j += 1
    }
    (gt, gy)
  }

  // -------------------------------------------------------------------
  // ts_butterworth — reference core.py:776 (TSeries.butterworth +
  // sosfiltfilt): order-5 Butterworth band-pass (periods 1–5 days)
  // applied zero-phase on the 6 h-resampled series.
  // -------------------------------------------------------------------
  // sos/dt hoisted to object level and the merge step stored in a val:
  // acf_period_quality composes this plan, so two invocations must be
  // canonically equal for a persisted instance to substitute
  // (see SeriesFunc — a capturing lambda would defeat it)
  private val ButterDt = 21600.0
  private val ButterSos =
    SeriesMath.butterBandpassSos(5, 1.0 / 432000.0, 1.0 / 86400.0,
      1.0 / ButterDt)

  private val butterworthFn
      : (Long, Array[Double], Array[Double]) => Iterator[(Long, Double, Double)] =
    (id, t, y) => {
      val (gt, gy) = resampleUniform(t, y, ButterDt)
      if (gt.length < 20) Iterator.empty
      else {
        val mean = gy.sum / gy.length
        val filt = SeriesMath.sosFiltFilt(ButterSos, gy.map(_ - mean))
        gt.indices.iterator.map(i =>
          (id, gt(i), math.rint(filt(i) * 1e6) / 1e6))
      }
    }

  def tsButterworth(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir)(butterworthFn).toDF("id", "t", "y_filt")

  // -------------------------------------------------------------------
  // emd_imfs — reference decomposition.py:12 (EMD): intrinsic mode
  // functions via envelope sifting; rows (id, mode, t, y).
  // -------------------------------------------------------------------
  def emdImfs(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir) { (id, t, y) =>
      val modes = SeriesMath.emd(t, y)
      modes.iterator.zipWithIndex.flatMap { case (m, k) =>
        t.indices.iterator.map(i =>
          (id, k, t(i), math.rint(m(i) * 1e6) / 1e6))
      }
    }.toDF("id", "mode", "t", "y")

  // -------------------------------------------------------------------
  // hht_inst — reference timefrequency.py:14 (HHT, DQ method):
  // per-mode instantaneous amplitude (iterative spline-envelope
  // normalization, timefrequency.py:71) and frequency (direct
  // quadrature); rows (id, mode, t, freq, amp).
  //
  // Round 7 — split like hht_ht/hht_nht so the DQ arithmetic sits
  // under the hash gate: only the sift + envelope normalization is
  // non-relational, so `hht_norm` dumps the normalized FM signal and
  // accumulated AM envelope per (mode, sample), and hht_inst is a
  // window compose over it. The DQ phase is φ = atan2(√(1−c²), c)
  // with c = clamp(f, ±1) (per-row), the sign correction flips φ
  // where its local gradient is negative (lag/lead), and — as with
  // the HT twins — the unwrap needs no prefix sum: the centered
  // gradient of the unwrapped phase equals the sum of the two
  // adjacent PRINCIPAL steps, each reduced into (−π, π] by
  // d − 2π·ceil((d−π)/2π). DERIVED-INPUT oracle: DuckDB replays the
  // identical window arithmetic over the hht_norm parquet dump.
  // (The kernel's closed-interval [−π, π] wrap differed only at the
  // measure-zero d = −π boundary; both engines now share the
  // half-open convention, so the gate compares identical formulas.)
  // -------------------------------------------------------------------
  private val hhtNormFn
      : (Long, Array[Double], Array[Double]) => Iterator[
        (Long, Int, Double, Double, Double)] =
    (id, t, y) => {
      if (t.length < 3) Iterator.empty
      else {
        val modes = SeriesMath.emd(t, y)
        modes.iterator.zipWithIndex.flatMap { case (m, k) =>
          val f = m.clone()
          val amp = Array.fill(m.length)(1.0)
          var it = 0
          var done = false
          while (it < 10 && !done) {
            val env = SeriesMath.envelopes(t, f.map(math.abs), 2)
            if (env == null) done = true
            else {
              val upper = env._1
              var i = 0
              while (i < f.length) {
                val e = if (math.abs(upper(i)) < 1e-12) 1e-12 else math.abs(upper(i))
                f(i) /= e
                amp(i) *= e
                i += 1
              }
              if (f.forall(v => math.abs(v) <= 1.0 + 1e-6)) done = true
            }
            it += 1
          }
          t.indices.iterator.map(i => (id, k, t(i), f(i), amp(i)))
        }
      }
    }

  def hhtNorm(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir)(hhtNormFn).toDF("id", "mode", "t", "f", "amp")

  private val Pi = 3.141592653589793 // same literals in the oracles
  private val TwoPi = 6.283185307179586

  def hhtInst(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("id", "mode").orderBy("t")
    val c = greatest(lit(-1.0), least(lit(1.0), col("f")))
    val withPhi = hhtNorm(spark, dir)
      .withColumn("phi", atan2(sqrt(lit(1.0) - c * c), c))
    val g = when(lag("phi", 1).over(w).isNull,
        lead("phi", 1).over(w) - col("phi"))
      .otherwise(when(lead("phi", 1).over(w).isNull,
        col("phi") - lag("phi", 1).over(w))
        .otherwise((lead("phi", 1).over(w) - lag("phi", 1).over(w)) / 2.0))
    val withSc = withPhi
      .withColumn("sc", when(g < 0.0, -col("phi")).otherwise(col("phi")))
    val rawd = col("sc") - lag("sc", 1).over(w)
    val stepped = withSc
      .withColumn("dp",
        rawd - lit(TwoPi) * ceil((rawd - lit(Pi)) / lit(TwoPi)))
      .withColumn("dn", lead("dp", 1).over(w))
      .withColumn("tp", lag("t", 1).over(w))
      .withColumn("tn", lead("t", 1).over(w))
    stepped.select(col("id"), col("mode"), col("t"),
      (round(
        when(col("dp").isNull, col("dn") / (col("tn") - col("t")))
          .otherwise(when(col("dn").isNull, col("dp") / (col("t") - col("tp")))
            .otherwise((col("dp") + col("dn")) / (col("tn") - col("tp"))))
          / TwoPi,
        12) + 0.0).as("freq"),
      (round(col("amp"), 6) + 0.0).as("amp"))
  }

  val hhtInstSql: String =
    s"""WITH a AS (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/hht_norm/*.parquet')),
       |p AS (SELECT id, mode, t, amp,
       |  atan2(sqrt(1.0 - least(greatest(f, -1.0), 1.0)
       |                 * least(greatest(f, -1.0), 1.0)),
       |        least(greatest(f, -1.0), 1.0)) AS phi
       |  FROM a),
       |s AS (SELECT *, CASE WHEN
       |    (CASE WHEN lag(phi) OVER w IS NULL
       |            THEN lead(phi) OVER w - phi
       |          WHEN lead(phi) OVER w IS NULL
       |            THEN phi - lag(phi) OVER w
       |          ELSE (lead(phi) OVER w - lag(phi) OVER w) / 2.0
       |     END) < 0.0 THEN -phi ELSE phi END AS sc
       |  FROM p WINDOW w AS (PARTITION BY id, mode ORDER BY t)),
       |d0 AS (SELECT *, sc - lag(sc) OVER w AS rawd
       |  FROM s WINDOW w AS (PARTITION BY id, mode ORDER BY t)),
       |d1 AS (SELECT *,
       |    rawd - $TwoPi * ceil((rawd - $Pi) / $TwoPi) AS dp
       |  FROM d0),
       |g AS (SELECT *,
       |    lead(dp) OVER w AS dn, lag(t) OVER w AS tp, lead(t) OVER w AS tn
       |  FROM d1 WINDOW w AS (PARTITION BY id, mode ORDER BY t))
       |SELECT id, mode, t,
       |  round((CASE WHEN dp IS NULL THEN dn / (tn - t)
       |              WHEN dn IS NULL THEN dp / (t - tp)
       |              ELSE (dp + dn) / (tn - tp) END) / $TwoPi, 12) + 0.0
       |    AS freq,
       |  round(amp, 6) + 0.0 AS amp
       |FROM g""".stripMargin

  // -------------------------------------------------------------------
  // hht_ht — reference timefrequency.py:129 (HHT method=HT): the plain
  // Hilbert-transform instantaneous frequency/amplitude of the signal
  // (no EMD normalization): analytic signal via FFT on the uniform 6 h
  // resample, amp = |analytic|, freq = phase gradient / 2π.
  //
  // Round 7 — split so the gradient arithmetic sits under the hash
  // gate: only the FFT itself is non-relational, so `hht_analytic`
  // dumps (re, im) per sample (rows-only mapGroups) and hht_ht is a
  // window-function compose over it. Unwrapping needs no prefix sum:
  // the centered gradient unwrapped(i+1) − unwrapped(i−1) equals
  // dφ(i) + dφ(i+1) where dφ(i) is the PRINCIPAL phase step — the
  // angle of zᵢ·conj(zᵢ₋₁), i.e. atan2(im·re₋ − re·im₋, re·re₋ +
  // im·im₋) — so lag/lead over the dump reproduce the gradient
  // exactly. DERIVED-INPUT oracle: DuckDB replays the same window
  // arithmetic over the hht_analytic parquet Verify dumps. amp uses
  // sqrt(re²+im²) (IEEE-exact on both engines) rather than hypot.
  // -------------------------------------------------------------------
  private val hhtAnalyticFn
      : (Long, Array[Double], Array[Double]) => Iterator[(Long, Double, Double, Double)] =
    (id, t0, y0) => {
      val (gt, gy) = resampleUniform(t0, y0, 21600.0)
      // cap shared with the oracle's FftLens tables (advisor round 10):
      // past 32767 resampled samples the kernel would otherwise take a
      // longer FFT than the replay can decode, silently diverging
      val n = math.min(Integer.highestOneBit(math.max(gy.length, 1)), 16384)
      if (n < 8) Iterator.empty
      else {
        val mean = gy.take(n).sum / n
        val (re, im) = SeriesMath.analytic(gy.take(n).map(_ - mean))
        (0 until n).iterator.map(i => (id, gt(i), re(i), im(i)))
      }
    }

  def hhtAnalytic(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir)(hhtAnalyticFn).toDF("id", "t", "re", "im")


  /** Shared HT-gradient compose: principal phase steps via lag, the
    * centered/one-sided gradient via lead, amplitude from `ampCol`.
    * `keys` = series identity (id, or id+mode for the NHT twin). */
  private def htGradient(src: DataFrame, keys: Seq[String],
      ampCol: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy("t")
    val dp = atan2(
      col("im") * lag("re", 1).over(w) - col("re") * lag("im", 1).over(w),
      col("re") * lag("re", 1).over(w) + col("im") * lag("im", 1).over(w))
    val out = src
      .withColumn("dp", dp)
      .withColumn("dn", lead(col("dp"), 1).over(w))
    out.select(keys.map(col) ++ Seq(col("t"),
      (round(
        when(col("dp").isNull, col("dn") / 21600.0)
          .otherwise(when(col("dn").isNull, col("dp") / 21600.0)
            .otherwise((col("dp") + col("dn")) / 43200.0)) / TwoPi,
        12) + 0.0).as("inst_freq"),
      (round(ampCol, 6) + 0.0).as("inst_amp")): _*)
  }

  private def htGradientSql(src: String, keys: Seq[String],
      ampSql: String): String = {
    val ks = keys.mkString(", ")
    s"""WITH a AS (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/$src/*.parquet')),
       |d AS (SELECT *,
       |  atan2(im * lag(re) OVER w - re * lag(im) OVER w,
       |        re * lag(re) OVER w + im * lag(im) OVER w) AS dp
       |  FROM a WINDOW w AS (PARTITION BY $ks ORDER BY t)),
       |g AS (SELECT *, lead(dp) OVER (PARTITION BY $ks ORDER BY t) AS dn
       |  FROM d)
       |SELECT $ks, t,
       |  round((CASE WHEN dp IS NULL THEN dn / 21600.0
       |              WHEN dn IS NULL THEN dp / 21600.0
       |              ELSE (dp + dn) / 43200.0 END) / $TwoPi, 12) + 0.0
       |    AS inst_freq,
       |  round($ampSql, 6) + 0.0 AS inst_amp
       |FROM g""".stripMargin
  }

  def hhtHt(spark: SparkSession, dir: String): DataFrame =
    htGradient(hhtAnalytic(spark, dir), Seq("id"),
      sqrt(col("re") * col("re") + col("im") * col("im")))

  val hhtHtSql: String =
    htGradientSql("hht_analytic", Seq("id"), "sqrt(re*re + im*im)")

  // -------------------------------------------------------------------
  // hht_nht — reference timefrequency.py:117 (HHT method=NHT):
  // EMD modes on the uniform resample, iterative spline-envelope
  // amplitude normalization, then the FM mode's phase from the FFT
  // analytic signal (normalized Hilbert transform) instead of direct
  // quadrature. Completes the DQ / TEO / HT / NHT method family.
  // -------------------------------------------------------------------
  // `hht_nht_norm` dumps the normalization's outputs per (mode,
  // sample): the FM mode's analytic signal (re, im) and the
  // accumulated AM envelope — everything downstream (the same HT
  // gradient + the amp passthrough) replays under the hash gate.
  private val hhtNhtNormFn
      : (Long, Array[Double], Array[Double]) => Iterator[
        (Long, Int, Double, Double, Double, Double)] =
    (id, t0, y0) => {
      val (gtAll, gyAll) = resampleUniform(t0, y0, 21600.0)
      // same 16384 cap as hhtAnalyticFn / the oracle's FftLens
      val n = math.min(
        Integer.highestOneBit(math.max(gtAll.length, 1)), 16384)
      if (n < 16) Iterator.empty
      else {
        val gt = gtAll.take(n)
        val gy = gyAll.take(n)
        val modes = SeriesMath.emd(gt, gy)
        modes.iterator.zipWithIndex.flatMap { case (m, k) =>
          val f = m.clone()
          val amp = Array.fill(n)(1.0)
          var it = 0
          var done = false
          while (it < 10 && !done) {
            val env = SeriesMath.envelopes(gt, f.map(math.abs), 2)
            if (env == null) done = true
            else {
              val upper = env._1
              var i = 0
              while (i < n) {
                val e = if (math.abs(upper(i)) < 1e-12) 1e-12
                  else math.abs(upper(i))
                f(i) /= e
                amp(i) *= e
                i += 1
              }
              if (f.forall(v => math.abs(v) <= 1.0 + 1e-6)) done = true
            }
            it += 1
          }
          val fc = f.map(v => math.max(-1.0, math.min(1.0, v)))
          val (re, im) = SeriesMath.analytic(fc)
          (0 until n).iterator.map(i =>
            (id, k, gt(i), re(i), im(i), amp(i)))
        }
      }
    }

  def hhtNhtNorm(spark: SparkSession, dir: String): DataFrame =
    perSeries(spark, dir)(hhtNhtNormFn)
      .toDF("id", "mode", "t", "re", "im", "amp")

  def hhtNht(spark: SparkSession, dir: String): DataFrame =
    htGradient(hhtNhtNorm(spark, dir), Seq("id", "mode"), col("amp"))

  val hhtNhtSql: String =
    htGradientSql("hht_nht_norm", Seq("id", "mode"), "amp")

  /** ts_butterworth, hash-gated (round 9): scipy's sosfiltfilt shape
    * replayed bit-exactly — shared resample CTEs (SeriesOps2), the
    * demean via a sequential `list_reduce` left fold (matching
    * Array.sum's 0.0-seeded order, where an unordered SQL sum would
    * drift a ulp), odd-reflect padding as list arithmetic, and each
    * of the two forward passes as a recursive CTE stepping one
    * sample per iteration while carrying all 2·S biquad states —
    * the per-sample section CASCADE is computed in one step via
    * lateral column aliases, which is dataflow-identical to the
    * kernel's section-by-section sweeps. Reversals are index
    * arithmetic; initial states are the step-response zi constants
    * (embedded as round-tripping literals) scaled by each pass's
    * first sample; the final rint(·1e6) maps to roundbankers. */
  /** sosfiltfilt replay, shared prelude: the demeaned resampled
    * signal over the `tickv` resample CTEs — signal-only, so every
    * cascade (and every pad width) shares one copy. */
  private[tsa] def filtFiltPrelude(minLen: Int): String =
    s"""gl AS (
       |  SELECT id, list(gy ORDER BY j) AS garr, list(tg ORDER BY j) AS tarr
       |  FROM tickv GROUP BY 1 HAVING count(*) >= $minLen),
       |dm AS (
       |  SELECT id, garr, tarr,
       |    list_reduce(list_prepend(0.0, garr), (a, b) -> a + b)
       |      / len(garr) AS mean
       |  FROM gl)""".stripMargin

  /** Reflect-padded extended signal for a given pad target (the
    * kernel's 3·(2·S+1), so it DEPENDS on the cascade's section
    * count — band 0 of acf_band_filter degenerates to 6 sections at
    * its Nyquist-touching upper edge, pad 39 vs the usual 33).
    * Emits meta<sfx> / e1<sfx> / np1<sfx>; meta and e1 MATERIALIZED
    * (meta is read by every pass init + the final decode, e1 by
    * every forward pass's per-step join). Equal pads can share one
    * instance across cascades. */
  private[tsa] def filtFiltExt(pad: Int, sfx: String): String =
    s"""meta$sfx AS MATERIALIZED (
       |  SELECT id, tarr, len(garr) AS n,
       |    least($pad, len(garr) - 1) AS pad,
       |    list_concat(list_concat(
       |      list_transform(range(least($pad, len(garr) - 1)), jj ->
       |        2.0 * (garr[1] - mean)
       |          - (garr[least($pad, len(garr) - 1) - jj + 1] - mean)),
       |      list_transform(garr, v -> v - mean)),
       |      list_transform(range(least($pad, len(garr) - 1)), jj ->
       |        2.0 * (garr[len(garr)] - mean)
       |          - (garr[len(garr) - 1 - jj] - mean))) AS ext
       |  FROM dm),
       |e1$sfx AS MATERIALIZED (
       |  SELECT id, generate_subscripts(ext, 1) - 1 AS p, unnest(ext) AS x,
       |    len(ext) AS np
       |  FROM meta$sfx),
       |np1$sfx AS (SELECT id, len(ext) AS np FROM meta$sfx)""".stripMargin

  /** One zero-phase cascade (forward pass f1<sfx>, flip e2<sfx>,
    * backward pass f3<sfx>) for the given SOS, CTE names suffixed so
    * several cascades coexist in one WITH RECURSIVE. Per-sample
    * cascade: x feeds section 0, y_{k-1} feeds section k; new states
    * use OLD w2 (r.*) and the freshly computed y_k. */
  private[tsa] def filtFiltPasses(sos: Array[Array[Double]],
      sfx: String, extSfx: String = ""): String = {
    val zi = SeriesMath.sosStepZi(sos)
    val S = sos.length
    def cascade(x: String): String = {
      val ys = (0 until S).map { k =>
        val xin = if (k == 0) x else s"y${k - 1}"
        s"${SeriesMath.sqlDouble(sos(k)(0))} * $xin + r.w1_$k AS y$k"
      }
      val ws = (0 until S).flatMap { k =>
        val xin = if (k == 0) x else s"y${k - 1}"
        Seq(s"${SeriesMath.sqlDouble(sos(k)(1))} * $xin" +
          s" - ${SeriesMath.sqlDouble(sos(k)(4))} * y$k + r.w2_$k AS nw1_$k",
          s"${SeriesMath.sqlDouble(sos(k)(2))} * $xin" +
          s" - ${SeriesMath.sqlDouble(sos(k)(5))} * y$k AS nw2_$k")
      }
      (ys ++ ws).mkString(", ")
    }
    val newStates = (0 until S).map(k => s"nw1_$k, nw2_$k").mkString(", ")
    def ziInit(v: String) = (0 until S)
      .map(k => s"${SeriesMath.sqlDouble(zi(k)(0))} * $v AS w1_$k, " +
        s"${SeriesMath.sqlDouble(zi(k)(1))} * $v AS w2_$k")
      .mkString(", ")
    def pass(name: String, src: String, vExpr: String) =
      s"""$name AS (
         |  SELECT b.id, -1 AS p, cast(NULL AS double) AS y,
         |    ${ziInit("b.v")}
         |  FROM (SELECT id, $vExpr AS v FROM meta$extSfx) b
         |  UNION ALL
         |  SELECT id, p, y${S - 1} AS y, $newStates FROM (
         |    SELECT r.id, s.p, ${cascade("s.x")}
         |    FROM $name r JOIN $src s ON s.id = r.id AND s.p = r.p + 1))"""
        .stripMargin
    s"""${pass(s"f1$sfx", s"e1$extSfx", "ext[1]")},
       |e2$sfx AS MATERIALIZED (
       |  SELECT f.id, n.np - 1 - f.p AS p, f.y AS x
       |  FROM f1$sfx f JOIN np1$extSfx n ON n.id = f.id WHERE f.p >= 0),
       |${pass(s"f3$sfx", s"e2$sfx",
          s"(SELECT f.y FROM f1$sfx f WHERE f.id = meta$extSfx.id" +
           s" AND f.p = len(meta$extSfx.ext) - 1)")}""".stripMargin
  }

  /** Decode a cascade's backward pass to (id[, extra], t, y_filt),
    * un-flipping the index and dropping the reflect pad. */
  private[tsa] def filtFiltSelect(sfx: String, extraCols: String = "",
      extSfx: String = ""): String =
    s"""SELECT f.id, ${extraCols}m.tarr[(n.np - 1 - f.p) - m.pad + 1] AS t,
       |  roundbankers(f.y * 1000000.0, 0) / 1000000.0 AS y_filt
       |FROM f3$sfx f
       |JOIN np1$extSfx n ON n.id = f.id
       |JOIN meta$extSfx m ON m.id = f.id
       |WHERE f.p >= 0
       |  AND (n.np - 1 - f.p) BETWEEN m.pad AND m.pad + m.n - 1"""
      .stripMargin

  val tsButterworthSql: String =
    s"""WITH RECURSIVE ${graft.tsa.SeriesOps2.resampleCtes(fracFirst = true)},
       |${filtFiltPrelude(20)},
       |${filtFiltExt(3 * (2 * ButterSos.length + 1), "")},
       |${filtFiltPasses(ButterSos, "")}
       |${filtFiltSelect("")}""".stripMargin

  /** hht_analytic, hash-gated (round 9): the radix-2 FFT Hilbert
    * transform replayed bit-exactly with ZERO trig calls in DuckDB —
    * the per-level twiddle bases cos/sin(±2π/len) are Scala-computed
    * literals for every possible len (the kernel's only libm trig,
    * where JVM-vs-C 1-ulp drift would break raw-double equality),
    * and each level's in-block twiddle sequence is the kernel's own
    * complex-multiplication recurrence, replayed per len by a
    * recursive CTE. Bit reversal is a pure integer permutation;
    * each butterfly level is one list_transform over the (re, im)
    * lists with expressions in the kernel's evaluation order; the
    * inverse pass re-reverses, runs the +2π twiddles, and divides by
    * n — exactly `SeriesMath.fft`/`analytic`. */
  private val FftLens = (1 to 14).map(1 << _) // 2 .. 16384

  /** CASE mapping the power-of-two length column `n` to its bit
    * count (shared by every FFT consumer). */
  private[tsa] def fftBitsCase: String = "CASE n " +
    FftLens.zipWithIndex.map { case (l, i) => s"WHEN $l THEN ${i + 1}" }
      .mkString(" ") + " END"

  /** The radix-2 FFT Hilbert-transform chain (SeriesMath.fft/analytic)
    * over a CTE `xd` exposing (keys…, n, tarr, bits, xr[, extra…]):
    * emits twb/tw/twl (global twiddles) + bf/ff/sp/bi/fi/res, with
    * `res`(keys…, n, tarr[, extra…], rel, iml) the analytic signal.
    * keys and extra ride along untouched, so the same chain serves
    * per-id (hht_analytic) and per-(id, mode) (hht_nht_norm) flows. */
  /** Twiddle tables (both directions, every FftLens level) as the
    * shared twb/tw/twl CTE block — the per-level complex-recurrence
    * twiddle lists every FFT consumer (hht chains, vmd) joins on. */
  private[tsa] val fftTwiddleCtes: String = {
    val twbase = FftLens.flatMap { len =>
      Seq(false, true).map { inv =>
        val ang = (if (inv) 2.0 else -2.0) * math.Pi / len
        val dir = if (inv) 1 else 0
        s"($len, $dir, ${SeriesMath.sqlDouble(math.cos(ang))}, " +
          s"${SeriesMath.sqlDouble(math.sin(ang))})"
      }
    }.mkString(",\n       ")
    s"""twb(len, dir, wr, wi) AS (VALUES
       |  $twbase),
       |tw AS (
       |  SELECT len, dir, 0 AS k,
       |    CAST(1.0 AS DOUBLE) AS cr, CAST(0.0 AS DOUBLE) AS ci,
       |    CAST(wr AS DOUBLE) AS wr, CAST(wi AS DOUBLE) AS wi
       |  FROM twb
       |  UNION ALL
       |  SELECT len, dir, k + 1, cr * wr - ci * wi, cr * wi + ci * wr,
       |    wr, wi
       |  FROM tw WHERE k + 1 < len // 2),
       |twl AS MATERIALIZED (
       |  SELECT len, dir, list(cr ORDER BY k) AS crl,
       |    list(ci ORDER BY k) AS cil
       |  FROM tw GROUP BY 1, 2)""".stripMargin
  }

  /** The bit-reversal permutation of `v` given a `bits` column. */
  private[tsa] def fftBitrev(v: String): String = (0 to 13).map(b =>
    s"(CASE WHEN bits > $b THEN ((($v >> $b) & 1) << (bits - 1 - $b))" +
      s" ELSE 0 END)").mkString(" + ")

  /** One butterfly level over the packed state: q is the global
    * element index, f the state row (rel/iml/len), tl the twiddles. */
  private[tsa] def fftLevel(reExpr: Boolean): String = {
    val half = "(f.len // 2)"
    val k = "(q % f.len)"
    def vAt(j: String, kk: String, re2: Boolean) =
      if (re2)
        s"(f.rel[$j + 1] * tl.crl[$kk + 1] - f.iml[$j + 1] * tl.cil[$kk + 1])"
      else
        s"(f.rel[$j + 1] * tl.cil[$kk + 1] + f.iml[$j + 1] * tl.crl[$kk + 1])"
    val arr = if (reExpr) "f.rel" else "f.iml"
    s"""list_transform(range(f.n), q ->
       |        CASE WHEN $k < $half THEN
       |          $arr[q + 1] + ${vAt(s"q + $half", k, reExpr)}
       |        ELSE
       |          $arr[q - $half + 1]
       |            - ${vAt("q", s"($k - $half)", reExpr)}
       |        END)""".stripMargin
  }

  private def fftCtes(keys: Seq[String], extra: Seq[String] = Nil)
      : String = {
    def bitrev(v: String) = fftBitrev(v)
    def lvl(reExpr: Boolean): String = fftLevel(reExpr)
    val carried = keys ++ Seq("n", "tarr", "bits") ++ extra
    val cs0 = carried.mkString(", ")
    val csF = carried.map("f." + _).mkString(", ")
    s"""$fftTwiddleCtes,
       |bf AS MATERIALIZED (
       |  SELECT $cs0,
       |    list_transform(range(n), q -> xr[(${bitrev("q")}) + 1]) AS rel,
       |    list_transform(range(n), q -> CAST(0.0 AS DOUBLE)) AS iml
       |  FROM xd),
       |ff AS (
       |  SELECT $cs0, 2 AS len, rel, iml FROM bf
       |  UNION ALL
       |  SELECT $csF, f.len * 2,
       |    ${lvl(reExpr = true)},
       |    ${lvl(reExpr = false)}
       |  FROM ff f JOIN twl tl ON tl.len = f.len AND tl.dir = 0
       |  WHERE f.len <= f.n),
       |sp AS MATERIALIZED (
       |  SELECT $cs0,
       |    list_transform(range(n), q ->
       |      CASE WHEN q >= 1 AND q < n // 2 THEN rel[q + 1] * 2.0
       |           WHEN q > n // 2 THEN 0.0 ELSE rel[q + 1] END) AS sre,
       |    list_transform(range(n), q ->
       |      CASE WHEN q >= 1 AND q < n // 2 THEN iml[q + 1] * 2.0
       |           WHEN q > n // 2 THEN 0.0 ELSE iml[q + 1] END) AS sim
       |  FROM ff WHERE len = 2 * n),
       |bi AS MATERIALIZED (
       |  SELECT $cs0,
       |    list_transform(range(n), q -> sre[(${bitrev("q")}) + 1]) AS rel,
       |    list_transform(range(n), q -> sim[(${bitrev("q")}) + 1]) AS iml
       |  FROM sp),
       |fi AS (
       |  SELECT $cs0, 2 AS len, rel, iml FROM bi
       |  UNION ALL
       |  SELECT $csF, f.len * 2,
       |    ${lvl(reExpr = true)},
       |    ${lvl(reExpr = false)}
       |  FROM fi f JOIN twl tl ON tl.len = f.len AND tl.dir = 1
       |  WHERE f.len <= f.n),
       |res AS (
       |  SELECT ${(keys ++ Seq("n", "tarr") ++ extra).mkString(", ")},
       |    list_transform(rel, v -> v / n) AS rel,
       |    list_transform(iml, v -> v / n) AS iml
       |  FROM fi WHERE len = 2 * n)""".stripMargin
  }

  val hhtAnalyticSql: String =
    s"""WITH RECURSIVE ${graft.tsa.SeriesOps2.resampleCtes(fracFirst = true)},
       |gl AS (
       |  SELECT id, list(gy ORDER BY j) AS garr, list(tg ORDER BY j) AS tarr
       |  FROM tickv GROUP BY 1),
       |pw AS (SELECT unnest([8, 16, 32, 64, 128, 256, 512, 1024, 2048,
       |    4096, 8192, 16384]) AS n),
       |tr AS (SELECT gl.id, max(pw.n) AS n
       |  FROM gl JOIN pw ON pw.n <= len(gl.garr) GROUP BY 1),
       |xm AS (SELECT gl.id, tr.n, gl.tarr, gl.garr,
       |    list_reduce(list_prepend(0.0, gl.garr[1:tr.n]), (a, b) -> a + b)
       |      / tr.n AS mean
       |  FROM gl JOIN tr ON tr.id = gl.id),
       |xd AS (SELECT id, n, tarr, $fftBitsCase AS bits,
       |    list_transform(garr[1:n], v -> v - mean) AS xr
       |  FROM xm),
       |${fftCtes(Seq("id"))}
       |SELECT r.id, r.tarr[q.q + 1] AS t,
       |  r.rel[q.q + 1] AS re, r.iml[q.q + 1] AS im
       |FROM res r, LATERAL (SELECT unnest(range(r.n)) AS q) AS q"""
      .stripMargin

  /** emd_imfs, hash-gated (round 10): the full Rilling sift loop —
    * data-DEPENDENT iteration counts and all — replayed bit-exactly by
    * ONE condition-terminated recursive CTE. Round 9 established that
    * fixed-length recurrences replay in recursive CTEs; the remaining
    * blocker was the sift's nested sequential structure (per iteration:
    * two natural-spline envelope solves, each itself a forward+backward
    * Thomas recurrence of data-dependent length). The two moves that
    * make it expressible AND fast:
    *
    *  1. One recursion step per SIFT ITERATION, carrying (id, mode k,
    *     iter, accepted, t[], mode[], residue[]) as list columns. The
    *     Rilling stop criteria live in plain column predicates; the
    *     step's WHERE drops rows when the decomposition ends (broke /
    *     monotonic residue / max modes), so the recursion terminates
    *     exactly when the kernel's loops do. Accepted modes are emitted
    *     as flagged rows — the recursive CTE's UNION ALL history IS the
    *     output, filtered at the end (no separate accumulator needed).
    *  2. The per-iteration Thomas sweeps run as `list_reduce` LEFT
    *     FOLDS over a flat DOUBLE[] accumulator ([µ₀,z₀,µ₁,z₁,…] —
    *     DuckDB 1.0 truncates list fields inside STRUCT accumulators,
    *     flat lists fold correctly), with each fold element carrying
    *     [h(i), h(i−1), x(i+1)−x(i−1), α(i)] so the lambda reproduces
    *     the kernel's l/µ/z recurrences operand-for-operand. l(i) is
    *     inlined twice (µ and z both divide by it) — recomputing the
    *     identical expression is IEEE-deterministic, so the replay
    *     stays bit-exact.
    *
    * Portability trap worth recording (cost 80×): a LAMBDA BODY must
    * never reference a lateral column alias from its own SELECT —
    * DuckDB inlines the alias's defining expression into every
    * reference site and re-evaluates it PER LIST ELEMENT, so the
    * spline segment-lookup (itself an O(knots) filter) referenced 4×
    * inside the evaluation lambda turned O(n·m) into O(n²·m²): 415 s
    * for the sf0.01 gate. Hoisting the lookup and dx into their own
    * projection layers (plain columns at the point of lambda use)
    * brought the identical computation to 5 s. Cross-layer column
    * references are safe; same-layer alias references inside lambdas
    * are not.
    *
    * Everything mirrors SeriesMath (emd/emdSift/envelopeKnots/
    * splineCoeffs/splineEval; reference decomposition.py:45-119):
    * strict extrema with edges, odd-reflect/plain-reflect pad-and-drop
    * (k=2), natural-spline envelopes evaluated with the kernel's
    * left-associated Horner-free polynomial, σ = |µ/amp| with the
    * amp==0 → 1e-300 guard, IMF criteria (frac(σ>θ₁)<α, all σ<θ₂,
    * |zero−ext|≤1), maxIter-exhaustion acceptance, residue-monotonic
    * termination, maxModes=8. Output rint(·1e6) → roundbankers. */
    // one envelope (p ∈ {u, l}): fold elements, forward/backward
    // Thomas folds, coefficient lists
  private def elFw(p: String) =
    s"""list_transform(range(1, n$p - 1), i -> [
         |    ptx$p[i+2] - ptx$p[i+1],
         |    ptx$p[i+1] - ptx$p[i],
         |    ptx$p[i+2] - ptx$p[i],
         |    3.0 * ((pty$p[i+2] - pty$p[i+1]) / (ptx$p[i+2] - ptx$p[i+1])
         |         - (pty$p[i+1] - pty$p[i]) / (ptx$p[i+1] - ptx$p[i]))
         |  ]) AS el$p,
         |  list_reduce(
         |    list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)], el$p),
         |    (a, b) -> list_concat(a, [
         |      b[1] / (2.0 * b[3] - b[2] * a[len(a) - 1]),
         |      (b[4] - b[2] * a[len(a)])
         |        / (2.0 * b[3] - b[2] * a[len(a) - 1])
         |    ])) AS fw$p""".stripMargin
  private def musZs(p: String) =
    s"""list_transform(range(n$p - 1), i -> fw$p[2 * i + 1]) AS mus$p,
         |  list_transform(range(n$p - 1), i -> fw$p[2 * i + 2]) AS zs$p"""
      .stripMargin
  private def bwd(p: String) =
    s"""list_reduce(
         |    list_prepend([CAST(0.0 AS DOUBLE)],
         |      list_transform(range(1, n$p - 1),
         |        q -> [zs$p[n$p - q], mus$p[n$p - q]])),
         |    (a, b) -> list_concat(a, [b[1] - b[2] * a[len(a)]])) AS bw$p"""
      .stripMargin
  private def cs(p: String) =
    s"""list_concat([CAST(0.0 AS DOUBLE)],
         |    list_transform(range(1, n$p), i -> bw$p[n$p - i])) AS cs$p"""
      .stripMargin
  private def bsDs(p: String) =
    s"""list_transform(range(n$p - 1), i ->
         |    (pty$p[i+2] - pty$p[i+1]) / (ptx$p[i+2] - ptx$p[i+1])
         |    - (ptx$p[i+2] - ptx$p[i+1]) * (cs$p[i+2] + 2.0 * cs$p[i+1])
         |      / 3.0) AS bs$p,
         |  list_transform(range(n$p - 1), i ->
         |    (cs$p[i+2] - cs$p[i+1]) / (3.0 * (ptx$p[i+2] - ptx$p[i+1])))
         |    AS ds$p""".stripMargin
    // segment lookup / dx / evaluation — three SEPARATE layers (see
    // the lateral-alias trap above)
  private def lou(p: String) =
    s"""list_transform(tarr, x -> least(n$p - 2, greatest(0,
         |    len(list_filter(ptx$p, v -> v <= x)) - 1))) AS lo$p"""
      .stripMargin
  private def dx(p: String) =
    s"""list_transform(range(n), q -> tarr[q+1] - ptx$p[lo$p[q+1] + 1])
         |    AS dx$p""".stripMargin
  private def ev(p: String) =
    s"""list_transform(range(n), q ->
         |    pty$p[lo$p[q+1] + 1]
         |    + bs$p[lo$p[q+1] + 1] * dx$p[q+1]
         |    + cs$p[lo$p[q+1] + 1] * dx$p[q+1] * dx$p[q+1]
         |    + ds$p[lo$p[q+1] + 1] * dx$p[q+1] * dx$p[q+1] * dx$p[q+1])
         |    AS ev$p""".stripMargin
  private def pads(p: String) =
    s"""list_concat(list_concat(
         |    [2.0 * tx$p[1] - tx$p[3], 2.0 * tx$p[1] - tx$p[2]],
         |    tx$p[2:m0$p - 1]),
         |    [2.0 * tx$p[m0$p] - tx$p[m0$p - 1],
         |     2.0 * tx$p[m0$p] - tx$p[m0$p - 2]]) AS ptx$p,
         |  list_concat(list_concat(
         |    [ty$p[3], ty$p[2]], ty$p[2:m0$p - 1]),
         |    [ty$p[m0$p - 1], ty$p[m0$p - 2]]) AS pty$p""".stripMargin
  /** The per-iteration sift computation (extrema, pads, two spline
    * envelopes, Rilling criteria) as a parenthesized derived table
    * over any recursion CTE exposing (…, tarr, marr, rarr, accepted)
    * — shared by the emd recursion and the ceemdan_post re-sift
    * recursion (extra carried columns pass through the SELECT *
    * layers untouched). */
  private[tsa] def siftStack(srcCte: String): String =
    s"""FROM (
       |   SELECT *,
       |    CAST(len(list_filter(sig, s -> s > 0.05)) AS DOUBLE) / n < 0.05
       |      AND len(list_filter(sig, s -> NOT (s < 0.5))) = 0
       |      AND abs(nz - next_) <= 1 AS isimf,
       |    list_transform(range(n), q -> w[q+1] - muv[q+1]) AS sub
       |   FROM (
       |    SELECT *,
       |     list_transform(range(n), q -> (evu[q+1] + evl[q+1]) / 2.0)
       |       AS muv,
       |     list_transform(range(n), q ->
       |       abs(((evu[q+1] + evl[q+1]) / 2.0)
       |         / (CASE WHEN (evu[q+1] - evl[q+1]) / 2.0 = 0.0 THEN 1e-300
       |                 ELSE (evu[q+1] - evl[q+1]) / 2.0 END))) AS sig
       |    FROM (
       |     SELECT *, ${ev("u")}, ${ev("l")}
       |     FROM (
       |      SELECT *, ${dx("u")}, ${dx("l")}
       |      FROM (
       |       SELECT *, ${lou("u")}, ${lou("l")}
       |       FROM (
       |        SELECT *, ${bsDs("u")}, ${bsDs("l")}
       |        FROM (
       |         SELECT *, ${cs("u")}, ${cs("l")}
       |         FROM (
       |          SELECT *, ${bwd("u")}, ${bwd("l")}
       |          FROM (
       |           SELECT *, ${musZs("u")}, ${musZs("l")}
       |           FROM (
       |            SELECT *, ${elFw("u")}, ${elFw("l")}
       |            FROM (
       |             SELECT *, len(txu) AS m0u, len(txl) AS m0l,
       |              ${pads("u")}, ${pads("l")},
       |              len(ptxu) AS nu, len(ptxl) AS nl
       |             FROM (
       |              SELECT *,
       |               list_transform(pke, i -> tarr[i + 1]) AS txu,
       |               list_transform(pke, i -> w[i + 1]) AS tyu,
       |               list_transform(dpe, i -> tarr[i + 1]) AS txl,
       |               list_transform(dpe, i -> w[i + 1]) AS tyl
       |              FROM (
       |               SELECT *,
       |                list_concat(list_concat([CAST(0 AS BIGINT)], pk),
       |                  [n - 1]) AS pke,
       |                list_concat(list_concat([CAST(0 AS BIGINT)], dp),
       |                  [n - 1]) AS dpe,
       |                len(pk) + len(dp) AS next_,
       |                len(pk) < 2 OR len(dp) < 2 AS broke
       |               FROM (
       |                SELECT *,
       |                 list_filter(range(1, n - 1),
       |                   i -> w[i+1] > w[i] AND w[i+1] > w[i+2]) AS pk,
       |                 list_filter(range(1, n - 1),
       |                   i -> w[i+1] < w[i] AND w[i+1] < w[i+2]) AS dp,
       |                 len(list_filter(range(n - 1),
       |                   i -> (w[i+1] >= 0) <> (w[i+2] >= 0))) AS nz
       |                FROM (
       |                 SELECT *, len(marr) AS n,
       |                  CASE WHEN accepted THEN rarr ELSE marr END AS w
       |                 FROM $srcCte r) s0 ) s1 ) s2 ) s3 ) s4 ) s5 ) s6 ) s7
       |              ) s8 ) s9 ) sa ) sb ) sc ) sd ) se""".stripMargin

  /** The emd recursion over any base CTE exposing (keys…, tarr, yarr),
    * generalized (round 11) so the ceemdan replay can instantiate it
    * with its (maxModes=4/1/2, maxIter=15) ensemble parameters and
    * composite (id, r) keys — raw series for emd_imfs/hht_norm, the
    * power-of-two-truncated 6 h resample for hht_nht_norm, per-
    * realization noise/extraction series for ceemdan_dump. Mirrors
    * SeriesMath.emd exactly: isimf acceptance keeps the sifted w,
    * maxIter exhaustion accepts w − muv (the kernel subtracts before
    * the loop exits), a broke sift ends the series' decomposition
    * (row dropped), and continuation after an accepted mode requires
    * both extrema families present in the residue. */
  private[tsa] def emdRecGen(name: String, baseCte: String,
      keys: Seq[String], maxModes: Int, maxIter: Int): String = {
    val ks = keys.mkString(", ")
    s"""$name AS (
       |  SELECT $ks, 0 AS k, 0 AS it, false AS accepted,
       |    tarr, yarr AS marr, yarr AS rarr
       |  FROM $baseCte
       |  UNION ALL
       |  SELECT $ks,
       |    CASE WHEN accepted THEN k + 1 ELSE k END AS k,
       |    CASE WHEN accepted THEN 0 WHEN isimf THEN it ELSE it + 1 END
       |      AS it,
       |    CASE WHEN accepted THEN false
       |         WHEN isimf OR it + 1 >= $maxIter THEN true ELSE false END
       |      AS accepted,
       |    tarr,
       |    CASE WHEN accepted THEN rarr WHEN isimf THEN w ELSE sub END
       |      AS marr,
       |    CASE WHEN accepted THEN rarr
       |         WHEN isimf THEN list_transform(range(n),
       |           q -> rarr[q+1] - w[q+1])
       |         WHEN it + 1 >= $maxIter THEN list_transform(range(n),
       |           q -> rarr[q+1] - (w[q+1] - muv[q+1]))
       |         ELSE rarr END AS rarr
       |  ${siftStack(name)}

       |  WHERE CASE WHEN accepted
       |             THEN k + 1 < $maxModes AND len(pk) > 0 AND len(dp) > 0
       |             ELSE NOT broke END
       |)""".stripMargin
  }

  private def emdRec(baseCte: String): String =
    emdRecGen("emd", baseCte, Seq("id"), maxModes = 8, maxIter = 200)

  private val emdCtes: String =
    s"""ser AS MATERIALIZED (${graft.Tables.seriesSql}),
       |base AS MATERIALIZED (
       |  SELECT id, list(t ORDER BY t, eid) AS tarr,
       |    list(y ORDER BY t, eid) AS yarr
       |  FROM ser GROUP BY 1 HAVING count(*) >= 4),
       |${emdRec("base")}""".stripMargin

  val emdImfsSql: String =
    s"""WITH RECURSIVE $emdCtes
       |SELECT e.id, CAST(e.k AS INTEGER) AS mode, e.tarr[q.q + 1] AS t,
       |  roundbankers(e.marr[q.q + 1] * 1000000.0, 0) / 1000000.0 AS y
       |FROM emd e, LATERAL (SELECT unnest(range(len(e.marr))) AS q) q
       |WHERE e.accepted""".stripMargin

  /** hht_norm, hash-gated (round 10): the iterative spline-envelope
    * normalization (timefrequency.py:71 — ≤10 iterations of f ← f/e,
    * amp ← amp·e with e the upper envelope of |f| clamped at 1e-12,
    * stopping when the envelope fails or all |f| ≤ 1+1e-6) replays as
    * a SECOND condition-terminated recursive CTE chained on the emd
    * recursion: seeded from the accepted-mode rows, one step per
    * normalization iteration, terminal rows flagged `fin` and read
    * from the recursion history. Reuses the per-envelope fragment
    * chain (elFw…ev) verbatim — the envelope here runs over |f| and
    * only the upper spline is evaluated, but the null condition still
    * checks BOTH extrema families (envelopeKnots' contract). Output
    * is RAW doubles (f, amp) — the gate demands full bit-equality,
    * which the operand-exact replay provides. */
  /** The normalization recursion (shared by hht_norm and
    * hht_nht_norm — the two kernels run the identical loop): reads
    * the accepted rows of the `emd` CTE in scope. */
  private val nrmCte: String = {
    val onePlus = SeriesMath.sqlDouble(1.0 + 1e-6)
    s"""nrm AS (
       |  SELECT id, k, tarr, marr AS f,
       |    list_transform(marr, x -> CAST(1.0 AS DOUBLE)) AS amp,
       |    0 AS it, false AS fin
       |  FROM emd WHERE accepted
       |  UNION ALL
       |  SELECT id, k, tarr,
       |    CASE WHEN broke THEN f ELSE f2 END AS f,
       |    CASE WHEN broke THEN amp ELSE amp2 END AS amp,
       |    CASE WHEN broke THEN it ELSE it + 1 END AS it,
       |    CASE WHEN broke THEN true
       |         WHEN fin2 OR it + 1 >= 10 THEN true ELSE false END AS fin
       |  FROM (
       |   SELECT *,
       |    len(list_filter(f2, v -> NOT (abs(v) <= $onePlus))) = 0 AS fin2
       |   FROM (
       |    SELECT *,
       |     list_transform(range(n), q -> f[q+1] / ee[q+1]) AS f2,
       |     list_transform(range(n), q -> amp[q+1] * ee[q+1]) AS amp2
       |    FROM (
       |     SELECT *,
       |      list_transform(evu, u ->
       |        CASE WHEN abs(u) < 1e-12 THEN 1e-12 ELSE abs(u) END) AS ee
       |     FROM (
       |      SELECT *, ${ev("u")}
       |      FROM (
       |       SELECT *, ${dx("u")}
       |       FROM (
       |        SELECT *, ${lou("u")}
       |        FROM (
       |         SELECT *, ${bsDs("u")}
       |         FROM (
       |          SELECT *, ${cs("u")}
       |          FROM (
       |           SELECT *, ${bwd("u")}
       |           FROM (
       |            SELECT *, ${musZs("u")}
       |            FROM (
       |             SELECT *, ${elFw("u")}
       |             FROM (
       |              SELECT *, len(txu) AS m0u, ${pads("u")},
       |               len(ptxu) AS nu
       |              FROM (
       |               SELECT *,
       |                list_transform(pke, i -> tarr[i + 1]) AS txu,
       |                list_transform(pke, i -> af[i + 1]) AS tyu
       |               FROM (
       |                SELECT *,
       |                 list_concat(list_concat([CAST(0 AS BIGINT)], pk),
       |                   [n - 1]) AS pke,
       |                 len(pk) < 2 OR len(dp) < 2 AS broke
       |                FROM (
       |                 SELECT *,
       |                  list_filter(range(1, n - 1),
       |                    i -> af[i+1] > af[i] AND af[i+1] > af[i+2]) AS pk,
       |                  list_filter(range(1, n - 1),
       |                    i -> af[i+1] < af[i] AND af[i+1] < af[i+2]) AS dp
       |                 FROM (
       |                  SELECT *, len(f) AS n,
       |                   list_transform(f, x -> abs(x)) AS af
       |                  FROM nrm r WHERE NOT r.fin) t0 ) t1 ) t2 ) t3 ) t4
       |            ) t5 ) t6 ) t7 ) t8 ) t9 ) ta ) tb ) tc ) td ) te ) tf
       |)""".stripMargin
  }

  val hhtNormSql: String =
    s"""WITH RECURSIVE $emdCtes,
       |$nrmCte
       |SELECT e.id, CAST(e.k AS INTEGER) AS mode, e.tarr[q.q + 1] AS t,
       |  e.f[q.q + 1] AS f, e.amp[q.q + 1] AS amp
       |FROM nrm e, LATERAL (SELECT unnest(range(len(e.f))) AS q) q
       |WHERE e.fin""".stripMargin

  /** hht_nht_norm, hash-gated (round 10): the full NHT kernel chain —
    * 6 h resample → power-of-two truncation → EMD → envelope
    * normalization → ±1 clamp → FFT analytic signal — composed from
    * the three already-validated replay blocks: the shared resample
    * CTEs feed a truncated `nbase`, emdRec/nrmCte run the identical
    * sift + normalization recursions over it, and the parameterized
    * fftCtes chain (keys id, mode; amp as passenger) produces each
    * FM mode's analytic signal. Raw-double gate like hht_norm. */
  val hhtNhtNormSql: String =
    s"""WITH RECURSIVE ${graft.tsa.SeriesOps2.resampleCtes(fracFirst = true)},
       |gl AS (
       |  SELECT id, list(gy ORDER BY j) AS garr, list(tg ORDER BY j) AS tg2
       |  FROM tickv GROUP BY 1),
       |pw AS (SELECT unnest([8, 16, 32, 64, 128, 256, 512, 1024, 2048,
       |    4096, 8192, 16384]) AS n),
       |tr AS (SELECT gl.id, max(pw.n) AS n2
       |  FROM gl JOIN pw ON pw.n <= len(gl.garr) GROUP BY 1),
       |nbase AS MATERIALIZED (
       |  SELECT gl.id, gl.tg2[1:tr.n2] AS tarr, gl.garr[1:tr.n2] AS yarr
       |  FROM gl JOIN tr ON tr.id = gl.id WHERE tr.n2 >= 16),
       |${emdRec("nbase")},
       |$nrmCte,
       |xd AS (
       |  SELECT id, k, len(f) AS n, tarr, $fftBitsCase AS bits,
       |    list_transform(f, v -> greatest(-1.0, least(1.0, v))) AS xr,
       |    amp
       |  FROM nrm WHERE fin),
       |${fftCtes(Seq("id", "k"), Seq("amp"))}
       |SELECT r.id, CAST(r.k AS INTEGER) AS mode, r.tarr[q.q + 1] AS t,
       |  r.rel[q.q + 1] AS re, r.iml[q.q + 1] AS im,
       |  r.amp[q.q + 1] AS amp
       |FROM res r, LATERAL (SELECT unnest(range(r.n)) AS q) AS q"""
      .stripMargin

  /** gp_period_map's oracle (the builder is GpOps.gpPeriodMap): the
    * quasi-periodic Cholesky grid-MAP replayed as nested list_reduce
    * folds — see [[CholeskySql]] for the harness and the bit-exactness
    * argument. Per-period constants (ω_p = π/p, 1/2ℓ²) are Scala
    * literals from GpOps.quasiPeriodicConsts. */
  val gpPeriodMapSql: String = {
    val gridRows = GpOps.DefaultPeriodGrid.toSeq.zipWithIndex.map { case (p, i) =>
      val (wp, il2) = GpOps.quasiPeriodicConsts(p)
      s"(${i + 1}, ${SeriesMath.sqlDouble(p)}, ${SeriesMath.sqlDouble(wp)}, ${SeriesMath.sqlDouble(il2)})"
    }
    CholeskySql.gridMapSql(200, Seq("wp", "il2"), gridRows,
      "vy * exp(-5.0 * sin(wp * __D__) * sin(wp * __D__) " +
        "- __D__ * __D__ * il2)")
  }

  val queries: Seq[Query] = Seq(
    Query("ts_butterworth", tsButterworth, tsButterworthSql),
    Query("emd_imfs", emdImfs, emdImfsSql),
    Query("hht_norm", hhtNorm, hhtNormSql),
    Query("hht_inst", hhtInst, hhtInstSql),
    Query("hht_analytic", hhtAnalytic, hhtAnalyticSql),
    Query("hht_ht", hhtHt, hhtHtSql),
    Query("hht_nht_norm", hhtNhtNorm, hhtNhtNormSql),
    Query("hht_nht", hhtNht, hhtNhtSql),
    Query("gp_period_map", GpOps.gpPeriodMap, gpPeriodMapSql))
}
