package graft.tsa

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General grid resampling (TSeries.interp) and series
  * concatenation (TSeries.join), from the reference's TSeries surface.
  */
object TimeSeriesOps4 {

  private def w = Window.partitionBy("id").orderBy("t", "eid")

  // -------------------------------------------------------------------
  // ts_interp — reference core.py:636-663 (TSeries.interp): resample a
  // series onto an ARBITRARY new time grid, methods "nearest" and
  // "linear" (the default; spline interp-to-grid lives in the EMD
  // envelope kernel, SeriesMath.envelopes). The reference's standard
  // pre-step for FFT/ACF/HHT. Unlike ts_fill_gaps (which fills onto
  // the series' own uniform grid) the target grid here is independent
  // of the sampling: a 5 h grid that hits neither the 2 h event
  // cadence nor the 6 h fill_gaps bins, so every output is a genuine
  // interpolation. Same as-of machinery: grid rows generated per
  // series with sequence() (no driver loop), bracketing samples via
  // IGNORE NULLS window carries — one shuffle keyed by series id.
  // Nearest ties (grid point equidistant from both samples) take the
  // PREVIOUS sample, scipy interp1d kind="nearest" semantics.
  // -------------------------------------------------------------------
  def tsInterp(spark: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gridBrackets(Tables.series(spark, dir), 18000.0)
      .select(col("id"), col("t"),
        // nearest: original exact-cents value selected by bit-identical
        // time comparisons on both engines — no rounding needed
        when(col("t") - col("tp") <= col("tn") - col("t"), col("yp"))
          .otherwise(col("yn")).as("y_nearest"),
        TimeSeriesOps.linearInterp.as("y_linear"))

  val tsInterpSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |bounds AS (SELECT id, cast(ceil(min(t)/18000.0) AS bigint) AS k0,
       |  cast(floor(max(t)/18000.0) AS bigint) AS k1 FROM s GROUP BY id),
       |grid AS (SELECT id, k * 18000.0 AS t, cast(NULL AS double) AS y,
       |  cast(NULL AS bigint) AS eid, 1 AS is_grid
       |  -- constant range (DuckDB generate_series takes no lateral
       |  -- bounds): 5 h steps covering epochs 2017..2031; the BETWEEN
       |  -- filter reproduces Spark's per-series sequence(k0, k1).
       |  -- OracleConstantsSpec guards that testdata stays inside.
       |  FROM bounds, generate_series(84000, 108000) AS g(k)
       |  WHERE g.k BETWEEN bounds.k0 AND bounds.k1),
       |${TimeSeriesOps.gridBracketsSql}
       |SELECT id, t,
       |  CASE WHEN t - tp <= tn - t THEN yp ELSE yn END AS y_nearest,
       |  CASE WHEN tn = tp THEN yp
       |       ELSE round(yp + (yn - yp) * (t - tp) / (tn - tp), 6)
       |  END AS y_linear
       |FROM bwd
       |WHERE is_grid = 1 AND tp IS NOT NULL AND tn IS NOT NULL""".stripMargin

  // -------------------------------------------------------------------
  // ts_spline_coeffs + ts_interp_spline — the spline tier of
  // TSeries.interp (reference core.py:655-658: method="spline" →
  // splrep/splev; xarray kind="cubic" is the same cubic-interpolant
  // family). Split in two so the evaluation stage sits under the hash
  // gate: the tridiagonal solve is sequential per series (mapGroups,
  // rows-only), but EVALUATING the piecewise cubic on the 5 h grid is
  // pure relational arithmetic — ts_interp_spline composes the coeffs
  // plan, and its DERIVED-INPUT oracle replays grid generation +
  // segment as-of + polynomial evaluation in DuckDB over the
  // ts_spline_coeffs parquet Verify dumps (__GRAFT_OUT__ substitution,
  // hht_spectrogram precedent). Boundary: natural spline (M0=Mn-1=0,
  // the EMD envelope kernel, SeriesMath.splineCoeffs) — scipy's
  // splrep s=0 differs only in its boundary condition, i.e. in the two
  // edge intervals. Duplicate-timestamp knots keep the FIRST sample by
  // (t, eid) — the same deterministic tie-break as the window ops.
  // -------------------------------------------------------------------
  private val splineCoeffsFn
      : (Long, Array[Double], Array[Double]) => Iterator[
        (Long, Long, Double, Double, Double, Double, Double, Double)] =
    (id, t, y) => {
      // knots must be strictly increasing: first sample per timestamp
      val nAll = t.length
      val kt = new scala.collection.mutable.ArrayBuffer[Double](nAll)
      val ky = new scala.collection.mutable.ArrayBuffer[Double](nAll)
      var i = 0
      while (i < nAll) {
        if (kt.isEmpty || t(i) > kt.last) { kt += t(i); ky += y(i) }
        i += 1
      }
      if (kt.length < 3) Iterator.empty
      else {
        val xs = kt.toArray; val ys = ky.toArray
        val (b, c, d) = SeriesMath.splineCoeffs(xs, ys)
        b.indices.iterator.map(s =>
          (id, s.toLong, xs(s), xs(s + 1), ys(s), b(s), c(s), d(s)))
      }
    }

  def tsSplineCoeffs(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.perSeries(spark, dir)(splineCoeffsFn)
      .toDF("id", "seg", "t0", "t1", "a", "b", "c", "d")

  def tsInterpSpline(spark: SparkSession, dir: String): DataFrame = {
    val step = 18000.0
    val sc = tsSplineCoeffs(spark, dir)
    val bounds = sc.groupBy("id")
      .agg(ceil(min("t0") / step).cast("long").as("k0"),
        floor(max("t1") / step).cast("long").as("k1"))
    val grid = bounds
      .select(col("id"), explode(sequence(col("k0"), col("k1"))).as("k"))
      .select(col("id"), (col("k") * step).as("t"), lit(1).as("is_grid"),
        lit(null).cast("double").as("t0"), lit(null).cast("double").as("t1"),
        lit(null).cast("double").as("a"), lit(null).cast("double").as("b"),
        lit(null).cast("double").as("c"), lit(null).cast("double").as("d"))
    val merged = sc.select(col("id"), col("t0").as("t"), lit(0).as("is_grid"),
        col("t0"), col("t1"), col("a"), col("b"), col("c"), col("d"))
      .unionByName(grid)
    // segment as-of: carry the latest segment-start row forward; a
    // coeff row at the same t as a grid point sorts first (is_grid),
    // and the CURRENT ROW frame is safe because grid rows contribute
    // only NULLs to the carry. Segments tile [t_first, t_last], so a
    // carried segment always covers the grid point (t <= t1 guard for
    // the degenerate sub-3-knot series whose coeffs are absent).
    val wc = Window.partitionBy("id").orderBy(col("t"), col("is_grid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def carry(cn: String) =
      last(when(col("is_grid") === 0, col(cn)), ignoreNulls = true)
        .over(wc).as("c" + cn)
    val dt = col("t") - col("ct0")
    merged
      .select(col("id"), col("t"), col("is_grid"), carry("t0"), carry("t1"),
        carry("a"), carry("b"), carry("c"), carry("d"))
      .filter(col("is_grid") === 1 && col("ct0").isNotNull &&
        col("t") <= col("ct1"))
      .select(col("id"), col("t"),
        // +0.0 normalizes a rounded -0.0 (sign-bit hash rule)
        (round(col("ca") + col("cb") * dt + col("cc") * dt * dt +
          col("cd") * dt * dt * dt, 6) + 0.0).as("y_spline"))
  }

  val tsInterpSplineSql: String =
    s"""WITH sc AS (
       |  SELECT * FROM read_parquet('__GRAFT_OUT__/ts_spline_coeffs/*.parquet')),
       |bounds AS (SELECT id, cast(ceil(min(t0)/18000.0) AS bigint) AS k0,
       |  cast(floor(max(t1)/18000.0) AS bigint) AS k1 FROM sc GROUP BY id),
       |grid AS (SELECT id, k * 18000.0 AS t, 1 AS is_grid,
       |  cast(NULL AS double) AS t0, cast(NULL AS double) AS t1,
       |  cast(NULL AS double) AS a, cast(NULL AS double) AS b,
       |  cast(NULL AS double) AS c, cast(NULL AS double) AS d
       |  -- constant range + BETWEEN, as in ts_interp (5 h ticks,
       |  -- epochs 2017..2031; OracleConstantsSpec guards the range)
       |  FROM bounds, generate_series(84000, 108000) AS g(k)
       |  WHERE g.k BETWEEN bounds.k0 AND bounds.k1),
       |merged AS (
       |  SELECT id, t0 AS t, 0 AS is_grid, t0, t1, a, b, c, d FROM sc
       |  UNION ALL SELECT * FROM grid),
       |fwd AS (SELECT id, t, is_grid,
       |  last_value(CASE WHEN is_grid = 0 THEN t0 END IGNORE NULLS) OVER w AS ct0,
       |  last_value(CASE WHEN is_grid = 0 THEN t1 END IGNORE NULLS) OVER w AS ct1,
       |  last_value(CASE WHEN is_grid = 0 THEN a END IGNORE NULLS) OVER w AS ca,
       |  last_value(CASE WHEN is_grid = 0 THEN b END IGNORE NULLS) OVER w AS cb,
       |  last_value(CASE WHEN is_grid = 0 THEN c END IGNORE NULLS) OVER w AS cc,
       |  last_value(CASE WHEN is_grid = 0 THEN d END IGNORE NULLS) OVER w AS cd
       |  FROM merged
       |  WINDOW w AS (PARTITION BY id ORDER BY t, is_grid
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT id, t,
       |  round(ca + cb*(t - ct0) + cc*(t - ct0)*(t - ct0)
       |        + cd*(t - ct0)*(t - ct0)*(t - ct0), 6) + 0.0 AS y_spline
       |FROM fwd
       |WHERE is_grid = 1 AND ct0 IS NOT NULL AND t <= ct1""".stripMargin

  // -------------------------------------------------------------------
  // ts_join — reference core.py:610-618 (TSeries.join): concatenate
  // two series over the time axis (used to stitch split segments back
  // together); overlapping timestamps keep BOTH samples, which the
  // reference surfaces as a warning and graft surfaces as the n_at_t
  // column. Demonstrated on the even/odd-eid slices of each series —
  // interleaved timestamps, so the union genuinely re-sorts (one
  // shuffle keyed by series id; `pos` is the re-indexed sample rank).
  // -------------------------------------------------------------------
  def tsJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val a = s.filter(pmod(col("eid"), lit(2)) === 0).withColumn("src", lit(0))
    val b = s.filter(pmod(col("eid"), lit(2)) === 1).withColumn("src", lit(1))
    a.unionByName(b)
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("n_at_t",
        count(lit(1)).over(Window.partitionBy("id", "t")))
      .select("id", "eid", "t", "y", "src", "pos", "n_at_t")
  }

  val tsJoinSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |u AS (
       |  SELECT id, eid, t, y, 0 AS src FROM s WHERE eid % 2 = 0
       |  UNION ALL
       |  SELECT id, eid, t, y, 1 AS src FROM s WHERE eid % 2 = 1)
       |SELECT id, eid, t, y, src,
       |  row_number() OVER (PARTITION BY id ORDER BY t, eid) AS pos,
       |  count(*) OVER (PARTITION BY id, t) AS n_at_t
       |FROM u""".stripMargin

  // -------------------------------------------------------------------
  // ts_pad — reference core.py:726 (Signal.pad), in the configuration
  // the envelope kernel uses (get_envelope, core.py:762): pad_width=3,
  // time padded mode="reflect" reflect_type="odd" (t continues past
  // the edge with mirrored spacing, t₋ₖ = 2·t₀ − tₖ), values plain
  // reflect (y₋ₖ = yₖ). Pure window arithmetic; series shorter than
  // pad_width+1 simply emit fewer pad rows (the reference raises).
  // pos: −3..−1 left pad, 0..n−1 body, n..n+2 right pad.
  // -------------------------------------------------------------------
  private val PadW = 3

  def tsPad(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.series(spark, dir)
    val wAll = Window.partitionBy("id")
    val base = s
      .withColumn("rna", row_number().over(w))
      .withColumn("rnd", row_number().over(
        Window.partitionBy("id").orderBy(col("t").desc, col("eid").desc)))
      .withColumn("t0", min("t").over(wAll))
      .withColumn("tn", max("t").over(wAll))
      .withColumn("n", count(lit(1)).over(wAll))
    val body = base.select(col("id"), (col("rna") - 1).cast("long").as("pos"),
      col("t"), col("y"), lit(0).as("region"))
    val left = base.filter(col("rna").between(2, PadW + 1))
      .select(col("id"), (lit(1) - col("rna")).cast("long").as("pos"),
        (lit(2.0) * col("t0") - col("t")).as("t"), col("y"),
        lit(-1).as("region"))
    val right = base.filter(col("rnd").between(2, PadW + 1))
      .select(col("id"), (col("n") + col("rnd") - 2).cast("long").as("pos"),
        (lit(2.0) * col("tn") - col("t")).as("t"), col("y"),
        lit(1).as("region"))
    body.unionByName(left).unionByName(right)
  }

  val tsPadSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |b AS (SELECT id, t, y,
       |  row_number() OVER (PARTITION BY id ORDER BY t, eid) AS rna,
       |  row_number() OVER (PARTITION BY id ORDER BY t DESC, eid DESC) AS rnd,
       |  min(t) OVER (PARTITION BY id) AS t0,
       |  max(t) OVER (PARTITION BY id) AS tn,
       |  count(*) OVER (PARTITION BY id) AS n
       |  FROM s)
       |SELECT id, cast(rna - 1 AS BIGINT) AS pos, t, y, 0 AS region FROM b
       |UNION ALL
       |SELECT id, cast(1 - rna AS BIGINT), 2.0*t0 - t, y, -1 FROM b
       |WHERE rna BETWEEN 2 AND ${PadW + 1}
       |UNION ALL
       |SELECT id, cast(n + rnd - 2 AS BIGINT), 2.0*tn - t, y, 1 FROM b
       |WHERE rnd BETWEEN 2 AND ${PadW + 1}""".stripMargin

  // -------------------------------------------------------------------
  // ts_drop — reference core.py:717 (Signal.drop): delete samples by
  // positional index, demonstrated with the envelope-kernel shape
  // (every 100th position dropped); survivors are re-indexed.
  // -------------------------------------------------------------------
  def tsDrop(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .filter(pmod(col("pos"), lit(100)) =!= 0)
      .withColumn("new_pos", (row_number().over(w) - 1).cast("long"))
      .select("id", "new_pos", "t", "y")

  val tsDropSql: String =
    s"""WITH s AS (${Tables.seriesSql}),
       |p AS (SELECT id, eid, t, y,
       |  row_number() OVER (PARTITION BY id ORDER BY t, eid) - 1 AS pos
       |  FROM s)
       |SELECT id,
       |  cast(row_number() OVER (PARTITION BY id ORDER BY t, eid) - 1
       |       AS BIGINT) AS new_pos,
       |  t, y
       |FROM p WHERE pos % 100 <> 0""".stripMargin

  // -------------------------------------------------------------------
  // ts_dropna — reference core.py:557 (TSeries.dropna): drop the NA
  // samples along time, keeping the survivors' original order. The
  // series table carries no literal NaN, so the NA convention is the
  // repo's ts_interpolate_na mask (y < 2.0 → NA); where interpolate_na
  // fills those samples, dropna REMOVES them (xarray dropna("time")
  // semantics). Row-local filter — no shuffle at any size; survivors
  // are re-indexed so downstream positional kernels see a dense grid.
  // -------------------------------------------------------------------
  def tsDropna(spark: SparkSession, dir: String): DataFrame =
    Tables.series(spark, dir)
      .filter(!(col("y") < 2.0))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select("id", "pos", "t", "y")

  val tsDropnaSql: String =
    s"""WITH s AS (${Tables.seriesSql})
       |SELECT id,
       |  cast(row_number() OVER (PARTITION BY id ORDER BY t, eid) - 1
       |       AS BIGINT) AS pos,
       |  t, y
       |FROM s WHERE NOT (y < 2.0)""".stripMargin

  // -------------------------------------------------------------------
  // ts_hist — reference core.py:855 (Signal.hist, the one plot-only
  // member left): the DATA behind the plot — a per-series 16-bin
  // histogram of y. Binning is ENTIRELY in integers so both engines
  // agree at every bin boundary: y quantizes to exact µ-units
  // (round(y·1e6) BIGINT — the repo discipline), per-series min/max
  // are integer aggregates, and bin = (yq−mn)·16 div (mx−mn+1) is
  // BIGINT arithmetic with no float division anywhere (a float
  // boundary would let a 1-ulp engine difference flip a sample's
  // bin). Constant series land in bin 0 (mx−mn+1 = 1, no div-0).
  //
  // 100 TB shape: one per-series min/max aggregate (map-side
  // combined), a broadcast-or-colocated join back on id, then ONE
  // (id, bin) count — shuffle rows bounded by series × 16.
  // -------------------------------------------------------------------
  def tsHist(spark: SparkSession, dir: String): DataFrame = {
    val NB = 16
    val s = Tables.series(spark, dir)
      .select(col("id"), round(col("y") * 1000000.0, 0).cast("long").as("yq"))
    val mm = s.groupBy("id").agg(min("yq").as("mn"), max("yq").as("mx"))
    s.join(mm, "id")
      .select(col("id"),
        expr(s"((yq - mn) * $NB) div (mx - mn + 1)").as("bin"),
        col("mn"), col("mx"))
      .groupBy("id", "bin", "mn", "mx")
      .agg(count(lit(1)).as("cnt"))
      .select(col("id"), col("bin"), col("cnt"),
        round(col("mn").cast("double") / 1000000.0, 6).as("y_min"),
        round(col("mx").cast("double") / 1000000.0, 6).as("y_max"))
  }

  val tsHistSql: String =
    s"""WITH s AS (SELECT id, cast(round(y * 1000000.0) AS BIGINT) AS yq
       |  FROM (${Tables.seriesSql})),
       |mm AS (SELECT id, min(yq) AS mn, max(yq) AS mx FROM s GROUP BY 1),
       |b AS (SELECT s.id, ((s.yq - mm.mn) * 16) // (mm.mx - mm.mn + 1)
       |    AS bin, mm.mn, mm.mx
       |  FROM s JOIN mm ON mm.id = s.id)
       |SELECT id, bin, count(*) AS cnt,
       |  round(cast(mn AS double) / 1000000.0, 6) AS y_min,
       |  round(cast(mx AS double) / 1000000.0, 6) AS y_max
       |FROM b GROUP BY 1, 2, mn, mx""".stripMargin

  /** The Thomas-algorithm recurrences (SeriesMath.splineCoeffs) as a
    * DuckDB recursive-CTE chain over a knots relation
    * `kn(<keys>, i, n, x, y)` (i = 0-based knot index, n = knots per
    * key group, strictly increasing x, n ≥ 3). Emits CTEs
    * al / fwd / bwd / cc; the caller writes the final coefficient
    * select over `al sg` joined to `cc` (c at i and i+1). Every
    * arithmetic expression is written in the kernel's evaluation
    * order, so the replay is BIT-IDENTICAL — no rounding anywhere.
    *
    * A sequential kernel is hash-gateable whenever its sequentiality
    * is a fixed-length linear recurrence (this); what stays rows-only
    * is data-dependent iteration counts (sifting). */
  private[graft] def thomasCtes(keys: Seq[String]): String = {
    val ks = keys.mkString(", ")
    def on(a: String, b: String) =
      keys.map(k => s"$a.$k = $b.$k").mkString(" AND ")
    s"""al AS MATERIALIZED (
       |  SELECT $ks, i, n, x, y, x1, y1, h, hm1, xm1,
       |    3.0 * ((y1 - y) / h - (y - ym1) / hm1) AS alpha
       |  FROM (SELECT $ks, i, n, x, y,
       |      lead(x) OVER w AS x1, lead(y) OVER w AS y1,
       |      lag(x) OVER w AS xm1, lag(y) OVER w AS ym1,
       |      lead(x) OVER w - x AS h, x - lag(x) OVER w AS hm1
       |    FROM kn WINDOW w AS (PARTITION BY $ks ORDER BY i))),
       |fwd AS (
       |  SELECT $ks, i, n,
       |    h / (2.0 * (x1 - xm1) - hm1 * 0.0) AS mu,
       |    (alpha - hm1 * 0.0) / (2.0 * (x1 - xm1) - hm1 * 0.0) AS z
       |  FROM al WHERE i = 1
       |  UNION ALL
       |  SELECT ${keys.map(k => s"a.$k").mkString(", ")}, a.i, a.n,
       |    a.h / (2.0 * (a.x1 - a.xm1) - a.hm1 * f.mu) AS mu,
       |    (a.alpha - a.hm1 * f.z)
       |      / (2.0 * (a.x1 - a.xm1) - a.hm1 * f.mu) AS z
       |  FROM fwd f JOIN al a ON ${on("a", "f")} AND a.i = f.i + 1
       |  WHERE a.i <= a.n - 2),
       |bwd AS (
       |  SELECT $ks, i, n, mu, z, z - mu * 0.0 AS c
       |  FROM fwd WHERE i = n - 2
       |  UNION ALL
       |  SELECT ${keys.map(k => s"f.$k").mkString(", ")}, f.i, f.n,
       |    f.mu, f.z, f.z - f.mu * b.c AS c
       |  FROM bwd b JOIN fwd f ON ${on("f", "b")} AND f.i = b.i - 1
       |  WHERE f.i >= 1),
       |cc AS MATERIALIZED (
       |  SELECT $ks, i, c FROM bwd
       |  UNION ALL SELECT $ks, 0 AS i, 0.0 AS c FROM kn WHERE i = 0
       |  UNION ALL SELECT $ks, n - 1 AS i, 0.0 AS c FROM kn WHERE i = 0)"""
      .stripMargin
  }

  /** ts_spline_coeffs, hash-gated after all: the Thomas sweeps replay
    * bit-exactly as recursive CTEs (see thomasCtes). */
  val tsSplineCoeffsSql: String =
    s"""WITH RECURSIVE ser AS MATERIALIZED (${Tables.seriesSql}),
       |k0 AS (
       |  SELECT id, t, y FROM (
       |    SELECT id, t, y,
       |      row_number() OVER (PARTITION BY id, t ORDER BY eid) AS rn
       |    FROM ser) WHERE rn = 1),
       |kn AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT id, t AS x, y,
       |      row_number() OVER (PARTITION BY id ORDER BY t) - 1 AS i,
       |      count(*) OVER (PARTITION BY id) AS n
       |    FROM k0)
       |  WHERE n >= 3),
       |${thomasCtes(Seq("id"))}
       |SELECT sg.id, cast(sg.i AS BIGINT) AS seg, sg.x AS t0, sg.x1 AS t1,
       |  sg.y AS a,
       |  (sg.y1 - sg.y) / sg.h - sg.h * (c1.c + 2.0 * c0.c) / 3.0 AS b,
       |  c0.c AS c,
       |  (c1.c - c0.c) / (3.0 * sg.h) AS d
       |FROM al sg
       |JOIN cc c0 ON c0.id = sg.id AND c0.i = sg.i
       |JOIN cc c1 ON c1.id = sg.id AND c1.i = sg.i + 1
       |WHERE sg.i <= sg.n - 2""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("ts_interp", tsInterp, tsInterpSql),
    Query("ts_spline_coeffs", tsSplineCoeffs, tsSplineCoeffsSql),
    Query("ts_interp_spline", tsInterpSpline, tsInterpSplineSql),
    Query("ts_join", tsJoin, tsJoinSql),
    Query("ts_pad", tsPad, tsPadSql),
    Query("ts_dropna", tsDropna, tsDropnaSql),
    Query("ts_hist", tsHist, tsHistSql),
    Query("ts_drop", tsDrop, tsDropSql))
}
