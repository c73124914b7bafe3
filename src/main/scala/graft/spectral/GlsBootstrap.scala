package graft.spectral

import graft.{Query, Tables}
import graft.dedup.Dedup
import graft.functions.GlsTrigSums
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bootstrap false-alarm statistics for the GLS periodogram —
  * reference spectral.py:140-163 (GLS.bootstrap / fap / fal): resample
  * the values with replacement (keeping the time stamps), take each
  * replicate's maximum periodogram power over a reduced frequency
  * grid, and read off the FAP of the observed best peak plus the 95%
  * false-alarm level (nearest-rank quantile).
  *
  * Fully declarative (round-6 rewrite of the former per-series
  * mapGroups loop): the resample index is a stateless shared md5 hash
  * `h60(id_b_i) mod n`, so the op sits under the full DuckDB hash
  * gate instead of a rows-only check. Replicate b = 0 is the identity
  * permutation (the observed series).
  *
  * Cost shape (the part that matters at 100 TB): the naive plan
  * explodes series × (B+1) replicates × NF frequencies — a
  * rows×1300 intermediate whose row-handling overhead dominates
  * everything else. Instead, ALL 2·NF per-frequency trig sums (plus
  * the exact-cents mean and raw second moment) accumulate in ONE
  * imperative primitive-array aggregate ([[graft.functions
  * .GlsTrigSums]]) in a single groupBy(id, b) pass over the rows×(B+1)
  * resampled values: one aggregate call per row, the cos/sin comb from
  * the angle-addition recurrence (2 libm calls per row instead of
  * 2·NF), and the partial shuffle carries one array<double> per
  * replicate. No wide intermediate ever materializes; the frequency
  * axis unpivots AFTER aggregation (39k → 1.95M tiny rows) for the
  * Zechmeister–Kürster closed form. Signal-independent moments
  * (C/S/C2/S2) aggregate once per series — not per replicate — from
  * the same buffer (c2 = c²−s², s2 = 2sc); demeaning folds into the
  * closed form (Ch = avg(y·c) − ȳ·C, YY = avg(y²) − ȳ²), so no demean
  * pass over the fan-out either. The oracle replays the identical
  * recurrence as chained CTE columns, so the trig values are
  * bit-identical cross-engine and only the (already-rounded) sum
  * order differs — the same tolerance the declarative avg had.
  *
  * Round-7 measurement (executed-plan metrics, sf0.1/local[32]): the
  * declarative 104-expression formulation spent ~95 CPU-seconds of
  * aggregate machinery on ~1 Gflop of arithmetic, and AQE's coalescing
  * collapsed the tiny pre-fan-out shuffle to 1-2 partitions so that
  * work also SERIALIZED (9-12 s wall). The pinned repartition plus the
  * imperative aggregate take the query to <1 s wall at the same scale.
  */
object GlsBootstrap {
  private val B = 25 // bootstrap replicates
  // reduced frequency grid f_k = k/(30 d), k=1..NF
  private val NF = GlsTrigSums.Nf
  // nearest-rank 95% quantile of B maxima, 1-based
  private val FalRank = math.ceil(0.95 * B).toInt

  // base angular frequency ω = 2π·Gls.DF; harmonics k·ω come from the
  // angle-addition recurrence inside GlsTrigSums (2 libm calls per
  // ROW instead of 2·NF), identically on both engines
  private val Om = GlsTrigSums.Omega
  /** The same recurrence as chained CTE columns: `p1` carries
    * (c1, s1) off `src`, then cₖ/sₖ build on cₖ₋₁/sₖ₋₁ — plain IEEE
    * mul/add in GlsTrigSums' exact evaluation order. */
  private def waveCtes(p: String, src: String, cols: String): String = {
    val base = s"${p}1 AS (SELECT $cols, cos($Om * tc) AS c1, " +
      s"sin($Om * tc) AS s1 FROM $src)"
    val steps = (2 to NF).map { k =>
      s"$p$k AS (SELECT *, c${k - 1}*c1 - s${k - 1}*s1 AS c$k, " +
        s"s${k - 1}*c1 + c${k - 1}*s1 AS s$k FROM $p${k - 1})"
    }
    (base +: steps).mkString(",\n")
  }

  // NOTE: the trig sums run as ONE imperative primitive-array
  // aggregate (GlsTrigSums → ObjectHashAggregateExec). graft.Session
  // raises spark.sql.objectHashAggregate.sortBased
  // .fallbackThreshold (default 128 in-memory keys) so the ~1200
  // (id, b) groups per partition stay hash-aggregated; with the
  // default the op silently degrades to sort-based aggregation —
  // correct, just slower.
  def glsFap(spark: SparkSession, dir: String): DataFrame = {
    GlsTrigSums.register(spark)
    val wOrd = Window.partitionBy("id").orderBy("t", "eid")
    val wAll = Window.partitionBy("id")
    // Explicit repartition-by-num, NOT a plain window shuffle: the
    // pre-fan-out shuffle is tiny (the raw series), so AQE's partition
    // coalescing folds it to 1-2 partitions — and then the ×(B+1)
    // fan-out, resample hash, trig sums and replicate maxima all run
    // fused in THAT stage, serializing ~95% of the query's CPU on 1-2
    // threads (measured: 9.3 s wall with 30 idle cores). A
    // REPARTITION_BY_NUM exchange is exempt from coalescing, so the
    // expansion stage keeps full parallelism; the window's (id)
    // clustering requirement is satisfied by it, no extra shuffle.
    val r = Tables.series(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("id"))
      .select(col("id"), col("t"), col("y"),
        (row_number().over(wOrd) - 1).cast("long").as("i"),
        count(lit(1)).over(wAll).as("n"),
        min("t").over(wAll).as("t0"))
    // resampled values: position i keeps its time, takes the value at
    // index j = h60(id_b_i) mod n (b = 0: identity)
    val reps = spark.range(0, B + 1).toDF("b")
    val bs = r.crossJoin(broadcast(reps))
      .select(col("id"), col("b"), (col("t") - col("t0")).as("tc"),
        when(col("b") === 0, col("i"))
          .otherwise(pmod(
            Dedup.h60(concat_ws("_", col("id"), col("b"), col("i"))),
            col("n")))
          .as("j"))
    val v = r.select(col("id"), col("i").as("j"), col("y"))
    val x = bs.join(v, Seq("id", "j")).select("id", "b", "tc", "y")
    // one pass over the resampled rows: the whole moment vector —
    // 2·NF trig sums + exact-cents mean + raw second moment — in ONE
    // imperative primitive-array aggregate (GlsTrigSums), one call per
    // row; the partial shuffle carries one array<double> per replicate
    val a1 = x.groupBy("id", "b").agg(expr("gls_trig_y(tc, y)").as("ar"))
    val yk = a1
      .select(col("id"), col("b"), col("ar"),
        explode(sequence(lit(1), lit(NF))).as("k"))
      .select(col("id"), col("b"), col("k"),
        element_at(col("ar"), col("k")).as("YCr"),
        element_at(col("ar"), col("k") + NF).as("YSr"),
        element_at(col("ar"), 2 * NF + 1).as("ym"),
        element_at(col("ar"), 2 * NF + 2).as("y2"))
    // signal-independent moments: once per series, not per replicate;
    // double-angle terms accumulate in the same buffer (c2 = c²−s²,
    // s2 = 2sc)
    val ab = r.select(col("id"), (col("t") - col("t0")).as("tc"))
      .groupBy("id").agg(expr("gls_trig_base(tc)").as("ar"))
    val base = ab
      .select(col("id"), col("ar"),
        explode(sequence(lit(1), lit(NF))).as("k"))
      .select(col("id"), col("k"),
        element_at(col("ar"), col("k")).as("C"),
        element_at(col("ar"), col("k") + NF).as("S"),
        element_at(col("ar"), col("k") + 2 * NF).as("C2"),
        element_at(col("ar"), col("k") + 3 * NF).as("S2"))
    val m = yk.join(broadcast(base), Seq("id", "k"))
      .select(col("id"), col("b"), col("k"),
        col("C"), col("S"), col("C2"), col("S2"),
        (col("YCr") - col("ym") * col("C")).as("Ch"),
        (col("YSr") - col("ym") * col("S")).as("Sh"),
        (col("y2") - col("ym") * col("ym")).as("YY"))
    // Zechmeister–Kürster closed form: the shared Gls.glsPower
    val pg = Gls.glsPower(m).select("id", "b", "power")
    // Single pass over the replicate maxima: the observed peak comes
    // from a window (the subtree above is evaluated ONCE), FAP and the
    // nearest-rank FAL fold into one aggregation.
    val mx = pg.groupBy("id", "b").agg(max("power").as("maxp"))
    val rep = mx
      .withColumn("best_power",
        max(when(col("b") === 0, col("maxp")))
          .over(Window.partitionBy("id")))
      .filter(col("b") > 0)
      .withColumn("rk",
        row_number().over(Window.partitionBy("id").orderBy("maxp", "b")))
    rep.groupBy("id", "best_power")
      .agg(round(avg(when(col("maxp") > col("best_power"), 1.0)
        .otherwise(0.0)), 4).as("fap"),
        max(when(col("rk") === FalRank, col("maxp"))).as("fal95"))
      .select("id", "best_power", "fap", "fal95")
  }

  val glsFapSql: String = {
    val h = Dedup.h60Sql("r.id || '_' || b.b || '_' || r.i")
    val yAggs = (1 to NF).map { k =>
      s"avg(y*c$k) AS yc$k, avg(y*s$k) AS ys$k"
    }.mkString(",\n       |  ")
    val bAggs = (1 to NF).map { k =>
      s"avg(c$k) AS ca$k, avg(s$k) AS sa$k, " +
        s"avg(c$k*c$k - s$k*s$k) AS cb$k, " +
        s"avg(2.0*s$k*c$k) AS sb$k"
    }.mkString(",\n       |  ")
    def lst(f: Int => String) = (1 to NF).map(f).mkString(", ")
    s"""WITH s AS (${Tables.seriesSql}),
       |r AS (SELECT id, t, y,
       |        row_number() OVER (PARTITION BY id ORDER BY t, eid) - 1 AS i,
       |        count(*) OVER (PARTITION BY id) AS n,
       |        min(t) OVER (PARTITION BY id) AS t0
       |      FROM s),
       |bs AS (SELECT r.id, b.b, r.t - r.t0 AS tc,
       |         CASE WHEN b.b = 0 THEN r.i ELSE $h % r.n END AS j
       |       FROM r CROSS JOIN generate_series(0, $B) AS b(b)),
       |v AS (SELECT id, i AS j, y FROM r),
       |x AS (SELECT bs.id, bs.b, bs.tc, v.y
       |      FROM bs JOIN v ON bs.id = v.id AND bs.j = v.j),
       |${waveCtes("xw", "x", "id, b, tc, y")},
       |a1 AS (SELECT id, b,
       |  $yAggs,
       |  cast(sum(cast(round(y*100.0) AS BIGINT)) AS double)
       |    / count(*) / 100.0 AS ym,
       |  avg(y*y) AS y2
       |  FROM xw$NF GROUP BY 1, 2),
       |yk AS (SELECT id, b, ym, y2,
       |  unnest(range(1, ${NF + 1})) AS k,
       |  unnest([${lst(k => s"yc$k")}]) AS YCr,
       |  unnest([${lst(k => s"ys$k")}]) AS YSr
       |  FROM a1),
       |${waveCtes("uw", "(SELECT id, t - t0 AS tc FROM r)", "id, tc")},
       |ab AS (SELECT id,
       |  $bAggs
       |  FROM uw$NF GROUP BY 1),
       |base AS (SELECT id,
       |  unnest(range(1, ${NF + 1})) AS k,
       |  unnest([${lst(k => s"ca$k")}]) AS C,
       |  unnest([${lst(k => s"sa$k")}]) AS S,
       |  unnest([${lst(k => s"cb$k")}]) AS C2,
       |  unnest([${lst(k => s"sb$k")}]) AS S2
       |  FROM ab),
       |mo AS (SELECT yk.id, yk.b, yk.k,
       |         base.C, base.S, base.C2, base.S2,
       |         yk.YCr - yk.ym * base.C AS Ch,
       |         yk.YSr - yk.ym * base.S AS Sh,
       |         yk.y2 - yk.ym * yk.ym AS YY
       |       FROM yk JOIN base ON base.id = yk.id AND base.k = yk.k),
       |${Gls.powerSql("id, b")},
       |mx AS (SELECT id, b, max(power) AS maxp FROM pg GROUP BY 1, 2),
       |rep AS (SELECT id, b, maxp, best_power,
       |          row_number() OVER (PARTITION BY id ORDER BY maxp, b) AS rk
       |        FROM (SELECT id, b, maxp,
       |                max(CASE WHEN b = 0 THEN maxp END)
       |                  OVER (PARTITION BY id) AS best_power
       |              FROM mx)
       |        WHERE b > 0)
       |SELECT id, best_power,
       |  round(avg(CASE WHEN maxp > best_power
       |    THEN 1.0 ELSE 0.0 END), 4) AS fap,
       |  max(CASE WHEN rk = $FalRank THEN maxp END) AS fal95
       |FROM rep GROUP BY 1, 2""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("gls_fap", glsFap, glsFapSql))
}
