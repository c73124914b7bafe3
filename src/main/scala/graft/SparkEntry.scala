package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query contract (SURVEY.md §7). Every operator from SURVEY.md
  * §2 registers as one [[Query]]: a name, a (SparkSession, sfDir) =>
  * DataFrame builder and its DuckDB-portable oracle SQL twin, or
  * rows-only. `queries` and `oracleSql` are views of that one list.
  */
object SparkEntry {

  /** Flagship: the GLS Lomb–Scargle periodogram of every series in the
    * events table (150 series × 200 frequencies). */
  def entry(spark: SparkSession): DataFrame =
    spectral.Gls.glsPeriodogram(spark, "/root/testdata/sf0.001")

  /** Every registered query; each module is listed once. */
  lazy val registry: Seq[Query] = Query.registry(
    tsa.TimeSeriesOps.queries,
    tsa.TimeSeriesOps2.queries,
    tsa.TimeSeriesOps3.queries,
    tsa.TimeSeriesOps4.queries,
    tsa.SeriesOps.queries,
    tsa.SeriesOps2.queries,
    tsa.GpOps.queries,
    tsa.Vmd.queries,
    tsa.Supersmooth.queries,
    spectral.Gls.queries,
    spectral.Bglst.queries,
    spectral.PhaseFold2.queries,
    spectral.GlsAuto.queries,
    spectral.FSeriesOps.queries,
    spectral.PhaseFold.queries,
    spectral.Wavelet.queries,
    spectral.GlsBootstrap.queries,
    relational.EventsOps.queries,
    plans.AsOf.queries,
    plans.AsOfNative.queries,
    plans.RangeJoin.queries,
    plans.RangeJoinNative.queries,
    plans.RangeJoinAuto.queries,
    dedup.Dedup.queries,
    dedup.SegDedup.queries,
    sim.Similarity.queries,
    sim.EmbeddingStats.queries,
    sim.Pq.queries,
    sim.IvfPq.queries,
    sim.SemDedup.queries,
    text.TextOps.queries,
    text.Pii.queries,
    text.Bloom.queries,
    text.Pipeline.queries,
    text.Quality.queries,
    text.Dsir.queries,
    text.CorpusOps.queries,
    text.Corpus.queries,
    multimodal.Multimodal.queries,
    multimodal.Phash.queries,
    sources.SyntheticData.queries,
    sources.NpySource.queries,
    sources.SkewGate.queries,
    streaming.Replay.queries,
    relational.Tpch.queries)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
