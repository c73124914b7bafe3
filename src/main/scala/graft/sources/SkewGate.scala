package graft.sources

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The adversarial skew corpus WIRED INTO the driver gate (round 14,
  * r13 verdict item 5): the r13 stressor found two genuine 100 TB
  * defects (an O(n²) per-char substring scan, O(diameter) label
  * propagation) AFTER 12 green rounds — proof the sf0.01 gate corpus
  * is too polite. These rows run the pipeline-family operators over
  * [[CorpusGen.writeSkew]] output — one 10⁶-token monster document, a
  * universal boilerplate segment on every odd-id base doc, and a
  * 10⁴-member near-dup family far past the 256 bucket occupancy cap —
  * as derived-input CORRECTNESS rows: the `skew_docs` query dumps the
  * generated corpus, and every other row's DuckDB oracle reads that
  * dump via the `__GRAFT_OUT__` substitution (the hht_spectrogram /
  * gp_posterior mechanism), re-running the operator's own oracle SQL
  * with `documents` rebound to the skew corpus.
  *
  * `skew_docs` itself is the dump-fidelity anchor: its oracle reads
  * back the dump it gates (both engines must round-trip the 5.7 MB
  * monster row byte-identically through parquet); the OPERATOR
  * evidence lives in the downstream rows.
  *
  * `skew_*` rows time generator + adversarial-corpus cost, not
  * operator throughput on the sf corpus — skew PERFORMANCE evidence
  * is SCALING.md's 50k+100k stressor runs; these rows are the skew
  * CORRECTNESS gate.
  */
object SkewGate {

  /** In-gate corpus size — the PipelineSkewSpec shape (the SCALING.md
    * skew rows carry the full 50k+100k run). */
  val NBase = 5000L
  val Hot = 10000L

  // one generated copy per JVM (deterministic content — splitmix64
  // per-row seeds — so regeneration across JVMs is byte-stable)
  @volatile private var dirCache: String = _

  private[graft] def skewDir(spark: SparkSession): String = synchronized {
    if (dirCache == null) {
      val d = new java.io.File("target/tmp/skewgate").getAbsolutePath
      CorpusGen.writeSkew(spark, d, NBase, Hot)
      dirCache = d
    }
    dirCache
  }

  private val SkewSrc =
    "read_parquet('__GRAFT_OUT__/skew_docs/*.parquet')"

  /** Rebind `documents` to the skew-corpus dump as the first CTE of
    * the operator's own oracle SQL (a CTE shadows the registered
    * table; outer CTEs stay visible inside nested WITH subqueries,
    * so the composed pipeline SQL needs no other change). */
  private def onSkew(sql: String): String = {
    val cte = s"documents AS (SELECT * FROM $SkewSrc)"
    if (sql.startsWith("WITH RECURSIVE"))
      sql.replaceFirst("WITH RECURSIVE", s"WITH RECURSIVE $cte,")
    else if (sql.startsWith("WITH")) sql.replaceFirst("WITH", s"WITH $cte,")
    else s"WITH $cte\n$sql"
  }

  // The skew corpus found the ORACLE-side twins of the r13 Spark
  // defect: the stock entropy/fingerprint SQL addressed characters
  // with positional substr(text, i, ...) — O(n²) per document in
  // DuckDB exactly as in Spark (a single-doc entropy probe on the
  // 5.7 MB monster row ran >5 min), and fingerprint's constant
  // generate_series additionally capped positions at 16384 chars.
  // Both STOCK oracles are now linear (string_split + lead windows —
  // see Quality.textEntropySql / TextOps.textFingerprintSql), so the
  // skew rows wrap them like every other operator.

  val queries: Seq[Query] = Seq(
    Query("skew_docs", (s, _) => Tables.table(s, skewDir(s), "documents"),
      s"SELECT * FROM $SkewSrc"),
    Query("skew_dedup_segments",
      (s, _) => graft.dedup.SegDedup.dedupSegments(s, skewDir(s)),
      onSkew(graft.dedup.SegDedup.dedupSegmentsSql)),
    Query("skew_dedup_segments_clean",
      (s, _) => graft.dedup.SegDedup.dedupSegmentsClean(s, skewDir(s)),
      onSkew(graft.dedup.SegDedup.dedupSegmentsCleanSql)),
    Query("skew_dedup_clusters",
      (s, _) => graft.dedup.Dedup.dedupClusters(s, skewDir(s)),
      onSkew(graft.dedup.Dedup.dedupClustersSql)),
    Query("skew_text_entropy",
      (s, _) => graft.text.Quality.textEntropy(s, skewDir(s)),
      onSkew(graft.text.Quality.textEntropySql)),
    Query("skew_text_fingerprint",
      (s, _) => graft.text.TextOps.textFingerprint(s, skewDir(s)),
      onSkew(graft.text.TextOps.textFingerprintSql)),
    Query("skew_corpus_pipeline",
      (s, _) => graft.text.Pipeline.corpusPipeline(s, skewDir(s)),
      onSkew(graft.text.Pipeline.corpusPipelineSql)))
}
