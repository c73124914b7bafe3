package graft.text

import graft.{Query, SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** corpus_pipeline — the composed end-to-end keep/drop decision of a
  * pretraining data pipeline, one row per trainable (non-benchmark)
  * document: Gopher-rule quality filtering (corpus_quality_filter) →
  * Bloom benchmark decontamination (corpus_bloom_contamination) →
  * near-dup cluster dedup (dedup_clusters, keep-first within each
  * verified minhash cluster). The surviving set plus the
  * per-document violated-stage list IS the data card a production
  * run publishes next to the corpus; every stage is itself an
  * independently hash-gated operator, so the composition adds no new
  * arithmetic — only the deterministic keep algebra.
  *
  * 100 TB shape: three doc_id-keyed left joins over the stage
  * outputs (co-partitioned per-doc tables, broadcast/AQE-sized) plus
  * ONE partial-aggregated groupBy+join for the representative — each
  * stage
  * already carries its own scale posture (capped minhash buckets,
  * constant-size Bloom broadcast, signal tiers bounded by
  * docs×alphabet / docs×tokens). Absent-stage docs take the
  * conservative default (a doc too short to shingle cannot be
  * contamination-cleared by silence — it is short-rule dropped by
  * the quality tier anyway).
  */
object Pipeline {

  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.table(spark, dir, "documents")
      .filter(col("doc_id") % 50 =!= 0)
      .select("doc_id")
    val q = Quality.corpusQualityFilter(spark, dir)
      .select(col("doc_id"), col("keep").as("q_keep"))
    val b = Bloom.corpusBloomContamination(spark, dir)
      .select(col("doc_id"), col("flagged"))
    // The cluster representative is min(doc_id) over the WHOLE
    // cluster, benchmark members (doc_id % 50 == 0) included — by
    // design: when a trainable doc's near-dup cluster contains a
    // benchmark doc, the "kept copy" is the benchmark doc itself, so
    // every trainable member drops and the cluster's content is
    // excluded from training entirely. That is the decontamination
    // posture (a near-dup of held-out eval data IS contamination, CCNet
    // / GPT-3 appendix-C style), not an accident of the min; the reason
    // label stays "duplicate" because the drop is decided by the dedup
    // tier, not the Bloom tier. The SQL twin mirrors the same rule.
    //
    // Round 13 (skew): rep via groupBy+join, NOT a cluster-keyed
    // window — min() is partial-aggregatable (a 10⁵-member crawl-
    // boilerplate cluster combines map-side instead of sorting in one
    // window task), the rep table is one row per cluster (broadcast-
    // sized at any sane cluster count, AQE-skew-splittable otherwise),
    // and PipelineSkewSpec pins task balance on the hot-cluster corpus.
    val membership = graft.dedup.Dedup.dedupClusters(spark, dir)
    val rep = membership
      .join(membership.groupBy("cluster_id")
        .agg(min("doc_id").as("rep")), "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("rep"))
    base
      .join(q, Seq("doc_id"), "left")
      .join(b, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        concat_ws(",",
          when(!coalesce(col("q_keep"), lit(false)), lit("quality")),
          when(coalesce(col("flagged"), lit(false)), lit("contaminated")),
          when(col("doc_id") =!=
            coalesce(col("rep"), col("doc_id")), lit("duplicate")))
          .as("reasons"))
      .select(col("doc_id"), col("cluster_id"),
        (col("reasons") === "").as("keep"), col("reasons"))
  }

  val corpusPipelineSql: String =
    s"""WITH
       |qf AS (
       |${Quality.corpusQualityFilterSql}
       |),
       |bl AS (
       |${Bloom.corpusBloomContaminationSql}
       |),
       |cl AS (
       |${graft.dedup.Dedup.dedupClustersSql}
       |),
       |rep AS (SELECT doc_id, cluster_id,
       |  min(doc_id) OVER (PARTITION BY cluster_id) AS rep
       |  FROM cl)
       |SELECT d.doc_id,
       |  coalesce(r.cluster_id, d.doc_id) AS cluster_id,
       |  concat_ws(',',
       |    CASE WHEN NOT coalesce(q.keep, false) THEN 'quality' END,
       |    CASE WHEN coalesce(b.flagged, false) THEN 'contaminated' END,
       |    CASE WHEN d.doc_id <> coalesce(r.rep, d.doc_id)
       |      THEN 'duplicate' END) = '' AS keep,
       |  concat_ws(',',
       |    CASE WHEN NOT coalesce(q.keep, false) THEN 'quality' END,
       |    CASE WHEN coalesce(b.flagged, false) THEN 'contaminated' END,
       |    CASE WHEN d.doc_id <> coalesce(r.rep, d.doc_id)
       |      THEN 'duplicate' END) AS reasons
       |FROM documents d
       |LEFT JOIN qf q ON q.doc_id = d.doc_id
       |LEFT JOIN bl b ON b.doc_id = d.doc_id
       |LEFT JOIN rep r ON r.doc_id = d.doc_id
       |WHERE d.doc_id % 50 <> 0""".stripMargin

  // -------------------------------------------------------------------
  // corpus_pipeline_pack — the trainer handoff: the pipeline's
  // surviving documents laid on the packing tape (corpus_pack's
  // recursive-prefix-sum concat-and-chunk, 512-token bins) — the
  // artifact a pretraining run actually reads. The pack tier is
  // byte-identical machinery to corpus_pack (same recursive prefix
  // sum, same bin accounting); only the document base changes, so the
  // composition proves the packing plan is base-agnostic. Semi-join
  // on the keep card, then the pack plan's own bounded-window tiers.
  // -------------------------------------------------------------------
  def corpusPipelinePack(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.packFromCounts(packCounts(spark, dir))

  // One persisted card per (session, sfDir): a bare persist() inside
  // the query fn held the cached table until session end; the memo
  // makes it queryable and releasable, rebuilt on the next lookup once
  // someone unpersists it.
  private val counts = SessionMemo.tables()

  /** The survivors' (doc_id, ntok) base, materialized ONCE before the
    * prefix sum: exclusivePrefix references its input in both the
    * intra-chunk window and the chunk-totals branch, so an
    * unpersisted base would re-execute the whole upstream pipeline
    * (quality + Bloom + clusters) per branch. Two narrow columns per
    * surviving doc — the same write-once posture as the dedup
    * candidate cache; on a cluster this is the materialized keep
    * card every downstream trainer job reads anyway. */
  private[graft] def packCounts(spark: SparkSession,
      dir: String): DataFrame =
    counts(spark, dir) {
      val keep = corpusPipeline(spark, dir)
        .filter(col("keep")).select("doc_id")
      val c = Tables.table(spark, dir, "documents")
        .join(keep, "doc_id")
        .select(col("doc_id"),
          size(org.apache.spark.sql.functions.filter(
            split(col("text"), " "), t => t =!= lit("")))
            .cast("long").as("ntok"))
        .persist()
      c.count()
      c
    }

  /** Release the pack card cache for `spark` (all sfDirs). */
  def releaseCounts(spark: SparkSession): Unit = counts.release(spark)

  val corpusPipelinePackSql: String =
    s"""WITH pipe AS (
       |$corpusPipelineSql
       |),
       |kept_docs AS (SELECT d.doc_id, d.text
       |  FROM documents d JOIN pipe p ON p.doc_id = d.doc_id AND p.keep),
       |packed AS (
       |${CorpusOps.corpusPackSqlFrom("kept_docs")}
       |)
       |SELECT * FROM packed""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("corpus_pipeline", corpusPipeline, corpusPipelineSql),
    Query("corpus_pipeline_pack", corpusPipelinePack, corpusPipelinePackSql))
}
