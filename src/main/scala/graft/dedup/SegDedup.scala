package graft.dedup

import graft.{Query, Tables}
import graft.dedup.Dedup.{h60, h60Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segment-level corpus deduplication — the CCNet/RefinedWeb
  * "duplicated paragraph removal" pass (Wenzek et al. 2020 §3.1 dedup
  * paragraphs by hash; Penedo et al. 2023 §3.3 line-wise dedup), the
  * granularity BETWEEN document dedup (dedup_exact / minhash) and
  * substring dedup (dedup_substring): boilerplate units repeated
  * across documents (navigation chrome, license blocks, footers) are
  * removed from every document except the first one that carried
  * them, without touching the rest of the text.
  *
  * The corpus has no newline structure, so the "paragraph" is a
  * DETERMINISTIC segmentation: consecutive runs of [[SegTokens]]
  * non-empty lowercase tokens (the trailing partial run is a segment
  * too). Real pipelines swap the splitter (\n\n, sentence breaks) —
  * the dedup algebra is identical.
  *
  * 100 TB shape: ONE per-doc ordered window (row_number + 9 leads
  * over the same window spec — a single exchange, the family's
  * shared shingle shape) forms segments at rows where (i-1)%10 = 0;
  * the segment-frequency pass is ONE hash groupBy on the 60-bit
  * segment hash (map-side combined, rows ∝ tokens/10); the removal
  * is an equi-join of occurrences against the (n_docs ≥ 2) hash set
  * — work ∝ occurrences of repeated segments, never n² and never a
  * pair exchange. A pathological universal segment (one h in 10⁹
  * docs) makes ONE hot join key: the repeated-hash side is one row
  * per h (broadcastable), so the join stays a broadcast probe and
  * the hot key never shuffles together. Reassembly is one per-doc
  * aggregate over kept segments (array_sort by seg_idx — order
  * restored without a second window).
  */
object SegDedup {

  val SegTokens = 10
  val MinDocs = 2

  /** Row-local Scala mirror of the batch segmentation — one doc's
    * ordered segment strings. MUST stay bit-identical to the window
    * pipeline in [[segments]] (SegDedupSpec pins the equality over
    * the sf0.001 corpus); the streaming scrub twin rides on it. */
  private[graft] def segmentsOf(text: String): Vector[String] =
    text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).filter(_.nonEmpty)
      .grouped(SegTokens).map(_.mkString(" ")).toVector

  /** (doc_id, seg_idx, seg, h): the deterministic segment table.
    * Dense token index i (empties dropped, 1-based) via row_number;
    * a segment row fires at every i with (i-1)%SegTokens = 0 and
    * concat_ws skips the NULL leads past the end of the doc, so the
    * trailing partial segment forms with no special case. */
  private[graft] def segments(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val base = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val leads = (1 until SegTokens).map(k => lead(col("tok"), k).over(w))
    base
      .select(col("doc_id"), row_number().over(w).as("i"),
        concat_ws(" ", (col("tok") +: leads): _*).as("seg"))
      .filter((col("i") - 1) % SegTokens === 0)
      .select(col("doc_id"), expr(s"(i - 1) div $SegTokens").as("seg_idx"),
        col("seg"), h60(col("seg")).as("h"))
  }

  private[graft] val segmentsSql: String = {
    val leadCols = (1 until SegTokens)
      .map(k => s"lead(tok, $k) OVER w AS l$k").mkString(", ")
    val cat = "concat_ws(' ', tok, " +
      (1 until SegTokens).map(k => s"l$k").mkString(", ") + ")"
    s"""tp AS (
       |  SELECT doc_id, idx, tok FROM (
       |    SELECT doc_id, generate_subscripts(toks, 1) AS idx,
       |           unnest(toks) AS tok
       |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
       |          FROM documents))
       |  WHERE tok <> ''),
       |ti AS (SELECT doc_id, tok,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS i
       |  FROM tp),
       |tl AS (SELECT doc_id, i, tok, $leadCols
       |  FROM ti WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |seg AS MATERIALIZED (
       |  SELECT doc_id, (i - 1) // $SegTokens AS seg_idx,
       |    $cat AS seg, ${h60Sql(cat)} AS h
       |  FROM tl WHERE (i - 1) % $SegTokens = 0)""".stripMargin
  }

  // -------------------------------------------------------------------
  // dedup_segments — the detect table: segments whose hash appears in
  // MinDocs+ distinct documents, with occurrence accounting. The
  // boilerplate inventory a data card reports before removal.
  // -------------------------------------------------------------------
  def dedupSegments(spark: SparkSession, dir: String): DataFrame =
    segments(spark, dir)
      .groupBy("h")
      .agg(min("seg").as("seg"),
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min("doc_id").as("min_doc"))
      .filter(col("n_docs") >= MinDocs)

  val dedupSegmentsSql: String =
    s"""WITH $segmentsSql
       |SELECT h, min(seg) AS seg,
       |  cast(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  cast(count(*) AS BIGINT) AS n_occ,
       |  min(doc_id) AS min_doc
       |FROM seg GROUP BY 1
       |HAVING count(DISTINCT doc_id) >= $MinDocs""".stripMargin

  // -------------------------------------------------------------------
  // dedup_segments_clean — the removal pass: every occurrence of a
  // repeated segment is dropped EXCEPT those in the lowest doc_id that
  // carries it (CCNet keeps one copy; keep-first is the deterministic
  // tiebreak). Docs re-assemble from their surviving segments in
  // seg_idx order; a doc whose every segment was boilerplate survives
  // as an empty row (n_kept = 0) so the pass is total over tokenized
  // docs and the drop accounting is auditable.
  // -------------------------------------------------------------------
  def dedupSegmentsClean(spark: SparkSession, dir: String): DataFrame = {
    val segs = segments(spark, dir)
    val boiler = segs.groupBy("h")
      .agg(countDistinct("doc_id").as("n_docs"), min("doc_id").as("min_doc"))
      .filter(col("n_docs") >= MinDocs)
      .select(col("h"), col("min_doc"))
    val kept = segs.join(boiler, Seq("h"), "left")
      .filter(col("min_doc").isNull || col("doc_id") === col("min_doc"))
    val tot = segs.groupBy("doc_id").agg(count(lit(1)).as("n_seg"))
    val keptAgg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("concat_ws(' ', transform(" +
          "array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg))")
          .as("clean_text"))
    tot.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_seg"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  val dedupSegmentsCleanSql: String =
    s"""WITH $segmentsSql,
       |boiler AS (SELECT h, min(doc_id) AS min_doc FROM seg
       |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= $MinDocs),
       |kept AS (SELECT s.doc_id, s.seg_idx, s.seg
       |  FROM seg s LEFT JOIN boiler b ON b.h = s.h
       |  WHERE b.h IS NULL OR s.doc_id = b.min_doc),
       |tot AS (SELECT doc_id, count(*) AS n_seg FROM seg GROUP BY 1),
       |ka AS (SELECT doc_id, count(*) AS n_kept,
       |  string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id, t.n_seg,
       |  cast(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  coalesce(k.clean_text, '') AS clean_text
       |FROM tot t LEFT JOIN ka k ON k.doc_id = t.doc_id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("dedup_segments", dedupSegments, dedupSegmentsSql),
    Query("dedup_segments_clean", dedupSegmentsClean, dedupSegmentsCleanSql))
}
