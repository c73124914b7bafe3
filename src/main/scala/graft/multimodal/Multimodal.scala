package graft.multimodal

import graft.{Query, Tables}
import graft.dedup.Dedup.{h60, h60Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing beyond the metadata stub in
  * [[graft.text.TextOps.multimodalExtract]]: media arrive as opaque
  * `binary` columns; the decode itself is honestly stubbed (this
  * container ships no image/audio codec) while everything Spark-side —
  * schema, partitioning, batch shape, frame-sampling arithmetic — is
  * real and verified.
  *
  * Two execution tiers, mirroring how a production pipeline splits:
  *  - `multimodal_frames`: frame SAMPLING is pure arithmetic over the
  *    payload (offsets, windows, per-frame signatures) — stays in
  *    codegen'd expressions, under the DuckDB hash gate.
  *  - `multimodal_batch`: per-payload DECODE runs in `mapPartitions`
  *    with explicit batching — the Scala analogue of `mapInPandas`
  *    (one "codec init" per batch, amortized across its rows, which is
  *    the entire point of batch UDFs). The stub decode reproduces the
  *    expression path's md5-derived metadata bit-for-bit, so
  *    MultimodalSpec cross-verifies the two tiers row-for-row —
  *    swapping in a real codec changes ONE function.
  */
object Multimodal {

  // -------------------------------------------------------------------
  // multimodal_frames — sample NFrames frames per payload at evenly
  // spaced character offsets (a real pipeline samples by timestamp;
  // the offset arithmetic is identical), emit per-frame signatures —
  // the "feature extraction" a downstream dedup/ANN stage consumes.
  // -------------------------------------------------------------------
  val NFrames = 4
  val FrameLen = 16

  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).as("n_chars"))
      .filter(col("n_chars") >= NFrames)
      .select(col("doc_id"), col("n_chars"), col("text"),
        explode(sequence(lit(0), lit(NFrames - 1))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * col("n_chars") / NFrames).cast("long")
          .as("offset"),
        h60(expr(s"substring(text, cast(frame_idx * n_chars / $NFrames" +
          s" as int) + 1, $FrameLen)")).as("frame_sig"))

  val multimodalFramesSql: String = {
    val off = s"cast(floor(f.frame_idx * length(d.text) / $NFrames.0) AS BIGINT)"
    s"""SELECT d.doc_id, f.frame_idx,
       |  $off AS offset,
       |  ${h60Sql(s"substr(d.text, cast($off AS INT) + 1, $FrameLen)")}
       |    AS frame_sig
       |FROM documents d, generate_series(0, ${NFrames - 1}) AS f(frame_idx)
       |WHERE length(d.text) >= $NFrames""".stripMargin
  }

  // -------------------------------------------------------------------
  // multimodal_frame_dedup — cross-media duplicate frames: the dedup
  // stage a frame pipeline runs downstream of sampling (intro/outro
  // cards, watermarks, repeated stock footage). One hash-groupBy over
  // the frames output — the same single-shuffle posture as
  // dedup_exact, keyed by the per-frame signature.
  // -------------------------------------------------------------------
  def multimodalFrameDedup(spark: SparkSession, dir: String): DataFrame =
    multimodalFrames(spark, dir)
      .groupBy("frame_sig")
      .agg(countDistinct("doc_id").as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .filter(col("n_docs") > 1)

  val multimodalFrameDedupSql: String =
    s"""WITH fr AS (
       |${multimodalFramesSql}
       |)
       |SELECT frame_sig, count(DISTINCT doc_id) AS n_docs,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM fr GROUP BY 1
       |HAVING count(DISTINCT doc_id) > 1""".stripMargin

  // -------------------------------------------------------------------
  // multimodal_batch — the batch-UDF tier. Batches of 64 payloads are
  // "decoded" together: `initCodec` runs once per batch (in production
  // that is the model/codec handle whose amortization motivates
  // mapInPandas), then each payload's metadata is extracted with the
  // SAME md5-derived stub as multimodal_extract. batch_size is emitted
  // so the spec can assert batching genuinely happened.
  // -------------------------------------------------------------------
  val BatchSize = 64

  /** Capture-free singleton (plan-equality across invocations — see
    * SeriesOps.SeriesFunc). */
  private object BatchDecodeFunc extends (
      Iterator[(Long, Array[Byte])] => Iterator[(Long, Int, Long, Long, Int)])
      with Serializable {
    override def apply(rows: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, Int, Long, Long, Int)] =
      rows.grouped(BatchSize).flatMap { batch =>
        val codec = initCodec() // ONCE per batch — the amortized cost
        batch.iterator.map { case (docId, payload) =>
          val (w, h) = codec.decodeDims(payload)
          (docId, payload.length, w, h, batch.size)
        }
      }
  }

  /** STUB codec: deterministic md5-derived dimensions, bit-identical
    * to the h60 expressions in multimodal_extract. A real deployment
    * replaces this object with an actual decoder handle. */
  private final class StubCodec {
    private val md = java.security.MessageDigest.getInstance("MD5")
    def decodeDims(payload: Array[Byte]): (Long, Long) = {
      md.reset()
      val hex = md.digest(payload).map("%02x".format(_)).mkString
      val h60 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      (h60 % 512 + 64, (h60 >> 20) % 512 + 64)
    }
  }
  private def initCodec(): StubCodec = new StubCodec

  def multimodalBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.table(spark, dir, "documents")
      .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8"))
      .as[(Long, Array[Byte])]
      .mapPartitions(BatchDecodeFunc)
      .toDF("doc_id", "n_bytes", "width", "height", "batch_size")
  }

  // -------------------------------------------------------------------
  // multimodal_batch_meta — the batch tier's deterministic output
  // under the driver hash gate: batch_size depends on partition layout
  // (how many rows a split feeds each 64-row batch), so the full
  // multimodal_batch stays rows-only — but everything else the codec
  // emits is deterministic, and this projection hash-checks the
  // mapPartitions path itself against the same md5-metadata SQL the
  // expression tier is gated by (previously spec cross-check only).
  // -------------------------------------------------------------------
  def multimodalBatchMeta(spark: SparkSession, dir: String): DataFrame =
    multimodalBatch(spark, dir)
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"))

  val multimodalBatchMetaSql: String =
    s"""SELECT cast(doc_id AS BIGINT) AS doc_id,
       |  cast(octet_length(encode(text)) AS int) AS n_bytes,
       |  ${h60Sql("text")} % 512 + 64 AS width,
       |  (${h60Sql("text")} >> 20) % 512 + 64 AS height
       |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // multimodal_resize — the resize planning step (round 11): map each
  // payload's decoded (width, height) to the trainer's input box
  // (max side 224, aspect preserved, never upscale) and account the
  // pixel mass the resize drops. In production this arithmetic runs
  // INSIDE the batch decode pass (decode + resize share one codec
  // handle); here it is the expression tier over the SAME gated stub
  // dimensions so the plan itself sits under the hash gate. All
  // integer arithmetic — out_w = w·224 div max(w,h) — so there is no
  // float rounding to diverge cross-engine, and the off-by-one
  // convention (floor) is pinned by the gate rather than left to a
  // codec library.
  // -------------------------------------------------------------------
  val TargetSide = 224

  def multimodalResize(spark: SparkSession, dir: String): DataFrame = {
    val hh = h60(col("text"))
    val meta = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        (hh % 512 + 64).as("width"),
        (shiftright(hh, 20) % 512 + 64).as("height"))
    val mx = greatest(col("width"), col("height"))
    meta.select(col("doc_id"), col("width"), col("height"),
      when(mx <= TargetSide, col("width"))
        .otherwise(expr(s"width * $TargetSide div greatest(width, height)"))
        .as("out_w"),
      when(mx <= TargetSide, col("height"))
        .otherwise(expr(s"height * $TargetSide div greatest(width, height)"))
        .as("out_h"))
      .withColumn("px_dropped",
        col("width") * col("height") - col("out_w") * col("out_h"))
  }

  val multimodalResizeSql: String = {
    val w = s"(${h60Sql("text")} % 512 + 64)"
    val h = s"(${h60Sql("text")} >> 20) % 512 + 64"
    s"""WITH m AS (SELECT doc_id, $w AS width, $h AS height
       |  FROM documents)
       |SELECT doc_id, width, height,
       |  CASE WHEN greatest(width, height) <= $TargetSide THEN width
       |       ELSE width * $TargetSide // greatest(width, height) END
       |    AS out_w,
       |  CASE WHEN greatest(width, height) <= $TargetSide THEN height
       |       ELSE height * $TargetSide // greatest(width, height) END
       |    AS out_h,
       |  width * height
       |    - (CASE WHEN greatest(width, height) <= $TargetSide THEN width
       |            ELSE width * $TargetSide // greatest(width, height) END)
       |    * (CASE WHEN greatest(width, height) <= $TargetSide THEN height
       |            ELSE height * $TargetSide // greatest(width, height) END)
       |    AS px_dropped
       |FROM m""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("multimodal_frames", multimodalFrames, multimodalFramesSql),
    Query("multimodal_frame_dedup", multimodalFrameDedup,
      multimodalFrameDedupSql),
    Query.rowsOnly("multimodal_batch", multimodalBatch),
    Query("multimodal_batch_meta", multimodalBatchMeta, multimodalBatchMetaSql),
    Query("multimodal_resize", multimodalResize, multimodalResizeSql))
}
