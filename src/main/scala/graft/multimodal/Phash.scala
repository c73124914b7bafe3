package graft.multimodal

import graft.{Query, Tables}
import graft.dedup.Dedup.h60Sql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Perceptual-hash near-duplicate detection over the multimodal
  * decode tier — the image-dedup stage of a multimodal pipeline
  * (blockhash/aHash family: threshold a fixed grid of block lumas
  * into a bit signature, then match by Hamming distance; the same
  * candidate-generation discipline as [[graft.dedup.Dedup]]'s SimHash
  * tier, but keyed on CONTENT BLOCKS of the decoded payload rather
  * than token statistics, so two payloads sharing most of their bytes
  * collide even when their token bags differ).
  *
  * The decode is this container's honest stub ([[Multimodal]]): the
  * payload is the UTF-8 text and a block's "luma" is an h60-derived
  * byte of its 8-char window at offset i·len/60 — deterministic,
  * bit-identical cross-engine, and structurally exactly what a real
  * deployment computes from pixel blocks (swap the luma source, keep
  * every plan). 60 blocks → a 60-bit signature (bit 63 never set; no
  * sign games).
  *
  * 100 TB shape: the signature is ONE row-local fold (`aggregate`
  * over a literal 60-element sequence — no explode, no shuffle, whole
  * stage codegen); candidate pairs use the pigeonhole band trick
  * (6 bands × 10 bits: Hamming ≤ 5 ⇒ some band equal) with the
  * MaxBucket occupancy cap before the self-join, so pair work is
  * ∝ cells·cap²/2, never n². Verify = exact popcount(xor) per pair.
  */
object Phash {

  val NBlocks = 60
  val BlockLen = 8
  val MaxBucket = 256

  /** Row-local 60-bit blockhash of `text` (len ≥ NBlocks). */
  private val phashExpr: String = {
    val win = s"substring(text, cast(i * len div $NBlocks AS int) + 1, $BlockLen)"
    val luma = s"cast(conv(substring(md5($win), 1, 15), 16, 10) AS bigint) % 256"
    s"aggregate(sequence(0, ${NBlocks - 1}), 0L, (acc, i) -> " +
      s"acc + (CASE WHEN $luma >= 128 THEN shiftleft(1L, i) ELSE 0L END))"
  }

  def multimodalPhash(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= NBlocks)
      .select(col("doc_id"), expr(phashExpr).as("phash"))

  val multimodalPhashSql: String = {
    val win = s"substr(text, cast((i * length(text)) // $NBlocks AS int) + 1, $BlockLen)"
    s"""SELECT doc_id,
       |  cast(list_sum(list_transform(range(0, $NBlocks), i ->
       |    CASE WHEN (${h60Sql(win)} % 256) >= 128
       |         THEN (1::BIGINT << cast(i AS int)) ELSE 0::BIGINT END))
       |    AS BIGINT) AS phash
       |FROM documents WHERE length(text) >= $NBlocks""".stripMargin
  }

  // -------------------------------------------------------------------
  // multimodal_phash_pairs — banded-Hamming candidates + exact
  // popcount verify, the payload-level near-dup join. Mirrors
  // dedup_simhash_pairs' capped-bucket discipline exactly.
  //
  // Band geometry is a SCALE PARAMETER (the SemDeDup corpus-derived-K
  // discipline applied to LSH): nBands disjoint bands of bandBits
  // each guarantee every Hamming ≤ nBands−1 pair shares a band, and
  // the expected bucket occupancy is corpus / 2^bandBits. With the
  // 10-bit default the buckets saturate the 256 occupancy cap near
  // ~260k docs (2^10 keys × 256) and candidate volume plateaus at the
  // cap bound (cells·cap²/2 — bounded, never n², but recall starts
  // degrading and the bound itself is ~200M pairs). At larger corpora
  // callers widen the bands — 4×15 holds occupancy in the hundreds up
  // to ~8M docs at a Hamming ≤ 3 guarantee; past that, a longer
  // signature (e.g. 120-bit/two-word phash, 8×15 bands — Manku et
  // al. 2007's geometry for 8B pages) is the production path, the
  // same plan shape throughout. The registered query and its oracle
  // pin the 6×10 default; PhashSpec runs the widened 4×15 geometry.
  // -------------------------------------------------------------------
  private val Bands = 6
  private val BandBits = 10

  def multimodalPhashPairs(spark: SparkSession, dir: String): DataFrame =
    multimodalPhashPairs(spark, dir, Bands, BandBits)

  def multimodalPhashPairs(spark: SparkSession, dir: String,
      nBands: Int, bandBits: Int): DataFrame = {
    // Disjoint AND covering: an under-covering geometry (e.g. 5×10
    // over 60 bits) leaves bits unbanded and silently voids the
    // pigeonhole guarantee (Hamming ≤ nBands−1 ⇒ some band equal
    // only holds when the bands partition ALL signature bits).
    require(nBands * bandBits == NBlocks,
      s"bands must partition the $NBlocks-bit signature exactly " +
        s"(got $nBands×$bandBits) — under-covering voids the " +
        "Hamming pigeonhole recall guarantee")
    val mask = 1L << bandBits
    val sig = multimodalPhash(spark, dir)
    val stackArgs = (0 until nBands)
      .map(b => s"${b}L, shiftright(phash, ${bandBits * b}) % $mask")
      .mkString(", ")
    val bands = sig.selectExpr("doc_id", "phash",
      s"stack($nBands, $stackArgs) AS (band, bkey)")
      .withColumn("rnk", row_number()
        .over(Window.partitionBy("band", "bkey").orderBy("doc_id")))
      .filter(col("rnk") <= MaxBucket)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("long").as("hamming"))
      .distinct()
  }

  val multimodalPhashPairsSql: String = {
    val mask = 1L << BandBits
    val bandSel = (0 until Bands).map(b =>
      s"SELECT doc_id, phash, ${b}::BIGINT AS band, (phash >> ${BandBits * b}) % $mask AS bkey FROM sig")
      .mkString("\n       | UNION ALL ")
    s"""WITH sig AS ($multimodalPhashSql),
       |bands0 AS ($bandSel),
       |bands AS (SELECT doc_id, phash, band, bkey FROM (
       |  SELECT doc_id, phash, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rnk
       |  FROM bands0) WHERE rnk <= $MaxBucket)
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |  cast(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // multimodal_phash_wide — the 120-bit two-word signature, the
  // LONGER-SIGNATURE scale path the 60-bit geometry runs out of:
  // banded-LSH chance candidates are nBands·C(n,2)/2^bandBits
  // regardless of signature length, so cutting them needs WIDER bands
  // — and wider disjoint bands that still cover the signature (the
  // pigeonhole guarantee) need more signature bits. Two independent
  // threshold bytes of the SAME block hash (bits 0-7 and 8-15 of the
  // block's h60) give 120 bits for free — one md5 pass per block,
  // word 1 bit-identical to multimodal_phash. 6 disjoint 20-bit
  // bands then guarantee Hamming ≤ 5 over 120 bits with 32× fewer
  // chance candidates than 4×15 at the same corpus.
  // -------------------------------------------------------------------
  private val lumasExpr: String = {
    val win = s"substring(text, cast(i * len div $NBlocks AS int) + 1, $BlockLen)"
    s"transform(sequence(0, ${NBlocks - 1}), i -> " +
      s"cast(conv(substring(md5($win), 1, 15), 16, 10) AS bigint))"
  }

  def multimodalPhashWide(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= NBlocks)
      .withColumn("hs", expr(lumasExpr))
      .select(col("doc_id"),
        expr(s"aggregate(sequence(0, ${NBlocks - 1}), 0L, (acc, i) -> " +
          "acc + (CASE WHEN hs[i] % 256 >= 128 " +
          "THEN shiftleft(1L, i) ELSE 0L END))").as("phash_lo"),
        expr(s"aggregate(sequence(0, ${NBlocks - 1}), 0L, (acc, i) -> " +
          "acc + (CASE WHEN shiftright(hs[i], 8) % 256 >= 128 " +
          "THEN shiftleft(1L, i) ELSE 0L END))").as("phash_hi"))

  val multimodalPhashWideSql: String = {
    val win = s"substr(text, cast((i * length(text)) // $NBlocks AS int) + 1, $BlockLen)"
    val hs = s"list_transform(range(0, $NBlocks), i -> ${h60Sql(win)})"
    s"""SELECT doc_id,
       |  cast(list_sum(list_transform(range(0, $NBlocks), i ->
       |    CASE WHEN hs[cast(i AS int) + 1] % 256 >= 128
       |         THEN (1::BIGINT << cast(i AS int)) ELSE 0::BIGINT END))
       |    AS BIGINT) AS phash_lo,
       |  cast(list_sum(list_transform(range(0, $NBlocks), i ->
       |    CASE WHEN (hs[cast(i AS int) + 1] >> 8) % 256 >= 128
       |         THEN (1::BIGINT << cast(i AS int)) ELSE 0::BIGINT END))
       |    AS BIGINT) AS phash_hi
       |FROM (SELECT doc_id, $hs AS hs
       |      FROM documents WHERE length(text) >= $NBlocks)""".stripMargin
  }

  // 6 disjoint 20-bit bands over the 120-bit signature: bands 0-2
  // from phash_lo, 3-5 from phash_hi; Hamming ≤ 5 ⇒ some band equal.
  def multimodalPhashWidePairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = multimodalPhashWide(spark, dir)
    val stackArgs = ((0 until 3).map(b =>
      s"${b}L, shiftright(phash_lo, ${20 * b}) % ${1L << 20}") ++
      (3 until 6).map(b =>
        s"${b}L, shiftright(phash_hi, ${20 * (b - 3)}) % ${1L << 20}"))
      .mkString(", ")
    val bands = sig.selectExpr("doc_id", "phash_lo", "phash_hi",
      s"stack(6, $stackArgs) AS (band, bkey)")
      .withColumn("rnk", row_number()
        .over(Window.partitionBy("band", "bkey").orderBy("doc_id")))
      .filter(col("rnk") <= MaxBucket)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        (bit_count(col("a.phash_lo").bitwiseXOR(col("b.phash_lo"))) +
          bit_count(col("a.phash_hi").bitwiseXOR(col("b.phash_hi"))))
          .cast("long").as("hamming"))
      .distinct()
  }

  val multimodalPhashWidePairsSql: String = {
    val bandSel = ((0 until 3).map(b =>
      s"SELECT doc_id, phash_lo, phash_hi, ${b}::BIGINT AS band, (phash_lo >> ${20 * b}) % ${1L << 20} AS bkey FROM sig") ++
      (3 until 6).map(b =>
        s"SELECT doc_id, phash_lo, phash_hi, ${b}::BIGINT AS band, (phash_hi >> ${20 * (b - 3)}) % ${1L << 20} AS bkey FROM sig"))
      .mkString("\n       | UNION ALL ")
    s"""WITH sig AS ($multimodalPhashWideSql),
       |bands0 AS ($bandSel),
       |bands AS (SELECT doc_id, phash_lo, phash_hi, band, bkey FROM (
       |  SELECT doc_id, phash_lo, phash_hi, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rnk
       |  FROM bands0) WHERE rnk <= $MaxBucket)
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |  cast(bit_count(xor(a.phash_lo, b.phash_lo))
       |     + bit_count(xor(a.phash_hi, b.phash_hi)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("multimodal_phash", multimodalPhash, multimodalPhashSql),
    Query("multimodal_phash_pairs", multimodalPhashPairs(_, _),
      multimodalPhashPairsSql),
    Query("multimodal_phash_wide", multimodalPhashWide, multimodalPhashWideSql),
    Query("multimodal_phash_wide_pairs", multimodalPhashWidePairs,
      multimodalPhashWidePairsSql))
}
