package graft.text

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators a pretraining data pipeline runs
  * after filtering/dedup: sequence packing (concat-and-chunk token
  * binning) and temperature-based source mixing. Both are pure
  * aggregate/window algebra — no UDFs, no driver-side state.
  */
object CorpusOps {

  /** Fixed training-sequence token budget (GPT-style packing). */
  private val BinTokens = 512

  /** Prefix-sum fanout: each recursion level chunks the ordering key
    * by `div ChunkDocs`, runs a narrow per-chunk window, and recurses
    * on the 64×-smaller chunk totals. See [[exclusivePrefix]]. */
  private val ChunkDocs = 64

  /** Recursion depth for the distributed prefix sum. The terminal
    * global window sees N / 64^3 ≈ N / 262144 rows, so doc counts up
    * to ~2.6×10¹¹ keep the last level under a million rows — bounded
    * at any corpus this engine targets. Extra levels are ~free on
    * small data (a window over a handful of rows). */
  private val PrefixLevels = 3

  /** Distributed EXCLUSIVE prefix sum: adds column `off` = Σ `v` over
    * all rows with smaller `ord` (ord non-negative, unique, long).
    * Each level partitions ord into `ChunkDocs`-wide chunks, computes
    * the in-chunk exclusive prefix with a partitioned window (bounded
    * rows per partition), aggregates per-chunk totals (64× fewer
    * rows), and recurses for the chunk offsets; `levels == 0` is the
    * terminal global window, guaranteed bounded by [[PrefixLevels]].
    * No level ever runs a corpus-sized single-partition window. The
    * offsets join is left to the optimizer: AQE broadcasts the small
    * side at test scale and shuffle-joins on the chunk key at 100 TB.
    */
  private[graft] def exclusivePrefix(df: DataFrame, ord: String,
      v: String, levels: Int): DataFrame = {
    if (levels == 0) {
      val w = Window.orderBy(ord).rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("off", coalesce(sum(v).over(w).cast("long"), lit(0L)))
    } else {
      val bkt = s"__chunk$levels"
      val chunked = df.withColumn(bkt, expr(s"$ord div $ChunkDocs"))
      val wIn = Window.partitionBy(bkt).orderBy(ord)
        .rowsBetween(Window.unboundedPreceding, -1)
      val intra = chunked
        .withColumn("__intra", coalesce(sum(v).over(wIn).cast("long"), lit(0L)))
      val totals = chunked.groupBy(bkt)
        .agg(sum(v).cast("long").as("__tot"))
        .withColumnRenamed(bkt, "__ord")
      val offs = exclusivePrefix(totals, "__ord", "__tot", levels - 1)
        .select(col("__ord").as(bkt), col("off").as("__chunkoff"))
      intra.join(offs, bkt)
        .withColumn("off", col("__intra") + col("__chunkoff"))
        .drop(bkt, "__intra", "__chunkoff")
    }
  }

  // -------------------------------------------------------------------
  // corpus_pack — concat-and-chunk sequence packing: lay every doc's
  // whitespace tokens out on one global tape in doc_id order, cut the
  // tape into fixed 512-token training sequences, and account each
  // bin: docs starting in it, their token mass, and how many of them
  // straddle a sequence boundary (the packing-efficiency stat every
  // pretraining run reports). The global tape offset is a RECURSIVE
  // distributed prefix sum ([[exclusivePrefix]], depth 3): every level
  // is a bounded-row partitioned window over 64×-shrinking chunk
  // totals, so no corpus-sized single-partition window exists at any
  // scale.
  // -------------------------------------------------------------------
  def corpusPack(spark: SparkSession, dir: String): DataFrame =
    packTape(Tables.table(spark, dir, "documents"))

  /** The packing plan over any (doc_id, text) frame — split out so the
    * property spec can drive it with generated corpora and compare
    * against an independent in-memory packer. */
  private[graft] def packTape(docs: DataFrame): DataFrame =
    packFromCounts(docs
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= lit("")))
          .cast("long").as("ntok")))

  /** Packing over pre-tokenized counts (doc_id, ntok) — the tier the
    * million-doc property spec drives directly, skipping string work. */
  private[graft] def packFromCounts(counts: DataFrame): DataFrame = {
    val nt = counts.filter(col("ntok") > 0)
    exclusivePrefix(nt, "doc_id", "ntok", PrefixLevels)
      .withColumn("start", col("off"))
      .withColumn("bin", expr(s"start div $BinTokens"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        sum(when(expr(s"(start + ntok - 1) div $BinTokens") > col("bin"), 1L)
          .otherwise(0L)).as("n_split"),
        min("doc_id").as("first_doc"))
  }

  /** DuckDB twin. Every window-`sum()` descendant is CAST to BIGINT:
    * DuckDB widens integer sums to HUGEINT, which serializes
    * differently from Spark's BIGINT at the driver's hash gate even
    * when the values are identical (round-11 `corpus_pack` red row). */
  /** DuckDB pack twin over any (doc_id, text) relation expression —
    * `corpus_pipeline_pack` re-points it at the pipeline survivors. */
  def corpusPackSqlFrom(rel: String): String =
    s"""WITH nt AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS ntok,
       |    doc_id // $ChunkDocs AS bucket
       |  FROM $rel
       |  WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) > 0),
       |c AS (
       |  SELECT doc_id, ntok, bucket,
       |    CAST(sum(ntok) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM nt),
       |o AS (
       |  SELECT bucket,
       |    CAST(coalesce(sum(btok) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM (SELECT bucket, sum(ntok) AS btok FROM nt GROUP BY 1)),
       |s AS (
       |  SELECT c.doc_id, c.ntok, CAST(o.off + c.cum - c.ntok AS BIGINT) AS start
       |  FROM c JOIN o USING (bucket))
       |SELECT CAST(start // $BinTokens AS BIGINT) AS bin,
       |  count(*) AS n_docs,
       |  cast(sum(ntok) AS BIGINT) AS n_tokens,
       |  cast(sum(CASE WHEN (start + ntok - 1) // $BinTokens > start // $BinTokens
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split,
       |  min(doc_id) AS first_doc
       |FROM s GROUP BY 1""".stripMargin

  val corpusPackSql: String = corpusPackSqlFrom("documents")

  // -------------------------------------------------------------------
  // corpus_temperature — temperature-based source mixing (T = 0.7):
  // per (lang, source) the sampling share w_s ∝ n_s^T and the implied
  // per-source epoch count share·N/n_s — the up/down-sampling factor
  // each source sees under the mixture. One groupBy over the
  // documents scan + a 1-row broadcast of the normalizer; libm pow
  // drift (~1 ulp) is 1e-15-scale against the 5e-7 rounding grid.
  // -------------------------------------------------------------------
  def corpusTemperature(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.table(spark, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    val t = g.agg(sum(pow(col("n_docs"), 0.7)).as("sw"),
      sum("n_docs").as("nd"))
    g.crossJoin(broadcast(t))
      .select(col("lang"), col("source"), col("n_docs"), col("total_chars"),
        round(pow(col("n_docs"), 0.7) / col("sw"), 6).as("share"),
        round(pow(col("n_docs"), 0.7) / col("sw") * col("nd") / col("n_docs"),
          6).as("epochs"))
  }

  val corpusTemperatureSql: String =
    """WITH g AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    cast(sum(n_chars) AS BIGINT) AS total_chars
      |  FROM documents GROUP BY 1, 2),
      |t AS (
      |  SELECT sum(pow(n_docs, 0.7)) AS sw,
      |    cast(sum(n_docs) AS BIGINT) AS nd
      |  FROM g)
      |SELECT g.lang, g.source, g.n_docs, g.total_chars,
      |  round(pow(g.n_docs, 0.7) / t.sw, 6) AS share,
      |  round(pow(g.n_docs, 0.7) / t.sw * t.nd / g.n_docs, 6) AS epochs
      |FROM g CROSS JOIN t""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("corpus_pack", corpusPack, corpusPackSql),
    Query("corpus_temperature", corpusTemperature, corpusTemperatureSql))
}
