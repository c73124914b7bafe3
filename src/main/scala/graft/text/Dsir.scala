package graft.text

import graft.{Query, Tables}
import graft.dedup.Dedup.{h60, h60Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data Selection with Importance Resampling (Xie et al. 2023, DSIR,
  * arXiv:2302.03169): score every raw document by the log-likelihood
  * ratio of two hashed-n-gram bag-of-words models — one fit on the
  * target distribution (the held-out benchmark split, doc_id % 50 = 0,
  * the same split text_contamination treats as the benchmark), one on
  * the raw corpus — then resample a fixed training budget by
  * Gumbel-top-k over the weights. The production data-mixing recipe
  * when the target domain is known.
  *
  * Exactness discipline: features are h60-hashed uni+bigrams modulo
  * B = 1024 buckets; each bucket's log-ratio λ_b is µ-nat-quantized
  * (BIGINT), so every per-doc score is an exact integer sum — both
  * engines emit bit-identical logw.
  */
object Dsir {

  /** Hashed feature buckets (DSIR uses 10⁴; 2¹⁰ keeps the λ table
    * broadcast-trivial at any corpus size — it is B-row by
    * construction). */
  private val B = 1024

  /** The resampling budget: DSIR selects a FIXED number of training
    * examples (the token/document budget of the run), independent of
    * raw-corpus size — which is what keeps the top-k scale-safe: a
    * constant-k TakeOrdered is per-partition heaps + a k-row driver
    * merge, never a global sort. */
  private val SampleK = 1000

  // -------------------------------------------------------------------
  // corpus_dsir_weights — the importance weights.
  //
  // 100 TB shape: feature extraction is row-local (uni+bigram hash)
  // collapsing in the partial agg before the ONE (doc_id, b) exchange;
  // the two model tables are ≤ B rows each (groupBy b with map-side
  // combine); their totals are 1-row broadcasts; the λ join is a
  // B-row broadcast against the feature table; the per-doc score is
  // map-side combined. No corpus×corpus structure anywhere.
  // -------------------------------------------------------------------
  private[graft] def features(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val uni = base.select(col("doc_id"), h60(col("tok")).as("h"))
    val bi = base
      .select(col("doc_id"), col("tok"), lead("tok", 1).over(w).as("t1"))
      .filter(col("t1").isNotNull)
      .select(col("doc_id"),
        h60(concat_ws(" ", col("tok"), col("t1"))).as("h"))
    uni.union(bi)
      .select(col("doc_id"), (col("h") % B).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
  }

  /** Row-local mirror of [[features]] for the streaming twin: one
    * document's (bucket → count) map, bit-identical to the batch
    * pipeline (pinned by spec). */
  private[graft] def featureBucketsOf(text: String): Map[Long, Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).filter(_.nonEmpty).toSeq
    val hs = toks.map(TextOps.h60Of) ++
      toks.sliding(2).filter(_.length == 2)
        .map(w => TextOps.h60Of(w.mkString(" ")))
    hs.groupBy(_ % B).view.mapValues(_.size.toLong).toMap
  }

  /** The per-bucket log-ratio table (b, lam µ-nats) — the static side
    * of the streaming stream–static scoring twin. */
  def lambdaTable(spark: SparkSession, dir: String): DataFrame = {
    // Round 14 (optimization): the old tgt/raw split filtered doc_id
    // BELOW the feature aggregate (Catalyst pushes the split-filter
    // into the union branches), so the two model branches each re-ran
    // the whole tokenize→lead-window→hash pipeline — plus a full_outer
    // join to stitch the B-row tables back together. One conditional
    // aggregation over the UNSPLIT feature table computes both counts
    // in a single pass (identical integer sums ⇒ identical λ), and
    // leaves the f subtree canonically equal to the scoring side's so
    // the (doc_id, b) exchange is reused instead of recomputed
    // (guide §2.4: two operations keyed the same way share one
    // exchange). Both totals fold into the same B-row aggregate.
    val f = features(spark, dir)
    val perB = f.groupBy("b").agg(
      sum(when(col("doc_id") % 50 === 0, col("c")).otherwise(0L)).as("ct"),
      sum(when(col("doc_id") % 50 =!= 0, col("c")).otherwise(0L)).as("cr"))
    val tot = perB.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    perB.crossJoin(broadcast(tot))
      .select(col("b"),
        round((log((col("ct") + 1).cast("double") / (col("tt") + B)) -
          log((col("cr") + 1).cast("double") / (col("tr") + B))) *
          1000000.0, 0).cast("long").as("lam"))
  }

  def corpusDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val f = features(spark, dir)
    val lam = lambdaTable(spark, dir)
    f.join(broadcast(lam), "b")
      .groupBy("doc_id")
      .agg(sum("c").as("n_feat"), sum(col("c") * col("lam")).as("s"))
      .select(col("doc_id"), col("n_feat"),
        round(col("s").cast("double") / 1000000.0, 6).as("logw"))
  }

  private val featuresSql: String =
    s"""tp AS (
       |  SELECT doc_id, idx, tok FROM (
       |    SELECT doc_id, generate_subscripts(toks, 1) AS idx,
       |           unnest(toks) AS tok
       |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
       |          FROM documents))
       |  WHERE tok <> ''),
       |uni AS (SELECT doc_id, ${h60Sql("tok")} % $B AS b FROM tp),
       |bi AS (SELECT doc_id, ${h60Sql("tok || ' ' || t1")} % $B AS b
       |  FROM (SELECT doc_id, tok, lead(tok, 1) OVER (
       |          PARTITION BY doc_id ORDER BY idx) AS t1 FROM tp)
       |  WHERE t1 IS NOT NULL),
       |f AS MATERIALIZED (SELECT doc_id, b, count(*) AS c
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
       |  GROUP BY 1, 2)""".stripMargin

  private val weightsBodySql: String =
    s"""tgt AS (SELECT b, cast(sum(c) AS BIGINT) AS ct FROM f
       |  WHERE doc_id % 50 = 0 GROUP BY 1),
       |rw AS (SELECT b, cast(sum(c) AS BIGINT) AS cr FROM f
       |  WHERE doc_id % 50 <> 0 GROUP BY 1),
       |tt AS (SELECT cast(sum(ct) AS BIGINT) AS tt FROM tgt),
       |tr AS (SELECT cast(sum(cr) AS BIGINT) AS tr FROM rw),
       |lam AS (SELECT coalesce(tgt.b, rw.b) AS b,
       |    cast(round((ln(cast(coalesce(ct, 0) + 1 AS double) / (tt + $B))
       |      - ln(cast(coalesce(cr, 0) + 1 AS double) / (tr + $B)))
       |      * 1000000.0) AS BIGINT) AS lam
       |  FROM tgt FULL OUTER JOIN rw ON rw.b = tgt.b
       |  CROSS JOIN tt CROSS JOIN tr),
       |wts AS (SELECT f.doc_id, cast(sum(f.c) AS BIGINT) AS n_feat,
       |    round(cast(cast(sum(f.c * l.lam) AS BIGINT) AS double)
       |      / 1000000.0, 6) AS logw
       |  FROM f JOIN lam l ON l.b = f.b
       |  GROUP BY 1)""".stripMargin

  val corpusDsirWeightsSql: String =
    s"""WITH $featuresSql,
       |$weightsBodySql
       |SELECT doc_id, n_feat, logw FROM wts""".stripMargin

  // -------------------------------------------------------------------
  // corpus_dsir_sample — Gumbel-top-k resampling: key_i = logw_i + g_i
  // with g_i = −ln(−ln u_i) and u_i a deterministic h60 hash of the
  // doc_id mapped into (0,1) — the standard Gumbel-max trick samples
  // k docs without replacement with P ∝ exp(logw), and the hash-u
  // makes it reproducible under task retries where rand() drifts.
  // u = (h + 0.5) / 2^60: BIGINT→double rounding and the power-of-two
  // division are IEEE-identical on both engines; the double-libm
  // −ln(−ln·) drift (~1e-16 relative) is absorbed by round(key, 6),
  // and (key, doc_id) is a total order so the k-boundary is
  // deterministic.
  //
  // 100 TB shape: constant-budget top-k = TakeOrderedAndProject
  // (per-partition k-heaps, k-row driver merge) — no global sort, no
  // single-partition window at any corpus size.
  // -------------------------------------------------------------------
  def corpusDsirSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (h60(concat_ws("", lit("dsir:"), col("doc_id").cast("string")))
      .cast("double") + 0.5) / 1152921504606846976.0
    corpusDsirWeights(spark, dir)
      .withColumn("key", round(col("logw") - log(-log(u)), 6))
      .orderBy(col("key").desc, col("doc_id").asc)
      .limit(SampleK)
      .select("doc_id", "logw", "key")
  }

  val corpusDsirSampleSql: String =
    s"""WITH $featuresSql,
       |$weightsBodySql
       |SELECT doc_id, logw,
       |  round(logw - ln(- ln(
       |    (cast(${h60Sql("'dsir:' || cast(doc_id AS VARCHAR)")} AS double)
       |     + 0.5) / 1152921504606846976.0)), 6) AS key
       |FROM wts
       |ORDER BY key DESC, doc_id ASC
       |LIMIT $SampleK""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("corpus_dsir_weights", corpusDsirWeights, corpusDsirWeightsSql),
    Query("corpus_dsir_sample", corpusDsirSample, corpusDsirSampleSql))
}
