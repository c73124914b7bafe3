package graft.text

import graft.{Query, Tables}
import graft.dedup.Dedup.{h60, h60Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-quality signals beyond the token-level filters in
  * [[TextOps]]: character-distribution entropy (the deterministic
  * stand-in for the Gopher/RefinedWeb compression-ratio boilerplate
  * filter) and CCNet-style perplexity bucketing (Wenzek et al. 2020,
  * "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data" — head/middle/tail tiers per language by LM score).
  *
  * Both are pure relational algebra — no UDFs, no driver-side state.
  */
object Quality {

  // -------------------------------------------------------------------
  // text_entropy — character-distribution quality signals. Natural-
  // text characters follow a stable unigram distribution; binary
  // junk, minified code, and repeated boilerplate sit at the two
  // extremes (high / very low entropy), which is why production
  // pipelines filter on a compression-ratio proxy. Entropy H =
  // ln(L) − (1/L)·Σ c·ln(c) needs only per-(doc, char) counts, so it
  // is exactly computable cross-engine: ln(c) of integer counts is
  // µ-nat-quantized (round(ln(c)·1e6) as BIGINT) making every per-doc
  // sum an exact integer; only the final ln(L) and two divisions run
  // in doubles, with round(...,6) absorbing sub-ulp libm drift.
  //
  // 100 TB shape: characters explode row-locally and collapse in the
  // partial aggregate to ≤ |alphabet| rows per (doc, partition)
  // before the ONE (doc_id, ch) exchange — the shuffle is bounded by
  // docs × alphabet, not corpus characters; everything downstream is
  // a per-doc aggregate with map-side combine. No joins, no windows.
  // -------------------------------------------------------------------
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    // Characters via ONE O(n) split, not an index explode feeding
    // substr(text, i, 1): UTF8String.substring scans from the string
    // start, so the index form is O(n²) per document — invisible on
    // ~300-char docs, but a single 10⁶-char crawl page pins one task
    // for hours (found by PipelineSkewSpec's monster-doc stressor,
    // round 13). split('', -1)'s per-character elements are the same
    // values substr produced, so the DuckDB twin is unchanged.
    val cc = Tables.table(spark, dir, "documents")
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    cc.groupBy("doc_id")
      .agg(sum("c").as("n_chars"),
        count(lit(1)).as("n_uniq"),
        max("c").as("mx"),
        sum(col("c") *
          round(log(col("c").cast("double")) * 1000000.0, 0).cast("long"))
          .as("s"))
      .select(col("doc_id"), col("n_chars"), col("n_uniq"),
        round(col("mx").cast("double") / col("n_chars"), 6)
          .as("top_char_frac"),
        round(log(col("n_chars").cast("double")) -
          col("s").cast("double") / col("n_chars") / 1000000.0, 6)
          .as("ent"))
  }

  // Round 14: chars via ONE string_split(text, '') per doc, not
  // positional substr(text, i, 1) — DuckDB's substr, like Spark's
  // UTF8String.substring, scans from the string start, so the index
  // form is O(n²) per document: the ORACLE-side twin of the exact
  // defect the r13 Spark fix removed (a single 5.7 MB skew-corpus doc
  // ground the old form for >5 min; the split form does the corpus in
  // seconds). Same values — both engines split into identical code
  // points.
  val textEntropySql: String =
    """WITH chars AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch
      |  FROM documents WHERE length(text) >= 1),
      |cc AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
      |agg AS (SELECT doc_id, cast(sum(c) AS BIGINT) AS n_chars,
      |    count(*) AS n_uniq, max(c) AS mx,
      |    cast(sum(c * cast(round(ln(cast(c AS double)) * 1000000.0)
      |      AS BIGINT)) AS BIGINT) AS s
      |  FROM cc GROUP BY 1)
      |SELECT doc_id, n_chars, cast(n_uniq AS BIGINT) AS n_uniq,
      |  round(cast(mx AS double) / n_chars, 6) AS top_char_frac,
      |  round(ln(cast(n_chars AS double))
      |    - cast(s AS double) / n_chars / 1000000.0, 6) AS ent
      |FROM agg""".stripMargin

  // -------------------------------------------------------------------
  // corpus_ccnet_buckets — CCNet's perplexity tiers: per language,
  // rank documents by their corpus-LM score (ppl from the
  // text_unigram_logprob chain — CCNet uses a wiki-trained KenLM; the
  // corpus unigram LM is this engine's deterministic stand-in) and
  // cut head / middle / tail at the 1/3 and 2/3 quantiles. CCNet
  // computes the cut points ONCE on a held-out sample and then
  // assigns the full corpus by threshold comparison — exactly the
  // shape that scales: the quantile window runs only over the
  // doc_id % 50 = 0 held-out split (the same benchmark split
  // text_contamination uses; at 100 TB the sample predicate composes
  // another hash gate to stay fixed-size), and the corpus-wide
  // assignment is a broadcast join against a ≤|langs|-row threshold
  // table. Cut points are the exact k-th smallest ppl with
  // k1 = (n+2) div 3, k2 = (2n+2) div 3 (= ceil(n/3), ceil(2n/3)) and
  // (ppl, doc_id) total order, so both engines pick identical rows;
  // comparisons run on the already-4dp-rounded ppl. Languages absent
  // from the sample bucket as 'unsampled' (deterministic on both
  // sides) instead of silently defaulting.
  //
  // 100 TB shape: lp chain = one (doc_id, tok) shuffle (shared with
  // tfidf/LM); sample window is bounded by the held-out split; final
  // assignment is scan + broadcast join, no corpus-wide sort.
  // -------------------------------------------------------------------
  def corpusCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.textUnigramLogprob(spark, dir)
      .join(Tables.table(spark, dir, "documents").select("doc_id", "lang"),
        "doc_id")
      .select("doc_id", "lang", "ppl")
    val samp = scored.filter(col("doc_id") % 50 === 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("ppl").asc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    val cut = samp.groupBy("lang")
      .agg(max(when(col("rn") === expr("(n + 2) div 3"), col("ppl")))
        .as("t1"),
        max(when(col("rn") === expr("(2 * n + 2) div 3"), col("ppl")))
          .as("t2"))
    scored.join(broadcast(cut), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("ppl"),
        when(col("t1").isNull, lit("unsampled"))
          .when(col("ppl") <= col("t1"), lit("head"))
          .when(col("ppl") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  val corpusCcnetBucketsSql: String =
    s"""WITH lp_doc AS (
       |${TextOps.textUnigramLogprobSql}),
       |scored AS (SELECT l.doc_id, d.lang, l.ppl
       |  FROM lp_doc l JOIN documents d USING (doc_id)),
       |samp AS (SELECT doc_id, lang, ppl,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY ppl, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM scored WHERE doc_id % 50 = 0),
       |cut AS (SELECT lang,
       |    max(CASE WHEN rn = (n + 2) // 3 THEN ppl END) AS t1,
       |    max(CASE WHEN rn = (2 * n + 2) // 3 THEN ppl END) AS t2
       |  FROM samp GROUP BY 1)
       |SELECT s.doc_id, s.lang, s.ppl,
       |  CASE WHEN c.t1 IS NULL THEN 'unsampled'
       |       WHEN s.ppl <= c.t1 THEN 'head'
       |       WHEN s.ppl <= c.t2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored s LEFT JOIN cut c ON c.lang = s.lang""".stripMargin

  // -------------------------------------------------------------------
  // corpus_quality_filter — the Gopher-style rule filter (Rae et al.
  // 2021, Appendix A): the single keep/drop decision a pretraining
  // pipeline derives from the whole signal family, with the violated
  // rules recorded per document (the filtering data card auditors
  // read). Rules adapt Gopher's thresholds to this corpus's scale:
  //   short      — n_tokens < 20
  //   word_len   — mean word length outside [4.0, 5.0]
  //   stopword   — an English doc with stop_ratio < 0.03
  //   repetition — top_tok_frac > 0.15 or dup_2gram_frac > 0.08
  //   entropy    — char entropy < 2.7 nats
  // Every comparison runs on the already-rounded outputs of the gated
  // signal tiers, so the decision is engine-exact by construction;
  // `rules` concatenates violated rule names in a fixed order
  // (concat_ws skips the NULL non-violations on both engines).
  //
  // 100 TB shape: a composite of per-doc signal tables all keyed by
  // doc_id — the joins co-partition on one key; every input tier is
  // itself one token/char shuffle (shared across the family via the
  // cache/materialized-view tier), and the rule evaluation is
  // row-local. Output is corpus-sized but 4 narrow columns.
  // -------------------------------------------------------------------
  def corpusQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.textQuality(spark, dir)
      .select("doc_id", "mean_word_len", "stop_ratio")
    val r = TextOps.textRepetition(spark, dir)
      .select("doc_id", "top_tok_frac", "dup_2gram_frac")
    val e = textEntropy(spark, dir).select("doc_id", "ent")
    val t = TextOps.textTokenCount(spark, dir).select("doc_id", "n_tokens")
    val lang = Tables.table(spark, dir, "documents").select("doc_id", "lang")
    q.join(r, "doc_id").join(e, "doc_id").join(t, "doc_id")
      .join(lang, "doc_id")
      .select(col("doc_id"), col("lang"),
        concat_ws(",",
          when(col("n_tokens") < 20, lit("short")),
          when(col("mean_word_len") < 4.0 || col("mean_word_len") > 5.0,
            lit("word_len")),
          when(col("lang") === "en" && col("stop_ratio") < 0.03,
            lit("stopword")),
          when(col("top_tok_frac") > 0.15 || col("dup_2gram_frac") > 0.08,
            lit("repetition")),
          when(col("ent") < 2.7, lit("entropy"))).as("rules"))
      .select(col("doc_id"), col("lang"), (col("rules") === "").as("keep"),
        col("rules"))
  }

  val corpusQualityFilterSql: String =
    s"""WITH q AS (
       |${TextOps.textQualitySql}),
       |r AS (
       |${TextOps.textRepetitionSql}),
       |e AS (
       |$textEntropySql),
       |t AS (
       |${TextOps.textTokenCountSql}),
       |j AS (SELECT q.doc_id, d.lang,
       |    concat_ws(',',
       |      CASE WHEN t.n_tokens < 20 THEN 'short' END,
       |      CASE WHEN q.mean_word_len < 4.0 OR q.mean_word_len > 5.0
       |        THEN 'word_len' END,
       |      CASE WHEN d.lang = 'en' AND q.stop_ratio < 0.03
       |        THEN 'stopword' END,
       |      CASE WHEN r.top_tok_frac > 0.15 OR r.dup_2gram_frac > 0.08
       |        THEN 'repetition' END,
       |      CASE WHEN e.ent < 2.7 THEN 'entropy' END) AS rules
       |  FROM q
       |  JOIN r ON r.doc_id = q.doc_id
       |  JOIN e ON e.doc_id = q.doc_id
       |  JOIN t ON t.doc_id = q.doc_id
       |  JOIN documents d ON d.doc_id = q.doc_id)
       |SELECT doc_id, lang, (rules = '') AS keep, rules FROM j""".stripMargin

  // -------------------------------------------------------------------
  // corpus_ccnet_sample — CCNet's bucket-conditioned selection (Wenzek
  // et al. 2020 §4: keep head+middle, downsample tail): head/middle
  // docs pass, tail docs survive at 10% via the same deterministic
  // doc_id hash as corpus_sample (stable under task retries, where
  // rand() silently changes the sample per attempt); sample-absent
  // ('unsampled') langs keep everything — a missing LM is no evidence
  // of low quality. Pure row-local filter over the bucket assignment:
  // no shuffle beyond corpus_ccnet_buckets' own (already
  // sample-bounded) plan.
  // -------------------------------------------------------------------
  def corpusCcnetSample(spark: SparkSession, dir: String): DataFrame =
    corpusCcnetBuckets(spark, dir)
      .filter(col("bucket") =!= "tail" ||
        pmod(h60(col("doc_id").cast("string")), lit(100L)) < 10)
      .select("doc_id", "lang", "bucket")

  val corpusCcnetSampleSql: String =
    s"""WITH bkt AS (
       |$corpusCcnetBucketsSql
       |)
       |SELECT doc_id, lang, bucket FROM bkt
       |WHERE bucket <> 'tail'
       |   OR ${h60Sql("cast(doc_id AS VARCHAR)")} % 100 < 10""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("text_entropy", textEntropy, textEntropySql),
    Query("corpus_ccnet_buckets", corpusCcnetBuckets, corpusCcnetBucketsSql),
    Query("corpus_ccnet_sample", corpusCcnetSample, corpusCcnetSampleSql),
    Query("corpus_quality_filter", corpusQualityFilter, corpusQualityFilterSql))
}
