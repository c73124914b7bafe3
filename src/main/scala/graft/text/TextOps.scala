package graft.text

import graft.Tables
import graft.dedup.Dedup.{h60, h60Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: token counting, language ID (stopword-ratio
  * heuristic), quality scoring, and rolling-hash fingerprinting.
  * All pure per-row expressions + one groupBy — codegen'd, no UDFs.
  */
object TextOps {

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein", "zu", "von")
  private val stopFr = Seq("le", "la", "les", "et", "est", "un", "de", "des")
  private val stopEs = Seq("el", "la", "los", "y", "es", "un", "de", "en")

  /** (doc_id, tok) exploded non-empty lowercase tokens. */
  private def tok(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")

  private[graft] val tokSql: String =
    """tk AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT d.doc_id, unnest(string_split(lower(d.text), ' ')) AS tok
      |    FROM documents d)
      |  WHERE tok <> '')""".stripMargin

  // -------------------------------------------------------------------
  // text_token_count — whitespace tokens, distinct tokens, chars.
  // -------------------------------------------------------------------
  /** BPE-ish pre-tokenization: letter runs | digit runs | single
    * punctuation — the shape a byte-pair encoder's pre-splitter uses. */
  private val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def textTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val ws = tok(spark, dir).groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_distinct"),
        sum(length(col("tok"))).as("n_token_chars"))
    val bpe = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0)))
          .cast("long").as("n_bpe_tokens"))
    ws.join(bpe, "doc_id")
  }

  val textTokenCountSql: String =
    s"""WITH $tokSql,
       |ws AS (SELECT doc_id, count(*) AS n_tokens,
       |  count(DISTINCT tok) AS n_distinct,
       |  cast(sum(length(tok)) AS BIGINT) AS n_token_chars
       |  FROM tk GROUP BY 1),
       |bpe AS (SELECT doc_id,
       |  cast(len(regexp_extract_all(lower(text), '$bpePattern'))
       |       AS BIGINT) AS n_bpe_tokens
       |  FROM documents)
       |SELECT ws.doc_id, n_tokens, n_distinct, n_token_chars, n_bpe_tokens
       |FROM ws JOIN bpe ON bpe.doc_id = ws.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // text_langid — n-gram/stopword-ratio heuristic: per-language
  // stopword hit ratios; argmax with fixed preference order.
  // -------------------------------------------------------------------
  private def ratio(words: Seq[String]) =
    round(sum(when(col("tok").isin(words: _*), 1).otherwise(0))
      .cast("double") / count(lit(1)), 6)

  private def ratioSql(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString(", ")
    s"round(cast(sum(CASE WHEN tok IN ($list) THEN 1 ELSE 0 END) AS double) / count(*), 6)"
  }

  def textLangid(spark: SparkSession, dir: String): DataFrame =
    tok(spark, dir).groupBy("doc_id")
      .agg(ratio(stopEn).as("r_en"), ratio(stopDe).as("r_de"),
        ratio(stopFr).as("r_fr"), ratio(stopEs).as("r_es"))
      .withColumn("pred_lang",
        when(col("r_en") >= greatest(col("r_de"), col("r_fr"), col("r_es")), "en")
          .when(col("r_de") >= greatest(col("r_fr"), col("r_es")), "de")
          .when(col("r_fr") >= col("r_es"), "fr")
          .otherwise("es"))

  val textLangidSql: String =
    s"""WITH $tokSql,
       |r AS (SELECT doc_id,
       |  ${ratioSql(stopEn)} AS r_en, ${ratioSql(stopDe)} AS r_de,
       |  ${ratioSql(stopFr)} AS r_fr, ${ratioSql(stopEs)} AS r_es
       |  FROM tk GROUP BY 1)
       |SELECT doc_id, r_en, r_de, r_fr, r_es,
       |  CASE WHEN r_en >= greatest(r_de, r_fr, r_es) THEN 'en'
       |       WHEN r_de >= greatest(r_fr, r_es) THEN 'de'
       |       WHEN r_fr >= r_es THEN 'fr'
       |       ELSE 'es' END AS pred_lang
       |FROM r""".stripMargin

  // -------------------------------------------------------------------
  // text_quality — length / punctuation ratio / stopword ratio / mean
  // word length composite score (the usual pretraining-filter shape).
  // -------------------------------------------------------------------
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
    val nonPunct = regexp_replace(col("text"), "[a-z0-9 ]", "")
    val base = d.select(col("doc_id"),
      length(col("text")).cast("double").as("len"),
      length(nonPunct).cast("double").as("n_punct"))
    val t = tok(spark, dir).groupBy("doc_id")
      .agg(count(lit(1)).cast("double").as("n_tok"),
        sum(length(col("tok"))).cast("double").as("tok_chars"),
        sum(when(col("tok").isin(stopEn: _*), 1).otherwise(0))
          .cast("double").as("n_stop"))
    base.join(t, "doc_id").select(col("doc_id"),
      round(col("n_punct") / col("len"), 6).as("punct_ratio"),
      round(col("tok_chars") / col("n_tok"), 6).as("mean_word_len"),
      round(col("n_stop") / col("n_tok"), 6).as("stop_ratio"),
      round(
        when(col("len") / 400.0 < 1.0, col("len") / 400.0).otherwise(1.0) * 0.4 +
          (lit(1.0) - col("n_punct") / col("len")) * 0.3 +
          when(col("n_stop") / col("n_tok") * 5.0 < 1.0,
            col("n_stop") / col("n_tok") * 5.0).otherwise(1.0) * 0.3,
        6).as("quality"))
  }

  val textQualitySql: String = {
    val stopList = stopEn.map(w => s"'$w'").mkString(", ")
    s"""WITH $tokSql,
       |t AS (SELECT doc_id, cast(count(*) AS double) AS n_tok,
       |  cast(sum(length(tok)) AS double) AS tok_chars,
       |  cast(sum(CASE WHEN tok IN ($stopList) THEN 1 ELSE 0 END) AS double)
       |    AS n_stop
       |  FROM tk GROUP BY 1),
       |b AS (SELECT doc_id, cast(length(text) AS double) AS len,
       |  cast(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS double)
       |    AS n_punct
       |  FROM documents)
       |SELECT b.doc_id,
       |  round(n_punct / len, 6) AS punct_ratio,
       |  round(tok_chars / n_tok, 6) AS mean_word_len,
       |  round(n_stop / n_tok, 6) AS stop_ratio,
       |  round(
       |    CASE WHEN len / 400.0 < 1.0 THEN len / 400.0 ELSE 1.0 END * 0.4
       |    + (1.0 - n_punct / len) * 0.3
       |    + CASE WHEN n_stop / n_tok * 5.0 < 1.0
       |           THEN n_stop / n_tok * 5.0 ELSE 1.0 END * 0.3, 6) AS quality
       |FROM b JOIN t ON t.doc_id = b.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // text_fingerprint — rolling-hash document fingerprint: min/max 60-bit
  // hash over 8-char shingles (winnowing-lite) + shingle cardinality.
  // -------------------------------------------------------------------
  // Overlapping 8-grams via ONE linear regex pass (a zero-width
  // lookahead captures the gram at every position), not an index
  // explode feeding substring(text, i, 8): UTF8String.substring scans
  // from the string start, so the index form is O(n²) per document —
  // a 10⁶-char crawl page pins one task for hours (the textEntropy
  // finding, round 13). (?s) keeps '.' matching newlines so the gram
  // set is exactly the substring form's; the DuckDB twin is unchanged.
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '(?s)(?=(.{8}))', 1)"))
          .as("g"))
      .select(col("doc_id"), h60(col("g")).as("h"))
      .groupBy("doc_id")
      .agg(min("h").as("fp_min"), max("h").as("fp_max"),
        countDistinct("h").as("n_shingles"))

  // Round 14: 8-grams by re-concatenating 7 lead windows over the
  // char sequence (ONE string_split per doc — the word-shingle device
  // at char granularity), replacing the old constant generate_series
  // + positional substr form, which was BOTH O(n²) per doc (DuckDB's
  // substr scans from the string start — the oracle-side twin of the
  // r13 Spark defect) AND capped at 16384 chars (DuckDB 1.0 bans
  // lateral column bounds in generate_series), so it could not see a
  // long document's tail at all. Linear in corpus chars, no length
  // cap, identical gram set.
  val textFingerprintSql: String = {
    val leads = (1 to 7).map(k => s"lead(ch, $k) OVER w AS l$k")
      .mkString(", ")
    val cat = "(ch || " + (1 to 7).map(k => s"l$k").mkString(" || ") + ")"
    s"""WITH cp AS (
       |  SELECT doc_id, idx, ch FROM (
       |    SELECT doc_id, generate_subscripts(cs, 1) AS idx,
       |           unnest(cs) AS ch
       |    FROM (SELECT doc_id, string_split(text, '') AS cs
       |          FROM documents WHERE length(text) >= 8))),
       |shw AS (SELECT doc_id, ch, $leads
       |  FROM cp WINDOW w AS (PARTITION BY doc_id ORDER BY idx)),
       |sh AS (SELECT doc_id, ${h60Sql(cat)} AS h
       |  FROM shw WHERE l7 IS NOT NULL)
       |SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
       |  count(DISTINCT h) AS n_shingles
       |FROM sh GROUP BY 1""".stripMargin
  }

  // -------------------------------------------------------------------
  // multimodal_extract — opaque-binary-column plumbing: payload is a
  // binary column (utf-8 bytes here; images/audio in production), the
  // "decode" is a clearly-fake deterministic metadata extraction
  // (md5-derived dims) — the Spark-side schema/partitioning/batch
  // plumbing is real, the codec is the stub this container lacks.
  // -------------------------------------------------------------------
  def multimodalExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        // STUB decode: deterministic fake dimensions in lieu of a real
        // image codec (none available in this container).
        (h60(col("payload").cast("string")) % 512 + 64).as("width"),
        (shiftright(h60(col("payload").cast("string")), 20) % 512 + 64).as("height"))

  val multimodalExtractSql: String =
    s"""SELECT doc_id,
       |  cast(octet_length(encode(text)) AS int) AS n_bytes,
       |  ${h60Sql("text")} % 512 + 64 AS width,
       |  (${h60Sql("text")} >> 20) % 512 + 64 AS height
       |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // text_tfidf_top — per-document top-5 terms by smooth TF-IDF
  // (idf = ln((1+N)/(1+df)) + 1, the sklearn smoothing): the standard
  // keyword-extraction / quality-signal pass of a pretraining pipeline.
  //
  // 100 TB shape: tf is ONE shuffle on (doc_id, tok); df is derived
  // FROM tf (vocab-sized, no second pass over tokens); the tf⋈df join
  // keys on tok with AQE free to broadcast the vocab side; the corpus
  // size N is a broadcast 1-row scalar; per-doc top-5 is a window over
  // doc_id (small groups). Ordering is by the ROUNDED score so the
  // engines' row_number picks are identical, with tok as tiebreak.
  // -------------------------------------------------------------------
  /** The (doc_id, tok) term-frequency base shared by text_tfidf_top
    * and text_unigram_logprob: one canonical plan, so a persisted
    * instance is substituted by the CacheManager into both queries. */
  def termFreq(spark: SparkSession, dir: String): DataFrame =
    tok(spark, dir).groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))

  def textTfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreq(spark, dir)
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = Tables.table(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val sc = tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf").cast("double") *
          (log((col("n_docs") + lit(1L)).cast("double") /
            (col("df") + lit(1L)).cast("double")) + lit(1.0)), 6))
    val wr = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok").asc)
    sc.withColumn("rn", row_number().over(wr).cast("long"))
      .filter(col("rn") <= 5)
      .select("doc_id", "tok", "tf", "df", "score", "rn")
  }

  val textTfidfTopSql: String =
    s"""WITH $tokSql,
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       |  round(cast(tf.tf AS double) *
       |    (ln(cast(n_docs + 1 AS double) / cast(df.df + 1 AS double))
       |     + 1.0), 6) AS score
       |  FROM tf JOIN df USING (tok) CROSS JOIN n),
       |rk AS (SELECT doc_id, tok, tf, df, score,
       |  row_number() OVER (PARTITION BY doc_id
       |                     ORDER BY score DESC, tok ASC) AS rn
       |  FROM sc)
       |SELECT doc_id, tok, tf, df, score, rn FROM rk WHERE rn <= 5""".stripMargin

  // -------------------------------------------------------------------
  // text_unigram_logprob — corpus-unigram language-model scoring (the
  // perplexity-filter pass of a pretraining pipeline: docs whose
  // tokens are improbable under the corpus's own unigram model score
  // low). lp(tok) = ln(c/T) quantized to exact integer µ-nats, so
  // every per-doc sum is an exact integer and both engines derive
  // identical doubles; ppl = exp(−mean lp).
  //
  // 100 TB shape: tf is the SAME one (doc_id, tok) shuffle as tfidf;
  // the unigram table is derived from tf (vocab-sized, no second pass
  // over tokens); the corpus total T is a broadcast 1-row scalar; the
  // tf⋈lp join keys on tok with AQE free to broadcast the vocab side;
  // the per-doc aggregate is map-side combined.
  // -------------------------------------------------------------------
  /** The corpus unigram model itself — (tok, lp µ-nats): the static
    * side of the streaming stream–static scoring twin. */
  def unigramModel(spark: SparkSession, dir: String): DataFrame = {
    val ug = termFreq(spark, dir).groupBy("tok").agg(sum("tf").as("c"))
    val tot = ug.agg(sum("c").as("t"))
    ug.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(log(col("c").cast("double") / col("t")) * 1000000.0, 0)
          .cast("long").as("lp"))
  }

  def textUnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreq(spark, dir)
    val lp = unigramModel(spark, dir)
    tf.join(lp, "tok")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tok"),
        sum(col("tf") * col("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_tok"),
        round(col("sum_lp").cast("double") / col("n_tok") / 1000000.0, 6)
          .as("lp_mean"),
        round(exp(-col("sum_lp").cast("double") / col("n_tok") / 1000000.0),
          4).as("ppl"))
  }

  val textUnigramLogprobSql: String =
    s"""WITH $tokSql,
       |tf AS MATERIALIZED (
       |  SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
       |ug AS (SELECT tok, cast(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
       |tot AS (SELECT cast(sum(c) AS BIGINT) AS t FROM ug),
       |lp AS (SELECT tok,
       |  cast(round(ln(cast(c AS double) / t) * 1000000.0) AS BIGINT) AS lp
       |  FROM ug CROSS JOIN tot),
       |agg AS (SELECT doc_id, cast(sum(tf) AS BIGINT) AS n_tok,
       |  cast(sum(tf * lp) AS BIGINT) AS sum_lp
       |  FROM tf JOIN lp USING (tok) GROUP BY 1)
       |SELECT doc_id, n_tok,
       |  round(cast(sum_lp AS double) / n_tok / 1000000.0, 6) AS lp_mean,
       |  round(exp(-cast(sum_lp AS double) / n_tok / 1000000.0), 4) AS ppl
       |FROM agg""".stripMargin

  // -------------------------------------------------------------------
  // text_repetition — repetition quality signals (the Gopher/MassiveText
  // filter family): most-frequent-token fraction, duplicate-token
  // fraction, duplicate-2-gram fraction. Boilerplate/spam documents
  // repeat; all three are per-doc aggregations over the one token
  // pass (+ a lead window for the 2-grams) — no joins beyond doc_id.
  // -------------------------------------------------------------------
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreq(spark, dir) // (doc_id, tok, tf)
    val toks = tf.groupBy("doc_id")
      .agg(sum("tf").as("n_tok"),
        count(lit(1)).as("n_distinct"),
        max("tf").as("top_tf"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val grams = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("tok"), lead("tok", 1).over(w).as("t1"))
      .filter(col("t1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1")).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_g"), countDistinct("g").as("n_gd"))
    toks.join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(col("top_tf").cast("double") / col("n_tok"), 6)
          .as("top_tok_frac"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tok"), 6)
          .as("dup_tok_frac"),
        round(lit(1.0) - coalesce(
          col("n_gd").cast("double") / col("n_g"), lit(1.0)), 6)
          .as("dup_2gram_frac"))
  }

  val textRepetitionSql: String =
    s"""WITH $tokSql,
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
       |t AS (SELECT doc_id, cast(sum(tf) AS BIGINT) AS n_tok,
       |  count(*) AS n_distinct, max(tf) AS top_tf
       |  FROM tf GROUP BY 1),
       |tp AS (SELECT doc_id, idx, tok FROM (
       |    SELECT doc_id, generate_subscripts(toks, 1) AS idx,
       |           unnest(toks) AS tok
       |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
       |          FROM documents))
       |  WHERE tok <> ''),
       |g AS (SELECT doc_id, count(*) AS n_g, count(DISTINCT gg) AS n_gd
       |  FROM (SELECT doc_id, tok || ' ' || t1 AS gg FROM (
       |      SELECT doc_id, tok,
       |        lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS t1
       |      FROM tp)
       |    WHERE t1 IS NOT NULL)
       |  GROUP BY 1)
       |SELECT t.doc_id,
       |  round(cast(top_tf AS double) / n_tok, 6) AS top_tok_frac,
       |  round(1.0 - cast(n_distinct AS double) / n_tok, 6) AS dup_tok_frac,
       |  round(1.0 - coalesce(cast(n_gd AS double) / n_g, 1.0), 6)
       |    AS dup_2gram_frac
       |FROM t LEFT JOIN g ON g.doc_id = t.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // corpus_mix_stats — the corpus "data card": per (lang, source)
  // document counts, size totals, and langid agreement (fraction of
  // docs whose predicted language matches the recorded one). The
  // mixture accounting every pretraining run reports; one groupBy
  // over the documents scan + the langid plan.
  // -------------------------------------------------------------------
  def corpusMixStats(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .join(textLangid(spark, dir).select("doc_id", "pred_lang"), "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(sum(when(col("pred_lang") === col("lang"), 1).otherwise(0))
          .cast("double") / count(lit(1)), 6).as("langid_agree"))

  val corpusMixStatsSql: String =
    s"""WITH $tokSql,
       |r AS (SELECT doc_id,
       |  ${ratioSql(stopEn)} AS r_en, ${ratioSql(stopDe)} AS r_de,
       |  ${ratioSql(stopFr)} AS r_fr, ${ratioSql(stopEs)} AS r_es
       |  FROM tk GROUP BY 1),
       |lid AS (SELECT doc_id,
       |  CASE WHEN r_en >= greatest(r_de, r_fr, r_es) THEN 'en'
       |       WHEN r_de >= greatest(r_fr, r_es) THEN 'de'
       |       WHEN r_fr >= r_es THEN 'fr'
       |       ELSE 'es' END AS pred_lang
       |  FROM r)
       |SELECT d.lang, d.source, count(*) AS n_docs,
       |  cast(sum(d.n_chars) AS BIGINT) AS total_chars,
       |  round(cast(sum(CASE WHEN l.pred_lang = d.lang THEN 1 ELSE 0 END)
       |      AS double) / count(*), 6) AS langid_agree
       |FROM documents d JOIN lid l ON l.doc_id = d.doc_id
       |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // text_contamination — benchmark decontamination: for every document,
  // the fraction of its 8-gram token shingles that appear in ANY
  // benchmark document (deterministic held-out subset: doc_id % 50 = 0,
  // self-matches excluded). The standard test-set-leak check of a
  // pretraining pipeline, exact n-gram variant.
  //
  // 100 TB shape: the benchmark shingle table is tiny (held-out sets
  // are) → AQE broadcasts it; the corpus side is ONE windowed pass to
  // form shingles + a per-doc distinct aggregate; matches are an
  // equi-join on the 60-bit shingle hash, so work ∝ hash collisions,
  // never corpus × benchmark.
  // -------------------------------------------------------------------
  private val NGram = 8

  /** Scala mirror of `shingles` for the STREAMING decontamination
    * twin (streaming/StreamingOps.contaminationStream): one
    * document's distinct 8-gram shingle hashes, row-locally. MUST
    * stay bit-identical to the batch column pipeline below —
    * StreamingSpec pins the equality over the sf0.001 corpus. */
  private[graft] def shingleHashesOf(text: String): Set[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).filter(_.nonEmpty).toSeq
    if (toks.length < NGram) return Set.empty
    toks.sliding(NGram).map(w => h60Of(w.mkString(" "))).toSet
  }

  private[graft] def h60Of(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString.take(15), 16)

  /** The static benchmark shingle set (doc_id % 50 = 0) — the static
    * side of the streaming decontamination twin. */
  def benchShingleSet(spark: SparkSession, dir: String): DataFrame =
    shingles(spark, dir).filter(col("doc_id") % 50 === 0)
      .select("h").distinct()

  /** (doc_id, h): distinct 60-bit hashes of 8-token shingles, built
    * over the empty-filtered token sequence (lead window per doc). */
  private[graft] def shingles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val base = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val leads = (1 until NGram).map(k => lead(col("tok"), k).over(w))
    base
      .select(col("doc_id"),
        concat_ws(" ", (col("tok") +: leads): _*).as("sh"),
        leads.last.as("lastTok"))
      .filter(col("lastTok").isNotNull)
      .select(col("doc_id"), h60(col("sh")).as("h"))
      .distinct()
  }

  private[graft] val shinglesSql: String = {
    val leadCols = (1 until NGram)
      .map(k => s"lead(tok, $k) OVER w AS l$k").mkString(", ")
    val cat = "tok || ' ' || " +
      (1 until NGram).map(k => s"l$k").mkString(" || ' ' || ")
    s"""tp AS (
       |  SELECT doc_id, idx, tok FROM (
       |    SELECT doc_id, generate_subscripts(toks, 1) AS idx,
       |           unnest(toks) AS tok
       |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
       |          FROM documents))
       |  WHERE tok <> ''),
       |shw AS (SELECT doc_id, tok, $leadCols
       |  FROM tp WINDOW w AS (PARTITION BY doc_id ORDER BY idx)),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ${h60Sql(s"($cat)")} AS h
       |  FROM shw WHERE l${NGram - 1} IS NOT NULL)""".stripMargin
  }

  def textContamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bdoc"), col("h"))
    val contam = sh.join(bench, "h")
      .filter(col("bdoc") =!= col("doc_id"))
      .groupBy("doc_id")
      .agg(countDistinct("h").as("n_contam"))
    sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        round(coalesce(col("n_contam"), lit(0L)).cast("double") /
          col("n_sh"), 6).as("contam_frac"))
  }

  val textContaminationSql: String =
    s"""WITH $shinglesSql,
       |bench AS (SELECT doc_id AS bdoc, h FROM sh WHERE doc_id % 50 = 0),
       |contam AS (
       |  SELECT s.doc_id, count(DISTINCT s.h) AS n_contam
       |  FROM sh s JOIN bench b ON b.h = s.h AND b.bdoc <> s.doc_id
       |  GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
       |SELECT t.doc_id, t.n_sh,
       |  coalesce(c.n_contam, 0) AS n_contam,
       |  round(cast(coalesce(c.n_contam, 0) AS double) / t.n_sh, 6)
       |    AS contam_frac
       |FROM tot t LEFT JOIN contam c ON c.doc_id = t.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // corpus_sample — deterministic language-stratified rate sampling
  // (the data-mixing pass of a pretraining pipeline: downsample the
  // dominant language, keep more of the rest). The keep/drop decision
  // is a pure hash of doc_id — stable under task retries and
  // recomputation, where rand()-based sampling silently changes the
  // sample per attempt; and it needs NO extra shuffle beyond langid's
  // own token groupBy (the filter is per-row). Rates are per-language
  // percent buckets: en 10%, everything else 50%.
  // -------------------------------------------------------------------
  def corpusSample(spark: SparkSession, dir: String): DataFrame =
    textLangid(spark, dir)
      .select(col("doc_id"), col("pred_lang"))
      .withColumn("bucket", pmod(h60(col("doc_id").cast("string")), lit(100L)))
      .filter(col("bucket") <
        when(col("pred_lang") === "en", 10).otherwise(50))

  val corpusSampleSql: String =
    s"""WITH $tokSql,
       |r AS (SELECT doc_id,
       |  ${ratioSql(stopEn)} AS r_en, ${ratioSql(stopDe)} AS r_de,
       |  ${ratioSql(stopFr)} AS r_fr, ${ratioSql(stopEs)} AS r_es
       |  FROM tk GROUP BY 1),
       |lid AS (SELECT doc_id,
       |  CASE WHEN r_en >= greatest(r_de, r_fr, r_es) THEN 'en'
       |       WHEN r_de >= greatest(r_fr, r_es) THEN 'de'
       |       WHEN r_fr >= r_es THEN 'fr'
       |       ELSE 'es' END AS pred_lang
       |  FROM r)
       |SELECT doc_id, pred_lang,
       |  ${h60Sql("cast(doc_id AS VARCHAR)")} % 100 AS bucket
       |FROM lid
       |WHERE ${h60Sql("cast(doc_id AS VARCHAR)")} % 100 <
       |  CASE WHEN pred_lang = 'en' THEN 10 ELSE 50 END""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_count" -> (textTokenCount _),
    "text_langid" -> (textLangid _),
    "text_quality" -> (textQuality _),
    "text_fingerprint" -> (textFingerprint _),
    "text_tfidf_top" -> (textTfidfTop _),
    "text_unigram_logprob" -> (textUnigramLogprob _),
    "text_contamination" -> (textContamination _),
    "text_repetition" -> (textRepetition _),
    "corpus_mix_stats" -> (corpusMixStats _),
    "corpus_sample" -> (corpusSample _),
    "multimodal_extract" -> (multimodalExtract _))

  val oracles: Map[String, String] = Map(
    "text_token_count" -> textTokenCountSql,
    "text_langid" -> textLangidSql,
    "text_quality" -> textQualitySql,
    "text_fingerprint" -> textFingerprintSql,
    "text_tfidf_top" -> textTfidfTopSql,
    "text_unigram_logprob" -> textUnigramLogprobSql,
    "text_contamination" -> textContaminationSql,
    "text_repetition" -> textRepetitionSql,
    "corpus_mix_stats" -> corpusMixStatsSql,
    "corpus_sample" -> corpusSampleSql,
    "multimodal_extract" -> multimodalExtractSql)
}
