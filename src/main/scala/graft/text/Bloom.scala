package graft.text

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-filter benchmark decontamination — the fixed-size-sketch
  * complement to [[TextOps.textContamination]]'s exact shingle join.
  *
  * Why a production pipeline wants both: the exact join shuffles the
  * corpus shingle table against the benchmark shingle table, which is
  * fine when the benchmark is one held-out set but not when the
  * "benchmark" is every eval suite ever published (10⁸+ n-grams). A
  * Bloom filter compresses ANY benchmark to a constant [[MBits]]-bit
  * array that broadcasts once, and membership becomes row-local probe
  * arithmetic — the standard big-data decontamination shape (e.g.
  * Brown et al. 2020 App. C uses exactly this to scrub GPT-3's
  * training set). False positives are a deterministic function of the
  * hash construction, so both engines compute the IDENTICAL flag set
  * and the op stays hash-gated; false negatives are impossible, which
  * is the direction decontamination cares about.
  *
  * Construction (all 64-bit integer arithmetic, exact cross-engine):
  * the 60-bit shingle hash h probes [[KProbes]] = 4 positions
  * p_j = (h1 + j·h2) mod [[MBits]] (Kirsch–Mitzenmacher double
  * hashing) with h1 = h mod M, h2 = 1 + (h div M) mod (M−1); bits
  * pack [[WordBits]] = 62 per BIGINT word (bit 62/63 never set, so
  * no sign games in either engine).
  *
  * 100 TB shape: the filter is a ≤ M/62 ≈ 16.9k-row (word, bits)
  * table REGARDLESS of benchmark size — built with one hash groupBy
  * + bit_or over the benchmark probes, then broadcast. The corpus
  * side probes it with FOUR BROADCAST HASH JOINS (one per probe, no
  * explode → no extra corpus exchange; Catalyst reuses the one
  * broadcast exchange across all four joins), then one per-doc
  * aggregate. Nothing corpus-sized ever shuffles on the benchmark
  * axis. Benchmark docs themselves (doc_id % 50 = 0) are excluded
  * from scoring — they ARE the reference set.
  */
object Bloom {

  val MBits = 1L << 20
  val KProbes = 4
  val WordBits = 62L

  /** The packed filter: (w, bits) — one row per 62-bit word with at
    * least one set bit, built from the benchmark split's distinct
    * 8-gram shingle hashes. */
  private[graft] def bloomWords(spark: SparkSession, dir: String): DataFrame = {
    val bench = TextOps.shingles(spark, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(col("h")).distinct()
    val probes = (0 until KProbes).map(j =>
      expr(s"(h % $MBits + $j * (1 + (h div $MBits) % ${MBits - 1})) % $MBits"))
    bench
      .select(explode(array(probes: _*)).as("p"))
      .select(expr(s"p div $WordBits").as("w"),
        expr(s"shiftleft(1L, cast(p % $WordBits AS int))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
  }

  // -------------------------------------------------------------------
  // corpus_bloom_contamination — per non-benchmark doc: how many of
  // its distinct 8-gram shingles the benchmark Bloom filter flags.
  // flagged = any hit; the decontamination drop list.
  // -------------------------------------------------------------------
  def corpusBloomContamination(spark: SparkSession, dir: String): DataFrame = {
    val words = bloomWords(spark, dir)
    var df = TextOps.shingles(spark, dir)
      .filter(col("doc_id") % 50 =!= 0)
      .withColumn("h1", col("h") % MBits)
      .withColumn("h2", expr(s"1 + (h div $MBits) % ${MBits - 1}"))
    (0 until KProbes).foreach { j =>
      df = df
        .withColumn(s"p$j", expr(s"(h1 + $j * h2) % $MBits"))
        .withColumn(s"w$j", expr(s"p$j div $WordBits"))
        .join(broadcast(words.select(col("w").as(s"w$j"),
          col("bits").as(s"bits$j"))), Seq(s"w$j"), "left")
        .withColumn(s"hit$j",
          expr(s"shiftright(coalesce(bits$j, 0L), cast(p$j % $WordBits AS int)) & 1"))
    }
    df.withColumn("pos",
        (0 until KProbes).map(j => col(s"hit$j")).reduce(_ + _) === KProbes)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_bloom"))
      .select(col("doc_id"), col("n_sh"), col("n_bloom"),
        round(col("n_bloom").cast("double") / col("n_sh"), 6).as("bloom_frac"),
        (col("n_bloom") > 0).as("flagged"))
  }

  val corpusBloomContaminationSql: String = {
    val M = MBits; val W = WordBits
    s"""WITH ${TextOps.shinglesSql},
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
       |bp AS (SELECT (h % $M + j.j * (1 + (h // $M) % ${M - 1})) % $M AS p
       |  FROM bench, generate_series(0, ${KProbes - 1}) AS j(j)),
       |words AS (SELECT p // $W AS w,
       |    bit_or(1::BIGINT << cast(p % $W AS int)) AS bits
       |  FROM bp GROUP BY 1),
       |corp AS (SELECT doc_id, h, h % $M AS h1,
       |    1 + (h // $M) % ${M - 1} AS h2
       |  FROM sh WHERE doc_id % 50 <> 0),
       |probes AS (SELECT c.doc_id, c.h, (c.h1 + j.j * c.h2) % $M AS p
       |  FROM corp c, generate_series(0, ${KProbes - 1}) AS j(j)),
       |hits AS (SELECT pr.doc_id, pr.h,
       |    sum(CASE WHEN ((coalesce(w.bits, 0) >> cast(pr.p % $W AS int)) & 1) = 1
       |             THEN 1 ELSE 0 END) AS nh
       |  FROM probes pr LEFT JOIN words w ON w.w = pr.p // $W
       |  GROUP BY 1, 2)
       |SELECT doc_id, cast(count(*) AS BIGINT) AS n_sh,
       |  cast(sum(CASE WHEN nh = $KProbes THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bloom,
       |  round(cast(sum(CASE WHEN nh = $KProbes THEN 1 ELSE 0 END) AS double)
       |    / count(*), 6) AS bloom_frac,
       |  sum(CASE WHEN nh = $KProbes THEN 1 ELSE 0 END) > 0 AS flagged
       |FROM hits GROUP BY 1""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("corpus_bloom_contamination", corpusBloomContamination,
      corpusBloomContaminationSql))
}
