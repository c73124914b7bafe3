package graft.text

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII detection / redaction over the documents table — the scrub
  * step every web-scale training-data pipeline runs before anything
  * else sees the text (emails, phone-shaped numbers, IPv4 literals;
  * the C4/RefinedWeb-class hygiene pass). Purely row-local: one
  * narrow corpus scan, no shuffle at any size — the 100 TB cost is
  * the scan itself.
  *
  * Cross-engine contract: the three patterns are written in the
  * COMMON dialect subset of Java regex (the execution path) and RE2
  * (the DuckDB oracle) — character classes, bounded repetition, \b,
  * \d only; no backrefs, no lookaround, both-dialect leftmost
  * matching and identical greediness for these shapes. PiiSpec pins
  * the tricky cases (boundary backtracking on `78ab`, the 5-octet
  * `1.2.3.4.5` leaving a bare `.5`, phone-inside-IP precedence)
  * against RE2-verified expected strings, so a dialect divergence
  * fails loudly in the suite, not silently at the gate. Redaction
  * order is email → phone → IPv4 on both engines; the replacement
  * tokens contain no digits or `@`, so later passes cannot re-match
  * inside earlier redactions.
  *
  * These are SYNTACTIC patterns (no octet range validation, no TLD
  * list) — the scrub trades precision for a single cheap pass, as
  * the production pipelines do. */
object Pii {

  private[graft] val Email =
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val Phone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  private[graft] val Ipv4 =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Per doc: match counts per PII class + the redacted text.
    *
    * Contract: `n_email`/`n_phone`/`n_ip` are RAW per-pattern match
    * counts on the UNREDACTED text, not a partition of redacted
    * spans — redaction is sequential (email → phone → IPv4), so a
    * span matching two classes is counted in both but redacted once
    * by the first pattern that claims it. Identical on both engines
    * (the oracle counts the same way), documented here because the
    * counts can exceed the number of `[…]` markers in `redacted`. */
  def textPii(spark: SparkSession, dir: String): DataFrame =
    piiOf(Tables.table(spark, dir, "documents"))

  private[graft] def piiOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(Email), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(col("text"), lit(Phone), lit(0)))
        .cast("long").as("n_phone"),
      size(regexp_extract_all(col("text"), lit(Ipv4), lit(0)))
        .cast("long").as("n_ip"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), Email, "[EMAIL]"),
          Phone, "[PHONE]"),
        Ipv4, "[IP]").as("redacted"))

  val textPiiSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$Email')) AS n_email,
       |  len(regexp_extract_all(text, '$Phone')) AS n_phone,
       |  len(regexp_extract_all(text, '$Ipv4')) AS n_ip,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$Email', '[EMAIL]', 'g'),
       |    '$Phone', '[PHONE]', 'g'),
       |    '$Ipv4', '[IP]', 'g') AS redacted
       |FROM documents""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("text_pii", textPii, textPiiSql))
}
