package graft

import graft.text.Pii
import org.scalatest.funsuite.AnyFunSuite

/** PII scrub semantics, pinned against RE2-verified expected values:
  * every expected string below was produced by DuckDB's
  * regexp_extract_all/regexp_replace(…,'g') on the identical
  * patterns, so this spec IS the Java-vs-RE2 dialect parity check —
  * the driver corpus contains no PII, so the hash gate alone would
  * never exercise the match paths. */
class PiiSpec extends AnyFunSuite with GraftSpark {

  // (text, n_email, n_phone, n_ip, redacted) — expected side generated
  // by DuckDB 1.x (RE2) on the same patterns
  private val cases = Seq(
    ("contact a.b-c_d%e+f@mail.example.co for info", 1L, 0L, 0L,
      "contact [EMAIL] for info"),
    ("call 555-123-4567 or 555.123.4567 or 555 123 4567 now", 0L, 3L, 0L,
      "call [PHONE] or [PHONE] or [PHONE] now"),
    ("server at 192.168.0.1 and 999.999.999.999 and 1.2.3.4.5", 0L, 0L, 3L,
      "server at [IP] and [IP] and [IP].5"),
    ("no pii here at all", 0L, 0L, 0L, "no pii here at all"),
    // single-letter TLD is NOT an email ({2,}); bare 2-digit groups
    // are not phones
    ("a@b.cd x@y.z 12-34-56", 1L, 0L, 0L, "[EMAIL] x@y.z 12-34-56"),
    // \b backtracking: 78ab kills the last octet, 123.456.7890 is a
    // dotted phone, not an IP fragment
    ("edge: 123.456.7890 is a phone? and 12.34.56.78ab", 0L, 1L, 0L,
      "edge: [PHONE] is a phone? and 12.34.56.78ab"),
    ("email@sub.domain.example.com.", 1L, 0L, 0L, "[EMAIL]."),
    // phone wins over IP on 123.123.1234 (4-digit third group);
    // leftover .123 redacts nothing
    ("overlap 123.123.1234.123", 0L, 1L, 0L, "overlap [PHONE].123"))

  test("Java-regex execution path matches the RE2-pinned expectations") {
    import spark.implicits._
    val df = cases.zipWithIndex
      .map { case ((t, _, _, _, _), i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Pii.piiOf(df).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    cases.zipWithIndex.foreach { case ((t, ne, np, ni, red), i) =>
      val (gne, gnp, gni, gred) = got(i.toLong)
      assert((gne, gnp, gni) == ((ne, np, ni)),
        s"counts mismatch on '$t': got ($gne,$gnp,$gni)")
      assert(gred == red, s"redaction mismatch on '$t': got '$gred'")
    }
  }

  test("corpus is PII-free and redaction is the identity there") {
    val out = Pii.textPii(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    val dirty = out.filter(col("n_email") + col("n_phone") + col("n_ip") > 0)
      .count()
    assert(dirty == 0, s"$dirty docs matched PII patterns in testdata")
    val changed = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .join(out, "doc_id")
      .filter(col("text") =!= col("redacted")).count()
    assert(changed == 0, "redaction must be the identity on clean text")
  }
}
