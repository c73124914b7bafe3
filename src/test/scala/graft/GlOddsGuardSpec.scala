package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** gl_odds sizes its log-factorial table STATICALLY (65536, matching
  * the oracle's generate_series) instead of running a blocking
  * max-length pre-scan — round 12. The scaladoc claims an over-cap
  * series fails LOUDLY via an in-plan raise_error feeding the
  * lookup-join key, never silently vanishing from the inner join.
  * This spec makes that claim executable: a synthetic 65 600-sample
  * series (just past the 65525 cap) must throw with the guard's
  * message, and a full-size in-cap series must still answer.
  */
class GlOddsGuardSpec extends AnyFunSuite with GraftSpark {

  /** One user with `n` samples at 1000 s cadence, written as an
    * events.parquet temp dir consumable by Tables.series. */
  private def synthDir(n: Long): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_glguard").toString
    spark.range(0, n)
      .select(col("id").as("event_id"),
        (col("id") * 1000L * 1000000000L).as("ts"),
        lit(99L).as("user_id"), lit("tick").as("event_type"),
        (col("id") % 7).cast("double").as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/ev")
    val f = new java.io.File(s"$d/ev")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$d/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    d
  }

  test("a series past the 65525-sample lf cap raises the guard, " +
    "never silently drops") {
    val dir = synthDir(65600L)
    val e = intercept[Exception] {
      spectral.PhaseFold2.glOdds(spark, dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("exceeds the static lf-table cap")),
      s"expected the loud lf-cap guard, got: ${messages(e).take(2)}")
  }

  test("a series inside the cap still answers (guard is inert)") {
    val dir = synthDir(60000L)
    val rows = spectral.PhaseFold2.glOdds(spark, dir).count()
    assert(rows == 60L, s"expected 60 period rows, got $rows")
  }
}
