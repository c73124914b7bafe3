package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its builder over (session, sfDir)
  * and the DuckDB-portable oracle SQL that the correctness gate
  * (`graft.Verify` + tools/check_oracle.py) hash-compares it against,
  * or none for a rows-only query. */
final class Query private (val name: String,
    val build: (SparkSession, String) => DataFrame,
    val oracle: Option[String])

object Query {

  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: String): Query = new Query(name, build, Some(oracle))

  /** A query gated on its rows only: it has no oracle twin. */
  def rowsOnly(name: String,
      build: (SparkSession, String) => DataFrame): Query =
    new Query(name, build, None)

  /** The modules' queries as one list. A name registered twice is an
    * error, so no module can shadow another's query. */
  def registry(modules: Seq[Query]*): Seq[Query] = {
    val all = modules.flatten
    val dups = all.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n
    }.toList.sorted
    require(dups.isEmpty,
      s"queries registered more than once: ${dups.mkString(", ")}")
    all
  }
}
