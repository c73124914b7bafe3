package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder()
      // local-harness shuffle hygiene (sort writer: 1 data + 1 index
      // file per map task instead of one per reducer; RAM-backed
      // scratch when present) — the dump is untimed but the driver
      // pays its wall-clock
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // per-JVM RAM scratch + stale-run sweep (round 15, Scratch.scala)
      .config("spark.local.dir", Scratch.localDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be first-class: a query that throws used to leave
    // only a stderr line, and the driver's correctness artifact then
    // silently OMITTED it (round 7: 89 missing rows read as a short
    // artifact, not 89 failures). Record query → message alongside the
    // dumps so breakage surfaces as err rows.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // derived-input oracles (hht_spectrogram, ceemdan_orthogonality,
    // ceemdan_c_orthogonality) replay SQL over parquet THIS run just
    // dumped — the placeholder resolves to the dump directory
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_OUT__", outDir))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
  }
}
