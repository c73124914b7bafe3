package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Targeted correctness dump for the SemDeDup family at a CALLER-SIZED
  * codebook (round 12): the driver gate always runs the default
  * KC=16 × KF=16; this main re-runs `emb_kmeans` / `dedup_semantic`
  * with corpus-derived kc/kf (K = kc·kf ∝ corpus / target-cell-size,
  * SemDeDup's own protocol) and dumps parquet + the MATCHING oracle
  * SQL, so tools/check_oracle.py can hash-gate the scaled clustering
  * on the 10×/100× CorpusGen corpora.
  *
  * Usage: runMain graft.VerifySem <sfDir> <outDir> <kc> <kf>
  */
object VerifySem {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, kcS, kfS) = args
    val kc = kcS.toInt
    val kf = kfS.toInt
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val qs = Map(
      "emb_kmeans" ->
        graft.sim.SemDedup.embKmeansAt(spark, sfDir, kc, kf),
      "dedup_semantic" ->
        graft.sim.SemDedup.dedupSemanticAt(spark, sfDir, kc, kf))
    qs.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sqls = Map(
      "emb_kmeans" -> graft.sim.SemDedup.embKmeansSqlFor(kc, kf),
      "dedup_semantic" -> graft.sim.SemDedup.dedupSemanticSqlFor(kc, kf))
    val json = sqls.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
