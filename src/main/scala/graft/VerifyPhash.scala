package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Targeted correctness dump for the phash pair join at a CALLER-SIZED
  * band geometry (round 12 continuation #2): the driver gate always
  * runs the 6×10 default; this main re-runs the pair join with scaled
  * parameters (band bits grow with the corpus so bucket occupancy
  * stays constant — the LSH analogue of SemDeDup's corpus-derived K —
  * or the 120-bit two-word signature whose 6×20 bands cut the chance-
  * collision floor 32×) and dumps parquet + the MATCHING oracle SQL,
  * so tools/check_oracle.py can hash-gate the scaled geometry on the
  * 10×/100× CorpusGen corpora. Prints the bare execution seconds for
  * the SCALING.md record (the coalesce(1) dump single-threads and
  * would otherwise dominate the wall clock).
  *
  * Usage: runMain graft.VerifyPhash <sfDir> <outDir> <nBands> <bandBits>
  *    or: runMain graft.VerifyPhash <sfDir> <outDir> wide
  */
object VerifyPhash {

  private def session(): SparkSession = {
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def dump(spark: SparkSession, outDir: String, name: String,
      df: org.apache.spark.sql.DataFrame, sql: String, label: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val n = df.queryExecution.toRdd.count()
    println(f"$name $label rows=$n exec_s=${(System.nanoTime() - t0) / 1e9}%.2f")
    df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    val json = Map(name -> sql)
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    if (args.length == 3 && args(2) == "wide") {
      val Array(sfDir, outDir, _) = args
      dump(spark, outDir, "multimodal_phash_wide_pairs",
        graft.multimodal.Phash.multimodalPhashWidePairs(spark, sfDir),
        graft.multimodal.Phash.multimodalPhashWidePairsSql, "6x20/120bit")
    } else {
      val Array(sfDir, outDir, nbS, bbS) = args
      val nb = nbS.toInt
      val bb = bbS.toInt
      dump(spark, outDir, "multimodal_phash_pairs",
        graft.multimodal.Phash.multimodalPhashPairs(spark, sfDir, nb, bb),
        graft.multimodal.Phash.multimodalPhashPairsSqlFor(nb, bb), s"${nb}x$bb")
    }
    spark.stop()
  }
}
