package graft

/** Plan audit: prints the formatted physical plan (and optionally
  * runs) a named query — `runMain graft.Explain <query> [run]`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (args.length > 1 && args(1) == "run") {
      val t0 = System.nanoTime()
      println(s"rows=${df.count()} in ${(System.nanoTime() - t0) / 1e9}s")
    }
    // "exec": run THIS QueryExecution and print the AQE-finalized plan
    // (the only place runtime exchange reuse / skew splits are visible)
    if (args.length > 1 && args(1) == "exec") {
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      println(s"rows=$n in ${(System.nanoTime() - t0) / 1e9}s")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
