package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The skewed-join posture, demonstrated both ways a cluster handles
  * it: (1) AQE's runtime skew-join split — the default path: a
  * sort-merge join whose one hot key dominates gets its fat
  * partition split into parallel sub-reads (plan marks the join
  * `skew=true`); (2) manual key salting — the static fallback when
  * AQE can't split (e.g. the join's output partitioning is required
  * downstream): the fact side salts its key, the dim side replicates
  * per salt, and the result is IDENTICAL to the unsalted join.
  */
class SkewJoinSpec extends AnyFunSuite with GraftSpark {

  private val Salts = 8

  // 190k rows on key 0, ~100 rows on each of keys 1..100
  private def fact = spark.range(0, 200000).select(
    when(col("id") < 190000, 0L)
      .otherwise(pmod(col("id"), lit(100)) + 1).as("k"),
    col("id").as("v"))

  private def dim = spark.range(0, 101).select(
    col("id").as("k"), (col("id") * 7).as("dv"))

  test("AQE splits the hot key of a skewed sort-merge join at runtime") {
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k")
    confs.keys.foreach(k => spark.conf.unset(k))
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val j = fact.join(dim, "k")
      // collect() (not count()) so THIS queryExecution runs and its
      // adaptive plan finalizes — count() plans a new execution
      assert(j.collect().length == 200000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(2000))
    } finally confs.keys.foreach(k => spark.conf.unset(k))
  }

  test("manual salting reproduces the unsalted join exactly") {
    // fact: key → (key, salt); dim: each key replicated once per salt.
    // The join key becomes (k, salt), so the hot key's rows spread
    // over Salts reducers deterministically — no runtime help needed.
    val saltedFact = fact.withColumn("salt", pmod(col("v"), lit(Salts)))
    val saltedDim = dim.withColumn("salt",
      explode(sequence(lit(0L), lit(Salts - 1L))))
    val salted = saltedFact.join(saltedDim, Seq("k", "salt"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("dv").as("s"))
    val plain = fact.join(dim, "k")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("dv").as("s"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }
}
