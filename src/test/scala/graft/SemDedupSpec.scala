package graft

import graft.sim.SemDedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup family, beyond the DuckDB hash gate: structural
  * properties of the clustering and the keep rule that a hash match
  * alone would not explain to a reader. */
class SemDedupSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("kmeans: every vector in exactly one cell, every seeded fine cell alive") {
    val km = SemDedup.embKmeans(spark, dir).collect()
    val n = Tables.table(spark, dir, "embeddings").count()
    // two-level structure: the number of live clusters is exactly the
    // number of fine seeds, Σ_coarse-cell min(16, cell size) — every
    // fine seed assigns to itself, and non-seeded (code, f) pairs
    // don't exist
    val coarseSizes = SemDedup.coarseAssign(spark, dir)
      .groupBy("code").count().collect().map(_.getLong(1))
    assert(coarseSizes.sum == n, "coarse cells must partition the corpus")
    // the Lloyd step can in principle empty a seeded fine cell (a
    // seed may land nearer another refined centroid), so the live
    // count is bounded by the seed count, and must show real
    // fan-out beyond the 16 coarse cells
    val seededClusters = coarseSizes.map(s => math.min(16L, s)).sum
    assert(km.length <= seededClusters,
      s"${km.length} live fine cells exceed $seededClusters seeds")
    assert(km.length > 16, "fine tier must fan out beyond the coarse cells")
    assert(km.map(_.getLong(1)).sum == n, "cell sizes must partition the corpus")
    assert(km.forall(_.getLong(1) >= 1), "a seed always assigns to itself")
    assert(km.forall(_.getDouble(2) >= 0.0), "inertia is a sum of squares")
    // cluster ids live on the code·16 + f lattice
    assert(km.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 16 * 16))
  }

  test("every dropped vector has a kept-or-dropped near-dup partner " +
    "in ITS OWN cell that beats it on the keep rule") {
    graft.functions.CosineSim.register(spark)
    val out = SemDedup.dedupSemantic(spark, dir)
    val emb = Tables.table(spark, dir, "embeddings")
    val j = out.join(emb, "vec_id")
      .select(col("vec_id"), col("cluster"), col("c2c"), col("keep"),
        col("embedding"))
    val dropped = j.filter(!col("keep"))
    // a loser must be justified by SOME same-cluster pair at cos >= 0.4
    // where the loser has the higher (or tied, higher-id) c2c
    val justified = dropped.as("d").join(j.as("o"),
        col("d.cluster") === col("o.cluster") &&
          col("d.vec_id") =!= col("o.vec_id") &&
          round(expr("cosine_sim(d.embedding, o.embedding)"), 6) >= 0.4 &&
          (col("d.c2c") > col("o.c2c") ||
            (col("d.c2c") === col("o.c2c") &&
              col("d.vec_id") > col("o.vec_id"))))
      .select("d.vec_id").distinct()
    val unjustified = dropped.select("vec_id")
      .except(justified).collect()
    assert(unjustified.isEmpty,
      s"dropped vectors with no justifying pair: ${unjustified.mkString(",")}")
    // and symmetric: every near-dup pair must have dropped its loser
    val pairs = j.as("a").join(j.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id") &&
          round(expr("cosine_sim(a.embedding, b.embedding)"), 6) >= 0.4)
      .select(
        when(col("a.c2c") > col("b.c2c"), col("a.vec_id"))
          .when(col("b.c2c") > col("a.c2c"), col("b.vec_id"))
          .otherwise(greatest(col("a.vec_id"), col("b.vec_id")))
          .as("loser"))
      .distinct()
    val keptLosers = pairs.join(out.filter(col("keep")),
      pairs("loser") === out("vec_id")).count()
    assert(keptLosers == 0, s"$keptLosers pair-losers were kept")
  }

  test("keep rule keeps the cell member FARTHEST from the centroid") {
    // SemDeDup semantics: within a near-dup pair the higher-c2c
    // (closer to centroid) member is the one that goes
    val out = SemDedup.dedupSemantic(spark, dir).collect()
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (_, rows) =>
      val dropped = rows.filter(!_.getBoolean(3))
      val kept = rows.filter(_.getBoolean(3))
      if (dropped.nonEmpty && kept.nonEmpty) {
        // not universally ordered (pairs are local), but the minimum
        // dropped c2c can never undercut EVERY kept c2c: its partner
        // was kept with a smaller-or-equal c2c
        val minDropped = dropped.map(_.getDouble(2)).min
        val minKept = kept.map(_.getDouble(2)).min
        assert(minKept <= minDropped,
          s"a dropped member undercuts every kept member's c2c")
      }
    }
  }
}
