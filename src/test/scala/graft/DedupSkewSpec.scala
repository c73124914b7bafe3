package graft

import org.scalatest.funsuite.AnyFunSuite

/** The band-bucket self-joins must stay bounded under bucket skew: a
  * hot bucket of k near-identical docs may contribute at most
  * cap·(cap−1)/2 candidate pairs, not k², because bucket occupancy is
  * capped at the first `cap` members in deterministic doc_id order. */
class DedupSkewSpec extends AnyFunSuite with GraftSpark {

  /** A corpus of k identical documents: every minhash band bucket (and
    * every simhash band bucket) holds all k docs — the worst case. */
  private lazy val hotDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hot").toString
    val text = "the quick brown fox jumps over the lazy dog again and again"
    (0 until 40)
      .map(i => (i.toLong, text, "en", "spec", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents")
    // Tables.table reads "$dir/<name>.parquet"
    val f = new java.io.File(s"$dir/documents")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("minhash LSH pair output is capped under a hot bucket") {
    val cap = 8
    val pairs = dedup.Dedup.dedupMinhashLsh(spark, hotDir, cap).count()
    // 40 identical docs, 4 identical band buckets; uncapped would give
    // 40*39/2 = 780 pairs — the cap keeps the first 8 per bucket.
    assert(pairs == cap.toLong * (cap - 1) / 2,
      s"expected ${cap * (cap - 1) / 2} capped pairs, got $pairs")
  }

  test("simhash banded-Hamming pair output is capped under a hot bucket") {
    val cap = 8
    val pairs = dedup.Dedup.dedupSimhashPairs(spark, hotDir, cap).count()
    assert(pairs == cap.toLong * (cap - 1) / 2,
      s"expected ${cap * (cap - 1) / 2} capped pairs, got $pairs")
  }

  test("identical docs verify at jaccard 1 and hamming 0") {
    import org.apache.spark.sql.functions._
    val j = dedup.Dedup.dedupMinhashLsh(spark, hotDir, 4)
      .agg(min("jaccard"), max("jaccard")).collect()(0)
    assert(j.getDouble(0) == 1.0 && j.getDouble(1) == 1.0)
    val h = dedup.Dedup.dedupSimhashPairs(spark, hotDir, 4)
      .agg(max("hamming")).collect()(0).getLong(0)
    assert(h == 0L)
  }

  /** A corpus of k identical embeddings: every LSH sign bucket holds
    * all k vectors — the hot-bucket worst case for the near-dup pair
    * join (observed for real on the 100× synthetic corpus, where one
    * bucket held 24.8k of 200k vectors). */
  private lazy val hotEmbDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hotemb").toString
    val v = Array.tabulate(64)(i => math.sin(i * 0.37).toFloat)
    (0 until 40).map(i => (i.toLong, v, 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings")
    val f = new java.io.File(s"$dir/embeddings")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("dedup_embedding pair output is capped under a hot LSH bucket") {
    val cap = 8
    val pairs = sim.Similarity.dedupEmbedding(spark, hotEmbDir, cap)
    // 40 identical vectors share one sign bucket; uncapped would give
    // 40*39/2 = 780 pairs — the cap keeps the first 8 by vec_id, and
    // every surviving pair re-scores at cosine 1.0.
    val rows = pairs.collect()
    assert(rows.length == cap * (cap - 1) / 2,
      s"expected ${cap * (cap - 1) / 2} capped pairs, got ${rows.length}")
    assert(rows.forall(_.getDouble(2) == 1.0))
    val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ids == (0L until cap.toLong).toSet,
      s"cap must keep the FIRST $cap vec_ids deterministically: $ids")
  }

  /** Symmetric edge set from undirected (a, b) pairs. */
  private def edgesOf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
  }

  test("connectedComponents labels ONLY edge-incident nodes") {
    // the 100 TB contract: the propagation loop's working set is the
    // edge-incident subgraph — a corpus-sized label table never forms.
    // The function signature enforces it (it sees only edges); this
    // pins the output node set to exactly the incident nodes.
    val labels = dedup.Dedup.connectedComponents(
      edgesOf(Seq((10L, 11L), (11L, 12L), (50L, 51L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == Set(10L, 11L, 12L, 50L, 51L))
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L))
    assert(Seq(50L, 51L).forall(labels(_) == 50L))
  }

  test("connectedComponents converges on a diameter-25 path (old cap was 20)") {
    val path = (0L until 25L).map(i => (i, i + 1))
    val (labels, rounds) = dedup.Dedup.ccWithRounds(edgesOf(path))
    val comps = labels.collect().map(_.getLong(1)).toSet
    assert(comps == Set(0L), s"non-converged labels: $comps")
    assert(rounds <= dedup.Dedup.MaxCcRounds)
  }

  test("connectedComponents reliable path without a checkpoint dir " +
    "fails loudly") {
    // a misconfigured cluster job must not silently fall back to
    // executor-local blocks. Registered BEFORE the reliable-path test:
    // ScalaTest runs suite tests in registration order and that test
    // sets the shared context's checkpoint dir.
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "checkpoint dir already set in this context")
    spark.conf.set(dedup.Dedup.ReliableCcKey, "true")
    try {
      val ex = intercept[IllegalArgumentException] {
        dedup.Dedup.connectedComponents(edgesOf(Seq((1L, 2L))))
      }
      assert(ex.getMessage.contains("setCheckpointDir"))
    } finally spark.conf.unset(dedup.Dedup.ReliableCcKey)
  }

  test("connectedComponents reliable-checkpoint path (cluster durability " +
    "config) matches the localCheckpoint default") {
    // spark.graft.cc.reliableCheckpoint=true swaps the loop's lineage
    // truncation to reliable checkpoint (survives executor loss at
    // cluster scale); same labels must come out, and checkpoint files
    // must actually land in the checkpoint dir.
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_cc_ck").toString
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val expected = dedup.Dedup.connectedComponents(edgesOf(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(dedup.Dedup.ReliableCcKey, "true")
    try {
      val reliable = dedup.Dedup.connectedComponents(edgesOf(edges))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(reliable == expected)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => p.toFile.isFile).count()
      assert(wrote > 0, "no reliable checkpoint files were written")
    } finally spark.conf.unset(dedup.Dedup.ReliableCcKey)
  }

  test("connectedComponents frontier propagation converges in O(1) on a star") {
    // hub 0 with 20 leaves: leaves adopt label 0 in round 1, round 2
    // finds an empty frontier — the changed-only message send must not
    // keep re-propagating settled labels
    val star = (1L to 20L).map(i => (0L, i))
    val (labels, rounds) = dedup.Dedup.ccWithRounds(edgesOf(star))
    assert(labels.collect().forall(_.getLong(1) == 0L))
    assert(rounds <= 3, s"star graph took $rounds rounds")
  }
}
