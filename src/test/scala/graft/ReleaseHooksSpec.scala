package graft

import graft.dedup.Dedup
import graft.text.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The keyed holders behind dedup_clusters and corpus_pipeline_pack
  * cache one persisted table per (session, sfDir). A harness that times
  * repeated passes calls the release hooks between them so a pass
  * recomputes instead of reading the previous pass's table: after a
  * release the held Dataset is unpersisted, and the next lookup builds
  * and persists a new one. */
class ReleaseHooksSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def checkRelease(lookup: () => DataFrame,
      release: () => Unit): Unit = {
    val held = lookup()
    assert(held.storageLevel != StorageLevel.NONE)
    assert(lookup() eq held, "a second lookup before release must hit")
    release()
    assert(held.storageLevel == StorageLevel.NONE)
    val next = lookup()
    try {
      assert(next ne held)
      assert(next.storageLevel != StorageLevel.NONE)
    } finally release()
  }

  test("releaseClusters unpersists the cluster table; next lookup rebuilds it") {
    checkRelease(() => Dedup.dedupClusters(spark, dir),
      () => Dedup.releaseClusters(spark))
  }

  test("releaseCounts unpersists the pack card; next lookup rebuilds it") {
    checkRelease(() => Pipeline.packCounts(spark, dir),
      () => Pipeline.releaseCounts(spark))
  }
}
