package graft

import graft.streaming.Replay
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.{CloseFailingProvider, StateStoreBridge}
import org.scalatest.funsuite.AnyFunSuite

/** A replay's checkpoint cleanup must survive a state-store provider
  * whose `close` throws while the replay's providers are unloaded. */
class ReplayCleanupSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"
  private val key = "spark.sql.streaming.stateStore.providerClass"

  private def ckDirs: Set[String] =
    Option(new java.io.File(Scratch.replayCkBase()).list()).toSet.flatten
      .filter(_.startsWith("gls_replay_"))

  /** Run the GLS replay on providers whose next `failures` closes
    * throw; returns its row count, or the exception it threw. */
  private def replayWithFailingCloses(failures: Int): Either[Throwable, Long] = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[CloseFailingProvider].getName)
    CloseFailingProvider.failures.set(failures)
    try {
      val out = scala.util.Try(
        Replay.streamingGlsReplay(spark, dir).count()).toEither
      assert(CloseFailingProvider.failures.get < failures,
        "the replay's unload never reached the throwing close")
      out
    } finally {
      CloseFailingProvider.failures.set(0)
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a throwing provider close neither fails the replay nor leaves its checkpoint") {
    val before = ckDirs
    val out = replayWithFailingCloses(1)
    assert(out.exists(_ > 0), s"replay failed: $out")
    assert(ckDirs == before, s"checkpoint left behind: ${ckDirs -- before}")
  }

  test("every close throws: the replay unloads all its providers and only its own") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a second stateful query, still running while the replay unloads
    val otherCk = java.nio.file.Files.createTempDirectory("other-ck").toFile
    val input = MemoryStream[Int]
    val other = input.toDS().groupBy("value").count().writeStream
      .outputMode("complete").format("memory").queryName("other_counts")
      .option("checkpointLocation", otherCk.getPath).start()
    try {
      input.addData(1, 2, 2)
      other.processAllAvailable()
      val otherRoot = otherCk.getCanonicalPath
      assert(StateStoreBridge.loadedUnder(otherRoot).nonEmpty)
      val before = ckDirs
      val out = replayWithFailingCloses(Int.MaxValue)
      assert(out.exists(_ > 0), s"replay failed: $out")
      assert(StateStoreBridge.loadedUnder(
        s"${Scratch.replayCkBase()}/gls_replay_").isEmpty,
        "replay providers left loaded")
      assert(StateStoreBridge.loadedUnder(otherRoot).nonEmpty,
        "the running query's providers were unloaded")
      assert(ckDirs == before, s"checkpoint left behind: ${ckDirs -- before}")
    } finally {
      other.stop()
      StateStoreBridge.unloadForCheckpoint(otherCk.getCanonicalPath)
      spark.catalog.dropTempView("other_counts")
      Scratch.rm(otherCk)
    }
  }
}
