package graft

import graft.streaming.Replay
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
        Replay.queries("streaming_gls_replay")(spark, dir).count()).toEither
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

  test("the checkpoint is deleted even when the fallback unload throws too") {
    val before = ckDirs
    try {
      val out = replayWithFailingCloses(Int.MaxValue)
      assert(out.left.exists(_.isInstanceOf[IllegalStateException]),
        s"expected the close failure to surface: $out")
      assert(ckDirs == before, s"checkpoint left behind: ${ckDirs -- before}")
    } finally StateStoreBridge.unloadAll() // the providers left loaded
  }
}
