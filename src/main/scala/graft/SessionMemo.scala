package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap,
  ExecutionException}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One value per (session, key): the engine's persisted tables and the
  * replay's sink views. The map only swaps holders in and out; a build
  * runs outside every lock, so it may look up another key (of this memo
  * or another) and a release never waits for it. Concurrent lookups of
  * one key wait on that key's holder alone and share its one build. A
  * build that throws leaves no holder behind, so the next lookup builds
  * again. Entries of stopped sessions are dropped on every lookup, so no
  * memo outlives its session.
  *
  * @param live    whether a held value may still be handed out; one that
  *                is not is built again
  * @param free    frees a value that leaves the memo
  */
final class SessionMemo[V](live: V => Boolean,
    free: (SparkSession, V) => Unit) {

  private val slots =
    new ConcurrentHashMap[(SparkSession, String), CompletableFuture[V]]()

  private def sweepStopped(): Unit =
    slots.keySet().removeIf((k: (SparkSession, String)) =>
      k._1.sparkContext.isStopped)

  /** The value held for (spark, key); `build` makes it when there is
    * none or the held one is no longer live. */
  def apply(spark: SparkSession, key: String)(build: => V): V = {
    sweepStopped()
    lookup((spark, key), () => build)
  }

  @annotation.tailrec
  private def lookup(k: (SparkSession, String), build: () => V): V = {
    val mine = new CompletableFuture[V]()
    val held = slots.putIfAbsent(k, mine)
    if (held == null) {
      val v = try build() catch {
        case e: Throwable =>
          slots.remove(k, mine)
          mine.completeExceptionally(e)
          throw e
      }
      mine.complete(v)
      v
    } else {
      val v = try held.get() catch {
        case e: ExecutionException => throw e.getCause
      }
      if (live(v)) v
      else { slots.remove(k, held); lookup(k, build) }
    }
  }

  /** Hold `v` for (spark, key) and release the value it replaces. */
  def replace(spark: SparkSession, key: String, v: V): Unit = {
    sweepStopped()
    Option(slots.put((spark, key), CompletableFuture.completedFuture(v)))
      .foreach(_.thenAccept((prev: V) => free(spark, prev)))
  }

  /** Release every value held for `spark`; a build still running is
    * released when it ends. */
  def release(spark: SparkSession): Unit =
    slots.forEach { (k, held) =>
      if ((k._1 eq spark) && slots.remove(k, held))
        held.thenAccept((v: V) => free(spark, v))
    }
}

object SessionMemo {

  /** Persisted tables: one that was unpersisted is built again, and a
    * released one is unpersisted. */
  def tables(): SessionMemo[DataFrame] = new SessionMemo[DataFrame](
    _.storageLevel != StorageLevel.NONE, (_, df) => df.unpersist())
}
